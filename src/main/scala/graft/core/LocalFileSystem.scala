package graft.core

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem of graft sessions ([[graft.GraftSession]] registers
  * it as `fs.file.impl`): Hadoop's checksummed `LocalFileSystem` over a raw
  * local filesystem that differs from Hadoop's in two ways.
  *
  *  - Permissions are set in process. Without the native `libhadoop`,
  *    Hadoop's `RawLocalFileSystem.setPermission` forks `chmod NNNN` for every
  *    file and directory it creates: about 3 ms each, 13 per
  *    [[graft.pipeline.PipelineRunner]] epoch into an
  *    [[graft.sinks.ExactlyOnceParquetWriter]]. Here the same mode goes to
  *    `chmod(2)` through NIO's `unix:mode` attribute. Like `chmod NNNN`, it
  *    keeps a directory's setuid/setgid bits. Hadoop has already applied the
  *    umask when it calls `setPermission`.
  *  - `create` without overwrite claims the name with `O_EXCL`
  *    (`Files.createFile`), so of several racing creators exactly one wins
  *    and the others get Hadoop's `FileAlreadyExistsException`. Hadoop checks
  *    `exists` and then opens the file, so several can win there. The
  *    runner's single-writer lock relies on this.
  *
  * A file's link status (whether it is a symbolic link, and its target) is
  * read through NIO. Hadoop runs `readlink` for it, which every rename through
  * `FileContext` asks for twice (see [[LocalFs]]).
  *
  * A rename onto an existing file returns false, as on HDFS, where Hadoop's
  * local rename would replace the file. This is the rename of the `file:`
  * filesystem a Spark session gets without this class when Hive's jars are
  * on the classpath (Hive's `ProxyLocalFileSystem`, a `LocalFileSystem` that
  * only changes `rename`).
  *
  * Paths, `.crc` sidecars and file contents are Hadoop's. Needs a POSIX host
  * (NIO's `unix` attribute view: Linux, macOS).
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean = !pathToFile(dst).isFile && super.rename(src, dst)
}

object LocalFileSystem {

  final class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val isDir = (mode & 0xf000) == 0x4000 // S_IFMT == S_IFDIR
      val setId = if (isDir) mode & 0xc00 else 0 // S_ISUID | S_ISGID
      Files.setAttribute(file, "unix:mode", Int.box(permission.toShort & 0x3ff | setId)) // 01777
    }

    // ChecksumFileSystem creates both a file and its `.crc` through this overload
    override def create(
        f: Path,
        permission: FsPermission,
        overwrite: Boolean,
        bufferSize: Int,
        replication: Short,
        blockSize: Long,
        progress: Progressable
    ): FSDataOutputStream = {
      if (!overwrite) {
        mkdirs(f.getParent)
        try Files.createFile(pathToFile(f).toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"File already exists: $f")
        }
      }
      super.create(f, permission, true, bufferSize, replication, blockSize, progress)
    }

    // Hadoop's own logic, with the link read in process instead of `readlink`
    override def getFileLinkStatus(f: Path): FileStatus = {
      val link = pathToFile(f).toPath
      val target = if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize, fs.getModificationTime,
          fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    }

    // `FileContext` reads a link's status through this too; Hadoop's runs
    // `readlink`, and finds no link at the qualified path it is given
    override def getLinkTarget(f: Path): Path = {
      val status = getFileLinkStatus(f)
      if (status.isSymlink) status.getSymlink else throw new IOException(s"Path $f is not a symbolic link")
    }
  }
}

/** The `file:` filesystem of graft sessions behind Hadoop's `FileContext`
  * ([[graft.GraftSession]] registers it as `fs.AbstractFileSystem.file.impl`).
  * Structured Streaming writes its offsets, commits and file source and sink
  * logs through `FileContext`, not `FileSystem`, so `fs.file.impl` does not
  * reach them.
  *
  * Hadoop's `LocalFs` is a `ChecksumFs` over a raw local filesystem it builds
  * itself: without the native `libhadoop` it forks `chmod` for each file and
  * `.crc` it creates, and `readlink` twice for each rename (the link status
  * of source and destination). This is the same `ChecksumFs` over
  * [[LocalFileSystem.Raw]], which does both in process. Paths, `.crc`
  * sidecars and bytes are Hadoop's.
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.RawFs(conf))

object LocalFs {

  /** Hadoop's `RawLocalFs` over [[LocalFileSystem.Raw]]. */
  final class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new LocalFileSystem.Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("as in Hadoop", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
