package graft.core

import java.nio.file.Files
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path, RawLocalFileSystem}
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
  }
}
