package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft's `file:` filesystem against Hadoop's stock `LocalFileSystem`: the
  * same permissions on every file, `.crc` sidecar and directory, a rename
  * that does not replace a file, and an exclusive create-without-overwrite.
  * Behind `FileContext`, graft's `LocalFs` writes what Hadoop's `LocalFs`
  * writes and reads a link's status in process.
  */
class LocalFileSystemSpec extends AnyFunSuite {

  private def newFs(impl: Class[_ <: FileSystem], umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    conf.setClass("fs.file.impl", impl, classOf[FileSystem])
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    FileSystem.newInstance(URI.create("file:///"), conf)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** The same creates, mkdirs and chmods under `root`, through `fs`. */
  private def exercise(fs: FileSystem, root: JPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    val out = fs.create(p("a/b/data.bin"), true)
    try out.write(Array.fill[Byte](1000)(7)) finally out.close()
    fs.create(p("a/exclusive.bin"), false).close()
    assert(fs.mkdirs(p("x/y/z")))
    for (perm <- Seq("644", "750", "777")) {
      fs.create(p(s"chmod/f$perm"), true).close()
      fs.setPermission(p(s"chmod/f$perm"), new FsPermission(perm))
      assert(fs.mkdirs(p(s"chmod/d$perm")))
      fs.setPermission(p(s"chmod/d$perm"), new FsPermission(perm))
    }
    assert(fs.mkdirs(p("sticky")))
    fs.setPermission(p("sticky"), new FsPermission("1777"))
    // directories made inside a setgid directory inherit the bit, and
    // `chmod NNNN` leaves it set
    Files.createDirectory(root.resolve("shared"))
    Files.setAttribute(root.resolve("shared"), "unix:mode", Int.box(0x5ed)) // 02755
    fs.create(p("shared/sub/data.bin"), true).close()
  }

  /** Relative path → (POSIX permissions, sticky/setgid/setuid bits). */
  private def tree(root: JPath): Map[String, (String, Int)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { f =>
      root.relativize(f).toString ->
        (PosixFilePermissions.toString(Files.getPosixFilePermissions(f)), mode(f) & 0xe00)
    }.toMap
    finally walk.close()
  }

  for (umask <- Seq(None, Some("077")))
    test(s"permissions match stock Hadoop (umask ${umask.getOrElse("default")})") {
      val graftFs = newFs(classOf[LocalFileSystem], umask)
      val stockFs = newFs(classOf[org.apache.hadoop.fs.LocalFileSystem], umask)
      try {
        val (graftRoot, stockRoot) =
          (Files.createTempDirectory("graft-fs-graft"), Files.createTempDirectory("graft-fs-stock"))
        exercise(graftFs, graftRoot)
        exercise(stockFs, stockRoot)
        val (got, want) = (tree(graftRoot), tree(stockRoot))
        assert(want.contains("a/b/.data.bin.crc") && want.contains("x/y/z"))
        assert(got == want)
        assert((mode(graftRoot.resolve("sticky")) & 0xfff) == 0x3ff) // 01777
        assert((mode(graftRoot.resolve("shared/sub")) & 0x400) != 0) // S_ISGID
        val expectedFile = if (umask.isEmpty) "rw-r--r--" else "rw-------"
        assert(got("a/b/data.bin")._1 == expectedFile && got("a/b/.data.bin.crc")._1 == expectedFile)
      } finally {
        graftFs.close()
        stockFs.close()
      }
    }

  test("rename does not replace an existing file") {
    val fs = newFs(classOf[LocalFileSystem], None)
    val root = Files.createTempDirectory("graft-fs-rename")
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    def write(rel: String, body: String): Unit = {
      val out = fs.create(p(rel), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    try {
      write("src", "new")
      write("dst", "old")
      assert(!fs.rename(p("src"), p("dst")))
      assert(Files.readString(root.resolve("dst")) == "old" && Files.exists(root.resolve("src")))
      assert(fs.rename(p("src"), p("fresh")))
      assert(Files.readString(root.resolve("fresh")) == "new" && Files.exists(root.resolve(".fresh.crc")))
      assert(!Files.exists(root.resolve("src")) && !Files.exists(root.resolve(".src.crc")))
    } finally fs.close()
  }

  test("create without overwrite: of 8 racing creators exactly one wins, in every trial") {
    val fs = newFs(classOf[LocalFileSystem], None)
    val root = Files.createTempDirectory("graft-fs-race")
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try for (trial <- 1 to 200) {
      val path = new Path(root.resolve(s"lock-$trial").toUri)
      val barrier = new CyclicBarrier(threads)
      val attempts = (1 to threads).map(_ => pool.submit(new Callable[Boolean] {
        def call(): Boolean = {
          barrier.await()
          try { fs.create(path, false).close(); true }
          catch { case _: FileAlreadyExistsException => false }
        }
      }))
      val winners = attempts.count(_.get(30, TimeUnit.SECONDS))
      assert(winners == 1, s"trial $trial: $winners creators won")
    }
    finally {
      pool.shutdownNow()
      fs.close()
    }
  }

  private def newFc(impl: Class[_ <: AbstractFileSystem]): FileContext = {
    val conf = new Configuration()
    conf.setClass("fs.AbstractFileSystem.file.impl", impl, classOf[AbstractFileSystem])
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  /** A streaming checkpoint's writes: a log file written to a temporary
    * name and renamed into place, with and without overwrite. */
  private def checkpoint(fc: FileContext, root: JPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    def write(rel: String, body: String): Unit = {
      val out = fc.create(p(rel), java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    fc.mkdir(p("offsets"), FsPermission.getDirDefault, true)
    for (b <- 0 until 3) {
      write(s"offsets/.$b.tmp", s"v1\n{\"batch\":$b}" * (b * 300 + 1))
      fc.rename(p(s"offsets/.$b.tmp"), p(s"offsets/$b"), Options.Rename.NONE)
    }
    write("offsets/.1.again.tmp", "replaced")
    intercept[FileAlreadyExistsException](
      fc.rename(p("offsets/.1.again.tmp"), p("offsets/1"), Options.Rename.NONE))
    fc.rename(p("offsets/.1.again.tmp"), p("offsets/1"), Options.Rename.OVERWRITE)
  }

  test("FileContext: the checkpoint files, sidecars and bytes of Hadoop's LocalFs") {
    val (graftRoot, stockRoot) =
      (Files.createTempDirectory("graft-fc-graft"), Files.createTempDirectory("graft-fc-stock"))
    checkpoint(newFc(classOf[LocalFs]), graftRoot)
    checkpoint(newFc(classOf[org.apache.hadoop.fs.local.LocalFs]), stockRoot)
    val (got, want) = (tree(graftRoot), tree(stockRoot))
    assert(want.contains("offsets/.2.crc") && want.contains("offsets/1"))
    assert(got == want)
    want.keys.filter(k => Files.isRegularFile(stockRoot.resolve(k))).foreach { k =>
      assert(Files.readAllBytes(graftRoot.resolve(k)).sameElements(Files.readAllBytes(stockRoot.resolve(k))), k)
    }
    assert(Files.readString(graftRoot.resolve("offsets/1")) == "replaced")
  }

  test("FileContext: a symbolic link's status and target, read in process") {
    val fc = newFc(classOf[LocalFs])
    val root = Files.createTempDirectory("graft-fc-link")
    Files.writeString(root.resolve("target"), "x")
    Files.createSymbolicLink(root.resolve("link"), root.resolve("target"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val link = fc.getFileLinkStatus(new Path(root.resolve("link").toUri))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == root.resolve("target").toString)
    assert(link.getLen == 1)
    assert(fc.getFileLinkStatus(new Path(root.resolve("dangling").toUri)).isSymlink)
    val plain = fc.getFileLinkStatus(new Path(root.resolve("target").toUri))
    assert(!plain.isSymlink && plain.isFile)
  }
}
