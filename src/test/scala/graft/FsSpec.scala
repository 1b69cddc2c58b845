package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** graft.Fs against Hadoop's stock local filesystem, on sibling paths.
  * Every filesystem here is built with `new`, never through
  * `FileSystem.get`: the JVM-wide cache ignores conf, so a stock instance
  * cached before the session would be what the engine's writes use. */
class FsSpec extends AnyFunSuite {

  private def fresh[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private val stock = fresh(new RawLocalFileSystem)
  private val nio = fresh(new NioRawLocalFileSystem)

  private def withDir[A](body: JPath => A): A = {
    val d = Files.createTempDirectory("graft_fs")
    try body(d) finally Fs.deleteRecursively(d.toFile)
  }
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff
  private def hp(p: JPath): Path = new Path(p.toString)

  test("setPermission sets the mode chmod sets, sticky bit included") {
    withDir { d =>
      for (m <- Seq("755", "644", "700", "640", "600", "555").map(Integer.parseInt(_, 8));
           dir <- Seq(false, true)) {
        val (a, b) = (d.resolve(s"stock_${m}_$dir"), d.resolve(s"nio_${m}_$dir"))
        if (dir) { Files.createDirectory(a); Files.createDirectory(b) }
        else { Files.createFile(a); Files.createFile(b) }
        stock.setPermission(hp(a), new FsPermission(m.toShort))
        nio.setPermission(hp(b), new FsPermission(m.toShort))
        assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a),
          f"mode $m%o, directory $dir")
        assert(mode(b) == m, f"mode $m%o, directory $dir: ${mode(b)}%o")
      }
      // 01777: POSIX file permissions cannot carry the sticky bit, so it
      // is set at all only if the call went through Hadoop's own code
      val sticky = Integer.parseInt("1777", 8)
      val (a, b) = (Files.createDirectory(d.resolve("stock_t")),
        Files.createDirectory(d.resolve("nio_t")))
      stock.setPermission(hp(a), new FsPermission(sticky.toShort))
      nio.setPermission(hp(b), new FsPermission(sticky.toShort))
      assert(mode(a) == sticky && mode(b) == sticky, f"${mode(a)}%o vs ${mode(b)}%o")
    }
  }

  test("getFileLinkStatus: same answer for a file, a directory and a " +
    "symlink, bare or qualified; a missing path throws on both") {
    withDir { d =>
      val target = Files.writeString(d.resolve("target"), "twelve bytes")
      def status(fs: RawLocalFileSystem, p: Path): (Boolean, Option[Path], Long, Boolean) = {
        val s: FileStatus = fs.getFileLinkStatus(p)
        (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.isDirectory)
      }
      for (side <- Seq("stock", "nio")) {
        val sd = Files.createDirectory(d.resolve(side))
        Files.writeString(sd.resolve("file"), "abc")
        Files.createDirectory(sd.resolve("dir"))
        Files.createSymbolicLink(sd.resolve("link"), target)
      }
      for (name <- Seq("file", "dir", "link");
           qualify <- Seq(false, true)) {
        def p(side: String) = {
          val h = hp(d.resolve(side).resolve(name))
          if (qualify) stock.makeQualified(h) else h
        }
        assert(status(nio, p("nio")) == status(stock, p("stock")), s"$name qualified=$qualify")
      }
      // the bare symlink path is seen as a link by both
      assert(status(nio, hp(d.resolve("nio/link")))._1)
      for (fs <- Seq(stock, nio))
        intercept[FileNotFoundException](fs.getFileLinkStatus(hp(d.resolve("missing"))))
    }
  }

  test("FileContext create + rename-with-overwrite writes the bytes, the " +
    ".crc and the modes of Hadoop's LocalFs") {
    withDir { d =>
      val conf = new Configuration()
      def commit(fc: FileContext, dir: JPath): Unit = {
        val tmp = new Path(dir.resolve(".1.tmp").toString)
        for (body <- Seq("first", "second log entry")) { // the second overwrites
          val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
            Options.CreateOpts.createParent())
          try out.write(body.getBytes) finally out.close()
          fc.rename(tmp, new Path(dir.resolve("1").toString), Options.Rename.OVERWRITE)
        }
      }
      // a fresh conf names Hadoop's LocalFs, and FileContext caches no instance
      val stockFc = FileContext.getLocalFSFileContext(conf)
      assert(stockFc.getDefaultFileSystem.isInstanceOf[LocalFs])
      val nioFc = FileContext.getFileContext(new NioLocalFs(URI.create("file:///"), conf), conf)
      val (a, b) = (d.resolve("stock/log"), d.resolve("nio/log"))
      commit(stockFc, a); commit(nioFc, b)
      def listing(root: JPath) = {
        val s = Files.walk(root)
        try s.toArray.toSeq.map(_.asInstanceOf[JPath])
          .map(p => (root.relativize(p).toString, mode(p),
            if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil))
          .sortBy(_._1)
        finally s.close()
      }
      assert(listing(b) == listing(a))
      assert(listing(b).map(_._1) == Seq("", ".1.crc", "1"))
    }
  }
}
