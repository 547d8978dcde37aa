package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForklessLocalFileSystem, ForklessLocalFs, ForklessRawLocalFileSystem}

/** The fork-free local file system answers exactly as Hadoop's stock
  * `RawLocalFileSystem` does, and the session routes `file:` through it. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkless = init(new ForklessRawLocalFileSystem)

  private def withDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_localfs").toFile
    // one level deep: File.delete unlinks a symlink, and `sub` stays empty
    try body(dir)
    finally { dir.listFiles.foreach(_.delete()); dir.delete() }
  }

  test("getFileLinkStatus matches stock on files, dirs, symlinks, dangling links and missing paths") {
    withDir { dir =>
      val file = new File(dir, "file")
      Files.write(file.toPath, "twelve bytes".getBytes("UTF-8"))
      val sub = new File(dir, "sub"); sub.mkdir()
      val link = new File(dir, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(dir, "dangling")
      Files.createSymbolicLink(dangling.toPath, new File(dir, "gone").toPath)
      val missing = new File(dir, "missing")

      def view(fs: FileSystem, p: Path): Either[String, (Boolean, String, Boolean, Long)] =
        try {
          val st: FileStatus = fs.getFileLinkStatus(p)
          Right((st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "",
            st.isDirectory, st.getLen))
        } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

      // the plain path, and the scheme-bearing form FileContext passes
      for (f <- Seq(file, sub, link, dangling, missing);
           p <- Seq(new Path(f.getPath), new Path("file:" + f.getPath))) {
        assert(view(forkless, p) == view(stock, p), s"$p")
      }
      assert(view(forkless, new Path(link.getPath)).exists(_._1), "a link reads as a link")
      assert(view(forkless, new Path(missing.getPath)).isLeft, "a missing path throws")
    }
  }

  test("setPermission reads back as stock's for 0644, 0755, 0600 and 01777") {
    withDir { dir =>
      for (mode <- Seq("644", "755", "600", "1777"); kind <- Seq("file", "dir")) {
        val perm = new FsPermission(mode)
        val paths = Seq("stock", "forkless").map { side =>
          val f = new File(dir, s"$side-$kind-$mode")
          if (kind == "dir") f.mkdir() else f.createNewFile()
          new Path(f.getPath)
        }
        stock.setPermission(paths(0), perm)
        forkless.setPermission(paths(1), perm)
        val back = paths.map(stock.getFileStatus(_).getPermission)
        assert(back(1) == back(0), s"$kind $mode")
        assert(back(1).toShort == perm.toShort, s"$kind $mode")
      }
    }
  }

  test("the session's Hadoop conf resolves file: to the graft classes for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[ForklessLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass.getName)
  }
}
