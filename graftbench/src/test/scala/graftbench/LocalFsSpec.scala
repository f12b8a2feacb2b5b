package graftbench

import java.io.FileNotFoundException
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class LocalFsSpec extends AnyFunSuite {

  private def withDir(body: (java.nio.file.Path, Configuration) => Unit): Unit = {
    val dir = Files.createTempDirectory("graftbench-localfs")
    val conf = new Configuration()
    LocalFs.conf.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    try body(dir, conf)
    finally Main.deleteTree(dir)
  }

  private def fs(conf: Configuration, raw: RawLocalFileSystem) = {
    raw.initialize(java.net.URI.create("file:///"), conf)
    raw
  }

  test("file statuses match the stock local file system") {
    withDir { (dir, conf) =>
      Files.write(dir.resolve("a.txt"), "hello".getBytes("UTF-8"))
      Files.createDirectory(dir.resolve("sub"))
      val ours = fs(conf, new LocalFs.Raw)
      val stock = fs(conf, new RawLocalFileSystem)
      Seq("a.txt", "sub").foreach { n =>
        val p = new Path(dir.resolve(n).toUri)
        val (a, b) = (ours.getFileStatus(p), stock.getFileStatus(p))
        assert(a.getPath == b.getPath)
        assert(a.isDirectory == b.isDirectory)
        if (!a.isDirectory) assert(a.getLen == b.getLen)
        assert(a.getModificationTime == b.getModificationTime)
        assert(a.getBlockSize == b.getBlockSize)
        assert(a.getPermission == b.getPermission)
        assert(a.getOwner == b.getOwner)
        assert(a.getGroup == b.getGroup)
        assert(ours.getFileLinkStatus(p).getPath == b.getPath)
      }
      val root = new Path(dir.toUri)
      assert(ours.listStatus(root).map(_.getPath.getName).sorted.toSeq == Seq("a.txt", "sub"))
    }
  }

  test("a missing path is FileNotFoundException, also below a file") {
    withDir { (dir, conf) =>
      Files.write(dir.resolve("a.txt"), Array[Byte](1))
      val ours = fs(conf, new LocalFs.Raw)
      intercept[FileNotFoundException](ours.getFileStatus(new Path(dir.resolve("none").toUri)))
      intercept[FileNotFoundException](ours.getFileStatus(new Path(dir.resolve("a.txt/x").toUri)))
      assert(!ours.exists(new Path(dir.resolve("none").toUri)))
    }
  }

  test("permissions are set without a child process") {
    withDir { (dir, conf) =>
      val f = dir.resolve("a.txt")
      Files.write(f, Array[Byte](1))
      val ours = fs(conf, new LocalFs.Raw)
      ours.setPermission(new Path(f.toUri), new FsPermission("640"))
      assert(java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(f)) == "rw-r-----")
      assert(ours.getFileStatus(new Path(f.toUri)).getPermission == new FsPermission("640"))
    }
  }

  test("both Hadoop APIs resolve the file scheme to it") {
    withDir { (dir, conf) =>
      val p = new Path(dir.resolve("ctx").toUri)
      // a new instance: the JVM-wide cache may hold another suite's
      assert(org.apache.hadoop.fs.FileSystem.newInstance(p.toUri, conf)
        .isInstanceOf[LocalFs.FileSystem])
      val fc = FileContext.getFileContext(p.toUri, conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Context])
      // the streaming checkpoint's round trip: create, rename, list
      fc.mkdir(p, FsPermission.getDirDefault, true)
      val out = fc.create(new Path(p, "tmp"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(42)
      out.close()
      fc.rename(new Path(p, "tmp"), new Path(p, "0"))
      assert(fc.util.listStatus(p).map(_.getPath.getName).toSeq == Seq("0"))
    }
  }
}
