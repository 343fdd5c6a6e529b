package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** `NioLocalFileSystem` must leave exactly the modes the stock
  * `LocalFileSystem` leaves. Specs run on `TestSpark`, which does not
  * go through `Sessions.build`, so the filesystems are built here. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private def init(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Mode bits (sticky included) of every entry under `root`, by relative path. */
  private def modes(root: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val r = Paths.get(root)
    val st = Files.walk(r)
    try st.iterator.asScala.filter(_ != r)
      .map(p => r.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int])
      .toMap
    finally st.close()
  }

  /** Creates, mkdirs and chmods the same tree through `fs` under `root`. */
  private def build(fs: FileSystem, root: String): Unit = {
    fs.mkdirs(new Path(s"$root/a/b"))
    fs.create(new Path(s"$root/a/b/part-0.parquet")).close()
    fs.mkdirs(new Path(s"$root/m"), new FsPermission("750"))
    fs.create(new Path(s"$root/m/f"), new FsPermission("640"),
      true, 4096, 1.toShort, 1L << 20, null).close()
    fs.setPermission(new Path(s"$root/m/f"), new FsPermission("604"))
    fs.mkdirs(new Path(s"$root/sticky"))
    fs.setPermission(new Path(s"$root/sticky"), new FsPermission("1777"))
  }

  test("files and dirs get the stock LocalFileSystem's modes under the same umask") {
    Seq("022", "077", "002").foreach { umask =>
      val stock = TestSpark.tempDir("graft-fs-stock")
      val nio = TestSpark.tempDir("graft-fs-nio")
      build(init(new LocalFileSystem(), umask), stock)
      build(init(new NioLocalFileSystem(), umask), nio)
      val want = modes(stock)
      assert(want.size === 8, want) // 6 entries + 2 .crc sidecars
      assert(modes(nio) === want, s"umask $umask")
    }
  }

  test("fs.file.impl instantiates it by reflection") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(URI.create("file:///"), conf)
    try assert(fs.isInstanceOf[NioLocalFileSystem]) finally fs.close()
  }
}
