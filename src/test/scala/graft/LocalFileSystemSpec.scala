package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.LocalFileSystem]] is the session's `file://` FileSystem,
  * and everything it writes gets the mode bits stock Hadoop gives it. */
class LocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  test("a GraftSession's file:// FileSystem is graft.io.LocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[graft.io.LocalFileSystem])
    assert(conf.get("fs.file.impl") == classOf[graft.io.LocalFileSystem].getName)
  }

  test("a parquet write leaves every path with the modes stock LocalFileSystem gives it") {
    val base = GraftBridge.tempDir("graft-fs-modes")
    val df = spark.range(100).repartition(3)
    // A fresh FileSystem per write (cache off), so each reads the umask
    // from the write's options; 027 differs from any usual process umask.
    def write(impl: Class[_], name: String): Map[String, Int] = {
      df.write
        .option("fs.file.impl", impl.getName)
        .option("fs.file.impl.disable.cache", "true")
        .option("fs.permissions.umask-mode", "027")
        .parquet(s"$base/$name")
      val root = Paths.get(s"$base/$name")
      val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
      val walk = Files.walk(root)
      try {
        val paths = walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        paths.map(p => root.relativize(p).toString.replaceAll(uuid, "U") -> mode(p)).toMap
      } finally walk.close()
    }
    val ours = write(classOf[graft.io.LocalFileSystem], "ours")
    val stock = write(classOf[org.apache.hadoop.fs.LocalFileSystem], "stock")
    assert(ours == stock)
    assert(Set("", "_SUCCESS", "._SUCCESS.crc").subsetOf(ours.keySet), ours.keySet)
    assert(ours.keys.count(_.endsWith(".parquet")) == 3 &&
      ours.keys.count(_.endsWith(".parquet.crc")) == 3, ours.keySet)
    assert(ours("") == oct("750") && ours("_SUCCESS") == oct("640"), ours)
  }

  test("setPermission sets what stock sets, forking chmod for sticky and setgid") {
    val ours = new graft.io.LocalFileSystem.PosixRaw
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(URI.create("file:///"), new Configuration()))
    val base = GraftBridge.tempDir("graft-fs-chmod")
    // (starting mode, mode set, isDirectory)
    val cases = Seq(("755", "750", true), ("755", "1777", true), ("2755", "750", true),
      ("644", "600", false), ("644", "1644", false))
    cases.zipWithIndex.foreach { case ((from, to, isDir), i) =>
      val got = Seq(ours -> "ours", stock -> "stock").map { case (fs, who) =>
        val p = Paths.get(s"$base/$i-$who")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", Integer.valueOf(oct(from)))
        fs.setPermission(new Path(p.toUri), new FsPermission(oct(to).toShort))
        mode(p)
      }
      assert(got(0) == got(1), s"$from -> $to (dir: $isDir)")
    }
    // Files.setPosixFilePermissions would have cleared both bits.
    assert(mode(Paths.get(s"$base/1-ours")) == oct("1777"), "sticky bit set")
    assert(mode(Paths.get(s"$base/2-ours")) == oct("2750"), "GNU chmod keeps a directory's setgid")
  }
}
