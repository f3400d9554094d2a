package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftLocalFileSystem

/** The session's `file://` FileSystem sets permissions with a syscall
  * instead of a forked `chmod`; what it leaves on disk must be exactly
  * what Hadoop's own local FileSystem leaves.
  */
class GraftLocalFileSystemSpec extends AnyFunSuite with SparkSessionSetup {

  private def fs =
    FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def bits(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(new Path(dir.toUri))
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Processes this thread started while `body` ran (JFR `jdk.ProcessStart`). */
  private def spawns(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(dump)
      val me = Thread.currentThread.getId
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).toArray
        .count(_.asInstanceOf[jdk.jfr.consumer.RecordedEvent].getThread.getJavaThreadId == me)
    } finally { rec.close(); Files.delete(dump) }
  }

  test("FileSystem.get for file:/// under the session conf is the graft class") {
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[GraftLocalFileSystem])
  }

  test("files and dirs keep Hadoop's bits (0644 / 0755 under umask 022)") {
    assume(FsPermission.getUMask(spark.sparkContext.hadoopConfiguration).toShort == octal("022"))
    withDir { root =>
      val dir = new Path(root, "a/b")
      assert(fs.mkdirs(dir))
      assert(bits(dir) == "rwxr-xr-x")
      assert(bits(dir.getParent) == "rwxr-xr-x")
      val file = new Path(dir, "f.txt")
      val out = fs.create(file)
      try out.writeBytes("x") finally out.close()
      assert(bits(file) == "rw-r--r--")
      assert(bits(new Path(dir, ".f.txt.crc")) == "rw-r--r--")
      // a Spark write goes through the same FileSystem in its tasks
      val table = new Path(root, "t")
      spark.range(3).write.parquet(table.toString)
      val parts = fs.listStatus(table).map(_.getPath).filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty)
      parts.foreach(p => assert(bits(p) == "rw-r--r--", p))
    }
  }

  test("creates and mkdirs start no process") {
    withDir { root =>
      val n = spawns {
        (1 to 5).foreach { i =>
          val dir = new Path(root, s"d$i/e")
          fs.mkdirs(dir)
          fs.create(new Path(dir, "f")).close()
        }
      }
      assert(n == 0)
    }
  }

  test("setPermission round-trips through getFileStatus") {
    withDir { root =>
      val file = new Path(root, "f")
      fs.create(file).close()
      fs.setPermission(file, new FsPermission(octal("640")))
      assert(bits(file) == "rw-r-----")
      assert(fs.getFileStatus(file).getPermission.toShort == octal("640"))
      val missing = new Path(root, "missing")
      intercept[java.io.FileNotFoundException](
        fs.setPermission(missing, new FsPermission(octal("600"))))
    }
  }

  test("the sticky bit falls back to Hadoop's own setPermission") {
    withDir { root =>
      val dir = new Path(root, "shared")
      assert(fs.mkdirs(dir))
      // the fallback is Hadoop's forked chmod, which also shows that
      // `spawns` does see a spawn
      assert(spawns(fs.setPermission(dir, new FsPermission(octal("1777")))) == 1)
      val mode = Files.getAttribute(Paths.get(dir.toUri), "unix:mode").asInstanceOf[Int]
      assert((mode & octal("7777")) == octal("1777"))
    }
  }
}
