package graft.core

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException, attribute}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` FileSystem of every graft session (registered as
  * `fs.file.impl` by [[Session.defaultConf]]).
  *
  * Spark ships without `libhadoop`, so Hadoop's `RawLocalFileSystem`
  * sets the permission of every file it creates (data and `.crc`) and
  * every dir it makes by starting a `/bin/chmod` process — 2-5 ms per
  * call, on the driver for each manifest, lease and stage write and in
  * every write task. This one differs only in `setPermission`: the same
  * nine bits go through one `chmod` syscall (NIO). A permission NIO
  * cannot express (the sticky bit) or a store without POSIX
  * attributes falls back to Hadoop's own path.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        try Files.setPosixFilePermissions(file, posix(mode))
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
          case e: NoSuchFileException =>
            throw new FileNotFoundException(s"$p: ${e.getMessage}")
        }
      }
    }
  }

  /** Bit i of a Unix mode is `values()(8 - i)` (OWNER_READ = 0400). */
  private def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val all = attribute.PosixFilePermission.values()
    val set = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    for (i <- 0 until 9 if (mode & (1 << i)) != 0) set.add(all(8 - i))
    set
  }
}
