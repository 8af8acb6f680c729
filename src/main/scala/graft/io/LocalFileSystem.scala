package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` FileSystem (checksummed `LocalFileSystem`) over a
  * raw store whose `setPermission` makes a system call instead of a
  * process. Without libhadoop (none ships in the Spark jars),
  * `RawLocalFileSystem.setPermission` forks `chmod` through Hadoop's
  * `Shell` for every file and directory it creates: 9 forks per parquet
  * sink (6 by the job committer: the target, `_temporary`, `_temporary/0`,
  * `_temporary/0/_temporary`, `_SUCCESS` and its `.crc`; 3 per task: the
  * attempt directory, the part file and its `.crc`). Each fork from a
  * 3 GB JVM costs a few milliseconds: on the benchmark's `migrate` pass
  * (4 cores) the median sink finished 33 ms sooner without them.
  *
  * `GraftSession.start` installs it as `spark.hadoop.fs.file.impl`
  * unless the SparkConf names another implementation.
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFileSystem.PosixRaw)

object LocalFileSystem {

  /** `RawLocalFileSystem` with the same mode bits set in-process. The
    * forked `chmod` stays where the result could differ: a sticky bit
    * (which `Files.setPosixFilePermissions` cannot set), a target that
    * already carries a setuid/setgid/sticky bit (GNU `chmod` keeps a
    * directory's setgid under a numeric mode; the system call clears
    * it), and a store without POSIX attributes. */
  class PosixRaw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val path = pathToFile(p).toPath
      val inProcess = !permission.getStickyBit && (try {
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0
      } catch { case _: UnsupportedOperationException => false })
      if (inProcess) Files.setPosixFilePermissions(path, posix(permission.toShort))
      else super.setPermission(p, permission)
    }
  }

  private val SpecialBits = 0x0e00 // octal 7000: setuid, setgid, sticky

  /** The rwx bits of `mode` (octal 0777) as a permission set. The enum
    * runs from OWNER_READ (octal 0400) down to OTHERS_EXECUTE (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p)
    }
    set
  }
}
