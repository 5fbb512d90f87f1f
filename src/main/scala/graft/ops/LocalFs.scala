package graft.ops

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` FileSystem (`fs.file.impl` in
  * [[graft.GraftSession.profile]]): Hadoop's checksummed
  * `LocalFileSystem`, except that permissions are set in-process. Without
  * libhadoop (Spark ships none), `RawLocalFileSystem.setPermission` forks
  * `chmod` for every file and directory it creates — parquet parts, `.crc`
  * sidecars, committer `_temporary` dirs — about 7.5 ms of a thread each.
  * `.crc` files are still written and verified. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Calls handed to Hadoop's own `setPermission` (with no libhadoop, a
    * forked `chmod`). */
  val fallbacks = new LongAdder

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  // OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 0400 down to 0001
  private val bits = PosixFilePermission.values.toSeq

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      // nio cannot set the sticky bit
      if (!posix || (mode & ~0x1ff) != 0) {
        fallbacks.increment()
        super.setPermission(p, permission)
      } else {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        bits.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) set.add(b) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }
    }
  }
}
