package perfbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed local filesystem, except that setting a file's
  * permissions goes through java.nio. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and every
  * state-store delta, offset-log and commit-log file a micro-batch writes
  * sets permissions twice (the file and its checksum). The harness runs
  * with `fs.file.impl` set to this class, so a micro-batch's time is the
  * engine's work and not the host's process start-up.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  // rwx for owner, group, others, from the high bit down
  private val Bits = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE,
    GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  def posix(mode: Int): java.util.Set[PosixFilePermission] =
    Bits.zipWithIndex.collect { case (p, i) if (mode & (1 << (8 - i))) != 0 => p }.toSet.asJava

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort.toInt))
  }
}
