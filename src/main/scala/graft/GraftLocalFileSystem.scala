package graft

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session (registered in
  * [[SessionBuilder]]'s shared confs as `fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` over a raw filesystem that sets
  * permissions in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks `chmod %04o` on every file create and every directory a
  * `mkdirs` makes: one process per parquet file, per `.crc` sidecar, per
  * directory, per state-store and checkpoint file. The raw filesystem
  * here sets the same bits — the umask-applied mode Hadoop passes in —
  * through `java.nio.file.Files.setPosixFilePermissions`, with no
  * subprocess. On S3A or HDFS nothing changes.
  */
class GraftLocalFileSystem
    extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  /** The Hadoop key and value that make `file:` paths resolve here. */
  private val Impl: (String, String) =
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName

  /** [[Impl]] as the Spark conf that puts it in a session's Hadoop conf. */
  val SparkImpl: (String, String) = ("spark.hadoop." + Impl._1) -> Impl._2

  /** A Hadoop conf that resolves `file:` here: the default conf of the
    * readers that take one. Hadoop caches a filesystem by scheme,
    * authority and user, not by conf, so the first `file:` lookup in a
    * JVM fixes its class; a bare `new Configuration()` there would fix
    * Hadoop's stock class for every later session.
    */
  def conf(): Configuration = {
    val c = new Configuration()
    c.set(Impl._1, Impl._2)
    c
  }

  // rwxrwxrwx, high bit first: PosixFilePermission's declaration order.
  // Built from the mode `chmod` is given (FsPermission.toShort), not from
  // FsPermission.toString, which a subclass (FsCreateModes) overrides
  private val Bits = PosixFilePermission.values.toSeq.zip(
    (8 to 0 by -1).map(1 << _))
  private val Sticky = 0x200 // 01000
  private val SetIds = 0xc00 // 06000
  private val FileType = 0xf000 // S_IFMT
  private val Directory = 0x4000 // S_IFDIR

  /** `RawLocalFileSystem` with an in-process `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (!setInProcess(pathToFile(p).toPath, perm.toShort))
        super.setPermission(p, perm)
  }

  /** Sets the nine permission bits of `mode` on `f`, as `chmod` does;
    * false leaves the change to `chmod`. That is the case for the sticky
    * bit, for a directory that carries setuid or setgid (`chmod` keeps
    * those on a directory, `chmod(2)` clears them) and for a filesystem
    * without POSIX attributes.
    */
  private def setInProcess(f: NioPath, mode: Int): Boolean =
    (mode & Sticky) == 0 && (try {
      val st = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val setIdDir = (st & FileType) == Directory && (st & SetIds) != 0
      !setIdDir && {
        val set = EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.foreach { case (b, bit) => if ((mode & bit) != 0) set.add(b) }
        Files.setPosixFilePermissions(f, set)
        true
      }
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        false
    })
}
