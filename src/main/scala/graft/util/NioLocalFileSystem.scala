package graft.util

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import scala.jdk.CollectionConverters._

/** The `file:` filesystem of every [[graft.GraftSession]]: Hadoop's
  * checksummed `LocalFileSystem` (so the `.crc` files stay) over
  * [[NioLocalFileSystem.Raw]]. Without the key set, Hadoop's service loader
  * picks Hive's `ProxyLocalFileSystem` from Spark's jars, a proxy over the
  * same stock `LocalFileSystem`.
  *
  * Without Hadoop's native library, stock `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and it is called for every file, `.crc` file and
  * directory a write creates: 154 forks for the 48 data files of a 16-bucket
  * `ResumableRunner` commit at 3 tasks, and 56 more for its metrics, nearly
  * all on executor threads. `Raw` sets the same permission bits through
  * java.nio instead.
  *
  * Caveat: Hadoop caches `FileSystem` instances JVM-wide by scheme and user,
  * not by configuration. If code in the JVM got a `file:` filesystem before
  * the first session was built, Spark keeps getting that cached stock
  * instance: writes stay correct, but they keep forking.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` is a java.nio call. Where the
    * file's store has no POSIX view, or the mode carries the sticky bit
    * (which java.nio cannot set), it falls back to the stock method. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = posixView(pathToFile(p))
      if (view == null || permission.getStickyBit) super.setPermission(p, permission)
      else view.setPermissions(posixBits(permission.toShort))
    }

    /** The file's POSIX attribute view, or null where it has none. */
    protected def posixView(f: File): PosixFileAttributeView =
      Files.getFileAttributeView(f.toPath, classOf[PosixFileAttributeView])
  }

  // PosixFilePermission's constants run OWNER_READ .. OTHERS_EXECUTE, the
  // bits 0400 .. 0001 of a mode in that order
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values().zipWithIndex
      .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava
}
