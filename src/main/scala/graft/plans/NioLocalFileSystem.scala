package graft.plans

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system with file modes set in-process.
  *
  * Without native libhadoop, `RawLocalFileSystem.setPermission` starts a
  * `chmod` process, and every create and mkdirs calls it: a table write
  * paid three process starts per bucket file (its `bucket=N` dir, the
  * part file and its `.crc`). This file system sets the same mode bits
  * with `Files.setPosixFilePermissions`. It is a `LocalFileSystem` over
  * that raw file system, so the `.crc` sidecars are written as before.
  *
  * Table write jobs select it through [[Materialize.TableWriteOptions]];
  * the session's file system, and with it the driver-side snapshot
  * commit, is left as it is.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** The permission set of `mode`; sticky, setuid and setgid bits have
    * no POSIX permission and fail instead of being dropped.
    */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    require((mode & ~0x1ff) == 0, f"mode $mode%04o has bits outside 0777")
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // OWNER_READ .. OTHERS_EXECUTE are declared from bit 8 down to bit 0
    PosixFilePermission.values.foreach(p => if ((mode >> (8 - p.ordinal) & 1) == 1) s.add(p))
    s
  }
}
