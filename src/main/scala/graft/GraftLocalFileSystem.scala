package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local FileSystem with a raw layer that sets
  * permissions in-process. Without libhadoop, Hadoop's
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file,
  * `.crc` sidecar and directory it creates; here the same bits are set
  * with `Files.setPosixFilePermissions`. [[Sessions.withGraftConfs]]
  * installs it as `fs.file.impl`.
  *
  * It extends `LocalFileSystem` because `FileSystem.getLocal` casts to
  * that class; checksums, listing and every other operation are
  * Hadoop's own. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` needs no process for
    * plain rwx bits. Hadoop has applied the umask before it calls this.
    * A request with bits beyond `0777` (sticky, setuid, setgid), which
    * the NIO attribute view cannot express, goes to Hadoop's own
    * implementation. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0xffff
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
    }
  }

  /** The rwx set of `bits` (`PosixFilePermission` lists OWNER_READ …
    * OTHERS_EXECUTE, i.e. octal bit 8 down to bit 0). */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { v =>
      if ((bits & (1 << (8 - v.ordinal))) != 0) set.add(v)
    }
    set
  }
}
