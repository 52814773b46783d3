package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The `file:` scheme's checksummed file system ([[Tables.sessionConf]]
  * maps `fs.file.impl` here): Hadoop's `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. Checksum (`.crc`) files are written as
  * before; only how permissions are set changes. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` calls
  * `Files.setPosixFilePermissions` instead of forking `chmod`. Without
  * the native Hadoop library the stock class forks one `chmod` per
  * created file and directory — about 20 processes per staged lake
  * commit, ~1.9 ms each from a large-heap JVM, against ~0.03 ms here.
  * The bits set are the same: the rwx triplets of the permission the
  * caller passes. A sticky bit (which NIO cannot express) or a file
  * store without POSIX attributes falls back to the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
              x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) perms.add(r)
        if (a.implies(FsAction.WRITE)) perms.add(w)
        if (a.implies(FsAction.EXECUTE)) perms.add(x)
      }
      import PosixFilePermission._
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}
