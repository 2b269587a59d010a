package graft.infra

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every graft session (GraftSession sets it as
  * `fs.file.impl`): Hadoop's checksummed LocalFileSystem over a raw
  * filesystem that sets permission bits in-process. Without libhadoop,
  * RawLocalFileSystem.setPermission forks a `chmod` process, and a write
  * calls it for every part file and its .crc, every task-attempt and
  * `_temporary` dir and every `_SUCCESS` — about 5 ms a fork against
  * 0.03 ms for the java.nio call. The modes written are the same. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** RawLocalFileSystem whose setPermission sets the rwx bits with
  * java.nio; a permission carrying any other bit (sticky) still takes
  * Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
