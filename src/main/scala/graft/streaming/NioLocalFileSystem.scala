package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without process spawns. Without
  * libhadoop, the stock RawLocalFileSystem forks `chmod` for every file
  * and directory it creates and `readlink` for every link-status
  * lookup. This one sets modes and answers link status for non-links
  * through java.nio; everything else (sticky bits, real symlinks) falls
  * back to the stock code. Bound per write through the write's options
  * (see [[NioLocalFileSystem.writeOptions]]), never session-wide.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[NioRawLocalFileSystem]] behind the stock checksum layer, as
  * `fs.file.impl` expects. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Per-write options binding `file:` paths to [[NioLocalFileSystem]].
    * The cache must be off: the FileSystem cache is keyed by scheme, so
    * with it on the write would get the session's cached stock instance.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
