package graft

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without process forks. Without `libhadoop.so` the
  * stock class runs a `chmod` process for every file and directory it
  * creates with a permission, and a `readlink` process for every
  * `getFileLinkStatus` (which every `FileContext` rename calls on its
  * destination). Both have a JDK equivalent; everything else, including
  * the `.crc` checksum files and atomic renames, is the stock code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The bits `chmod` would set; NIO cannot express the sticky bit, so
    * that case still goes to the stock method.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))

  /** The stock method asks `readlink` about `new File(f.toString)` and
    * returns `getFileStatus(f)` when that is not a link; the same test,
    * asked of NIO. A real link still takes the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the path `FileContext` (and so Spark's
  * checkpoint file manager) takes: Hadoop's `LocalFs`, a `ChecksumFs` over
  * `RawLocalFs`, with [[NioRawLocalFileSystem]] under the delegate. The
  * `(URI, Configuration)` constructor is the one Hadoop calls reflectively;
  * like `LocalFs`, it binds to `file:///` whatever the URI.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      // RawLocalFs's own overrides
      override def getUriDefaultPort(): Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
