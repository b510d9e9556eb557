package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the per-call shell processes.
  *
  * Without the native-hadoop library, `RawLocalFileSystem` forks a `chmod`
  * for every permission it sets (each `create` and `mkdirs` through the
  * `FileSystem` API) and a `readlink` for every `getFileLinkStatus` (two
  * per `FileContext` rename). Each fork costs about 2 ms, the `java.nio`
  * call microseconds, and a streaming micro-batch made about 120 of them
  * (see [[graft.GraftSession]]). Two methods change:
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions` (which, like `chmod`, follows a
  *    symlink). A request carrying any other bit (sticky, setuid, setgid)
  *    goes to the stock shell path.
  *  - `getFileLinkStatus` is `getFileStatus` unless the path is a symlink,
  *    which is what the stock method returns for a non-link after its
  *    `readlink` comes back empty. Symlinks go to the stock path.
  *
  * Everything else is the stock class. [[NioChecksumFileSystem]] and
  * [[NioLocalFs]] wrap it the way `LocalFileSystem` and `LocalFs` wrap the
  * stock one, so `.crc` files are still written and checked.
  */
class NioLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    // from the actions, not toString: FsCreateModes renders "{ masked: … }"
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` API (`fs.file.impl`) over
  * [[NioLocalFileSystem]]: `LocalFileSystem` with the raw layer swapped.
  */
class NioChecksumFileSystem extends LocalFileSystem(new NioLocalFileSystem)

/** The checksummed `FileContext` API (`fs.AbstractFileSystem.file.impl`)
  * over [[NioLocalFileSystem]]: `LocalFs` with the raw layer swapped. The
  * raw layer mirrors Hadoop's `RawLocalFs`, whose constructor is not public.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
