package graft.core.io

import java.net.URI
import java.nio.file.{FileSystems, Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local file system without a forked process per call.
  *
  * Without libhadoop the stock class forks `chmod` for every file it
  * creates and every directory it makes, and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both paths (so
  * every streaming checkpoint and state-store commit forks too). Here the
  * same permission bits are set through `java.nio`, and a path that is not
  * a symlink is stat-ed directly, which is what the stock code returns when
  * `readlink` prints nothing. The stock code still runs when libhadoop is
  * loaded, for symlinks, for the sticky bit, for a directory that carries
  * setuid/setgid (`chmod` keeps those on directories, `java.nio` cannot),
  * and where the platform has no POSIX attribute view.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (NativeIO.isAvailable || permission.getStickyBit || !ForkFreeRawLocalFileSystem.unix ||
        ForkFreeRawLocalFileSystem.isSetIdDir(path)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private def isSetIdDir(path: NioPath): Boolean = {
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0   // S_IFDIR, S_ISUID|S_ISGID
  }
}

/** `FileSystem` binding of `file:` (`fs.file.impl`): the stock checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` binding of `file:` (`fs.AbstractFileSystem.file.impl`):
  * the stock `LocalFs` shape, a `ChecksumFs` over a `RawLocalFs`-like
  * delegate, with [[ForkFreeRawLocalFileSystem]] underneath. Like `LocalFs`
  * it binds to `file:///` whatever URI it is given.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      // RawLocalFs's overrides
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
