package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without forked helper processes.
  *
  * Without Hadoop's native library, stock `RawLocalFileSystem` runs
  * `chmod` in a child process for every `setPermission` (every file and
  * directory it creates, `.crc` files included) and `readlink` in a child
  * process for every `getFileLinkStatus` (every FileContext path
  * resolution, i.e. every streaming checkpoint operation). Each fork costs
  * milliseconds from a large-heap JVM; the java.nio equivalents cost
  * microseconds. Both overrides keep the stock results:
  *
  *   - `setPermission` applies the nine rwx bits with
  *     `Files.setPosixFilePermissions` (which, like `chmod`, follows
  *     symlinks and ignores the umask). A mode with bits above 0777
  *     (sticky, setuid, setgid), or a store without POSIX attributes,
  *     goes to the stock implementation.
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` — what the stock code returns once `readlink`
  *     prints nothing. Real symlinks go to the stock implementation.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 0400 down to 0001. */
  private val Bits = PosixFilePermission.values

  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Bits(i)))
    s
  }
}

/** The checksummed `file://` FileSystem over [[NioRawLocalFileSystem]]:
  * `.crc` handling is stock `LocalFileSystem`'s, and callers that test for
  * `LocalFileSystem` still match. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's raw `file://` AbstractFileSystem over
  * [[NioRawLocalFileSystem]]; mirrors `org.apache.hadoop.fs.local.RawLocalFs`,
  * whose constructors are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.8")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** FileContext's checksummed `file://` AbstractFileSystem (the streaming
  * checkpoint manager's); mirrors `org.apache.hadoop.fs.local.LocalFs`,
  * which also ignores the URI it is handed and binds `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
