package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without child processes.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks `chmod`
  * for every file and directory it creates (`.crc` files included) and
  * `readlink` for every `getFileLinkStatus`, which the FileContext rename
  * of each streaming checkpoint file calls. A fork costs milliseconds,
  * more than a small write. This subclass does both in-process: the same
  * mode bits through `java.nio`, and for a path that is not a symlink the
  * `getFileStatus` that Hadoop returns once its `readlink` comes back
  * empty. A sticky-bit mode or a real symlink takes Hadoop's own path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** Hadoop's checksummed `LocalFileSystem` over the fork-free raw file
  * system: the `FileSystem` API's `file:` (`fs.file.impl`).
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`) over the
  * fork-free raw file system: the `FileContext` API's `file:`
  * (`fs.AbstractFileSystem.file.impl`), which streaming checkpoints use.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawFs(uri, conf))

object LocalFs {
  /** rwxrwxrwx, high bit first, as in `FsPermission.toShort`. */
  private val modeBits: Seq[PosixFilePermission] = {
    import PosixFilePermission._
    Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE,
      GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
  }

  private[engine] def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    modeBits.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << (8 - i))) != 0) s.add(b) }
    s
  }

  /** `RawLocalFs` with the fork-free delegate; its constructors are
    * package-private, so its three overrides are restated here.
    */
  private[engine] class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
