package graft.core

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two process-starting
  * calls.
  *
  * Without `libhadoop` (the engine ships none), the stock
  * `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates, and a `readlink` process for every
  * `getFileLinkStatus`, which FileContext makes on each side of a
  * rename (the streaming checkpoint's commit). Each start costs
  * milliseconds; the in-process calls below cost microseconds and leave
  * the same modes and statuses. Everything else is the stock code. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  /** Sets `permission` (already umasked by the creating caller, as for
    * the stock code) in-process. Falls back to the stock `chmod` for
    * what `Files.setPosixFilePermissions` cannot express: a sticky bit,
    * a default filesystem without the `unix` attribute view, and a
    * directory carrying setuid or setgid, which GNU `chmod` with the
    * stock four-digit octal mode keeps and `chmod(2)` would clear. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (!UnixView || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      if ((current & S_IFMT) == S_IFDIR && (current & S_ISUID_ISGID) != 0)
        super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (bit <- 0 until 9 if (mode & (1 << bit)) != 0) perms.add(ByBit(bit))
        Files.setPosixFilePermissions(file, perms)
      }
    }
  }

  /** The stock code resolves `f` as `new File(f.toString)`, asks
    * `readlink` for its target, and returns `getFileStatus(f)` when the
    * answer is empty. That answer is empty exactly when that path is not
    * a symbolic link, so only a real symlink goes to the stock code. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val UnixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val S_ISUID_ISGID = 0xc00
  /** `PosixFilePermission` for each mode bit, lowest (others' execute)
    * first. */
  private val ByBit = PosixFilePermission.values.reverse
}

/** The `file:` FileSystem the engine installs (`fs.file.impl`): the
  * stock checksummed `LocalFileSystem`, `.crc` files and all, over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The FileContext counterpart (`fs.AbstractFileSystem.file.impl`): the
  * stock `LocalFs` stack, `ChecksumFs` over a raw delegate, with
  * [[GraftRawLocalFileSystem]] as the delegate. Like `LocalFs`, it
  * ignores the URI it is given. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[GraftRawLocalFileSystem]]; the overrides are the stock ones. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
