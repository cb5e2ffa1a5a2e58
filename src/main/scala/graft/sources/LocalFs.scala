package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` file system without the shell-outs on the write
  * path. Without libhadoop, stock `RawLocalFileSystem` runs `chmod` on every
  * create and mkdir (data file and `.crc` sidecar alike) and `readlink` on
  * every `getFileLinkStatus`, which `FileContext.rename` calls twice. Every
  * micro-batch's offset log, state-store delta and commit log pays for
  * those forks before the next batch can start.
  *
  * Both overrides do the same through java.nio and fall back to the stock
  * call where the results could differ: sticky or setuid/setgid bits
  * (`chmod` keeps a directory's setgid bit, `chmod(2)` would clear it),
  * symlinks, and non-POSIX platforms.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem.{setIdBits, unix}

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!unix || permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & setIdBits) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!unix || Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val setIdBits = 0xc00 // S_ISUID | S_ISGID
}

/** `file:` for the FileSystem API: `LocalFileSystem` (the `.crc` checksum
  * layer) over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `file:` for the FileContext API: `ChecksumFs` over
  * [[ForkFreeRawLocalFileSystem]], wired as Hadoop's `LocalFs` wires
  * `RawLocalFs` (whose constructors are package-private).
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
