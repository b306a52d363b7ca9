package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's raw local file system without shell forks. When libhadoop is
 * not loaded, `RawLocalFileSystem` runs `chmod` for every permission it
 * sets (each file it creates and each directory it makes) and `readlink`
 * for every link-status lookup (each `FileContext` rename of a checkpoint
 * log). A streaming gate's staging write and checkpoint logs made about a
 * hundred such processes per micro-batch run. Two overrides answer the
 * same questions in process:
 *   - `setPermission` sets the same rwx mode through
 *     `Files.setPosixFilePermissions` (which, like `chmod`, follows a
 *     symlink); a mode with a sticky bit still goes to `chmod`.
 *   - `getFileLinkStatus` of a path that is not a symlink is its
 *     `getFileStatus`, which is Hadoop's own answer for a non-link; a real
 *     symlink still goes to `super`.
 * Everything else, `.crc` sidecars and rename-based commits included, is
 * Hadoop's. [[SliceReplay.scoped]] routes `file:` paths here for the
 * length of a streaming gate's own run.
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]], for the `FileSystem` API (the staging
  * writer and its committer). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` twin of `RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]]; like `RawLocalFs`, it serves `file:///`. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as AbstractFileSystem.getServerDefaults()", "hadoop 2.8")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `LocalFs` over
  * [[ForkFreeRawLocalFs]], for the `FileContext` API (checkpoint logs,
  * the file-source log and state stores). Hadoop builds it reflectively
  * from `(URI, Configuration)`; like `LocalFs`, it serves `file:///`
  * whatever the URI. Unlike Hadoop's `LocalFs`, it also verifies checksums
  * on `open(path)`, the call `FileContext.open(path)` makes and Spark's
  * checkpoint manager reads its logs through: `FilterFs.open(path)` reads
  * the raw file unchecked, so a corrupt offset or commit log was parsed. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf)) {
  override def getUriDefaultPort: Int = -1
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
