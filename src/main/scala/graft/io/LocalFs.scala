package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-file process forks.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * as a child process on every file and directory it creates (through
  * `setPermission`), and `FileUtil.readLink` runs `readlink` inside
  * `getFileLinkStatus`, which both `FileSystem.rename` and
  * `AbstractFileSystem.rename` call on source and destination. A forked
  * process costs ~10 ms, so every streaming micro-batch paid it on each
  * sink part file, `.crc` sidecar, offset/commit log entry, state-store
  * delta and sink manifest. This subclass does the same two things in
  * process: rwx bits through `java.nio`, and a symlink test before the
  * stock path. Sticky-bit modes and real symlinks keep the stock code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, rwxBits(permission))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** `PosixFilePermission` declares the nine bits from owner-read (0400)
    * down to others-execute (0001). */
  private def rwxBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
    }
    bits
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` (sink part files, batch
  * writes) over [[ForkFreeRawLocalFileSystem]]; `.crc` sidecars are still
  * written and verified on read.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` view of [[ForkFreeRawLocalFileSystem]], with the
  * overrides of Hadoop's `RawLocalFs`, whose constructors are
  * package-private and hard-code the stock raw filesystem.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem that Spark's `FileContextBasedCheckpointFileManager` uses
  * for offset/commit logs, HDFS state-store files and the file-sink
  * metadata log. Like Hadoop's `LocalFs`, it is always rooted at `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
