package graft.sinks

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, with permissions set and links looked
  * up in-process. Without Hadoop's native library, `RawLocalFileSystem`
  * starts a `chmod` process for every file and directory it creates and
  * a `readlink` process for every `getFileLinkStatus` (each
  * `FileContext` rename, which is how a streaming checkpoint commits a
  * log entry; BASELINE.md `local_fs_forks`). This does what the native
  * library does, `chmod(2)` on the nine rwx bits, through `java.nio`, and
  * so also clears a directory's setuid/setgid bits as the native path
  * does. It defers to Hadoop for the sticky bit, for a store without
  * POSIX attributes and for a symlink.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission lists owner, group, others, each r, w, x:
      // the nine bits from 0400 down to 0001
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is not a symlink gets its `getFileStatus`, which is
    * what Hadoop returns for it after `readlink` finds no link. A missing
    * path still throws `FileNotFoundException`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed local file system over
  * [[InProcessRawLocalFileSystem]], so every data file keeps its `.crc`.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that the
  * streaming checkpoint writes through: Hadoop's `LocalFs` (a
  * `ChecksumFs` over `RawLocalFs`) with [[InProcessRawLocalFileSystem]]
  * underneath. Like `LocalFs` it ignores the URI it is given (Hadoop
  * passes it for the constructor's signature); the overrides are
  * `RawLocalFs`'s.
  */
class InProcessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
