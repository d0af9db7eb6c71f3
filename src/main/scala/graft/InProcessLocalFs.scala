package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without subprocesses. Without the native
  * `libhadoop`, `RawLocalFileSystem` forks `chmod` for every file and
  * directory it creates and `readlink` for every `FileContext` rename
  * (4,073 processes in one 10-s `sinkbench` `replay_dedup` run, 27 with
  * these classes, 25 of them Spark's own `rm -rf`). This sets the same
  * permission bits through NIO and reads link status only for real
  * symlinks; names, `.crc` sidecars and bits on disk are unchanged, so
  * checkpoints written by either side restart on the other.
  * `Sessions.builder` registers both APIs' classes. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  // NIO has no sticky bit: only then take the stock (forking) path. Without
  // it, `FsPermission.toString` is the nine-letter `rwxr-x---` form.
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  // The stock call runs `readlink` first and falls back to getFileStatus
  // when there is no link target, which is every ordinary file.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the FileSystem API (parquet writes, output committer). */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `RawLocalFs` over [[InProcessRawLocalFileSystem]], with its four overrides.
  * `AbstractFileSystem.get` calls the (URI, Configuration) constructor
  * reflectively; like `RawLocalFs`, it binds to `file:///` whatever the URI. */
class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new InProcessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` API that Spark's
  * checkpoint manager and state store write offsets, commits and deltas
  * through. `LocalFs` with the raw layer swapped. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))
