package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's `RawLocalFileSystem` minus
  * its two shell-outs. Without `libhadoop` (the stock Spark distribution
  * ships none), `setPermission` runs a `chmod` process and
  * `getFileLinkStatus` a `readlink` process. Every part-file create, every
  * committer mkdir and every checkpoint-file rename pays one of them. A
  * warm stream drain started over 200 of them, about 2.5 ms each in a
  * 2 GB-heap JVM on 4 vCPUs.
  *
  * Only the two calls change. A sticky-bit mode (which
  * `PosixFilePermission` cannot express) and a real symlink fall back to
  * the stock code, so modes, link statuses and `.crc` sidecars are the
  * stock ones.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed `FileSystem` over [[NioRawLocalFileSystem]]: the stock
  * `LocalFileSystem` for `FileSystem.get` callers (`fs.file.impl`).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Checksummed `AbstractFileSystem` over [[NioRawLocalFileSystem]] for
  * `FileContext` callers (`fs.AbstractFileSystem.file.impl`), Spark's
  * default stream checkpoint manager among them. It stands in for the
  * stock `LocalFs`, whose package-private constructors always build the
  * stock raw filesystem.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its four
  * overrides.
  */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
