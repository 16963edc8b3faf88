package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without forked helper processes.
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` after every
  * file create and mkdir and `readlink` on every link-status lookup
  * (FileContext's rename asks twice), so every streaming checkpoint
  * commit forked several processes (counts in DEPLOY.md §1). Both
  * calls keep their semantics: the mode is set through java.nio, and a
  * real symlink or a sticky-bit mode still goes to Hadoop's own code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      posixBits(permission))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** The nine rwx bits of `p`. `PosixFilePermission` declares them
    * owner-read first, so ordinal i is mode bit `0400 >> i`.
    */
  private def posixBits(p: FsPermission) = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().foreach { b =>
      if ((p.toShort & (256 >> b.ordinal)) != 0) s.add(b)
    }
    s
  }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` (`.crc`
  * sidecars, verified reads) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext side, as Hadoop's `RawLocalFs` builds it but over
  * [[NioRawLocalFileSystem]].
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (the API Spark's default checkpoint
  * file manager uses): the stock checksummed `LocalFs` over
  * [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
