package graft.sources

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem whose per-file metadata calls stay in-process.
  *
  * When libhadoop's native IO is not loaded, hadoop 3.4.2's
  * RawLocalFileSystem forks a subprocess at three sites, each a
  * fork+exec out of a multi-GB-RSS JVM:
  *  - `setPermission` forks `chmod` per call — both the mkdirs-with-mode
  *    and the create-with-permission paths route through it, so every
  *    staged part, checkpoint part, manifest and directory paid one
  *    (283 forks in one loglake-heavy query, q141);
  *  - `getFileLinkStatus` forks `readlink` (`FileUtil.readLink`) per
  *    call — FileContext's rename asks it for the source and the
  *    destination of every rename, `.crc` sidecars included, so each
  *    streaming checkpoint file paid four;
  *  - `DeprecatedRawLocalFileStatus.loadPermissionInfo` forks `ls -ld`
  *    when a status's owner/group/permission is first read. Not
  *    overridden: no per-epoch or per-commit path reads them.
  *
  * The first two are overridden with identical results:
  *  - `setPermission` applies the same 9 permission bits via
  *    `Files.setPosixFilePermissions`. Bits NIO cannot express (sticky/
  *    setuid/setgid) fall back to the parent's shell path — loglake
  *    never sets them, so the fallback is dead in practice but keeps
  *    the override exactly as capable as what it replaces.
  *  - `getFileLinkStatus` answers a path that is not a symlink with
  *    `getFileStatus`, which is what the parent returns once `readlink`
  *    comes back empty; symlinks (dangling ones too) still go to the
  *    parent, so link semantics are unchanged.
  *
  * Hadoop has two client APIs, and each resolves `file:` through its
  * own key, both registered by [[NioLocalFileSystem.register]]:
  *  - FileSystem (`fs.file.impl`) → [[NioLocalFileSystem]]: parquet
  *    writers, committers, scans and the table formats' metadata I/O;
  *  - FileContext (`fs.AbstractFileSystem.file.impl`) → [[NioLocalFs]]:
  *    Spark's streaming checkpoints (offset log, commit log, state
  *    store files).
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val bits: Int = perm.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, perm)
    else {
      val order = Array(
        OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
        GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
        OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      var i = 0
      while (i < 9) {
        if ((bits & (1 << (8 - i))) != 0) set.add(order(i))
        i += 1
      }
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      ()
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** FileSystem API: LocalFileSystem's checksum layer over the fork-free
  * raw FS. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** The Hadoop conf keys that route `file:` to the fork-free stack,
    * one per client API. The Spark session ([[graft.Sessions]]) and the
    * shared table-format conf ([[WireLog.sharedConf]]) both apply
    * exactly these, so the two cannot drift. */
  val impls: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def register(conf: Configuration): Configuration = {
    impls.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}

/** FileContext API: Hadoop's `LocalFs` stack — `ChecksumFs` over a
  * `DelegateToFileSystem` — with only the raw FS swapped. FileContext
  * instantiates it through this (URI, Configuration) constructor; like
  * `LocalFs`, it binds to `file:///` whatever URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** `RawLocalFs` over [[NioRawLocalFileSystem]]; the overrides repeat
  * `RawLocalFs`'s own (its constructor is package-private). */
private[sources] final class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
