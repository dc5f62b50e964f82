package graft.sources

import java.io.{IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without process forks.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` runs a shell
  * command for two calls that every local write makes: a `chmod` in
  * `setPermission`, for each file and directory it creates (`.crc`
  * sidecars too), and a `readlink` in `getFileLinkStatus`, which
  * `FileContext.rename` asks of both its ends. A stream renames every
  * offset, commit, state and sink-log file it writes, so these forks
  * were the largest cost on a stream's execution thread. Its file
  * statuses run an `ls -ld` when their permission, owner or group is
  * first read, as `FileSystem.listFiles` does for each file listed
  * ([[graft.Tables.schemaOf]] on every table read). All three go
  * through java.nio here; everything else is Hadoop's.
  *
  * [[graft.GraftSession.local]] registers the two wrappers for the
  * `file:` scheme: [[NioLocalFileSystem]] for `FileSystem` users
  * (parquet writers, table writes, staging) and [[NioLocalFs]] for
  * `FileContext` users (Spark's checkpoint file manager: offset and
  * commit logs, state store, sink metadata log).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through java.nio; a mode with the sticky bit,
    * which java.nio cannot set, goes to Hadoop's shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** A path that is not a symlink has the status of its target, as in
    * Hadoop's version; only a link goes there, for its target. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)

  override def getFileStatus(p: Path): FileStatus = NioFileStatus(super.getFileStatus(p))

  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(NioFileStatus(_))
}

/** A status of [[NioRawLocalFileSystem]]: Hadoop's, with permission,
  * owner and group read through java.nio when first asked, as Hadoop's
  * reads them through `ls -ld`: the target's, the nine rwx bits and
  * sticky, and an unchecked error for a path gone since. */
private final class NioFileStatus(s: FileStatus) extends FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime,
    null, null, null, s.getPath) {
  private var loaded = false

  private def load(): Unit = synchronized {
    if (!loaded) {
      try {
        val a = Files.readAttributes(Paths.get(getPath.toUri), "unix:mode,owner,group")
        // rwxrwxrwx and sticky (octal 1777)
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      } catch { case e: IOException => throw new UncheckedIOException(e) }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

private object NioFileStatus {
  def apply(s: FileStatus): FileStatus = s match {
    case n: NioFileStatus => n
    case _ => new NioFileStatus(s)
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` view of [[NioRawLocalFileSystem]]. It is
  * Hadoop's `local.RawLocalFs`, whose constructors are package-private
  * and build a plain `RawLocalFileSystem`. */
private[sources] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed [[NioRawLocalFs]], as
  * Hadoop's `local.LocalFs` is over its `RawLocalFs`. Like it, it always
  * serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))
