package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local file system without its per-call process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` for every file
  * and directory it creates (`setPermission`) and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends of
  * every rename. A streaming checkpoint does both several times per
  * micro-batch (offset log, commit log, one state-store delta per shuffle
  * partition, file-sink manifest). This subclass does the same two things
  * through `java.nio`, and defers to Hadoop whenever the result could
  * differ: when libhadoop is loaded, on a file system without POSIX
  * permissions, for modes beyond the nine rwx bits (sticky bit), and for
  * paths that are symlinks.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (GraftLocalFileSystem.forks && (mode & ~0x1ff) == 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, GraftLocalFileSystem.posix(mode))
    else super.setPermission(p, permission)
  }

  /** For a path that is not a symlink, Hadoop's answer is its
    * `getFileStatus` (or the same `FileNotFoundException`).
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (GraftLocalFileSystem.forks && !Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

/** `FileSystem` API: Hadoop's checksummed `LocalFileSystem` (`.crc`
  * sidecars) over [[GraftRawLocalFileSystem]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

object GraftLocalFileSystem {

  /** Whether Hadoop would fork for the calls overridden above. */
  val forks: Boolean =
    !NativeIO.isAvailable && FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode` (`PosixFilePermission` declares them in
    * mode-bit order, owner read first).
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) out.add(p))
    out
  }
}

/** `FileContext` API, as Hadoop's `RawLocalFs`. Like Hadoop's `LocalFs`,
  * it serves `file:///` whatever URI it is created for.
  */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API, as Hadoop's `LocalFs`: `.crc` sidecars over
  * [[GraftRawLocalFs]]. `AbstractFileSystem.get` instantiates it through
  * this (URI, Configuration) constructor.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))
