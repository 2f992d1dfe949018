package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without the per-file process starts. Without
  * libhadoop, Hadoop's local file system runs `chmod` for every create
  * or mkdir that carries a permission, and `readlink` for every
  * `getFileLinkStatus` — which `FileContext.rename` calls on both of its
  * paths. Spark's checkpoint file manager does both for every offset,
  * commit, sink and source log entry and every state-store delta and
  * checksum file, so a micro-batch paid dozens of process starts.
  *
  * Two overrides do the same work in-process; anything they cannot
  * express falls through to Hadoop's own code:
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`. A sticky bit (the only extra bit
  *    an `FsPermission` carries) or a file system without POSIX
  *    attributes goes to `chmod` as before.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, exactly what Hadoop returns after `readlink`
  *    printed nothing; a link, dangling or not, goes to Hadoop's code.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !ForklessRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        ForklessRawLocalFileSystem.rwx(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForklessRawLocalFileSystem {

  private val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The rwx bits of `mode` (0777 at most) as a permission set. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` (checksummed) over the
  * fork-free raw file system. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `RawLocalFs` (whose constructors are package-private) over the
  * fork-free raw file system. */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  @deprecated("use getServerDefaults(Path)", "Hadoop 2.8")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  // local file systems differ in what they accept; let the OS decide
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the file system behind
  * `FileContext` (and so behind Spark's checkpoint file manager): Hadoop's
  * `LocalFs`, whose URI is always `file:///`, over [[ForklessRawLocalFs]]. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
