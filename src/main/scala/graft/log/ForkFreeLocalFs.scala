package graft.log

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the two kinds of process
  * stock Hadoop forks on `file:`.
  *
  *  - `setPermission`: without the native `libhadoop`, stock sets the
  *    mode of every file and directory it creates by forking
  *    `chmod <mode> <path>` — a parquet append with its `.crc` twins,
  *    committer `_temporary` directories and `_SUCCESS` marker forks
  *    some 40 processes, each costing milliseconds in a large JVM. Here
  *    the same rwx bits go through one `Files.setPosixFilePermissions`
  *    call. Hadoop computes the mode (defaults and umask) before calling
  *    this method, so the bits on disk are identical to stock. A mode
  *    with a bit beyond rwx (sticky, setuid, setgid: `PosixFilePermission`
  *    cannot express them) takes Hadoop's path.
  *  - `getFileLinkStatus`: stock forks `readlink <path>` to tell a
  *    symlink apart, native IO or not. `FileContext.rename(…, OVERWRITE)`
  *    asks it of the source and the destination, and `ChecksumFs`
  *    renames the `.crc` twin the same way, so every streaming
  *    checkpoint file (offset log, file-source seen-files log, commit
  *    log: three per micro-batch) forks `readlink` four times. Here a
  *    path that `java.nio` does not see as a symlink gets
  *    `getFileStatus`, which is what stock returns when `readlink`
  *    prints nothing (an absent path still throws
  *    `FileNotFoundException`). Symlinks, dangling ones included, take
  *    Hadoop's path.
  *
  * Both take Hadoop's own path unless [[ForkFreeLocalFs.inProcess]]
  * holds: native IO not loaded (it already chmods in process) and a
  * POSIX default filesystem.
  *
  * [[graft.GraftSession.build]] registers it for `file:` through
  * [[ForkFreeLocalFs.confs]]. Hadoop's `FileSystem` cache is JVM-global
  * and keyed by scheme, so a `file:` filesystem fetched before the first
  * graft session was built pins the stock class for the JVM's lifetime.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (ForkFreeLocalFs.inProcess && (mode & ~0x1ff) == 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFs.posix(mode))
    else super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (ForkFreeLocalFs.inProcess && !Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

/** `fs.file.impl`: Hadoop's checksumming `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` twin (streaming
  * checkpoints write through it): Hadoop's `LocalFs` — a `ChecksumFs`
  * over a delegating `RawLocalFs` — with the delegate swapped for
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {

  /** Spark conf entries that register the fork-free classes for `file:`. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Whether rwx modes and link statuses are taken in process; false
    * routes every call to Hadoop's own `setPermission` and
    * `getFileLinkStatus` (stock behaviour). */
  @volatile private[graft] var inProcess: Boolean =
    !org.apache.hadoop.io.nativeio.NativeIO.isAvailable &&
      FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: mode bits 8 down to 0
  private[log] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }

  /** Hadoop's `RawLocalFs` (its constructors are package-private) over
    * [[ForkFreeRawLocalFileSystem]]. */
  private[log] class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
