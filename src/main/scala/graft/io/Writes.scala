package graft.io

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** Hadoop's raw local file system with one change: a file or directory's
  * mode is set in-process through the store's POSIX attribute view.
  *
  * Without `libhadoop`, the stock `setPermission` starts one `chmod`
  * process per call, and the stock raw layer calls it for EVERY file it
  * creates (data file and `.crc` sidecar alike) and every directory it
  * makes, so each Spark write and each control-file create pays process
  * starts on driver and task threads. Here the same mode bits land with
  * one `chmod(2)` from the calling thread.
  *
  * Hadoop's own code still runs where the POSIX view cannot say the same
  * thing: a store with no POSIX view, a mode carrying the sticky bit, and
  * a directory carrying set-user-ID or set-group-ID (`chmod` with a
  * four-digit mode keeps those on a directory; the view would clear them).
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  import PosixRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
    if (view != null && !permission.getStickyBit && !chmodOnly(file))
      view.setPermissions(permissionsOf(permission))
    else super.setPermission(p, permission)
  }
}

object PosixRawLocalFileSystem {
  private val TypeMask = 0xf000 // S_IFMT
  private val DirType = 0x4000  // S_IFDIR
  private val SetIds = 0xc00    // S_ISUID | S_ISGID

  /** A directory carrying set-user-ID or set-group-ID, or a store whose
    * full mode cannot be read: only `chmod` keeps what is there.
    */
  private def chmodOnly(file: java.nio.file.Path): Boolean =
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (mode & TypeMask) == DirType && (mode & SetIds) != 0
    } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => true }

  // `PosixFilePermission` declares owner r/w/x, group r/w/x, others r/w/x:
  // ordinal i is mode bit 8 - i
  private def permissionsOf(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort & 0x1ff
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(v =>
      if ((bits & (1 << (8 - v.ordinal))) != 0) out.add(v))
    out
  }
}

/** The stock checksummed local file system (`.crc` sidecars, same names,
  * same bytes) over [[PosixRawLocalFileSystem]].
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The program's one way onto the local disk.
  *
  * [[of]] is the write entry of every file-writing DataFrame write: it binds
  * the write's `file:` paths to [[PosixLocalFileSystem]] through the write's
  * own options, which Spark copies into the Hadoop configuration of that
  * write's driver-side commit and of its tasks. Hadoop caches file systems
  * by scheme, authority and user — not by implementation — so the options
  * also turn the cache off for `file:` in that configuration; otherwise the
  * write would get the session's cached stock instance. Other schemes
  * resolve their own `fs.<scheme>.impl` and never read these keys.
  *
  * [[localFs]] is the control-file side: `StateFs` hands its manifests,
  * horizon markers and rewrite claims to one shared instance whenever a
  * path resolves to the local file system.
  */
object Writes {

  private val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  def of(df: DataFrame): DataFrameWriter[Row] = df.write.options(options)

  // one instance per Hadoop configuration object (one per SparkContext),
  // so its umask and buffer settings are that session's
  private var shared: Option[(Configuration, PosixLocalFileSystem)] = None

  private[graft] def localFs(conf: Configuration): PosixLocalFileSystem = synchronized {
    shared.collect { case (c, fs) if c eq conf => fs }.getOrElse {
      val fs = new PosixLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      shared = Some(conf -> fs)
      fs
    }
  }
}
