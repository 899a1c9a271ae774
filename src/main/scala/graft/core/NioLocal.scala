package graft.core

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The JVM's one Hadoop `file:` filesystem, for both Hadoop APIs: the
  * stock local filesystem with its two process forks replaced by NIO.
  *
  * The Spark distribution ships no `libhadoop`, so without native IO
  * Hadoop's `RawLocalFileSystem` runs `/bin/chmod` through
  * `org.apache.hadoop.util.Shell` for every file and directory it creates
  * (each with a stderr-reader thread), and `readlink` for every path a
  * `FileContext` rename touches. Measured with JFR `jdk.ProcessStart` on
  * the perfbench workloads (seed 1, 4 cpus): a `cron_hourly` pass forked
  * 436 times, about 10 per silver hour (six `mkdirs` of the commit
  * protocol, part and `_SUCCESS` files with their `.crc` sidecars), 3 per
  * ingested hour and 10 per gold day; a `backfill_day` pass 319 times,
  * 242 of them for the streaming twin's checkpoint, state-store and
  * `_spark_metadata` files (`chmod`, then 4 `readlink` per atomic
  * rename). Whole runs went from 1,762 process starts to 6 (`cron_hourly`)
  * and from 981 to 11 (`backfill_day`); what is left is Spark's own
  * (`getconf`, `setsid`, and an `rm -rf` per collected session's
  * artifact dir).
  *
  * Nothing else changes: the same files, `.crc` sidecars and permission
  * bits. `s3a` and HDFS are untouched; the forks are an artifact of the
  * local filesystem without native IO. [[graft.Sessions.local]] installs it
  * through [[sparkConf]]; code that builds its own Hadoop conf takes
  * [[hadoopConf]], so the class in Hadoop's JVM-wide `FileSystem` cache
  * (keyed by scheme, not by conf) does not depend on who touched `file:`
  * first. Without these keys `file:` goes to the class the classpath's
  * `FileSystem` service files register for it: with Spark's jars, Hive's
  * `ProxyLocalFileSystem`, a filter over the stock `LocalFileSystem`.
  */
object NioLocal {
  /** The Hadoop keys that select this filesystem for the `FileSystem`
    * and the `FileContext` API.
    */
  private val keys: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** [[keys]] as Spark conf entries (`spark.hadoop.` prefixed). */
  val sparkConf: Map[String, Any] =
    keys.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap

  /** A default Hadoop conf with [[keys]] set. */
  def hadoopConf(): Configuration = {
    val c = new Configuration()
    keys.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

/** `RawLocalFileSystem` without its two forks. `setPermission` sets the
  * same 12-bit mode `chmod %04o` sets, sticky bit included.
  * `getFileLinkStatus` is Hadoop's own logic (a path that is not a
  * symlink reads as its `getFileStatus`) with the `readlink` fork only
  * for a real symlink.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort.toInt))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API: checksummed, as the stock `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` API (Spark's streaming checkpoint manager and state
  * store): checksummed, as the stock `LocalFs`. Hadoop instantiates it
  * through a (URI, Configuration) constructor; like `LocalFs` it serves
  * `file:///` whatever URI it is given.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** The stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[core] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
