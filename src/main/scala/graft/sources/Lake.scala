package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink utilities for the lake at scale.
  *
  * Three write disciplines, in increasing co-location strength:
  *   1. plain parquet (the medallion default; file-level parallelism)
  *   2. date-partitioned (`partitionBy`) — Catalyst partition-prunes
  *      time filters to directory listings, the idiomatic upgrade of the
  *      reference's glob-encoded date predicates (SURVEY.md §2a R12)
  *   3. bucketed tables (`bucketBy` + `sortBy`) — joins/aggregations on
  *      the bucket key need NO shuffle at read time; at 100 TB this is
  *      the difference between a full-network shuffle of the fact table
  *      per join and none.
  */
object Lake {

  /** Write with hive-style date partitions derived from a timestamp col.
    * Readers filtering on event_date get directory-level pruning.
    */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  /** Persist as a bucketed, per-bucket-sorted table. Subsequent equi-joins
    * or groupBys on `key` between tables bucketed the same way plan with
    * zero Exchange (verify with .explain — see LakeSpec).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a previous process may have left the managed location behind while
    // the (ephemeral) catalog forgot the table — clear it so overwrite
    // semantics hold across JVMs
    val warehouse = new HPath(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(warehouse)) fs.delete(warehouse, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Replace the dataset directory at `path` with `df`: the one way a
    * dataset is replaced in place. `df` is written beside the path, to
    * `path + "__rewrite_tmp"`, and published by a verified swap, so a
    * write that dies partway (a truncated input, a failed task) leaves
    * the previous generation where it was, and the staging dir is
    * deleted before the failure propagates, so a rerun simply replaces
    * it. `df` may read `path` itself: its job completes before the swap
    * touches the directory. The staging and backup names end in
    * `__rewrite_tmp` / `__rewrite_old`, so a `*.parquet` glob over the
    * sink's siblings never matches them.
    *
    * Crash semantics (honest): the swap is two directory renames
    * (source→`__rewrite_old`, tmp→source) and HDFS/posix renames are each
    * atomic but the PAIR is not — a crash between them leaves the source
    * path missing with the data intact in `__rewrite_old`. That window is
    * closed two ways: (a) on entry replace() (and every reader of the
    * path below, before its read) detects the half-swapped state and
    * rolls `__rewrite_old` back before doing anything else, and
    * (b) `__rewrite_old` is only deleted after the new source directory is
    * verified present with a `_SUCCESS` marker, so data always exists at
    * one of the two paths. Concurrent readers during the swap can still
    * observe a transiently missing directory — callers that need
    * always-readable maintenance should put the dataset behind the
    * version-directory indirection below (`writeVersioned` /
    * `readCurrent` / `compactVersioned`), where readers never resolve a
    * missing path; this in-place replace targets single-writer batch
    * jobs and maintenance windows.
    *
    * Cost: on the local filesystem and HDFS each rename is one metadata
    * operation. On `s3a` a directory rename is a copy, so there the swap
    * pays a second copy of the output.
    */
  def replace(df: DataFrame, path: String): Unit = {
    val fs = fsOf(df.sparkSession, path)
    recoverHalfSwap(fs, path)
    val tmp = path + "__rewrite_tmp"
    // a failed job leaves its (emptied) output dir: drop it with the job
    try df.write.mode("overwrite").parquet(tmp)
    catch { case e: Exception => fs.delete(new HPath(tmp), true); throw e }
    swapInto(fs, tmp, path)
  }

  /** Compact a parquet directory's small files to ~`targetBytes` outputs.
    *
    * The small-files problem is THE operational failure mode of a
    * streaming/hourly lake at scale: every micro-batch or hourly job
    * leaves a few KB-MB files, and a year later a scan pays millions of
    * S3 GETs + footer reads. Compaction = one narrow rewrite:
    * target file count is derived from the directory's actual byte size,
    * coalesce (no shuffle) when shrinking file count, repartition only
    * when growing it. Published through replace().
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 256L << 20): Long = {
    val fs = fsOf(spark, path)
    recoverHalfSwap(fs, path)
    val (have, targetFiles) = fileCounts(fs, path, targetBytes)
    if (have <= targetFiles) return have.toLong
    replace(spark.read.parquet(path).coalesce(targetFiles), path)
    targetFiles.toLong
  }

  /** (current, target) parquet file counts of `dir` for ~targetBytes
    * outputs: the sizing compact() and compactVersioned() share.
    */
  private def fileCounts(fs: FileSystem, dir: String,
      targetBytes: Long): (Int, Int) = {
    val dataFiles = fs.listStatus(new HPath(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    (dataFiles.length,
      math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt))
  }

  /** MERGE-by-key into a parquet dataset: rows of `updates` replace
    * same-key target rows; new keys append. One left-anti join + union +
    * swap rewrite — the parquet-lake spelling of MERGE INTO (a table
    * format with a commit log does the same thing with file-level
    * surgery; the join shape is identical).
    *
    * At scale the anti-join shuffles both sides on the key unless the
    * dataset was written with writeBucketed on that key (then both sides
    * co-locate, no exchange) or the updates set is broadcast-small.
    * Published through replace(): recovery on entry, backup kept until
    * the swapped directory verifies.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String]): Unit = {
    val fs = fsOf(spark, path)
    recoverHalfSwap(fs, path)
    val target = spark.read.parquet(path)
    val merged = target
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates.select(target.columns.toSeq.map(col): _*))
    replace(merged, path)
  }

  /** MERGE-by-key keeping the NEWEST row per key across target ∪ updates,
    * "newest" = max of `orderCols` (callers include a unique tiebreak).
    * Unlike upsert(), which lets updates replace target rows
    * unconditionally, this is safe under out-of-order and DUPLICATE
    * delivery — applying the same batch twice, or a late batch carrying
    * older versions, changes nothing. That idempotence is what makes it
    * the right sink for streaming CDC apply (see x_stream_upsert): Spark's
    * foreachBatch re-delivers a batch after a crash, and the merge
    * absorbs the replay. One window over target ∪ updates, shuffled on
    * the key — co-locates for free if the dataset is bucketed on it.
    */
  def upsertLatest(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], orderCols: Seq[Column]): Unit = {
    val fs = fsOf(spark, path)
    recoverHalfSwap(fs, path)
    if (!fs.exists(new HPath(path))) {
      updates.limit(0).write.mode("overwrite").parquet(path) // seed schema
    }
    val target = spark.read.parquet(path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    val merged = target
      .unionByName(updates.select(target.columns.toSeq.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    replace(merged, path)
  }

  private[sources] def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Roll back a half-completed swap left by a crash between the two
    * renames: source missing, data stranded in the __rewrite_old backup.
    */
  private def recoverHalfSwap(fs: FileSystem,
      path: String): Unit = {
    val hPath = new HPath(path)
    val bak = new HPath(path + "__rewrite_old")
    if (!fs.exists(hPath) && fs.exists(bak)) renameOrThrow(fs, bak, hPath)
  }

  /** rename() reports failure by RETURNING false on most Hadoop
    * FileSystems (it only throws for a few error classes) — an unchecked
    * rename can silently no-op the whole swap. The package's one rename.
    */
  private[sources] def renameOrThrow(fs: FileSystem,
      src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename $src -> $dst failed")

  /** Verified directory swap: tmp must be committed (carry the marker);
    * the old directory, if any, is kept as __rewrite_old until the new
    * one verifies, then dropped. See replace()'s scaladoc for the honest
    * crash-window statement.
    */
  private def swapInto(fs: FileSystem,
      tmpDir: String, path: String): Unit = {
    val hPath = new HPath(path)
    val tmp = new HPath(tmpDir)
    val bak = new HPath(path + "__rewrite_old")
    if (!isCommitted(fs, tmp))
      throw new IllegalStateException(s"swap: $tmp missing $Marker; aborting")
    if (fs.exists(bak)) fs.delete(bak, true)
    val hadOld = fs.exists(hPath)
    if (hadOld) renameOrThrow(fs, hPath, bak)
    renameOrThrow(fs, tmp, hPath)
    // only drop the backup once the new directory is verifiably in place
    if (isCommitted(fs, hPath)) fs.delete(bak, true)
    else { fs.delete(hPath, true); if (hadOld) renameOrThrow(fs, bak, hPath)
      throw new IllegalStateException(s"swap verification failed for $path; rolled back") }
  }

  // ---- the version store: the one description of its format ----
  // (other modules call the members below; ScratchSpec lints the rest)
  //   - `<root>/v=<n>` is version n, COMMITTED exactly when Spark's
  //     committer has dropped `_SUCCESS` in it: the one atomic publication
  //     point, so readers never resolve a missing or partly written dir
  //     (the transient-miss window the in-place swap has). The "commit
  //     log" of this minimal table format is the numbering plus marker.
  //   - `<root>/_claim_v=<n>` is the compare-and-swap claim on n, taken
  //     before n is written (tryClaim): one winner among any number of
  //     claimants, so two writers never share a dir. Its body, the writer
  //     id, audits who committed n. Claims are never deleted: a claim
  //     consumes n even if its claimant dies, and deleting it would
  //     reopen the lost update it closes.
  //   - `<root>/branches/<name>/` is a branch's own version line; its
  //     `_base` file pins the fork base, which retention never retires.

  private val Marker = "_SUCCESS"
  private val ClaimPrefix = "_claim_v="

  /** Directory of version `v` under `root`, committed or not. */
  private[sources] def versionPath(root: String, v: Long): String = s"$root/v=$v"

  /** The commit marker of a version (or staged) directory. */
  private[sources] def markerOf(dir: HPath): HPath = new HPath(dir, Marker)

  private def isCommitted(fs: FileSystem, dir: HPath): Boolean =
    fs.exists(markerOf(dir))

  /** Whether a root entry named `name` is a claim. */
  private[sources] def isClaim(name: String): Boolean = name.startsWith(ClaimPrefix)

  private def claimPath(root: String, v: Long): HPath =
    new HPath(root, s"$ClaimPrefix$v")

  private[sources] def claimed(fs: FileSystem, root: String, v: Long): Boolean =
    fs.exists(claimPath(root, v))

  /** Every version dir on disk, committed or not, oldest first. */
  private def versionDirs(fs: FileSystem,
      root: HPath): Seq[(Long, HPath)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      // tolerate stray non-numeric "v=..." dirs (user/tool litter): they
      // are not versions, and a parse crash here would take down every
      // read of an otherwise healthy dataset
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption
        .map(_ -> s.getPath))
      .sortBy(_._1)

  /** The one listing of COMMITTED versions, oldest first. Every read
    * path and the orphan collector's live set come from it.
    */
  private[sources] def committed(fs: FileSystem,
      root: HPath): Seq[(Long, HPath)] =
    versionDirs(fs, root).filter { case (_, p) => isCommitted(fs, p) }

  /** Highest committed version dir, if any. */
  def currentVersion(spark: SparkSession, path: String): Option[String] =
    committed(fsOf(spark, path), new HPath(path)).lastOption.map(_._2.toString)

  /** Read the current committed version (fails if none committed yet). */
  def readCurrent(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version under $path")))

  /** Committed version numbers still on disk, oldest first (the current
    * one plus the one-generation grace window writeVersioned keeps).
    */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    committed(fsOf(spark, path), new HPath(path)).map(_._1)

  /** Time-travel read of a specific committed version. Retention here is
    * one grace generation (writeVersioned retires older dirs), so this
    * serves "compare against the previous publish" — x_dataset_diff's
    * input shape — not unbounded history; a table format's log extends
    * the same mechanism indefinitely.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    val have = committed(fsOf(spark, path), new HPath(path))
    val dir = have.collectFirst { case (`version`, p) => p.toString }
      .getOrElse(throw new IllegalStateException(
        s"version $version not on disk under $path (have: " +
          s"${have.map(_._1).mkString(", ")})"))
    spark.read.parquet(dir)
  }

  /** CAS claim of version `v`: atomic create-no-overwrite of its claim
    * file (body = writerId, the audit trail). Exactly one of any number
    * of concurrent claimants returns true.
    *
    * The primitive is per-filesystem, because "create if absent" is
    * only a CAS where the filesystem makes it one:
    *   - local (`file:`) — Hadoop's RawLocalFileSystem.create(...,
    *     overwrite = false) is CHECK-THEN-ACT (an exists probe, then an
    *     unconditional create): two racers can both pass the probe and
    *     both "win". Found by the SCALE-CCOMMIT-W 8-writer sweep (two
    *     writers trampled one v-directory's _temporary). Local claims
    *     therefore go through NIO's CREATE_NEW = O_CREAT|O_EXCL, the
    *     kernel-level CAS.
    *   - HDFS — create(overwrite = false) IS atomic (one NameNode op).
    *   - bare S3 — neither is; back the claim with a conditional PUT
    *     (If-None-Match) or a DynamoDB-style lock table — the protocol
    *     shape is unchanged.
    */
  private[sources] def tryClaim(fs: FileSystem, root: String, v: Long,
      writerId: String): Boolean = {
    val claim = claimPath(root, v)
    if (fs.getUri.getScheme == "file")
      try {
        val p = java.nio.file.Paths.get(claim.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, writerId.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    else
      try {
        val out = fs.create(claim, false)
        try out.write(writerId.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** The one claimed commit: claim version `v` of `root`, and on the win
    * write `df` as it; the marker the write drops is the commit point.
    * False on a lost claim — the caller's base went stale and nothing
    * was written (rebase and retry).
    */
  def commit(df: DataFrame, root: String, v: Long, writerId: String): Boolean =
    tryClaim(fsOf(df.sparkSession, root), root, v, writerId) && {
      df.write.mode("overwrite").parquet(versionPath(root, v))
      true
    }

  /** Commit `df` as the version after every dir on disk, so a dead
    * writer's uncommitted number stays consumed. Throws on a lost claim
    * rather than overwrite a version another writer holds.
    */
  private[sources] def commitNext(df: DataFrame, root: String,
      writerId: String): Long = {
    val next = versionDirs(fsOf(df.sparkSession, root), new HPath(root))
      .lastOption.fold(0L)(_._1 + 1)
    if (!commit(df, root, next, writerId))
      throw new IllegalStateException(
        s"version $next under $root is claimed by another writer")
    next
  }

  /** Wait for claimed version `v` to commit. Returns early if the claim
    * vanishes (an aborted claimant that cleaned up). Throws after
    * `waitMs`: the claimant is presumed dead and a janitor must expire
    * the stale claim before writers proceed.
    */
  private[sources] def awaitCommit(spark: SparkSession, root: String,
      v: Long, waitMs: Long): Unit = {
    val fs = fsOf(spark, root)
    val dir = new HPath(versionPath(root, v))
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (System.nanoTime() < deadline) {
      if (isCommitted(fs, dir) || !claimed(fs, root, v)) return
      Thread.sleep(10)
    }
    throw new IllegalStateException(
      s"claim on version $v at $root uncommitted after ${waitMs}ms — " +
        "claimant presumed dead; janitor must expire the stale claim")
  }

  /** Publish a staged directory as version `v` of `root`: a stage
    * without the commit marker (a write that died partway) is refused
    * and leaves `v`'s claim free; otherwise claim `v`, then rename the
    * stage into place (the rename carries the marker, so readers never
    * see a half-published version). False when the stage is incomplete
    * or the claim is lost.
    */
  private[sources] def publishStaged(spark: SparkSession, staged: String,
      root: String, v: Long, writerId: String): Boolean = {
    val fs = fsOf(spark, root)
    isCommitted(fs, new HPath(staged)) && tryClaim(fs, root, v, writerId) && {
      renameOrThrow(fs, new HPath(staged), new HPath(versionPath(root, v)))
      true
    }
  }

  /** Retire version `v`: delete its directory. Its claim stays, so the
    * number stays consumed. The one expiry step.
    */
  private[sources] def expire(fs: FileSystem, root: String, v: Long): Unit =
    fs.delete(new HPath(versionPath(root, v)), true)

  /** Publish `df` as the next version of the dataset at `path` (a
    * claimed commit: it fails loudly rather than overwrite a version
    * another writer has claimed). Older versions are retired, EXCEPT the
    * latest previously-COMMITTED one, which is kept one extra generation
    * as a grace window for scans that resolved it before this commit.
    * The grace test is on committedness, not raw version number: a dead
    * writer's uncommitted v=N must never displace the committed version
    * in-flight readers are actually scanning (its number is still
    * consumed, so the dead dir is simply deleted). Versions pinned as
    * fork bases by live branches survive every publish until the branch
    * is deleted — the Iceberg rule that a branch ref protects its
    * snapshot from expiry. Without this, a commit-less fork's read breaks
    * as soon as main advances two generations.
    */
  def writeVersioned(df: DataFrame, path: String): Long = {
    val fs = fsOf(df.sparkSession, path)
    val root = new HPath(path)
    val next = commitNext(df, path, "writeVersioned")
    val grace = committed(fs, root).map(_._1).filter(_ < next).lastOption
    val pinned = pinnedBases(fs, path)
    versionDirs(fs, root).foreach { case (v, _) =>
      if (v < next && !grace.contains(v) && !pinned.contains(v))
        expire(fs, path, v)
    }
    next
  }

  /** Root of `branch`'s own version line in the store at `root`. */
  private[sources] def branchRoot(root: String, branch: String): String =
    s"$root/branches/$branch"

  private def pinPath(root: String, branch: String): HPath =
    new HPath(branchRoot(root, branch), "_base")

  /** Pin main version `base` as `branch`'s fork base; fails if the
    * branch is already pinned.
    */
  private[sources] def pinBase(fs: FileSystem, root: String, branch: String,
      base: Long): Unit = {
    val out = fs.create(pinPath(root, branch), false)
    try out.write(base.toString.getBytes("UTF-8")) finally out.close()
  }

  /** `branch`'s pinned fork base. A pin that is missing, unreadable or
    * unparseable is None — corrupt litter must not block every future
    * publish — but a HEALTHY pin always pins: fail-open only on the pin,
    * never on the version.
    */
  private[sources] def pinnedBase(fs: FileSystem, root: String,
      branch: String): Option[Long] =
    try {
      val in = fs.open(pinPath(root, branch))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
      finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Fork bases pinned by every branch of the store at `root`: the
    * keep-set retention consults.
    */
  private def pinnedBases(fs: FileSystem, root: String): Set[Long] = {
    val br = new HPath(root, "branches")
    if (!fs.exists(br)) Set.empty
    else fs.listStatus(br).toSeq.filter(_.isDirectory)
      .flatMap(d => pinnedBase(fs, root, d.getPath.getName)).toSet
  }

  /** compact(), but behind the version indirection: rewrites the current
    * version's files into ~targetBytes outputs as version n+1; readers of
    * version n are undisturbed (its directory survives one generation).
    * Returns the file count of the current layout.
    */
  def compactVersioned(spark: SparkSession, path: String,
      targetBytes: Long = 256L << 20): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version under $path"))
    val (have, targetFiles) = fileCounts(fsOf(spark, path), cur, targetBytes)
    if (have <= targetFiles) return have.toLong
    writeVersioned(spark.read.parquet(cur).coalesce(targetFiles), path)
    targetFiles.toLong
  }

  /** Cluster-sort a dataset for scan-time pruning: range-repartition on
    * the given columns and sort within partitions before writing, so each
    * parquet file covers a narrow min/max band of the cluster keys and
    * row-group statistics prune selective filters to a handful of files.
    * (The practical flavor of Z-ordering for 1-2 correlated columns.)
    */
  def writeClustered(df: DataFrame, path: String, numFiles: Int,
      clusterCols: String*): Unit = {
    val cols = clusterCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Clustered write with PARQUET-NATIVE skipping structures beside the
    * homegrown manifests: per-column bloom filters (for point lookups on
    * high-cardinality NON-cluster columns, where row-group min/max stats
    * are useless because the cluster sort scattered the column) and
    * small row-count-limited pages so the format's page-level COLUMN
    * INDEX has real granularity on the sorted cluster column.
    *
    * Two deliberate writer flags per bloom column:
    *  - `parquet.bloom.filter.enabled#col` + `expected.ndv#col` — the
    *    filter itself, sized to the expected distinct count;
    *  - `parquet.enable.dictionary#col = false` — parquet-mr SKIPS
    *    writing a bloom filter for a fully dictionary-encoded chunk
    *    (the dictionary already gives exact membership), and this
    *    fixture's key column is small enough to dictionary-encode. At
    *    real scale a 10⁹-distinct key blows the 1 MB dictionary
    *    threshold and falls back to plain encoding ANYWAY — disabling
    *    the dictionary reproduces the regime bloom filters exist for.
    */
  def writeClusteredParquetNative(df: DataFrame, path: String,
      numFiles: Int, clusterCol: String, bloomCols: Seq[(String, Long)],
      pageRows: Int = 1000): Unit = {
    val base = df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", pageRows.toString)
    bloomCols.foldLeft(base) { case (w, (c, ndv)) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }.parquet(path)
  }

  /** writeClustered + a per-file [lo, hi] manifest over the (numeric)
    * cluster key, written as `_manifest.json` INSIDE the dataset directory
    * (underscore-prefixed → invisible to Spark's file index, so plain
    * readers are unaffected). readPruned() then skips whole files whose
    * band can't intersect the predicate — directory-listing-level pruning
    * like a table format's file statistics, without the format. At write
    * scale the stats would be folded into the writer's task commit; here
    * they cost one narrow post-write scan of the key column.
    *
    * The single-column manifest is the 1-band case of the z-order
    * machinery below — one shared format, writer, and parser.
    */
  def writeClusteredWithManifest(df: DataFrame, path: String, numFiles: Int,
      clusterCol: String): Unit = {
    writeClustered(df, path, numFiles, clusterCol)
    writeStatsManifest(df.sparkSession, path, "_manifest.json", Seq(clusterCol))
  }

  /** Read only the files whose manifest band intersects [lo, hi], with the
    * residual filter applied on top (file stats prune whole files; the
    * filter still decides rows). Falls back to a full filtered scan when
    * no manifest exists. The residual filter compares in the column's
    * NATIVE type (fractional values keep exact-boundary semantics; the
    * manifest's long-space stats are floor/ceil-safe for pruning because
    * they only ever widen a file's band).
    */
  def readPruned(spark: SparkSession, path: String, clusterCol: String,
      lo: Long, hi: Long): DataFrame =
    prunedBase(spark, path, "_manifest.json", Seq(clusterCol -> (lo, hi)))
      .filter(col(clusterCol) >= lo && col(clusterCol) <= hi)

  /** (file, lo, hi) rows of a single-column stats manifest. */
  private[graft] def manifestEntries(fs: FileSystem,
      mPath: HPath,
      clusterCol: String): Seq[(String, Long, Long)] = {
    val re = s"\"${java.util.regex.Pattern.quote(clusterCol)}\":\\[(-?\\d+),(-?\\d+)\\]".r
    manifestLines(fs, mPath).flatMap { line =>
      for {
        f <- fileOf(line)
        m <- re.findFirstMatchIn(line)
      } yield (f, m.group(1).toLong, m.group(2).toLong)
    }
  }

  /** Per-file [lo, hi] stats manifest over the given (long-castable)
    * columns: one JSON line per file, `{"file":"...","col":[lo,hi],...}`.
    * One narrow post-write scan, STREAMED through `toLocalIterator` — a
    * 100 TB table has 10⁵–10⁶ files, and collect()ing one row per file
    * would scale driver memory with the table; this holds one partition
    * of stats rows at a time and keeps driver memory flat.
    */
  private[graft] def writeStatsManifest(spark: SparkSession, path: String,
      manifestName: String, cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"${c}__lo"),
      max(col(c).cast("long")).as(s"${c}__hi")))
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .toLocalIterator()
    val mPath = new HPath(path, manifestName)
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mPath, true)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, "UTF-8"))
    try {
      while (stats.hasNext) {
        val r = stats.next()
        val f = r.getString(0).replace("\\", "\\\\").replace("\"", "\\\"")
        val bands = cols.zipWithIndex.map { case (c, i) =>
          // a file whose cluster column is all null has no band: publish
          // the full range so no predicate ever prunes it
          val (lo, hi) =
            if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i))
              (Long.MinValue, Long.MaxValue)
            else (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
          s""""$c":[$lo,$hi]"""
        }
        w.write(s"""{"file":"$f",${bands.mkString(",")}}""")
        w.write("\n")
      }
    } finally w.close()
  }

  private def manifestLines(fs: FileSystem,
      mPath: HPath): Seq[String] = {
    val in = fs.open(mPath)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.linesIterator.filter(_.nonEmpty).toSeq
  }

  private def fileOf(line: String): Option[String] =
    "\"file\":\"(.*?)\"".r.findFirstMatchIn(line).map(m =>
      m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))

  /** File-skipping only: the dataset restricted to files whose stats can
    * satisfy ALL the band predicates (no residual row filter — callers
    * decide the row-level comparison semantics). Falls back to the full
    * dataset when no manifest exists.
    */
  private def prunedBase(spark: SparkSession, path: String,
      manifestName: String, bands: Seq[(String, (Long, Long))]): DataFrame = {
    val mPath = new HPath(path, manifestName)
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mPath)) spark.read.parquet(path)
    else {
      val keep = prunedFiles(fs, mPath, bands)
      if (keep.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(keep: _*)
    }
  }

  /** Shared band-pruned read in LONG space (stats space): file skipping +
    * cast-to-long residual filters, matching the manifest's semantics.
    */
  private[graft] def readBandPruned(spark: SparkSession, path: String,
      manifestName: String, bands: Seq[(String, (Long, Long))]): DataFrame =
    bands.foldLeft(prunedBase(spark, path, manifestName, bands)) {
      case (df, (c, (lo, hi))) =>
        df.filter(col(c).cast("long") >= lo && col(c).cast("long") <= hi)
    }

  /** Files whose per-file bands intersect EVERY `col -> [lo, hi]`
    * predicate (long space). A band column ABSENT from a manifest line
    * keeps the file (Option.forall): the manifest has no evidence to
    * prune on — a typo'd or non-clustered column degrades to a full
    * scan, never to silently-zero rows ("correctness over skips").
    */
  private[graft] def prunedFiles(fs: FileSystem,
      mPath: HPath,
      bands: Seq[(String, (Long, Long))]): Seq[String] =
    manifestLines(fs, mPath).flatMap { line =>
      val ok = bands.forall { case (c, (lo, hi)) =>
        s"\"${java.util.regex.Pattern.quote(c)}\":\\[(-?\\d+),(-?\\d+)\\]".r
          .findFirstMatchIn(line)
          .forall(m => m.group(2).toLong >= lo && m.group(1).toLong <= hi)
      }
      if (ok) fileOf(line) else None
    }

  // ---- z-order clustering: multi-dimensional file skipping ----

  /** Bit-interleaved z-value of two columns, each linearly scaled to
    * [0, 2¹⁶) from the given bounds — the space-filling-curve sort key
    * for multi-dimensional clustering. Linear clustering gives the
    * LEADING column tight per-file bands and the trailing column none;
    * sorting by the z-curve gives every dimension locality, so selective
    * filters on either column (or both) skip most files.
    *
    * The mapping per dimension only needs to be monotone; linear min→max
    * scaling is right for roughly uniform domains (callers pass observed
    * bounds). For skewed domains substitute approx-quantile ranks — the
    * interleave is unchanged. Built from shift/and/or `functions` only,
    * so the whole key stays inside whole-stage codegen.
    */
  def zvalue2(a: Column, aLo: Long, aHi: Long,
      b: Column, bLo: Long, bHi: Long): Column = {
    def norm(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(1L, hi - lo)
      least(greatest((c.cast("long") - lit(lo)) * lit(65535L) / lit(span),
        lit(0L)), lit(65535L))
    }
    val x = norm(a, aLo, aHi)
    val y = norm(b, bLo, bHi)
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-order-clustered on two (numeric, long-castable) columns
    * with a per-file two-column [lo, hi] manifest (`_zmanifest.json`,
    * underscore-prefixed → invisible to plain readers); readZPruned is
    * the query path.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      colA: String, colB: String): Unit =
    writeCurveOrdered(df, path, numFiles, colA, colB, "_zmanifest.json")(
      zvalue2)

  /** Read a z-ordered dataset keeping only the files whose stats can
    * satisfy ALL the band predicates; the residual row filter still
    * applies on top. Falls back to a full filtered scan without a
    * manifest.
    */
  def readZPruned(spark: SparkSession, path: String,
      bands: Seq[(String, (Long, Long))]): DataFrame =
    readBandPruned(spark, path, "_zmanifest.json", bands)

  /** Hilbert-curve key of two columns scaled to [0, 2^bits) — the
    * zvalue2 companion (graft.functions.Hilbert has the curve walk and
    * the why). Same monotone linear scaling; only the space-filling
    * curve differs.
    */
  def hvalue2(a: Column, aLo: Long, aHi: Long,
      b: Column, bLo: Long, bHi: Long, bits: Int = 16): Column = {
    val top = (1L << bits) - 1
    def norm(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(1L, hi - lo)
      least(greatest((c.cast("long") - lit(lo)) * lit(top) / lit(span),
        lit(0L)), lit(top))
    }
    graft.functions.Hilbert.index2(norm(a, aLo, aHi), norm(b, bLo, bHi), bits)
  }

  /** Hilbert-clustered write — writeZOrdered with the curve swapped
    * (manifest `_hmanifest.json`); readHPruned is the query path.
    */
  def writeHilbertOrdered(df: DataFrame, path: String, numFiles: Int,
      colA: String, colB: String): Unit =
    writeCurveOrdered(df, path, numFiles, colA, colB, "_hmanifest.json")(
      (a, aLo, aHi, b, bLo, bHi) => hvalue2(a, aLo, aHi, b, bLo, bHi))

  def readHPruned(spark: SparkSession, path: String,
      bands: Seq[(String, (Long, Long))]): DataFrame =
    readBandPruned(spark, path, "_hmanifest.json", bands)

  /** The space-filling-curve writer behind writeZOrdered and
    * writeHilbertOrdered: one narrow pass computes the global bounds,
    * `key` maps both columns (scaled from those bounds) onto the curve,
    * one range-repartition+sort lays the curve onto `numFiles` files,
    * and one narrow post-write scan collects the per-file stats into
    * `manifest` (a table format folds these into task commits).
    */
  private def writeCurveOrdered(df: DataFrame, path: String, numFiles: Int,
      colA: String, colB: String, manifest: String)(
      key: (Column, Long, Long, Column, Long, Long) => Column): Unit = {
    val bounds = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    // an empty input (or all-null cluster column) has no bounds to scale
    // into — write the plain layout with no manifest; the pruned readers
    // fall back to a full filtered scan, so readers stay correct
    if ((0 to 3).exists(bounds.isNullAt)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val k = key(col(colA), bounds.getLong(0), bounds.getLong(1),
      col(colB), bounds.getLong(2), bounds.getLong(3))
    df.withColumn("__curve", k)
      .repartitionByRange(numFiles, col("__curve"))
      .sortWithinPartitions(col("__curve"))
      .drop("__curve")
      .write.mode("overwrite").parquet(path)
    writeStatsManifest(df.sparkSession, path, manifest, Seq(colA, colB))
  }

  /** Format round-trips (csv/json/orc share the same DataFrameReader/
    * Writer surface as parquet; schema must be supplied for the schemaless
    * text formats on read).
    */
  def writeAs(df: DataFrame, format: String, path: String): Unit = {
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  def readAs(spark: SparkSession, format: String, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val r2 = schema.fold(r)(r.schema)
    (if (format == "csv") r2.option("header", "true") else r2).load(path)
  }
}
