package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, Scratch, Tables => T}

/** Small-file compaction — the lake-maintenance operator every
  * long-lived 100 TB table needs (a streaming or per-batch writer
  * accretes thousands of under-sized files per partition; scan cost and
  * NameNode/manifest pressure grow with FILE COUNT, not bytes, until an
  * OPTIMIZE-style pass merges them toward a target size).
  *
  * End-to-end and graded, not simulated:
  *   1. stage    — events written partitionBy(event_type) with a 64-row
  *                 per-file cap and one writer task per partition value,
  *                 deliberately manufacturing the small-file problem
  *                 with an oracle-derivable layout (ceil(n/64) files per
  *                 partition: all 64-row, one remainder)
  *   2. manifest — MEASURED from the staged files (input_file_name row
  *                 counts), never assumed from the arithmetic
  *   3. plan     — per partition, files ordered (rows DESC, name),
  *                 exclusive running sum, group = before // TARGET_ROWS:
  *                 the contiguous-fill bin packing of x_shard_assign
  *                 applied to the file manifest (each group lands within
  *                 one file of target)
  *   4. execute  — rows joined to their file's group, rewritten
  *                 one-file-per-group (repartition on (part, group) +
  *                 partitionBy keeps every group in exactly one task)
  *   5. audit    — the graded output re-reads the COMPACTED table:
  *                 per (part, group): input-file count, row count, and
  *                 post-compaction file count (always 1)
  *
  * The oracle recomputes the whole chain arithmetically from the raw
  * event counts (the staged layout is forced to be derivable), so any
  * divergence in staging, manifest measurement, binning, or the rewrite
  * (row loss, group splits, stray files) lands in the hash.
  *
  * Scale posture: the manifest is file-metadata-sized (one row per
  * file, ~1e5 rows for a 100 TB table — the planning window runs over
  * the manifest, never the data); the rewrite reads each input file
  * once and shuffles on (part, group) only. Driver state: none.
  */
object Compaction {

  val FILE_ROWS = 64     // staged per-file row cap
  val TARGET_ROWS = 150  // compaction target per output file
  /** Staged-slice cap: the op grades FILE-COUNT mechanics, which are
    * SF-invariant; an uncapped sf0.1 staging writes ~1,600 tiny files
    * and spends its bench time in file-open overhead that proves
    * nothing more than 160 files do. events is filtered to event_id <
    * SLICE (the full table at sf≤0.01), bounding the staged file count
    * at every SF.
    */
  val SLICE = 10000L

  val xCompactionPlan = Q(
    "x_compaction_plan",
    s"""WITH t AS (SELECT event_type AS part, CAST(count(*) AS BIGINT) AS n
              FROM events WHERE event_id < $SLICE GROUP BY 1),
       f AS (SELECT part,
               CASE WHEN i < n // $FILE_ROWS THEN $FILE_ROWS
                    ELSE n % $FILE_ROWS END AS rows_f, i
             FROM t, LATERAL (SELECT unnest(generate_series(0,
               CAST((n + ${FILE_ROWS - 1}) // $FILE_ROWS AS BIGINT) - 1)) AS i)),
       o AS (SELECT part, rows_f,
               CAST(coalesce(sum(rows_f) OVER (PARTITION BY part
                 ORDER BY rows_f DESC, i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
             FROM f)
       SELECT part, before // $TARGET_ROWS AS grp,
              CAST(count(*) AS BIGINT) AS n_files_in,
              CAST(sum(rows_f) AS BIGINT) AS n_rows,
              CAST(1 AS BIGINT) AS n_files_out
       FROM o GROUP BY 1, 2 ORDER BY part, grp""") { (s, dir) =>
    // fresh per invocation: concurrent sessions in one JVM must not
    // overwrite each other's staged files before the audit re-read, and
    // the audit reads the compacted output lazily, so no eager delete
    val scratch = Scratch.fresh("graft_compact")
    val stage = s"$scratch/stage"
    val out = s"$scratch/compacted"

    // 1. stage: manufacture the small-file problem. The layout contract
    // is ceil(n/64) files per partition value (all 64-row + one
    // remainder); carving the rows into explicit 64-row file groups and
    // repartitioning on (type, group) spreads the ~n/64 file creations
    // over every core instead of one sequential writer task per
    // partition value (the measured staging wall was file-open bound,
    // not data bound — guide §2.6/§6). maxRecordsPerFile still enforces
    // the 64-row cap when two groups of one type share a task: task
    // rows per type are then 64k(+remainder), which the cap splits back
    // into the same all-64-plus-remainder layout. The partition count is
    // pinned (defaultParallelism = the writer-slot count, scale-adaptive)
    // because AQE would otherwise coalesce this deliberately-small
    // shuffle back into one sequential writer task.
    T(s, dir, "events")
      .filter(col("event_id") < SLICE)
      .withColumn("_fno", expr(s"(row_number() OVER (PARTITION BY " +
        s"event_type ORDER BY event_id) - 1) div $FILE_ROWS"))
      .repartition(s.sparkContext.defaultParallelism,
        col("event_type"), col("_fno"))
      .drop("_fno")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", FILE_ROWS)
      .partitionBy("event_type")
      .parquet(stage)

    // 2. manifest: measured per-file row counts
    val staged = s.read.parquet(stage)
    val manifest = staged
      .groupBy(col("event_type").as("part"),
        input_file_name().as("fn"))
      .agg(count(lit(1)).as("rows_f"))

    // 3. plan: contiguous-fill bin packing over the manifest
    val w = Window.partitionBy(col("part"))
      .orderBy(col("rows_f").desc, col("fn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val plan = manifest
      .withColumn("before", coalesce(sum(col("rows_f")).over(w), lit(0L)))
      .select(col("part"), col("fn"),
        expr(s"before div $TARGET_ROWS").as("grp"))

    // 4. execute: one output file per (part, grp)
    staged
      .withColumn("fn", input_file_name())
      .withColumn("part", col("event_type"))
      .join(broadcast(plan), Seq("part", "fn"))
      .drop("fn")
      .repartition(col("part"), col("grp"))
      .write.mode("overwrite")
      .partitionBy("part", "grp")
      .parquet(out)

    // 5. audit the compacted table (graded output)
    val nIn = plan.groupBy(col("part"), col("grp"))
      .agg(count(lit(1)).as("n_files_in"))
    s.read.parquet(out)
      .withColumn("ofn", input_file_name())
      .groupBy(col("part"), col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("ofn")).as("n_files_out"))
      .join(nIn, Seq("part", "grp"))
      .select(col("part"), col("grp"), col("n_files_in"),
        col("n_rows"), col("n_files_out"))
      .orderBy("part", "grp")
  }

  /** Band predicate for the OPTIMIZE audit's pruned read — inside the
    * user keyspace at EVERY SF (sf0.001 only has users 0-14).
    */
  val OPT_USER_LO = 3L
  val OPT_USER_HI = 8L

  /** X — the full OPTIMIZE composition (what Delta/Iceberg `OPTIMIZE
    * ... ZORDER BY` does as one maintenance command): compact the
    * small-file mess AND cluster the rewrite on a query column AND
    * refresh the file-stats manifest, then audit the result through a
    * MANIFEST-PRUNED read. Composes x_compaction_plan's staging with
    * x_zorder_prune's band machinery under ONE oracle:
    *
    *   1. stage    — the derivable ceil(n/64)-files-per-partition
    *                 small-file layout (x_compaction_plan's)
    *   2. optimize — per partition, rows ranked by (user_id, event_id)
    *                 and cut into ceil(n/TARGET_ROWS) files (rank
    *                 div TARGET — so the file count is exact
    *                 arithmetic AND each file holds a CONTIGUOUS
    *                 user_id range: compaction and clustering in the
    *                 same single rewrite)
    *   3. manifest — per-file user_id min/max (_omanifest.json)
    *   4. audit    — per partition: measured file counts before/after
    *                 and the user-band aggregate read THROUGH manifest
    *                 pruning (count + exact decimal value sum)
    *
    * The oracle recomputes everything arithmetically from the raw
    * slice: files_before = ceil(n/64), files_after = ceil(n/150), and
    * the band aggregate over a plain filter — so row loss in the
    * rewrite, a wrong file cut, a stale manifest, or over-pruning all
    * land in the hash. The spec additionally measures files SKIPPED by
    * the band read (the point of clustering).
    *
    * Scale posture: the rank window partitions per event_type (the
    * rewrite's own grain); the manifest is file-metadata-sized; the
    * pruned read lists surviving files only.
    */
  val xOptimizePipeline = Q(
    "x_optimize_pipeline",
    s"""WITH t AS (SELECT event_type AS part, CAST(count(*) AS BIGINT) AS n
              FROM events WHERE event_id < $SLICE GROUP BY 1),
       band AS (SELECT event_type AS part, CAST(count(*) AS BIGINT) AS band_n,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS band_val
                FROM events
                WHERE event_id < $SLICE
                  AND user_id BETWEEN $OPT_USER_LO AND $OPT_USER_HI
                GROUP BY 1)
       SELECT t.part AS part, t.n AS n_rows,
              (t.n + ${FILE_ROWS - 1}) // $FILE_ROWS AS files_before,
              (t.n + ${TARGET_ROWS - 1}) // $TARGET_ROWS AS files_after,
              band.band_n, band.band_val
       FROM t JOIN band ON t.part = band.part
       ORDER BY t.part""") { (s, dir) =>
    val scratch = Scratch.fresh("graft_compact")
    val stage = s"$scratch/stage"
    val out = s"$scratch/optimized"

    val slice = T(s, dir, "events").filter(col("event_id") < SLICE)

    // 1. stage the small-file problem (derivable layout; the same
    // file-group carving as x_compaction_plan's staging — parallel file
    // creation, identical ceil(n/64) layout)
    slice
      .withColumn("_fno", expr(s"(row_number() OVER (PARTITION BY " +
        s"event_type ORDER BY event_id) - 1) div $FILE_ROWS"))
      .repartition(s.sparkContext.defaultParallelism,
        col("event_type"), col("_fno"))
      .drop("_fno")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", FILE_ROWS)
      .partitionBy("event_type")
      .parquet(stage)

    // 2. optimize: rank-cut rewrite — compaction + user_id clustering
    val staged = s.read.parquet(stage)
    val filesBefore = staged
      .withColumn("sfn", input_file_name())
      .groupBy(col("event_type").as("part"))
      .agg(countDistinct(col("sfn")).as("files_before"))
    // `part` rides IN the data files too: the manifest-pruned read loads
    // leaf files directly and would otherwise lose the directory-encoded
    // partition column
    staged
      .withColumn("part", col("event_type"))
      .withColumn("grp", expr(s"(row_number() OVER (PARTITION BY event_type " +
        s"ORDER BY user_id, event_id) - 1) div $TARGET_ROWS"))
      .repartition(col("event_type"), col("grp"))
      .write.mode("overwrite")
      .partitionBy("event_type", "grp")
      .parquet(out)

    // 3. manifest on the cluster column
    graft.sources.Lake.writeStatsManifest(s, out, "_omanifest.json",
      Seq("user_id"))

    // 4. audit: measured counts + the manifest-pruned band aggregate
    val filesAfter = s.read.parquet(out)
      .withColumn("ofn", input_file_name())
      .groupBy(col("part"))
      .agg(countDistinct(col("ofn")).as("files_after"),
        count(lit(1)).as("n_rows"))
    val bandAgg = graft.sources.Lake.readBandPruned(s, out,
        "_omanifest.json", Seq("user_id" -> (OPT_USER_LO, OPT_USER_HI)))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("band_n"),
        graft.core.Exact.sumd(col("value")).as("band_val"))
    filesBefore.join(filesAfter, "part").join(bandAgg, "part")
      .select(col("part"), col("n_rows"), col("files_before"),
        col("files_after"), col("band_n"), col("band_val"))
      .orderBy("part")
  }

  val all: Seq[Q] = Seq(xCompactionPlan, xOptimizePipeline)
}
