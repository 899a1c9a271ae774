package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.core.{Q, Scratch, Tables => T}
import graft.core.Exact.dec
import graft.llmops.TextStats.MIN_TOKENS

/** Structured Streaming operators (SURVEY.md §2b Q28–Q30).
  *
  * Each query runs a real streaming pipeline — file source →
  * watermark/window/state → memory sink — driven to completion with
  * Trigger.AvailableNow, then returns the sink table as a batch
  * DataFrame. The oracle is the equivalent batch SQL over the same rows
  * (the streaming/batch-equivalence contract).
  *
  * Scale posture: the same code runs continuously on a real cluster —
  * state is keyed (window/user), partitioned by the shuffle, and bounded
  * by watermarks; AvailableNow here just replays the history in one go.
  */
object StreamOps {

  /** Streaming view of the events table (nanos ts → micros timestamp,
    * same normalization as the batch loader). `copies` > 1 exposes the
    * file N times through one source directory — N× duplicated rows from
    * a SINGLE source, cheaper than unioning N streaming sources (each
    * source pays its own per-batch planning and offset tracking).
    */
  /** The streaming file source wants a DIRECTORY; expose a single parquet
    * file through temp-dir symlinks (`copies` > 1 = N× duplicated rows
    * from one source, cheaper than unioning N streaming sources). Returns
    * the raw file stream with the file's batch-read schema — shared by
    * eventsStream and the documents stream in x_stream_neardup.
    */
  /** Memoized batch-read schema per (path, mtime): every replay otherwise
    * pays a fresh footer-probing batch datasource just to pin the stream
    * schema. The mtime in the key invalidates the entry if a file is
    * rewritten in place with a different schema. The conf caveat remains:
    * eventsStream sets nanosAsLong before the events path is ever probed,
    * so the memoized schema is the nanos-aware one; a foreign session
    * probing the same path without that conf would see the same schema
    * only because the conf is global to this JVM's graft sessions.
    */
  private val fileSchemas = scala.collection.concurrent.TrieMap
    .empty[(String, Long), org.apache.spark.sql.types.StructType]

  private def fileStream(s: SparkSession, path: String, prefix: String,
      copies: Int = 1): DataFrame = {
    val streamDir = Scratch.fresh(prefix)
    val src = new java.io.File(path)
    // the table may be a single parquet FILE (the driver's fixture
    // lakes) or a DIRECTORY of part files (every real lake generation —
    // the k=5 census caught the single-file assumption: a symlink to a
    // directory matches zero files in the streaming source, the replay
    // delivers zero batches, and every downstream read of the staged
    // output fails). Listing is RECURSIVE (round-15 advice: a
    // PARTITIONED table nests its part files in key=value
    // subdirectories, which the flat listing matched as zero files —
    // the same failure class one level deeper), with the same
    // hidden-component visibility rule the batch scan applies, and an
    // empty data-file list fails loudly instead of replaying nothing.
    def listData(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .flatMap {
          case f if f.isDirectory => listData(f)
          case f if f.isFile && f.getName.endsWith(".parquet") => Seq(f)
          case _ => Seq.empty
        }
    val dataFiles: Seq[java.io.File] =
      if (src.isDirectory) {
        val fs = listData(src)
        require(fs.nonEmpty, s"no visible .parquet data files under $path")
        fs
      } else Seq(src)
    (1 to copies).foreach { i =>
      dataFiles.zipWithIndex.foreach { case (f, j) =>
        // mirror any key=value partition subdirectories between the table
        // root and each data file (round-16 advice): the pinned schema
        // derives partition columns from those path components, and a FLAT
        // symlink layout would silently read them as null in every
        // streamed row
        val destDir = Option(src.toPath.relativize(f.toPath).getParent)
          .filter(_ => src.isDirectory)
          .fold(streamDir)(rel => streamDir.resolve(rel))
        Files.createDirectories(destDir)
        Files.createSymbolicLink(
          destDir.resolve(s"${i}_${j}_${f.getName}"), f.toPath)
      }
    }
    // directory sources key the schema memo on the max DATA-FILE mtime
    // (round-16 advice): the root dir's mtime only moves when direct
    // children are added/removed, so an in-place part-file rewrite one
    // level down would keep serving the stale memoized schema
    val mtime =
      if (src.isDirectory) dataFiles.map(_.lastModified).max
      else src.lastModified
    s.readStream
      .schema(fileSchemas.getOrElseUpdate((path, mtime),
        s.read.parquet(path).schema))
      .parquet(streamDir.toString)
  }

  private def eventsStream(s: SparkSession, dir: String, copies: Int = 1): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val st = fileStream(s, s"$dir/events.parquet", "graft_stream_events", copies)
    // same lake-generation schema drift as Tables.apply: raw-long nanos
    // vs native timestamp — normalize identically
    st.withColumn("ts", graft.core.Tables.normTs(st, "ts"))
  }

  /** Run a streaming DataFrame into a memory sink to completion; return
    * the sink contents.
    */
  /** Run `body` with shuffle/state partitioning pinned to 1 and a fresh
    * checkpoint dir, restoring the conf and deleting the checkpoint
    * (state store + offsets, the bulk of the tmpfs footprint) when the
    * replay terminates. State-store commit cost scales with partition
    * count and these replays move a few hundred KB per batch — a real
    * deployment sizes this to keyspace ÷ executor memory and keeps the
    * checkpoint on durable shared storage. No-data micro-batches are
    * disabled for the replay: every append-mode query here emits eagerly
    * (dedup on first sight, inner interval join on match) and the
    * aggregations run Complete mode, so the extra watermark-flush batch
    * per query is pure scheduling floor.
    *
    * The session conf is GLOBAL, so replays are serialized under a lock —
    * two interleaved replays (parallel test suites sharing the session)
    * could otherwise restore each other's pinned values.
    */
  private val replayLock = new Object
  private def withPinnedReplay[T](spark: SparkSession, ckptPrefix: String,
      keepNoDataBatches: Boolean = false)(
      body: String => T): T = replayLock.synchronized {
    val ckpt = Scratch.fresh(ckptPrefix)
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val oldNoData = spark.conf.getOption(noDataKey)
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    // x_stream_late NEEDS the watermark-flush batch: without it the
    // advanced watermark is never written to the offset log, so a
    // resumed run re-plans its first batch with watermark 0 and late
    // rows sail through unfiltered (measured: 3375 rows, 0 dropped)
    spark.conf.set(noDataKey, keepNoDataBatches.toString)
    try body(ckpt.toString)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      oldNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
      Scratch.rmTree(ckpt)
    }
  }

  private def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    withPinnedReplay(spark, s"graft_ckpt_$name") { ckpt =>
      val q = df.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Q28 — tumbling 1-hour windowed aggregation. */
  val q28 = Q(
    "q28_stream_tumbling",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
              event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
       FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""") { (s, dir) =>
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("val_sum"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("val_sum"))
    runToMemory(agg, "q28_mem", OutputMode.Complete())
      .orderBy("win_start", "event_type")
  }

  /** Q29a — sliding windows (1 hour every 15 min): each event lands in 4
    * windows. Oracle derives the same window starts arithmetically.
    */
  val q29 = Q(
    "q29_stream_sliding",
    """SELECT win_start, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
       FROM (SELECT make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - k.k) * 900000000) AS win_start,
                    value
             FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k))
       GROUP BY win_start ORDER BY win_start""") { (s, dir) =>
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("val_sum"))
      .select(col("window.start").as("win_start"), col("n"), col("val_sum"))
    runToMemory(agg, "q29_mem", OutputMode.Complete())
      .orderBy("win_start")
  }

  /** Q29b — session windows (30-min gap) per user. Oracle is the classic
    * gaps-and-islands spelling.
    */
  val q29b = Q(
    "q29_stream_session",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       x AS (SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       y AS (SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
             FROM x)
       SELECT user_id, min(ts) AS session_start,
              max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n
       FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""") { (s, dir) =>
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))
    runToMemory(agg, "q29b_mem", OutputMode.Complete())
      .orderBy("user_id", "session_start")
  }

  /** Q30a — streaming dedup within watermark: the input stream is the
    * events file read twice (a true duplicate of every row);
    * dropDuplicatesWithinWatermark("event_id") must emit each id once.
    */
  val q30 = Q(
    "q30_stream_dedup",
    """SELECT event_id, user_id, event_type FROM events ORDER BY event_id""") { (s, dir) =>
    val doubled = eventsStream(s, dir, copies = 2)
    val deduped = doubled
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
    runToMemory(deduped, "q30_mem", OutputMode.Append())
      .orderBy("event_id")
  }

  /** Q30b — arbitrary stateful processing: running per-user totals via
    * mapGroupsWithState. Money is accumulated in exact integer cents
    * (stream arrival order must not affect the result). Emitted rows are
    * running snapshots (one per group per micro-batch); the final
    * `groupBy.max` collapses them to the end state regardless of how
    * AvailableNow batched the input.
    */
  val q30b = Q(
    "q30_stream_stateful",
    """SELECT user_id, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    import s.implicits._
    val typed = eventsStream(s, dir)
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
    val updated = typed
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          val (n0, cents0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var cents = cents0
          rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
          state.update((n, cents))
          (user, n, cents)
      }
      .toDF("user_id", "n_events", "cents")
    // collapse per-batch snapshots to the LATEST state atomically: the
    // snapshot with the highest n_events wins as a pair. Independent
    // max(n)/max(cents) would be wrong whenever cents is not monotone
    // (any negative event value) — it could combine n from the last
    // snapshot with cents from a mid-stream one.
    runToMemory(updated, "q30b_mem", OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("cents"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.cents"))
      .orderBy("user_id")
  }

  /** Q30c — stream ⋈ static dimension: the static side is a GENUINE
    * dimension table (nation, 25 rows — broadcastable at any fact scale),
    * re-read per micro-batch; aggregation runs on the enriched stream.
    * Users are bucketed to nations by user_id % 25 (the fixture has no
    * user→nation column), and the output rolls up to region.
    */
  val q30c = Q(
    "q30_stream_static_join",
    """SELECT CAST(n.n_regionkey AS BIGINT) AS segment, count(*) AS n,
              CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
       GROUP BY 1 ORDER BY segment""") { (s, dir) =>
    val dim = graft.core.Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey").cast("long").as("segment"))
    val joined = eventsStream(s, dir)
      .select(pmod(col("user_id"), lit(25)).as("nk"), col("value"))
      .join(broadcast(dim), col("nk") === dim("n_nationkey"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    runToMemory(joined, "q30c_mem", OutputMode.Complete())
      .orderBy("segment")
  }

  /** Q30d — stream ⋈ stream interval join: signup→purchase conversions
    * within one hour, both sides watermarked so the join state is
    * bounded — the streaming twin of the batch band join (q13b), and it
    * shares q13b's oracle.
    */
  val q30d = Q(
    "q30_stream_stream_join",
    """SELECT a.event_id AS signup_id, b.event_id AS purchase_id
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND a.event_type = 'signup' AND b.event_type = 'purchase'
        AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
       ORDER BY signup_id, purchase_id""") { (s, dir) =>
    // ONE streaming source, self-joined: each readStream source pays its
    // own per-batch file listing, offset tracking, and planning — both
    // join sides are filters of the same events replay
    val ev = eventsStream(s, dir)
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "2 hours")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("uid2"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "2 hours")
    val joined = signups.join(purchases,
      col("user_id") === col("uid2")
        && col("b_ts") > col("a_ts")
        && col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("signup_id"), col("purchase_id"))
    runToMemory(joined, "q30d_mem", OutputMode.Append())
      .orderBy("signup_id", "purchase_id")
  }

  /** X — STREAMING ingest near-dup: the production shape of incremental
    * dedup. New documents arrive as a stream; each row computes its
    * MinHash band keys with pure per-row expressions (split → shingle
    * hashes → native MinHashSignature → band hashes: NO shuffle and NO
    * aggregation on the stream side), then one stream-static join probes
    * the standing corpus' band INDEX (which carries each corpus doc's
    * sorted shingle-hash set), and the exact-Jaccard verification runs
    * in-stream via the codegen'd merge-scan intersection. Work per
    * incoming document is bands × bucket-mates — independent of corpus
    * size except through the index lookup, exactly what 100 TB ingestion
    * needs. Shares x_incremental_neardup's brute-force oracle (replay ≡
    * batch). The post-sink distinct collapses the same pair surfacing
    * from multiple bands (in a continuous deployment that would be a
    * keyed dropDuplicatesWithinWatermark on ingest time).
    */
  val xStreamNeardup = Q(
    "x_stream_neardup",
    graft.llmops.Incremental.crossSetNeardupOracle) { (s, dir) =>
    import graft.llmops.{MinHashLSH => L}
    val docs = T(s, dir, "documents")
    // id watermark splitting corpus/batch — a scalar, like a centroid
    // table (one shared spelling: Incremental.cutoffValue)
    val cut = graft.llmops.Incremental.cutoffValue(docs)
    // standing corpus: band index carrying each doc's sorted shingle-hash
    // set and cardinality, so candidate verify needs no further join
    val corpusSets = L.wordSets(docs.filter(col("doc_id") < cut), 3).cache()
    graft.core.CacheBin.swap("x_stream_neardup.sets", corpusSets)
    val index = L.bandIndex(corpusSets)
      .select(col("band"), col("bh"), col("doc_id").as("a_id"),
        col("hs").as("ha"), col("c").as("ca"))
    // stream side: per-row signature, no shuffle before the join
    // the shared band-hash spelling (MinHashLSH.bandStructs) — both sides
    // of the (band, bh) join MUST hash identically or recall silently
    // drops to zero
    val bandsPerRow = L.bandStructs(i => col("sig")(i))
    val stream = fileStream(s, s"$dir/documents.parquet", "graft_stream_docs")
      .filter(col("doc_id") >= cut)
      // native per-row shingle-hash set (same values as the corpus side's
      // wordSets — byte-range hashing, no HOF interpretation)
      .withColumn("hs",
        graft.functions.ArrayOps.wordShingleHashes(col("text"), 3))
      .filter(size(col("hs")) > 0)
      .withColumn("sig",
        graft.functions.ArrayOps.minhashSignature(col("hs"), L.NUM_HASHES))
      .select(col("doc_id").as("b_id"), col("hs"),
        explode(array(bandsPerRow: _*)).as("e"))
      .select(col("b_id"), col("hs"), col("e.band").as("band"), col("e.bh").as("bh"))
    val verified = stream.join(index, Seq("band", "bh"))
      .withColumn("inter",
        graft.functions.ArrayOps.sortedIntersectCount(col("ha"), col("hs")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("ca") + size(col("hs")).cast("long") - col("inter")))
      .filter(col("jaccard") >= L.TAU)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    runToMemory(verified, "x_stream_neardup_mem", OutputMode.Append())
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** X — streaming CDC apply: each micro-batch MERGEs its per-user
    * latest event into a keyed lake table via Lake.upsertLatest (newest
    * (ts, event_id) wins across target ∪ batch). The duplicate-delivery
    * story is exercised for real: the source exposes the event history
    * TWICE (copies = 2) and the stage directory persists across bench
    * reps, so replays and duplicates hit the merge and must change
    * nothing — the idempotence that makes foreachBatch's at-least-once
    * delivery exactly-once at the sink. Oracle: the batch argmax over
    * the raw history.
    */
  val xStreamUpsert = Q(
    "x_stream_upsert",
    """SELECT user_id, event_id AS last_event, CAST(ts AS TIMESTAMP) AS last_ts
       FROM (SELECT user_id, event_id, ts,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                                event_id DESC) AS rn
             FROM events)
       WHERE rn = 1 ORDER BY user_id""") { (s, dir) =>
    val stage = upsertStage(dir)
    val stream = eventsStream(s, dir, copies = 2)
      .select(col("user_id"), col("event_id"), col("ts"))
    // same pinned state/shuffle width as runToMemory: the per-batch
    // window + merge move a few hundred rows — wide shuffles and
    // many-file stage rewrites per batch are pure overhead
    withPinnedReplay(s, "graft_ckpt_upsert") { ckpt =>
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // per-batch pre-aggregation: only one candidate row per key
          // reaches the merge (batch is a plain DataFrame here, so a
          // window is legal even though the source is a stream)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          val latest = batch.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
          graft.sources.Lake.upsertLatest(batch.sparkSession, stage, latest,
            Seq("user_id"), Seq(col("ts"), col("event_id")))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(stage)
      .select(col("user_id"), col("event_id").as("last_event"),
        col("ts").as("last_ts"))
      .orderBy("user_id")
  }

  /** Stable per-(JVM, data-dir) stage for x_stream_upsert: persisting
    * across reps is the point — the second rep's whole replay is a
    * duplicate and the merge must absorb it. Keyed by dir so one JVM
    * touching two SFs never merges their histories together.
    */
  private val upsertStages =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def upsertStage(dir: String): String =
    upsertStages.getOrElseUpdate(dir,
      Scratch.fresh("graft_upsert_stage").toString + "/latest")

  /** X — streaming drift gate: the per-ingest dataset-QA check
    * (x_psi_drift's PSI) run against a STREAM. The streaming leg is one
    * windowed aggregation — per (day, value-bin) counts into the gold
    * histogram sink (Complete mode, watermarked); the PSI finalization
    * (reference = the first 15 days of the SAME sink, add-one smoothing
    * over the occupied-bin domain, 1e6 fixed-point ln weights, exact
    * integer cross-multiplied contributions) is a batch step over that
    * sink — the real architecture: the stream maintains the histogram,
    * the QA query reads it. Bins are exact cents div 5000 (no float
    * boundary). Oracle: the identical chain in batch SQL.
    *
    * Scale posture: streaming state is (day × bin)-sized — dozens of
    * rows per watermark horizon; the finalize runs over the
    * histogram-sized sink, never the event stream.
    */
  val xStreamPsi = Q(
    "x_stream_psi",
    """WITH h AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
              CAST(round(value * 100) AS BIGINT) // 5000 AS bin,
              CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
       r AS (SELECT bin, CAST(sum(n) AS BIGINT) AS a FROM h
             WHERE day < DATE '2024-01-16' GROUP BY bin),
       d AS (SELECT day, bin, n AS b FROM h WHERE day >= DATE '2024-01-16'),
       dom AS (SELECT day, bin FROM (SELECT DISTINCT day FROM d), (SELECT bin FROM r)
               UNION SELECT day, bin FROM d),
       j AS (SELECT dom.day, dom.bin,
               coalesce(r.a, 0) AS a, coalesce(d.b, 0) AS b
             FROM dom LEFT JOIN r ON dom.bin = r.bin
                      LEFT JOIN d ON dom.day = d.day AND dom.bin = d.bin),
       tot AS (SELECT day, CAST(sum(b) AS BIGINT) AS bd,
                      CAST(count(*) AS BIGINT) AS k FROM j GROUP BY day),
       ta AS (SELECT CAST(sum(a) AS BIGINT) AS a_tot FROM r)
       SELECT j.day AS day, j.bin AS bin, j.a AS n_ref, j.b AS n_day,
              CAST(round(1000000 * ln((CAST(j.a + 1 AS DOUBLE) / (a_tot + k)) /
                (CAST(j.b + 1 AS DOUBLE) / (bd + k)))) AS BIGINT) AS w_fix,
              CAST(((j.a + 1) * (bd + k) - (j.b + 1) * (a_tot + k)) *
                CAST(round(1000000 * ln((CAST(j.a + 1 AS DOUBLE) / (a_tot + k)) /
                  (CAST(j.b + 1 AS DOUBLE) / (bd + k)))) AS BIGINT) AS BIGINT) AS contrib_fix
       FROM j JOIN tot ON j.day = tot.day, ta
       ORDER BY day, bin""") { (s, dir) =>
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"),
        expr("cast(round(value * 100) as bigint) div 5000").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("day"), col("bin"),
        col("n"))
    val sink = runToMemory(agg, "xpsi_mem", OutputMode.Complete())
    // every sink-derived frame gets DISTINCT column names: r / d / dom
    // all descend from the one memory-sink view, and Seq-joins between
    // frames sharing attribute ids are conflicting self-joins
    val r = sink.filter(col("day") < lit("2024-01-16").cast("date"))
      .groupBy(col("bin").as("rbin")).agg(sum(col("n")).as("a"))
    val d = sink.filter(col("day") >= lit("2024-01-16").cast("date"))
      .select(col("day").as("dday"), col("bin").as("dbin"),
        col("n").as("b"))
    val dom = d.select(col("dday").as("day")).distinct()
      .crossJoin(broadcast(r.select(col("rbin").as("bin"))))
      .union(d.select(col("dday"), col("dbin"))).distinct()
    // a THIRD independent naming for the probe side: `dom` embeds d's
    // attributes through its union branch, so the lookup join reads the
    // sink once more under fresh names
    val dj = sink.select(col("day").as("jday"), col("bin").as("jbin"),
        col("n").as("jb"))
      .filter(col("jday") >= lit("2024-01-16").cast("date"))
    val j = dom
      .join(broadcast(r), col("bin") === col("rbin"), "left")
      .join(dj, col("day") === col("jday") && col("bin") === col("jbin"),
        "left")
      .select(col("day"), col("bin"),
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("jb"), lit(0L)).as("b"))
    val tot = j.groupBy(col("day"))
      .agg(sum(col("b")).as("bd"), count(lit(1)).as("k"))
    val aTot = r.agg(sum(col("a")).as("a_tot"))
    val w = round(lit(1e6) *
      log(((col("a") + 1).cast("double") / (col("a_tot") + col("k"))) /
          ((col("b") + 1).cast("double") / (col("bd") + col("k")))))
      .cast("long")
    j.join(broadcast(tot), "day").crossJoin(broadcast(aTot))
      .select(col("day"), col("bin"), col("a").as("n_ref"),
        col("b").as("n_day"), w.as("w_fix"),
        (((col("a") + 1) * (col("bd") + col("k")) -
          (col("b") + 1) * (col("a_tot") + col("k"))) * w).as("contrib_fix"))
      .orderBy("day", "bin")
  }

  /** X — streaming trending dashboard: the watermarked 1-day tumbling
    * aggregation maintains per-(day, event_type) counts as the stream
    * replays (the gold-table architecture x_stream_psi uses), and the
    * batch finalization ranks each day's top-3 types. The rank window
    * runs over the SINK (|days|·|types| rows — dozens), never the
    * event stream; counts and ranks are pure integers with
    * smaller-type tie-breaks.
    */
  val xStreamTrending = Q(
    "x_stream_trending",
    """WITH h AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
              event_type, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
       r AS (SELECT day, event_type, n,
               CAST(row_number() OVER (PARTITION BY day
                 ORDER BY n DESC, event_type) AS BIGINT) AS rank
             FROM h)
       SELECT day, rank, event_type, n FROM r
       WHERE rank <= 3 ORDER BY day, rank""") { (s, dir) =>
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("day"),
        col("event_type"), col("n"))
    val sink = runToMemory(agg, "xtrend_mem", OutputMode.Complete())
    sink
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
          .orderBy(col("n").desc, col("event_type"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("day"), col("rank"), col("event_type"), col("n"))
      .orderBy("day", "rank")
  }

  /** Late-set predicate for x_stream_late: a deterministic slice of the
    * OLDEST fifth of the stream (20+ days older than the final
    * watermark, so eviction-boundary conventions can never matter).
    */
  private def isLateRow(c: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c < lit("2024-01-10").cast("timestamp") && id % 7 === 0

  /** Write one slice of the events table as a single parquet file into
    * `root` (x_stream_late's staging): the file source sees exactly the
    * files we placed, when we place them.
    */
  private def stageLateFile(root: java.nio.file.Path, df: DataFrame,
      name: String): Unit = {
    val tmp = Scratch.fresh(s"graft_late_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, root.resolve(s"$name.parquet"))
    ()
  }

  /** X — watermark late-data accounting: the operational half of
    * event-time processing (how many rows did the watermark DROP, and
    * is the emitted result exactly the on-time aggregate?). The stage
    * replays the lake as two micro-batches — every on-time row, then a
    * deterministic 20-days-late slice — through a 1-hour watermark and
    * an APPEND-mode hourly aggregation, so:
    *
    *   - the watermark after batch 1 is max(on-time ts) − 1h; every
    *     late row sits ~20 days below it and is dropped, counted by
    *     the engine in numRowsDroppedByWatermark — the graded
    *     n_dropped column comes from the ENGINE'S OWN metric, not from
    *     re-deriving the late count. Measured semantics: the metric
    *     counts rows REACHING THE STATE OPERATOR, i.e. post-partial-
    *     aggregation (window, type) groups — 376 distinct late groups
    *     at sf0.01, not the 426 raw late rows — and the oracle counts
    *     exactly that;
    *   - append mode emits exactly the windows whose end ≤ that final
    *     watermark — the newest ~2 hours stay open and must NOT appear.
    *
    * The oracle recomputes both facts in batch SQL (aggregate of the
    * on-time set, restricted to closed windows, plus the late-set
    * count), so a hash match pins down the eviction boundary, the drop
    * accounting and the agg itself. Boundary audit: the watermark
    * carries sub-second micros while window ends are hour-aligned, so
    * end = watermark is unreachable and the ≤-vs-< convention cannot
    * flip the result.
    *
    * Scale posture: identical to q28's continuous deployment — keyed
    * state bounded by the watermark horizon; the two-batch replay is
    * the test harness, not the operator.
    */
  /** Replays as TWO SEPARATE AvailableNow runs over ONE checkpoint —
    * the on-time file alone, then the late file added — because a
    * single AvailableNow pass may batch every pre-existing file
    * together (observed: maxFilesPerTrigger=1 did not split it),
    * leaving the watermark at its initial value while all rows are
    * aggregated. Two runs IS the production shape anyway: an
    * incremental job waking up on new arrivals, watermark restored
    * from the checkpoint.
    */
  val xStreamLate = Q(
    "x_stream_late",
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
              FROM events),
       lateset AS (SELECT DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                     AS win_start, event_type
                   FROM e
                   WHERE ts < TIMESTAMP '2024-01-10' AND event_id % 7 = 0),
       o AS (SELECT * FROM e
             WHERE NOT (ts < TIMESTAMP '2024-01-10' AND event_id % 7 = 0)),
       wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM o),
       agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
                 event_type, CAST(count(*) AS BIGINT) AS n
               FROM o GROUP BY 1, 2)
       SELECT a.win_start, a.event_type, a.n,
              (SELECT CAST(count(*) AS BIGINT) FROM lateset) AS n_dropped
       FROM agg a, wm
       WHERE a.win_start + INTERVAL 1 HOUR <= wm.w
       ORDER BY win_start, event_type""") { (s, dir) =>
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"))
    val lateC = isLateRow(col("ts"), col("event_id"))
    val stage = Scratch.fresh("graft_stream_late")
    stageLateFile(stage, ev.filter(!lateC), "ontime")
    val sch = s.read.parquet(stage.toString).schema
    def agg = {
      val st = s.readStream.schema(sch).parquet(stage.toString)
      st.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"))
    }
    var dropped = 0L
    val out = Scratch.fresh("graft_stream_late_out").toString + "/emitted"
    withPinnedReplay(s, "graft_ckpt_late", keepNoDataBatches = true) { ckpt =>
      // memory sinks can't resume a checkpoint; foreachBatch can, and
      // appending each emitted micro-batch to parquet is the real
      // incremental-gold shape anyway
      def runOnce(): Long = {
        val q = agg.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
          }
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress
          .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark))
          .sum
      }
      runOnce() // run 1: on-time history; watermark lands in the ckpt
      stageLateFile(stage, ev.filter(lateC), "late")
      dropped = runOnce() // run 2: the late arrivals, dropped + counted
    }
    s.read.parquet(out)
      .withColumn("n_dropped", lit(dropped))
      .orderBy("win_start", "event_type")
  }

  /** X — STREAMING incremental curation: the admission loop of
    * x_incremental_curation run as a real file-source stream whose
    * digest index GROWS under the stream — each micro-batch is
    * quality-gated, within-batch deduped (keep lowest doc_id), probed
    * against the persisted index (standing digests ∪ every PRIOR
    * batch's admissions), and its admitted digests APPENDED to that
    * index before the next batch arrives. That last arrow is what the
    * static-index streaming twin (x_stream_neardup) cannot show: batch
    * 2 must reject a document whose duplicate was only ADMITTED in
    * batch 1.
    *
    * The cross-batch duplicates are the production event this absorbs:
    * at-least-once upstream delivery RESENDS documents. The replay
    * stages two micro-batches over one checkpoint (the x_stream_late
    * two-run shape): batch 1 = even incoming doc_ids; batch 2 = odd
    * incoming doc_ids PLUS a deterministic resend of every tenth batch-1
    * document under a fresh doc_id (+100000) — exactly the redelivery a
    * dedup layer exists to make idempotent. The graded rows are each
    * batch's full admission accounting (seen / quality-rejected /
    * within-batch dups / index-rejected / admitted / index size after),
    * every number recomputed arithmetically by the oracle from the
    * split definitions — an index append lost, doubled, or applied late
    * lands in batch 2's index_rejected count and fails the hash.
    *
    * Scale posture: identical to x_incremental_curation's — per batch
    * one narrow pass over the batch plus equi-joins against the
    * persisted index; the stream never touches the standing corpus,
    * only its index, and SCALE-INCCUR measures that flat to 100×
    * standing. foreachBatch's at-least-once delivery composes with the
    * left-anti digest probe to make the sink exactly-once (the
    * x_stream_upsert idempotence argument, applied to admissions).
    */
  val xStreamCuration = Q(
    "x_stream_curation",
    s"""WITH cut AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS c
                     FROM documents),
       standing AS (SELECT DISTINCT md5(text) AS h
                    FROM documents, cut WHERE doc_id < c),
       d AS (SELECT doc_id, text FROM documents, cut WHERE doc_id >= c),
       b1 AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 0),
       b2 AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 100000, text FROM b1 WHERE doc_id % 10 = 0),
       s1 AS (SELECT doc_id, md5(text) AS h,
                     len(string_split(text, ' ')) >= $MIN_TOKENS AS q_ok
              FROM b1),
       r1 AS (SELECT doc_id, h,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
              FROM s1 WHERE q_ok),
       adm1 AS (SELECT doc_id, h FROM r1
                WHERE rn = 1 AND h NOT IN (SELECT h FROM standing)),
       idx1 AS (SELECT h FROM standing UNION ALL SELECT h FROM adm1),
       s2 AS (SELECT doc_id, md5(text) AS h,
                     len(string_split(text, ' ')) >= $MIN_TOKENS AS q_ok
              FROM b2),
       r2 AS (SELECT doc_id, h,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
              FROM s2 WHERE q_ok),
       adm2 AS (SELECT doc_id, h FROM r2
                WHERE rn = 1 AND h NOT IN (SELECT h FROM idx1))
       SELECT CAST(1 AS BIGINT) AS batch,
              (SELECT CAST(count(*) AS BIGINT) FROM b1) AS n_seen,
              (SELECT CAST(count(*) AS BIGINT) FROM s1 WHERE NOT q_ok) AS n_quality_rej,
              (SELECT CAST(count(*) AS BIGINT) FROM r1 WHERE rn > 1) AS n_within_dup,
              (SELECT CAST(count(*) AS BIGINT) FROM r1 WHERE rn = 1)
                - (SELECT CAST(count(*) AS BIGINT) FROM adm1) AS n_index_rej,
              (SELECT CAST(count(*) AS BIGINT) FROM adm1) AS n_admitted,
              (SELECT CAST(count(*) AS BIGINT) FROM idx1) AS index_size
       UNION ALL
       SELECT CAST(2 AS BIGINT),
              (SELECT CAST(count(*) AS BIGINT) FROM b2),
              (SELECT CAST(count(*) AS BIGINT) FROM s2 WHERE NOT q_ok),
              (SELECT CAST(count(*) AS BIGINT) FROM r2 WHERE rn > 1),
              (SELECT CAST(count(*) AS BIGINT) FROM r2 WHERE rn = 1)
                - (SELECT CAST(count(*) AS BIGINT) FROM adm2),
              (SELECT CAST(count(*) AS BIGINT) FROM adm2),
              (SELECT CAST(count(*) AS BIGINT) FROM idx1)
                + (SELECT CAST(count(*) AS BIGINT) FROM adm2)
       ORDER BY batch""") { (s, dir) =>
    import s.implicits._
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = graft.llmops.Incremental.cutoffValue(docs)
    val inc = docs.filter(col("doc_id") >= cut)
    val b1 = inc.filter(col("doc_id") % 2 === 0)
    val b2 = inc.filter(col("doc_id") % 2 === 1)
      .unionByName(b1.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))

    val stage = Scratch.fresh("graft_stream_cur")
    val idxPath = Scratch.fresh("graft_stream_cur_idx").toString + "/digests"
    val logPath = Scratch.fresh("graft_stream_cur_log").toString + "/log"
    // bootstrap: the standing lake's digest index (persisted, like
    // IncrementalCuration.bootstrapIndexes — digest half only: the
    // streaming story here is the index-append loop, not stage count)
    docs.filter(col("doc_id") < cut)
      .select(md5(col("text")).as("h")).distinct()
      .write.mode("overwrite").parquet(idxPath)

    val serial = new java.util.concurrent.atomic.AtomicLong(0L)
    def admitBatch(batch: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): Unit = {
      val idx = s.read.parquet(idxPath)
      val scored = batch
        .withColumn("h", md5(col("text")))
        .withColumn("q_ok",
          size(split(col("text"), " ")) >= MIN_TOKENS)
      val ranked = scored.filter(col("q_ok"))
        .withColumn("rn", row_number().over(w))
      val firsts = ranked.filter(col("rn") === 1)
      // the admission accounting used to be five separate count jobs
      // (plus an isEmpty probe); ONE ranked-window aggregation returns
      // seen / quality-rejected / within-dup / first counts together,
      // and it overlaps (core.Par, guide §2.6) with the admitted-set
      // materialization — localCheckpoint BEFORE the index append, so
      // the admitted plan never reads the directory the append writes
      val (counts, admitted) = graft.core.Par.run2(
        () => scored
          .withColumn("rn", when(col("q_ok"),
            row_number().over(w.partitionBy(col("q_ok"), col("h")))))
          .agg(count(lit(1)).as("n_seen"),
            coalesce(sum(when(!col("q_ok"), 1L)), lit(0L)).as("n_qrej"),
            coalesce(sum(when(col("q_ok") && col("rn") > 1, 1L)), lit(0L))
              .as("n_within"),
            coalesce(sum(when(col("q_ok") && col("rn") === 1, 1L)), lit(0L))
              .as("n_firsts"))
          .head(),
        () => firsts.join(idx.select(col("h")), Seq("h"), "left_anti")
          .select(col("doc_id"), col("h"))
          .localCheckpoint())
      val nSeen = counts.getLong(0)
      if (nSeen > 0) {
        val nAdmitted = admitted.count()
        admitted.select(col("h")).write.mode("append").parquet(idxPath)
        val idxSize = s.read.parquet(idxPath).count()
        Seq((serial.incrementAndGet(), nSeen, counts.getLong(1),
            counts.getLong(2), counts.getLong(3) - nAdmitted, nAdmitted,
            idxSize))
          .toDF("batch", "n_seen", "n_quality_rej", "n_within_dup",
            "n_index_rej", "n_admitted", "index_size")
          .coalesce(1).write.mode("append").parquet(logPath)
      }
    }

    stageLateFile(stage, b1, "batch1")
    val sch = s.read.parquet(stage.toString).schema
    withPinnedReplay(s, "graft_ckpt_cur") { ckpt =>
      val wsDigest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"))
      def runOnce(): Unit = {
        val q = s.readStream.schema(sch).parquet(stage.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            admitBatch(batch, wsDigest)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce() // batch 1: admissions append to the index
      stageLateFile(stage, b2, "batch2")
      runOnce() // batch 2: resends rejected by batch 1's appended digests
    }
    s.read.parquet(logPath).orderBy("batch")
  }

  /** Apply one micro-batch of additive deltas to the versioned MV at
    * `mvDir` under exactly-once semantics: the MV snapshot CARRIES the
    * last committed batch id (every row, column `committed_batch`), so
    * ledger and data commit in the same atomic version commit —
    * there is no window where the delta landed but the ledger didn't
    * (or vice versa), which is precisely the crash the two-object
    * spelling (data file + separate ledger file) cannot close. A batch
    * at or below the ledger is a REPLAY and is skipped. Returns whether
    * the batch was applied.
    */
  private[graft] def applyAdditiveBatch(s: SparkSession, mvDir: String,
      batch: DataFrame, batchId: Long): Boolean = {
    val cur = graft.sources.Lake.currentVersion(s, mvDir)
      .map(p => s.read.parquet(p))
    // max over a row-free snapshot is null → treat as "nothing committed";
    // the ledger rides on data rows, so null must read as -1, not NPE
    val last = cur.map { df =>
      val r = df.agg(max(col("committed_batch"))).collect().head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= last) return false
    // an empty batch folds in nothing — skip rather than publish a
    // row-free snapshot that would erase the ledger for every later read
    // (safe without advancing the ledger: replaying empty is idempotent)
    if (batch.isEmpty) return false
    val delta = batch
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val merged = cur.map(_.select(col("event_type"), col("n"), col("cents"))
        .unionByName(delta).groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents")))
      .getOrElse(delta)
      .withColumn("committed_batch", lit(batchId))
    graft.sources.Lake.writeVersioned(merged, mvDir)
    true
  }

  /** X — exactly-once ADDITIVE aggregation under at-least-once delivery:
    * the transactional-sink pattern every streaming gold table needs the
    * moment its merge is not idempotent. x_stream_upsert absorbs
    * duplicate delivery because argmax is idempotent; a count/sum MV is
    * NOT — a replayed micro-batch double-counts unless the sink is
    * transactional. The discipline (Spark's own docs call it the
    * batchId dedup pattern): foreachBatch consults the committed-batch
    * ledger stored ATOMICALLY WITH the MV snapshot and skips batches it
    * has already folded in.
    *
    * The graded run streams the events once (AvailableNow), then
    * re-applies a RECORDED copy of batch 0 with its original batchId —
    * the crash-between-sink-and-checkpoint replay, the exact failure
    * Structured Streaming's at-least-once foreachBatch contract allows.
    * The duplicate must be a no-op: dup_applied=false rides in the
    * graded row, and the counts hash-match the batch oracle (a
    * double-count would shift every n/cents).
    *
    * Scale posture: per-batch work is one map-side-combined agg over
    * the BATCH plus a group-domain-sized merge (|event_type| rows);
    * the ledger read is one max over that domain. State never exceeds
    * the group domain — the same reason q28's windowed agg scales.
    */
  val xStreamAdditiveMv = Q(
    "x_stream_additive_mv",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS cents,
              FALSE AS dup_applied, CAST(1 AS BIGINT) AS dup_skips
       FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    val stream = eventsStream(s, dir)
      .select(col("event_type"), col("value"))
    val mvDir = Scratch.fresh("graft_addmv").toString + "/mv"
    val b0Dir = Scratch.fresh("graft_addmv_b0").toString + "/b0"
    withPinnedReplay(s, "graft_ckpt_addmv") { ckpt =>
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          if (batchId == 0L) // record the replay candidate
            batch.write.mode("overwrite").parquet(b0Dir)
          applyAdditiveBatch(ss, mvDir, batch, batchId)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the duplicate: batch 0 delivered again with its original id
    val dupApplied = applyAdditiveBatch(s, mvDir,
      s.read.parquet(b0Dir), 0L)
    graft.sources.Lake.readCurrent(s, mvDir)
      .select(col("event_type"), col("n"), col("cents"),
        lit(dupApplied).as("dup_applied"),
        lit(if (dupApplied) 0L else 1L).as("dup_skips"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(q28, q29, q29b, q30, q30b, q30c, q30d, xStreamNeardup,
    xStreamUpsert, xStreamPsi, xStreamTrending, xStreamLate, xStreamCuration,
    xStreamAdditiveMv)
}
