package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}

/** Incremental gold maintenance: the medallion gold step recomputes a
  * whole day per run (`Medallion.aggregateSilverData`, mirroring
  * /root/reference/data_lake_transformer.py:54-71) — correct for the
  * cron cadence, wasteful for LATE data: one straggler silver batch
  * forces a full re-aggregation and rewrite of every group of every day
  * it touches... and in the naive spelling, of the whole gold table.
  *
  * The incremental discipline applied to the reference's own aggregate:
  * gold is PARTITIONED BY DAY, and a late batch triggers recomputation
  * of ONLY the touched days — aggregate the silver rows of those days
  * (a partition-pruned scan) and land them with DYNAMIC partition
  * overwrite, Spark's native MERGE-a-partition: only the day
  * directories present in the written data are replaced, every other
  * day's files are untouched bytes. That is the 100 TB shape: cost
  * scales with the straggler's day span, not the table's history.
  *
  * The graded query runs the whole story against real files — on-time
  * gold write, late-batch arrival, touched-day recompute, dynamic
  * overwrite — then reads the FINAL STORE and emits every (event_type,
  * day) group plus the touched/total day counts; the oracle recomputes
  * the same gold from scratch, so a group the merge missed, doubled, or
  * failed to replace lands in the hash. Late split: events with
  * event_id ≡ 0 (mod 11) in the first 3 days of the month arrive late —
  * touched days = 3 of ~30 (the measured touched ≪ total fact, graded
  * as columns).
  */
object GoldMaintenance {

  private val LATE_CUTOFF = "2024-01-04 00:00:00"

  /** Gold rows of both maintenance stories: per (event_type, day) count
    * and id sum, partitioned by `day` — a partition column must be a
    * scalar path value, so the day is a DATE.
    */
  private def aggregate(silver: DataFrame): DataFrame = silver
    .groupBy(col("event_type"), col("event_date"))
    .agg(count(lit(1)).as("event_count"), sum(col("event_id")).as("id_sum"))
    .withColumn("day", to_date(col("event_date")))
    .drop("event_date")

  val xGoldIncremental = Q(
    "x_gold_incremental",
    s"""WITH gold AS (
         SELECT event_type,
                CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_date,
                CAST(count(*) AS BIGINT) AS event_count,
                CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events GROUP BY 1, 2),
       facts AS (
         SELECT (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
                 FROM events
                 WHERE event_id % 11 = 0 AND ts < TIMESTAMP '$LATE_CUTOFF')
                  AS n_touched_days,
                (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
                 FROM events) AS n_total_days)
       SELECT g.event_type, g.event_date, g.event_count, g.id_sum,
              f.n_touched_days, f.n_total_days
       FROM gold g, facts f
       ORDER BY g.event_type, g.event_date""") { (s, dir) =>
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        date_trunc("day", col("ts")).as("event_date"))
    val isLate = col("event_id") % 11 === 0 &&
      col("event_date") < lit(LATE_CUTOFF).cast("timestamp")
    val goldPath = s"${Scratch.fresh("graft_gold")}/gold"

    val late = ev.filter(isLate)
    val touched = late.select(col("event_date")).distinct()
    // the two store writes are serial by nature (t1 dynamically
    // overwrites t0's table), but the touched/total day-count facts
    // only read the immutable events table — overlap them with the
    // write chain (core.Par, guide §2.6)
    val Seq(_, nTouched, nTotal) = graft.core.Par.run[Long](
      () => {
        // t0: the on-time gold, partitioned by day
        aggregate(ev.filter(!isLate))
          .write.partitionBy("day").parquet(goldPath)
        // t1: the late batch arrives. Recompute ONLY its days — semi-join
        // against the (tiny, broadcast) touched-day set prunes the silver
        // scan — and land with DYNAMIC partition overwrite: only the day=
        // directories present in the recompute are replaced.
        val recomputed = aggregate(
          ev.join(broadcast(touched), Seq("event_date"), "left_semi"))
        // writer-scoped dynamic overwrite (NOT session conf): this thunk
        // runs inside Par.run, and a session-global conf flip would leak
        // dynamic-overwrite semantics into any concurrently running
        // sibling write (round-16 advice)
        recomputed.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(goldPath)
        0L
      },
      () => touched.count(),
      () => ev.select(col("event_date")).distinct().count())
    s.read.parquet(goldPath)
      .select(col("event_type"),
        col("day").cast("timestamp").as("event_date"),
        col("event_count"), col("id_sum"),
        lit(nTouched).as("n_touched_days"),
        lit(nTotal).as("n_total_days"))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** X — gold maintenance under RETRACTIONS, and the dynamic-overwrite
    * trap that makes deletes harder than appends: a correction batch
    * removes silver rows (a GDPR erasure, a late dedup verdict, an
    * upstream recall) and the touched days must re-aggregate — but a
    * day whose rows were ALL retracted produces an EMPTY recompute, and
    * dynamic partition overwrite only replaces partitions PRESENT in
    * the written data, so the vanished day's stale partition would
    * silently survive. The maintenance step therefore deletes the
    * touched-but-absent day directories explicitly after the overwrite;
    * the graded read proves the vanished day is gone (its groups would
    * land in the hash otherwise) and MaintenanceSpec pins the trap
    * itself (the stale dir exists before the explicit delete).
    *
    * Fixture: day 1 is retracted WHOLE (ts < 2024-01-02); days 2–3 lose
    * every 13th event. Touched = 3 days, vanished = 1 — the graded
    * fact columns.
    */
  val xGoldRetraction = Q(
    "x_gold_retraction",
    """WITH del AS (SELECT event_id FROM events
                    WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
                       OR (event_id % 13 = 0 AND ts < TIMESTAMP '2024-01-04 00:00:00')),
       kept AS (SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_date,
                       CAST(count(*) AS BIGINT) AS event_count,
                       CAST(sum(event_id) AS BIGINT) AS id_sum
                FROM events
                WHERE event_id NOT IN (SELECT event_id FROM del)
                GROUP BY 1, 2),
       facts AS (SELECT
           (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
            FROM events WHERE event_id IN (SELECT event_id FROM del))
             AS n_touched_days,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT date_trunc('day', ts) AS d FROM events
              WHERE event_id IN (SELECT event_id FROM del)
              EXCEPT
              SELECT date_trunc('day', ts) FROM events
              WHERE event_id NOT IN (SELECT event_id FROM del)))
             AS n_vanished_days)
       SELECT k.event_type, k.event_date, k.event_count, k.id_sum,
              f.n_touched_days, f.n_vanished_days
       FROM kept k, facts f
       ORDER BY k.event_type, k.event_date""") { (s, dir) =>
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        date_trunc("day", col("ts")).as("event_date"))
    val isDeleted = col("event_date") < lit("2024-01-02").cast("timestamp") ||
      (col("event_id") % 13 === 0 &&
        col("event_date") < lit("2024-01-04").cast("timestamp"))
    val goldPath = s"${Scratch.fresh("graft_goldret")}/gold"

    // t0: gold over the uncorrected silver
    aggregate(ev).write.partitionBy("day").parquet(goldPath)

    // t1: the correction arrives — recompute ONLY the touched days
    val touched = ev.filter(isDeleted).select(col("event_date")).distinct()
    val corrected = ev.filter(!isDeleted)
    val recomputed = aggregate(
      corrected.join(broadcast(touched), Seq("event_date"), "left_semi"))
      .localCheckpoint() // read twice: the overwrite + the present-days set
    recomputed.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(goldPath)

    // the trap: touched days with an EMPTY recompute kept their stale
    // partition through the dynamic overwrite — drop them explicitly
    val touchedDays = touched.collect().map(r =>
      r.getTimestamp(0).toLocalDateTime.toLocalDate.toString)
    val presentDays = recomputed.select(col("day")).distinct().collect()
      .map(_.getDate(0).toString).toSet
    val fs = new org.apache.hadoop.fs.Path(goldPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val vanished = touchedDays.filterNot(presentDays)
    vanished.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$goldPath/day=$d"), true); ()
    }

    s.read.parquet(goldPath)
      .select(col("event_type"),
        col("day").cast("timestamp").as("event_date"),
        col("event_count"), col("id_sum"),
        lit(touchedDays.length.toLong).as("n_touched_days"),
        lit(vanished.length.toLong).as("n_vanished_days"))
      .orderBy(col("event_type"), col("event_date"))
  }

  val all: Seq[Q] = Seq(xGoldIncremental, xGoldRetraction)
}
