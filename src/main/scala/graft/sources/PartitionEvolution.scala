package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Scratch, Tables => T}

/** Partition-spec evolution — the lake-layout migration every long-lived
  * table eventually performs: history sits in a COARSE layout (here
  * ISO-week directories), new data lands in a FINE one (day
  * directories), and rewriting petabytes of history to the new spec is
  * exactly what nobody does. Real table formats (Iceberg's
  * partition-spec-id) solve this with per-file spec metadata; the
  * parquet-lake spelling is one generation directory per spec:
  *
  *   root/gen=0/wk=<isoweek>/...   (rows with ts <  SPLIT)
  *   root/gen=1/event_date=.../... (rows with ts >= SPLIT)
  *
  * A time-range reader must plan against BOTH specs: it derives each
  * generation's partition-value set from the SAME predicate (weeks
  * overlapping the range for gen 0 — a superset scan at week
  * granularity, row-filtered down; exact day dirs for gen 1) and prunes
  * directory listings before any file is opened. Getting this wrong is
  * silent: a reader that only understands the new spec returns a
  * partial answer with no error.
  *
  * Determinism: partition values are calendar facts of the fixed
  * SPLIT/QLO/QHI constants; counts/sums are exact (decimal money).
  * Scale posture: pruning is metadata-only (directory names, never
  * file footers); the coarse generation's extra read amplification
  * (whole weeks for a 4-day range) is the honest price of not
  * rewriting history, and the graded row exposes it as
  * scanned-vs-total per generation. Both generations' scans are
  * ordinary pruned parquet reads that parallelize per file.
  */
object PartitionEvolution {

  /** Spec boundary: rows before this land in the week layout. */
  val SPLIT = "2024-01-16 00:00:00"

  /** Graded query range (half-open), spanning both generations. */
  val QLO = "2024-01-12 00:00:00"
  val QHI = "2024-01-19 12:00:00"

  /** Write both generations under `root` (full overwrite per call —
    * the layout build is part of the graded operator, like the other
    * staged-layout ops).
    */
  def writeLayouts(s: SparkSession, dir: String, root: String): Unit = {
    val ev = T(s, dir, "events")
    ev.filter(col("ts") < lit(SPLIT).cast("timestamp"))
      .withColumn("wk", weekofyear(col("ts")))
      .write.mode("overwrite").partitionBy("wk").parquet(s"$root/gen=0")
    ev.filter(col("ts") >= lit(SPLIT).cast("timestamp"))
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$root/gen=1")
  }

  /** Leaf partition-directory values under a generation root. */
  private def partValues(s: SparkSession, genRoot: String,
      key: String): Seq[String] = {
    val p = new HPath(genRoot)
    val fs = Lake.fsOf(s, genRoot)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$key="))
      .map(_.getPath.getName.stripPrefix(s"$key="))
      .sorted
  }

  /** ISO weeks of the calendar days in [lo, hi] — the gen-0 partition
    * values the predicate maps to (java.time's ISO week matches both
    * engines' weekofyear).
    */
  private[sources] def isoWeeksOf(lo: java.time.LocalDate,
      hi: java.time.LocalDate): Set[Int] = {
    val wf = java.time.temporal.WeekFields.ISO.weekOfWeekBasedYear()
    Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi))
      .map(_.get(wf)).toSet
  }

  /** X — the two-spec range read with per-generation pruning facts.
    * Output: partitions scanned vs total per generation (the pruning
    * evidence AND the read-amplification exposure), per-generation row
    * contributions, and the range's exact rows + money total — which
    * hash-fails if either generation's scan is wrong in either
    * direction (missed dirs → missing rows; no pruning shows up in the
    * scanned counts).
    */
  val xPartitionEvolution = Q(
    "x_partition_evolution",
    s"""SELECT
         CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP '$SPLIT'
           THEN weekofyear(ts) END) AS BIGINT) AS weeks_total,
         CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP '$SPLIT'
           AND weekofyear(ts) BETWEEN weekofyear(DATE '2024-01-12')
             AND weekofyear(DATE '2024-01-15')
           THEN weekofyear(ts) END) AS BIGINT) AS weeks_scanned,
         CAST(count(DISTINCT CASE WHEN ts >= TIMESTAMP '$SPLIT'
           THEN CAST(ts AS DATE) END) AS BIGINT) AS days_total,
         CAST(count(DISTINCT CASE WHEN ts >= TIMESTAMP '$SPLIT'
           AND CAST(ts AS DATE) BETWEEN DATE '2024-01-16' AND DATE '2024-01-19'
           THEN CAST(ts AS DATE) END) AS BIGINT) AS days_scanned,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '$QLO' AND ts < TIMESTAMP '$SPLIT'
           THEN 1 ELSE 0 END) AS BIGINT) AS rows_gen0,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '$SPLIT' AND ts < TIMESTAMP '$QHI'
           THEN 1 ELSE 0 END) AS BIGINT) AS rows_gen1,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '$QLO' AND ts < TIMESTAMP '$QHI'
           THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '$QLO' AND ts < TIMESTAMP '$QHI'
           THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2))
           END) AS DOUBLE) AS total
       FROM events""") { (s, dir) =>
    val root = Scratch.path(s, "pevo")
    writeLayouts(s, dir, root)

    val qlo = java.time.LocalDate.parse(QLO.take(10))
    val qhiTs = QHI
    val splitDate = java.time.LocalDate.parse(SPLIT.take(10))
    val qhiLastDay = java.time.LocalDate.parse(QHI.take(10)) // 12:00 → day 19 overlaps

    // gen 0: predicate → ISO weeks of [qlo, split−1day], ∩ present dirs
    val wkAll = partValues(s, s"$root/gen=0", "wk").map(_.toInt)
    val wkWanted = isoWeeksOf(qlo, splitDate.minusDays(1))
    val wkScan = wkAll.filter(wkWanted)
    val gen0 = s.read.parquet(s"$root/gen=0")
      .filter(col("wk").isin(wkScan: _*))
      .filter(col("ts") >= lit(QLO).cast("timestamp") &&
        col("ts") < lit(SPLIT).cast("timestamp"))

    // gen 1: predicate → exact day dirs of [split, qhi-day], ∩ present
    val dayAll = partValues(s, s"$root/gen=1", "event_date")
    val dayWanted = Iterator.iterate(splitDate)(_.plusDays(1))
      .takeWhile(!_.isAfter(qhiLastDay)).map(_.toString).toSet
    val dayScan = dayAll.filter(dayWanted)
    val gen1 = s.read.parquet(s"$root/gen=1")
      .filter(col("event_date").isin(dayScan: _*))
      .filter(col("ts") >= lit(SPLIT).cast("timestamp") &&
        col("ts") < lit(qhiTs).cast("timestamp"))

    val both = gen0.select(col("ts"), col("value"), lit(0).as("gen"))
      .unionByName(gen1.select(col("ts"), col("value"), lit(1).as("gen")))
    both.agg(
        sum(when(col("gen") === 0, 1L).otherwise(0L)).as("rows_gen0"),
        sum(when(col("gen") === 1, 1L).otherwise(0L)).as("rows_gen1"),
        count(lit(1)).as("n_rows"),
        E.sumd(col("value")).as("total"))
      .select(
        lit(wkAll.size.toLong).as("weeks_total"),
        lit(wkScan.size.toLong).as("weeks_scanned"),
        lit(dayAll.size.toLong).as("days_total"),
        lit(dayScan.size.toLong).as("days_scanned"),
        col("rows_gen0"), col("rows_gen1"), col("n_rows"), col("total"))
  }

  val all: Seq[Q] = Seq(xPartitionEvolution)
}
