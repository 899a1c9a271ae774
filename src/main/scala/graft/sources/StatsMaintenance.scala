package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}

/** Incremental table-statistics maintenance — ANALYZE without rescans.
  * Optimizers need per-column stats (rowcount, nulls, min/max, sums for
  * averages, NDV) and a 100 TB table cannot afford a full ANALYZE after
  * every append; the discipline is MERGEABLE stats: each batch computes
  * its own stats in the same pass that writes it, and the table's stats
  * are a pure merge of the persisted accumulator with the batch —
  * count/nulls/sum add, min/max take extrema, and NDV merges as a KMV
  * sketch (union of sketches, keep the k smallest hashes — min-k is
  * associative, so the incrementally-merged sketch is IDENTICAL to the
  * one a from-scratch scan would build; the estimate is therefore not
  * just "close", it is bit-equal, which is what lets the oracle
  * recompute it from the raw table).
  *
  * The accumulator is PERSISTED state: after every append the merged
  * stats + sketch are written to disk and the next merge reads them
  * back — the maintenance job sees what a real stats store would.
  * StatsMaintenanceSpec additionally asserts the merged stats equal a
  * from-scratch recompute AFTER EVERY append, not just the last.
  *
  * Scale posture: per-append cost = one pass over the BATCH (its stats
  * agg) + a k-row sketch merge; nothing rescans the standing table.
  * Everything is exact arithmetic: sums in DECIMAL(18,2), NDV in the
  * Kmv integer estimator ((K−1)·M // h_k), min/max of stored values.
  */
object StatsMaintenance {

  /** Sketch size + hash domain, shared with llmops.Kmv. */
  val K = 256
  val M = 281474976710656L
  val EST_NUM: Long = (K - 1).toLong * M

  /** Per-batch stats row: (n, ck_nulls, ck_min, ck_max, tp_min, tp_max,
    * tp_sum DECIMAL). */
  private[sources] def batchStats(b: DataFrame): DataFrame =
    b.agg(count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("ck_nulls"),
      min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
      min(col("o_totalprice")).as("tp_min"),
      max(col("o_totalprice")).as("tp_max"),
      sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
        .as("tp_sum"))

  /** Per-batch KMV sketch of o_custkey: distinct 12-hex md5 hashes,
    * k smallest. */
  private[sources] def batchSketch(b: DataFrame): DataFrame =
    b.select(expr(
        "cast(conv(substring(md5(cast(o_custkey as string)), 1, 12), 16, 10) as bigint)")
        .as("h"))
      .distinct().orderBy("h").limit(K)

  /** X — three appends (orders thirds by key mod 3), stats merged
    * incrementally through the persisted accumulator after each. The
    * graded row is the final accumulator; the oracle recomputes every
    * cell — including the KMV NDV estimate — from the raw table, so a
    * merge that drifted from the from-scratch answer in ANY field
    * hash-fails.
    */
  val xIncrementalStats = Q(
    "x_incremental_stats",
    s"""WITH hs AS (SELECT DISTINCT ('0x' ||
             substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM orders),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hs),
       kk AS (SELECT CAST(max(h) AS BIGINT) AS hk
              FROM (SELECT h FROM hs ORDER BY h LIMIT $K))
       SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS ck_nulls,
              CAST(min(o_custkey) AS BIGINT) AS ck_min,
              CAST(max(o_custkey) AS BIGINT) AS ck_max,
              CASE WHEN nn.n < $K THEN nn.n
                   ELSE $EST_NUM // kk.hk END AS ck_ndv_est,
              min(o_totalprice) AS tp_min,
              max(o_totalprice) AS tp_max,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS tp_sum,
              CAST(3 AS BIGINT) AS n_appends
       FROM orders, nn, kk GROUP BY nn.n, kk.hk""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_stats")}/acc"

    var appended = 0
    for (i <- 0 until 3) {
      val batch = orders.filter(col("o_orderkey") % 3 === i)
      val bs = batchStats(batch)
      val bk = batchSketch(batch)
      val (ms, mk) =
        if (appended == 0) (bs, bk)
        else {
          // read the PERSISTED accumulator back; merge is pure algebra
          val ps = s.read.parquet(s"$root/stats")
          val pk = s.read.parquet(s"$root/sketch")
          val merged = ps.unionByName(bs).agg(
            sum(col("n")).as("n"),
            sum(col("ck_nulls")).as("ck_nulls"),
            min(col("ck_min")).as("ck_min"), max(col("ck_max")).as("ck_max"),
            min(col("tp_min")).as("tp_min"), max(col("tp_max")).as("tp_max"),
            sum(col("tp_sum")).cast("decimal(18,2)").as("tp_sum"))
          val sk = pk.unionByName(bk).distinct().orderBy("h").limit(K)
          (merged, sk)
        }
      // Lake.replace stages then swaps, so the read-back above never
      // races this append's own overwrite of the same path, and the old
      // accumulator is dropped only once the new one is in place. The
      // stats and sketch writes land on disjoint paths — overlap them
      // (core.Par, guide §2.6)
      graft.core.Par.run(
        () => Lake.replace(ms, s"$root/stats"),
        () => Lake.replace(mk.coalesce(1), s"$root/sketch"))
      appended += 1
    }

    val acc = s.read.parquet(s"$root/stats")
    val sketch = s.read.parquet(s"$root/sketch")
    // sketch size < K ⟺ true NDV < K (nothing was ever evicted) → the
    // sketch IS the value set, exact; otherwise the integer estimator
    val ndv = sketch.agg(count(lit(1)).as("sk_n"), max(col("h")).as("hk"))
      .select(when(col("sk_n") < K, col("sk_n"))
        .otherwise(expr(s"cast($EST_NUM as bigint) div hk"))
        .cast("long").as("ck_ndv_est"))
    acc.crossJoin(ndv)
      .select(col("n").as("n_rows"), col("ck_nulls"),
        col("ck_min"), col("ck_max"), col("ck_ndv_est"),
        col("tp_min"), col("tp_max"),
        col("tp_sum").cast("double").as("tp_sum"),
        lit(3L).as("n_appends"))
  }

  val all: Seq[Q] = Seq(xIncrementalStats)
}
