package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Cross-micro-batch state: split the events table into 4 files, force one
  * file per micro-batch, and check stateful streaming results still equal
  * the batch answer — i.e. state genuinely carries across batches (the
  * single-batch AvailableNow replay in StreamOps can't show that).
  */
class MultiBatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming ingest near-dup equals its batch twin (replay equivalence)") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamOps.xStreamNeardup.build(spark, sf)
      .collect().map(_.toString).toSet
    val batch = graft.llmops.Incremental.xIncrementalNeardup.build(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamed.nonEmpty, "fixture should contain cross-watermark pairs")
    assert(streamed == batch)
  }

  test("streaming trending equals the batch recount and ranks cleanly per day") {
    val sf = "/root/testdata/sf0.001"
    val out = StreamOps.xStreamTrending.build(spark, sf)
      .as[(java.sql.Date, Long, String, Long)].collect()
    // batch recount of the same windows
    val batch = graft.core.Tables(spark, sf, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Date, String, Long)].collect()
      .groupBy(_._1).view.mapValues(
        _.map(r => (r._2, r._3)).sortBy { case (t, n) => (-n, t) }.take(3))
      .toMap
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (day, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length), s"$day ranks")
      assert(sorted.map(r => (r._3, r._4)).toSeq == batch(day).toSeq,
        s"$day top-3 mismatch")
      // ranks follow the count order with type tie-break
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) {
          val (a, b) = (w(0), w(1))
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3))
        }
      }
    }
    info(s"${out.groupBy(_._1).size} days, ${out.length} trending rows")
  }

  test("windowed aggregation state carries across micro-batches") {
    val src = graft.core.Tables(spark, "/root/testdata/sf0.001", "events")
    val dir = Scratch.fresh("graft_multibatch").toString
    // 4 roughly-equal files; rows of one hour may span several batches
    src.repartition(4).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val agg = stream
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

    val ckpt = Scratch.fresh("graft_mb_ckpt").toString
    val q = agg.writeStream.format("memory").queryName("mb_out")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4, "expected one micro-batch per file")

    val streamed = spark.table("mb_out")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = src
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("marginal micro-batch cost sits far below the per-query startup floor") {
    // The bench's streaming family pays ~0.9-1.3 s per query, shown by
    // the round-6/8 conf sweeps to be per-query-START machinery (plan
    // init, state-store bootstrap), with the claim that a continuously
    // RUNNING stream amortizes it. This turns the claim into a number:
    // one long-lived stateful query, 12 single-file micro-batches, and
    // Spark's own per-batch triggerExecution durations — the marginal
    // batch is what a 100 TB deployment pays per increment, the first
    // batch plus query-start wall is what the bench measures.
    val src = graft.core.Tables(spark, "/root/testdata/sf0.001", "events")
    val dir = Scratch.fresh("graft_marginal").toString
    src.repartition(12).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val agg = stream
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    val ckpt = Scratch.fresh("graft_marg_ckpt").toString
    val t0 = System.nanoTime()
    val q = agg.writeStream.format("memory").queryName("marg_out")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallMs = (System.nanoTime() - t0) / 1e6
    val batches = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.durationMs.get("triggerExecution").toLong)
    assert(batches.length >= 12, s"expected 12 data batches, got ${batches.length}")
    val sorted = batches.drop(2).sorted
    val marginal = sorted(sorted.length / 2)
    info(f"query wall ${wallMs}%.0f ms; batch durations ${batches.mkString(",")} ms")
    info(s"first batch ${batches.head} ms; median marginal batch $marginal ms")
    // the amortization claim, two assertions with different robustness:
    // the RELATIVE bar (marginal ≪ this query's own wall, which contains
    // startup + 12 batches) is load-invariant — ambient load inflates
    // numerator and denominator together — so it holds unconditionally.
    // The ABSOLUTE bar (well under the ~1 s query-start floor the bench
    // pays per query) is a wall-clock number that external load spikes on
    // this shared box can double (round-13's run-73 window reddened it at
    // loadavg 3.3 on unchanged code), so it is gated on entry loadavg:
    // asserted when the box is quiet, recorded as info() otherwise. The
    // publication numbers live in docs/SCALING.md.
    assert(marginal < wallMs / 4,
      s"marginal $marginal ms vs query wall ${wallMs.toLong} ms")
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (load1m >= 0 && load1m < 2.0)
      assert(marginal < 700,
        s"marginal batch $marginal ms at loadavg $load1m — floor not amortized")
    else
      info(f"loadavg $load1m%.2f too high for the absolute 700 ms gate; " +
        s"marginal was $marginal ms (relative gate above still enforced)")
  }

  test("streaming CDC upsert: multi-batch replay equals batch argmax and " +
      "a full duplicate replay changes nothing") {
    val sf = "/root/testdata/sf0.001"
    def run() = StreamOps.xStreamUpsert.build(spark, sf)
      .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
    val first = run()
    // rank at MICROsecond precision like the engine does — getTime is
    // millis and would tie where the real timestamps differ
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val want = graft.core.Tables(spark, sf, "events")
      .select("user_id", "event_id", "ts")
      .as[(Long, Long, java.sql.Timestamp)].collect()
      .groupBy(_._1).map { case (_, g) =>
        g.maxBy(r => (us(r._3), r._2))
      }.toSeq.sortBy(_._1)
    assert(first == want)
    // the second invocation replays the ENTIRE history as duplicates
    // into the persisted stage — the merge must absorb it bit-for-bit
    assert(run() == first)
  }
}
