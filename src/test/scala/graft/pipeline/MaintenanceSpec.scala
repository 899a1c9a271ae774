package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Parse-health accounting (x_malformed_audit) and incremental gold
  * maintenance (x_gold_incremental): the mechanisms, beyond the graded
  * hash — corrupt rows really carry the raw line, and the dynamic
  * partition overwrite really leaves untouched days' FILES alone.
  */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("PERMISSIVE twin keeps malformed lines with the raw text; " +
      "DROPMALFORMED drops exactly those") {
    val orders = graft.core.Tables(spark, sf, "orders")
    val out = s"${graft.core.Scratch.fresh("parseaudit_spec")}/raw"
    ParseAudit.jsonLines(orders).write.mode("overwrite").text(out)

    val perm = GhArchive.readAudit(spark, out).cache()
    val nCorrupt = perm.filter(col("_corrupt_record").isNotNull).count()
    val expected = orders.filter(col("o_orderkey") % 37 === 0).count()
    assert(expected > 0, "fixture must plant at least one malformed line")
    assert(nCorrupt == expected)
    // the corrupt row carries the raw truncated line (diagnosable), and
    // parsed fields of a corrupt row are null (nothing half-parsed leaks)
    val sample = perm.filter(col("_corrupt_record").isNotNull).head()
    assert(sample.getAs[String]("_corrupt_record").startsWith("{\"id\":"))
    assert(sample.isNullAt(sample.fieldIndex("id")))

    val dropped = GhArchive.read(spark, out)
    assert(dropped.count() == orders.count() - expected)
    perm.unpersist()
  }

  test("dynamic overwrite leaves a fully-retracted day STALE; " +
      "the explicit delete is load-bearing") {
    val ev = graft.core.Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        date_trunc("day", col("ts")).as("event_date"))
    val isDeleted = col("event_date") < lit("2024-01-02").cast("timestamp")
    assert(ev.filter(isDeleted).count() > 0)
    val goldPath = s"${graft.core.Scratch.fresh("goldret_spec")}/gold"
    def aggregate(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("event_count"))
      .withColumn("day", to_date(col("event_date"))).drop("event_date")
    aggregate(ev).write.partitionBy("day").parquet(goldPath)
    val day1 = new java.io.File(s"$goldPath/day=2024-01-01")
    assert(day1.isDirectory, "fixture day must exist in the initial gold")

    // retract ALL of day 1, recompute the touched day, dynamic-overwrite
    val touched = ev.filter(isDeleted).select(col("event_date")).distinct()
    val recomputed = aggregate(ev.filter(!isDeleted)
      .join(broadcast(touched), Seq("event_date"), "left_semi"))
    assert(recomputed.isEmpty, "a fully-retracted day recomputes to empty")
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      recomputed.write.mode("overwrite").partitionBy("day").parquet(goldPath)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    // THE TRAP: the overwrite wrote nothing, so the stale day survives
    assert(day1.isDirectory,
      "if dynamic overwrite started dropping absent partitions, " +
        "x_gold_retraction's explicit delete is dead code — re-examine")
    assert(spark.read.parquet(goldPath)
      .filter(col("day") === "2024-01-01").count() > 0)
  }

  test("late-day merge rewrites ONLY the touched day partitions") {
    val ev = graft.core.Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        date_trunc("day", col("ts")).as("event_date"))
    val isLate = col("event_id") % 11 === 0 &&
      col("event_date") < lit("2024-01-04 00:00:00").cast("timestamp")
    assert(ev.filter(isLate).count() > 0, "late fixture batch must be non-empty")
    val goldPath = s"${graft.core.Scratch.fresh("gold_spec")}/gold"

    def aggregate(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("event_count"))
      .withColumn("day", to_date(col("event_date"))).drop("event_date")

    aggregate(ev.filter(!isLate)).write.partitionBy("day").parquet(goldPath)

    // fingerprint every file per day partition before the merge
    def files(): Map[String, Set[(String, Long)]] =
      new java.io.File(goldPath).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = files()

    val touched = ev.filter(isLate).select(col("event_date")).distinct()
    val recomputed = aggregate(
      ev.join(broadcast(touched), Seq("event_date"), "left_semi"))
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      recomputed.write.mode("overwrite").partitionBy("day").parquet(goldPath)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    val after = files()
    val touchedDays = touched.collect()
      .map(r => "day=" + r.getTimestamp(0).toLocalDateTime.toLocalDate).toSet
    assert(touchedDays.nonEmpty && touchedDays.size < before.size,
      s"fixture must touch a strict subset of days: $touchedDays")
    // untouched day partitions: identical files, byte-for-byte untouched
    (before.keySet -- touchedDays).foreach { d =>
      assert(after(d) == before(d), s"untouched partition $d was rewritten")
    }
    // touched days were replaced
    touchedDays.foreach { d =>
      assert(after(d) != before(d), s"touched partition $d was not rewritten")
    }
    // and the merged gold equals the full recompute
    val full = aggregate(ev).select("event_type", "day", "event_count")
    val merged = spark.read.parquet(goldPath)
      .select("event_type", "day", "event_count")
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }
}
