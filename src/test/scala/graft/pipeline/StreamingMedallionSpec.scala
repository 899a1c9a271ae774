package graft.pipeline

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

class StreamingMedallionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeGz(path: String, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), "UTF-8"))
    lines.foreach { l => w.write(l); w.newLine() }
    w.close()
  }

  private def event(id: Int, hour: Int): String = {
    val hh = f"$hour%02d"
    s"""{"id":$id,"actor":{"id":1,"login":"u","display_login":"U"},"type":"PushEvent","repo":{"id":2,"name":"r","url":"x"},"created_at":"2023-01-01 $hh:00:00"}"""
  }

  test("streaming silver discovers bronze files incrementally, resumes from checkpoint") {
    val root = Scratch.fresh("graft_slake").toString
    val config = LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
    val ckpt = s"$root/ckpt"

    def bronzeHour(h: Int, ids: Seq[Int]): Unit = {
      val dir = new java.io.File(
        s"${config.bronzeRoot}/${config.basePath}/2023-01-01/" + f"$h%02d")
      dir.mkdirs()
      writeGz(s"$dir/2023-01-01-$h.json.gz", ids.map(event(_, h)))
    }

    val medallion = new Medallion(spark, config)
    bronzeHour(7, Seq(1, 2))
    val sink = medallion.serialiseRawDataStreaming(ckpt)
    assert(spark.read.parquet(sink).count() == 2)

    // a new bronze hour arrives; re-running processes ONLY the new file
    bronzeHour(8, Seq(3))
    medallion.serialiseRawDataStreaming(ckpt)
    val silver = spark.read.parquet(sink)
    assert(silver.count() == 3)
    assert(silver.select("event_id").distinct().count() == 3)

    // gold over the silver stream: 3 same-day PushEvents collapse to one
    // aggregate row with event_count = 3
    val goldSink = medallion.aggregateGoldStreaming(s"$root/ckpt_gold")
    val gold = spark.read.parquet(goldSink).collect()
    assert(gold.length == 1)
    assert(gold(0).getLong(5) == 3L)
  }

  test("PERMISSIVE mode surfaces malformed rows instead of dropping them") {
    import org.apache.spark.sql.functions.col
    val dir = Scratch.fresh("graft_perm").toString
    writeGz(s"$dir/h.json.gz", Seq(event(1, 9), "not json at all"))
    val df = GhArchive.readAudit(spark, s"$dir/h.json.gz")
      .cache() // corrupt-record column requires a materialized referenced plan
    assert(df.count() == 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    df.unpersist()
  }
}
