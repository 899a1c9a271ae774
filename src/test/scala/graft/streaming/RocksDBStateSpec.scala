package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** The at-scale state backend: the same windowed aggregation with the
  * RocksDB state store provider (what a real deployment uses once keyed
  * state exceeds executor heap) must produce identical results to the
  * default HDFS-backed in-memory store.
  */
class RocksDBStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("windowed aggregation under RocksDB state store matches batch") {
    val src = graft.core.Tables(spark, "/root/testdata/sf0.001", "events")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(src.schema)
        .parquet(writeDir(src))
      val agg = stream
        .withWatermark("ts", "24 hours")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
      val q = agg.writeStream.format("memory").queryName("rocks_out")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation",
          Scratch.fresh("graft_rocks_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val streamed = spark.table("rocks_out")
        .as[(java.sql.Timestamp, Long)].collect().toSet
      val batch = src.groupBy(date_trunc("hour", col("ts")).as("ws"))
        .agg(count(lit(1)).as("n"))
        .as[(java.sql.Timestamp, Long)].collect().toSet
      assert(streamed == batch)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  private def writeDir(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Scratch.fresh("graft_rocks_src").toString
    df.write.mode("overwrite").parquet(dir)
    dir
  }
}
