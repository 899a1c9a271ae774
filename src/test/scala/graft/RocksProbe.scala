package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.Scratch

/** Dev probe (Test/runMain graft.RocksProbe): the state-store GROWTH
  * curve the round-11 verdict asked for — marginal-batch wall of a keyed
  * streaming aggregation as STANDING STATE grows 100×, under the default
  * HDFS-backed (in-heap) provider vs RocksDB.
  *
  * Protocol per (provider, K): one checkpoint, two AvailableNow runs
  * (the x_stream_late two-start discipline — a single run would batch
  * both files together). Run 1 builds K keys of standing state; run 2
  * processes a FIXED 10k-row batch touching the SAME 10k keys at every
  * K — so any growth in run-2 wall is the cost of carrying state, not of
  * updating it. The HDFS provider materializes the whole per-partition
  * state map and rewrites a full snapshot delta; RocksDB loads SSTs
  * lazily and pays only touched keys + WAL. Results → docs/SCALING.md.
  */
object RocksProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    import spark.implicits._

    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val MARGINAL = 10000L

    for ((label, cls) <- providers; k <- Seq(10000L, 100000L, 1000000L, 10000000L)) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
      val src = Scratch.fresh(s"graft_rocks_src").toString
      val ckpt = Scratch.fresh(s"graft_rocks_ckpt").toString
      val schema = spark.range(0).select(col("id").as("key"),
        col("id").as("v")).schema

      def runOnce(): (Double, Long) = {
        val stream = spark.readStream.schema(schema).parquet(src)
        val agg = stream.groupBy(col("key"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val t0 = System.nanoTime()
        val q = agg.writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
            df.count(); ()
          })
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
        (wall, stateRows)
      }

      // run 1: build K keys of standing state
      spark.range(k).select(col("id").as("key"), col("id").as("v"))
        .repartition(8).write.mode("append").parquet(src)
      val (tBuild, _) = runOnce()
      // run 2: the fixed marginal batch — same 10k keys at every K
      spark.range(MARGINAL).select((col("id") % MARGINAL).as("key"),
        lit(1L).as("v"))
        .repartition(8).write.mode("append").parquet(src)
      val (tMarg, stateRows) = runOnce()
      println(f"SCALE-ROCKS provider=$label%-8s keys=$k%8d " +
        f"state_rows=$stateRows%8d build=$tBuild%6.2f marginal=$tMarg%6.2f")
    }
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.stop()
  }
}
