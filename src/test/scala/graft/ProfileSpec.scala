package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** graft.Profile's recorder: a labelled run records the plan nodes and
  * jobs of what it ran, and the run after it none of them, however late
  * the asynchronous listener bus delivers the first run's events. A
  * single-partition stage is recorded with its input rows, and a file
  * write with the bytes it wrote.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark.newSession()

  private def crossRun(rec: Profile.Recorder): Profile.Record =
    rec.run("A") {
      spark.range(200).toDF("x")
        .crossJoin(broadcast(spark.range(50).toDF("y")))
    }

  test("a planted broadcast cross join is recorded with its jobs") {
    val rec = new Profile.Recorder(spark)
    try {
      val a = crossRun(rec)
      assert(a.error.isEmpty)
      assert(a.nodes.contains("BroadcastNestedLoopJoin"))
      assert(a.jobs.nonEmpty && a.tasks > 0)
      assert(a.wallS >= a.buildS && a.planS > 0.0)
    } finally rec.close()
  }

  test("the run after it records neither the node nor its jobs") {
    val rec = new Profile.Recorder(spark)
    try {
      val a = crossRun(rec)
      val b = rec.run("B")(spark.range(10).toDF("z"))
      assert(b.error.isEmpty)
      assert(b.nodes.isEmpty)
      assert(b.jobs.nonEmpty)
      assert(b.jobs.map(_.id).toSet.intersect(a.jobs.map(_.id).toSet).isEmpty)
    } finally rec.close()
  }

  test("a single-partition stage is recorded with its input rows") {
    val rec = new Profile.Recorder(spark)
    try {
      val rows = spark.range(0, 1000, 1, 4).toDF("x")
      val w = rec.run("W")(
        rows.withColumn("r", row_number().over(Window.orderBy("x"))))
      assert(w.nodes == Set("UnpartitionedWindow", "SinglePartitionExchange"))
      assert(w.inputRows == Map(
        "UnpartitionedWindow" -> 1000L, "SinglePartitionExchange" -> 1000L))
      // a global count's shuffle takes one partial row per partition
      val c = rec.run("C")(rows.groupBy().count())
      assert(c.nodes == Set("SinglePartitionExchange"))
      assert(c.inputRows == Map("SinglePartitionExchange" -> 4L))
    } finally rec.close()
  }

  // Bench derives its store_rw class from this counter
  test("a parquet write records its output bytes and a noop run none") {
    val rec = new Profile.Recorder(spark)
    try {
      val dir = graft.core.Scratch.fresh("profile_out").toString + "/t"
      val w = rec.run("write") {
        spark.range(1000).toDF("x").write.parquet(dir)
        spark.read.parquet(dir)
      }
      assert(w.error.isEmpty && w.outputBytes > 0)
      val r = rec.run("read")(spark.read.parquet(dir))
      assert(r.error.isEmpty && r.jobs.nonEmpty && r.outputBytes == 0L)
    } finally rec.close()
  }
}
