package graft

/** Dev probe (Test/runMain graft.FloorProbe): decompose the fixed
  * per-query bench floor on sub-second queries (round-13 verdict ask 7).
  * For each probe query, run N warm invocations and split the wall into
  * (a) build — the Scala builder constructing the DataFrame, including
  * table loads, (b) Catalyst phases from QueryPlanningTracker (parsing /
  * analysis / optimization / planning), and (c) execution — the count()
  * job itself. What the tracker and job don't account for (driver-side
  * scheduling, result fetch) shows as residual. Results recorded in
  * docs/BENCH_COMPARISON.md.
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables(spark, dir, t).count()
      catch { case scala.util.control.NonFatal(_) => }
    }
    val probes = Seq("q18_topk", "x_profile", "x_lm_crossppl", "x_embed_cluster",
      "q01_clean", "x_dataset_card")
    probes.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // warm this query's codegen/shuffles
      val n = 6
      var bBuild = 0L; var bExec = 0L
      val phases = scala.collection.mutable.Map.empty[String, Long]
      (1 to n).foreach { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        bBuild += t1 - t0; bExec += t2 - t1
        df.queryExecution.tracker.phases.foreach { case (p, s) =>
          phases(p) = phases.getOrElse(p, 0L) + (s.endTimeMs - s.startTimeMs)
        }
      }
      val ph = phases.toSeq.sortBy(-_._2)
        .map { case (p, ms) => f"$p=${ms.toDouble / n}%.0fms" }.mkString(" ")
      println(f"FLOOR $name%-18s build=${bBuild / n / 1e6}%6.0fms " +
        f"exec=${bExec / n / 1e6}%6.0fms  catalyst: $ph")
    }
    spark.stop()
  }
}
