package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The repo's one growth tool:
  *
  *   sbt "Test/runMain graft.InventoryCensus [<query-prefix> ...]"
  *
  * runs the selected SparkEntry queries (all of them with no args) on
  * sf0.1 (k=1) and on the k×-replicated lake for each k of [[Ks]], each
  * through the per-query [[Profile.reps]] loop, and prints every record
  * (wall, build / plan / exec split, jobs, task counters, tracked plan
  * shapes). Then, per query and k, it prints the warm rep's growth
  * against k=1 in the load-insensitive counters — `cpu_s`, tasks,
  * shuffle write bytes, jobs, and the input rows of each tracked
  * single-partition stage — and reports:
  *   - SHAPE FLIPS: a tracked shape ([[Profile.TrackedNodes]]) present
  *     at some k but not in the query's k=1 record;
  *   - GROWS: a single-partition stage whose input at the largest k is
  *     at least half linear in k — the one-reducer hazard a
  *     result-bounded stage (a global count's partials) never shows;
  *   - any query that errors at scale.
  *
  * Replication preserves each table's referential arithmetic:
  *   - region/nation: kept as-is (genuinely fixed-size dimensions —
  *     replicating 5 regions would distort, not scale).
  *   - customer/supplier/part/orders/lineitem: every PK and FK offset
  *     by replica*OFF so intra-replica joins stay valid and keys stay
  *     unique across replicas (cross-replica joins match nothing new).
  *   - events: event_id kept (pipelines slice on it), user_id offset.
  *   - documents: doc_id offset, words replica-prefixed (disjoint
  *     namespaces: cross-replica text similarity is 0).
  *   - embeddings: vec_id contiguous 0..kN-1 (bitext's (id+1) mod n
  *     pairing needs gap-free ids), dims circular-rotated per replica.
  */
object InventoryCensus {
  private val OFF = 100000000L

  /** The replication ladder; k=1 is the source lake itself. */
  private val Ks: Seq[Int] = Seq(1, 2, 5, 10)

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.startsWith))
    val rec = new Profile.Recorder(spark)

    val src = "/root/testdata/sf0.1"
    val byK = Ks.map { k =>
      val dir = if (k == 1) src else s"/tmp/graft_census/k$k"
      if (k > 1) materialize(spark, src, dir, k)
      println(s"=== k=$k sweep ($dir) ===")
      k -> Profile.reps(rec, spark, dir, names).toMap
    }
    rec.close()
    report(names, byK)
    spark.stop()
  }

  /** Growth of every k's warm record against k=1, shape flips, growing
    * single-partition stages and errors.
    */
  private def report(names: Seq[String],
      byK: Seq[(Int, Map[String, Profile.Record])]): Unit = {
    def x(a: Double, b: Double) = if (b > 0) f"x${a / b}%.2f" else "-"
    val base = byK.head._2
    val (kTop, top) = byK.last
    var flips, growing = 0
    println("=== GROWTH against k=1 (warm rep) ===")
    names.foreach { q =>
      val b = base(q)
      b.error.foreach(m => println(s"CENSUS k1 ERROR $q: $m"))
      byK.tail.foreach { case (k, recs) =>
        val r = recs(q)
        val rows = r.inputRows.toSeq.sorted.map { case (n, v) =>
          s" $n ${x(v.toDouble, b.inputRows.getOrElse(n, 0L).toDouble)}" }.mkString
        println(s"GROWTH $q k=$k cpu_s ${x(r.cpuS, b.cpuS)} " +
          s"tasks ${x(r.tasks, b.tasks)} " +
          s"shuffle_w ${x(r.shuffleWriteBytes, b.shuffleWriteBytes)} " +
          s"jobs ${x(r.jobs.size, b.jobs.size)}$rows")
        r.error.foreach(m => println(s"CENSUS k$k ERROR $q: $m"))
        val gained = r.nodes -- b.nodes
        if (gained.nonEmpty) {
          flips += 1
          println(s"FLIP $q k1->k$k: +${gained.toSeq.sorted.mkString(",")} " +
            s"(k1=${b.nodes.toSeq.sorted.mkString("|")})")
        }
      }
      top(q).inputRows.toSeq.sorted.foreach { case (n, v) =>
        val v1 = b.inputRows.getOrElse(n, 0L)
        if (2 * v >= kTop * math.max(v1, 1L)) {
          growing += 1
          println(s"GROWS $q $n in=$v1 at k1 -> $v at k$kTop")
        }
      }
    }
    println(s"queries: ${names.size}; shape flips: $flips; " +
      s"growing single-partition stages: $growing")
  }

  /** Build the k×-replicated all-table lake at `dir` (materialize-once:
    * a `_done` marker skips rebuilds).
    */
  def materialize(spark: SparkSession, src: String, dir: String, k: Int): Unit = {
    val done = new java.io.File(s"$dir/_done")
    if (done.exists()) return
    new java.io.File(dir).mkdirs()
    def t(n: String): DataFrame = graft.core.Tables(spark, src, n)
    def rep(name: String, f: (DataFrame, Int) => DataFrame): Unit =
      (0 until k).map(i => f(t(name), i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    // fixed dimensions: copied, not replicated
    Seq("region", "nation").foreach { n =>
      t(n).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    def off(i: Int) = lit(i.toLong * OFF)
    rep("customer", (df, i) => df
      .withColumn("c_custkey", col("c_custkey") + off(i)))
    rep("supplier", (df, i) => df
      .withColumn("s_suppkey", col("s_suppkey") + off(i)))
    rep("part", (df, i) => df
      .withColumn("p_partkey", col("p_partkey") + off(i)))
    rep("orders", (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + off(i))
      .withColumn("o_custkey", col("o_custkey") + off(i)))
    rep("lineitem", (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + off(i))
      .withColumn("l_partkey", col("l_partkey") + off(i))
      .withColumn("l_suppkey", col("l_suppkey") + off(i)))
    // events: event_id kept per replica (pipelines slice event_id < S —
    // replicas must grow the slice), user_id offset (selective bands)
    rep("events", (df, i) => df
      .withColumn("user_id", col("user_id") + off(i)))
    // documents: disjoint word namespaces per replica
    rep("documents", (df, i) => df
      .withColumn("doc_id", col("doc_id") + off(i))
      .withColumn("text",
        expr(s"array_join(transform(split(text, ' '), w -> concat('r$i', w)), ' ')"))
      .withColumn("n_chars", length(col("text"))))
    // embeddings: contiguous ids, per-replica dim rotation
    val embN = t("embeddings").count()
    (0 until k).map { i =>
      val rot = i % 64
      t("embeddings").select(
        (col("vec_id") + lit(i * embN)).as("vec_id"),
        (if (rot == 0) col("embedding")
         else expr(s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), " +
           s"slice(embedding, 1, $rot))")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    done.createNewFile()
    ()
  }
}
