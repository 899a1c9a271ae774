package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe (Test/runMain graft.InventoryCensus): runs the SparkEntry
  * inventory once against sf0.1 and once against a k×-replicated lake
  * (all ten tables, k=5 by default), each query under a
  * [[Profile.Recorder]], and prints every query's record (wall, build /
  * plan / exec split, jobs, task counters, node census). It then reports
  * SHAPE FLIPS — a tracked plan node ([[Profile.TrackedNodes]]) that
  * appears at k but not in the same query's k=1 baseline — plus any
  * query that errors at scale. Flips are load-independent evidence of a
  * plan that will not survive 100 TB; the walls grow a decade table when
  * the probe is rerun once per k with SPARK_GRAFT_CENSUS_ONLY naming the
  * queries.
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
  *
  * Env: SPARK_GRAFT_CENSUS_K (default 5), SPARK_GRAFT_CENSUS_ONLY
  * (prefix filter), SPARK_GRAFT_CPUS.
  */
object InventoryCensus {
  private val OFF = 100000000L

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = sys.env.getOrElse("SPARK_GRAFT_CENSUS_K", "5").toInt
    val spark = Sessions.local(cpus)
    val only = sys.env.get("SPARK_GRAFT_CENSUS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    val rec = new Profile.Recorder(spark)

    val src = "/root/testdata/sf0.1"
    val dir = s"/tmp/graft_census/k$k"
    materialize(spark, src, dir, k)

    def sweep(label: String, sfDir: String): Map[String, Set[String]] = {
      val records = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
        .map { case (name, fn) =>
          val r = rec.run(s"$label $name")(fn(spark, sfDir))
          println(r.show)
          name -> r
        }
      records.foreach { case (n, r) =>
        r.error.foreach(m => println(s"CENSUS $label ERROR $n: $m")) }
      records.collect { case (n, r) if r.nodes.nonEmpty => n -> r.nodes }.toMap
    }

    println(s"=== k=1 baseline sweep ($src) ===")
    val base = sweep("k1", src)
    println(s"=== k=$k sweep ($dir) ===")
    val scaled = sweep(s"k$k", dir)

    println(s"=== SHAPE CENSUS (k=1 vs k=$k) ===")
    val allQ = (base.keySet ++ scaled.keySet).toSeq.sorted
    var flips = 0
    allQ.foreach { q =>
      val b = base.getOrElse(q, Set.empty)
      val s = scaled.getOrElse(q, Set.empty)
      val gained = s -- b
      if (gained.nonEmpty) {
        flips += 1
        println(s"FLIP $q: +${gained.mkString(",")} (k1=${b.mkString("|")})")
      }
    }
    println(s"queries with any tracked node at k=$k: ${scaled.size}; " +
      s"shape flips k1->k$k: $flips")
    if (flips == 0) println("NO FLIPS: every broadcast/hash-agg shape held at scale")
    rec.close()
    spark.stop()
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
