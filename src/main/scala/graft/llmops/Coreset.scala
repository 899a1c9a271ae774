package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Q

/** Coreset selection by greedy k-center (Gonzalez 1985; the "herding /
  * facility location" data-pruning recipe used to pick maximally-
  * diverse training subsets): seed with vec_id 0, then repeatedly add
  * the point FARTHEST from the chosen set. On unit vectors, squared
  * euclidean distance is 2 − 2·cos, so "farthest from the set" is
  * exactly "smallest max-cosine to any chosen center" — the whole
  * greedy runs on 1e6 fixed-point cosines with integer comparisons and
  * vec_id tiebreaks (the q34 discipline; raw cosines are margin-audited
  * in RoundingMarginSpec as the coreset-sims family).
  *
  * Output: (step, center_id, far_sim_fix) — far_sim_fix is the chosen
  * point's max-cosine to the previously-selected centers, i.e. the
  * (similarity-form) covering radius trace; the seed emits −1.
  *
  * Scale posture: K passes over the corpus, each a broadcast of ≤K
  * center vectors → per-point max-cosine (map-only) → TakeOrdered(1).
  * Driver state is the K chosen (id, sim) pairs — the k-means/IVF
  * acceptance class. No iteration stacks lineage: every pass starts
  * from the cached base, so the plan stays flat (at 100 TB each pass is
  * one scan of the embedding shards; K is a constant).
  *
  * The oracle replays the greedy as K textually-generated CTE stages
  * (select-vs-centers → argmin-of-max → exclude-and-repeat), the
  * x_mmr_diversify layered-CTE discipline.
  */
object Coreset {

  /** Coreset size. */
  val K = 8

  /** Fixed-point cosine scale (shared with the vector family). */
  val SCALE = 1000000L

  /** Run the greedy driver-side: returns (step, center_id, far_sim_fix).
    * Each pass recomputes max-cosine against ALL chosen centers from the
    * cached base (flat plan), then TakeOrdered(1) picks the farthest
    * point (min max-sim, id tiebreak).
    */
  private[llmops] def centers(s: SparkSession, dir: String): Seq[(Int, Long, Long)] = {
    val base = VectorSearch.embeddingsBase(s, dir).select("vec_id", "n_emb")
    // One job per greedy pass (round 16): the chosen centers ride along
    // as a ≤K-vector LITERAL and the per-point max-cosine is
    // array_max(transform(...)) — no center re-fetch join, no explode,
    // no groupBy shuffle; each pass is scan → map → TakeOrdered(1).
    // Identical arithmetic: the same round(dot·SCALE) per (point,
    // center) pair, the same max, the same (ms ASC, vec_id) selection.
    // The previous spelling ran ~3 jobs per pass (center filter-join,
    // pair agg, argmin) and its wall was dominated by per-pass planning.
    val seed = base.filter(col("vec_id") === 0L)
      .select(col("n_emb")).head().getSeq[Double](0)
    var chosen = Vector((1, 0L, -1L))
    var cents: Vector[Seq[Double]] = Vector(seed)
    while (chosen.length < K) {
      val ids = chosen.map(_._2)
      val centLit = typedLit(cents)
      val sims = transform(centLit, c =>
        round(VectorSearch.dot(col("n_emb"), c) * SCALE).cast("long"))
      val r = base
        .filter(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"), array_max(sims).as("ms"), col("n_emb"))
        .orderBy(col("ms").asc, col("vec_id").asc).limit(1)
        .head()
      chosen :+= ((chosen.length + 1, r.getLong(0), r.getLong(1)))
      cents :+= r.getSeq[Double](2)
    }
    chosen
  }

  private def oracleSqlText: String = {
    val sim = (a: String, b: String) =>
      s"CAST(round(1000000 * list_cosine_similarity($a.v, $b.v)) AS BIGINT)"
    // Two DuckDB-performance necessities, measured (86.5 s → 0.19 s at
    // sf0.1): every chained CTE is MATERIALIZED (p-stages are referenced
    // twice — by n_i and p_i — and non-materialized CTEs re-inline, which
    // compounds exponentially down the chain), and the selected center
    // joins via the 1-row n_i IN FROM rather than a scalar subquery in
    // the join condition (which re-executed the subquery per probe row).
    val sb = new StringBuilder
    sb ++= """WITH e AS MATERIALIZED (SELECT vec_id,
                CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       p1 AS MATERIALIZED (SELECT a.vec_id, """ + sim("a", "b") + """ AS ms
              FROM e a JOIN e b ON b.vec_id = 0)"""
    // stage i (2..K): pick argmin-of-max among non-chosen, fold its sims in
    def exclusion(i: Int): String =
      (Seq("0") ++ (2 until i).map(j => s"(SELECT vec_id FROM n$j)"))
        .mkString(", ")
    for (i <- 2 to K) {
      sb ++= s""",
       n$i AS MATERIALIZED (SELECT vec_id, ms FROM p${i - 1}
              WHERE vec_id NOT IN (${exclusion(i)})
              ORDER BY ms ASC, vec_id LIMIT 1)"""
      if (i < K) sb ++= s""",
       p$i AS MATERIALIZED (SELECT p.vec_id,
                greatest(p.ms, ${sim("a", "b")}) AS ms
              FROM p${i - 1} p JOIN e a ON a.vec_id = p.vec_id,
                   n$i JOIN e b ON b.vec_id = n$i.vec_id)"""
    }
    sb ++= "\n       SELECT 1 AS step, CAST(0 AS BIGINT) AS center_id, " +
      "CAST(-1 AS BIGINT) AS far_sim_fix"
    for (i <- 2 to K)
      sb ++= s"""
       UNION ALL SELECT $i, (SELECT vec_id FROM n$i), (SELECT ms FROM n$i)"""
    sb ++= "\n       ORDER BY step"
    sb.toString
  }

  val xCoresetKcenter = Q("x_coreset_kcenter", oracleSqlText) { (s, dir) =>
    import s.implicits._
    centers(s, dir).toDF("step", "center_id", "far_sim_fix")
      .select(col("step").cast("int"), col("center_id"), col("far_sim_fix"))
      .orderBy("step")
  }

  val all: Seq[Q] = Seq(xCoresetKcenter)
}
