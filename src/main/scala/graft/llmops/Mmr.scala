package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Q

/** Maximal Marginal Relevance diversification (Carbonell & Goldstein
  * 1998) — the diversity-aware selection step retrieval and curation
  * pipelines run AFTER scoring: from a relevance-ranked candidate
  * pool, greedily pick items that are relevant to the probe but NOT
  * redundant with what is already picked:
  *
  *   next = argmax_{d ∈ pool∖S} [ λ·rel(d) − (1−λ)·max_{s ∈ S} sim(d, s) ]
  *
  * Cross-engine discipline: every similarity is rounded ONCE to a 1e6
  * fixed-point integer (covered by the rounding-margin audit), and λ =
  * 0.7 enters as the integer pair (7, 3) scaled by 10 — so every MMR
  * score, comparison, and tie-break (score DESC, vec_id ASC) is exact
  * integer arithmetic, and the full greedy trajectory is replicated by
  * the oracle bit-for-bit (one layered CTE per step, the unigram
  * pattern).
  *
  * Scale posture: MMR is inherently sequential in k, but each step is
  * a BOUNDED join — pool is per-probe top-POOL (TakeOrdered, never a
  * corpus window), pairwise similarities exist only within a probe's
  * pool (POOL² rows/probe, computed once), and the selected set is ≤
  * SELK rows. The per-step work is (pool∖S) ⋈ S — k-bounded state, the
  * k-means acceptance class; nothing ever collects to the driver.
  */
object Mmr {

  val NPROBE = 3   // probes: vec_id < NPROBE
  val POOL = 20    // relevance pool per probe
  val SELK = 5     // diversified picks per probe
  val WREL = 7L    // λ·10
  val WDIV = 3L    // (1−λ)·10
  val SIM_SCALE = 1000000L

  /** (probe_id, vec_id, rel_fix) — per-probe top-POOL by fixed-point
    * cosine relevance; also the margin-audit source for the rel arm.
    */
  def pool(s: SparkSession, dir: String): DataFrame = {
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "n_emb")
    val probes = VectorSearch.probes(e, NPROBE, col("n_emb").as("p_emb"))
    e.join(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("n_emb"),
        round(VectorSearch.dot(col("n_emb"), col("p_emb")) *
          SIM_SCALE).cast("long").as("rel_fix"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("rel_fix").desc, col("vec_id"))))
      .filter(col("rn") <= POOL)
      .drop("rn")
  }

  /** (probe_id, a, b, sim_fix) — pairwise fixed-point cosines WITHIN a
    * probe's pool (a ≠ b).
    */
  def poolSims(p: DataFrame): DataFrame = {
    val l = p.select(col("probe_id"), col("vec_id").as("a"),
      col("n_emb").as("ea"))
    val r = p.select(col("probe_id"), col("vec_id").as("b"),
      col("n_emb").as("eb"))
    l.join(r, "probe_id").filter(col("a") =!= col("b"))
      .select(col("probe_id"), col("a"), col("b"),
        round(VectorSearch.dot(col("ea"), col("eb")) * SIM_SCALE)
          .cast("long").as("sim_fix"))
  }

  /** The greedy trajectory: (probe_id, step, vec_id, score_fix).
    *
    * One aggregation gathers each probe's pool and pairwise sims into
    * per-probe arrays; the whole k-step greedy walk then runs as a
    * native per-row expression ([[graft.functions.MmrSelect]] — see its
    * scaladoc for why this replaced the join-per-step spelling, which
    * paid ~16 tiny shuffle stages of scheduler overhead, 4.4 s at
    * sf0.1, for sub-millisecond arithmetic). Partitioning is on
    * probe_id, so a million-probe batch parallelizes trivially.
    */
  def diversify(s: SparkSession, dir: String): DataFrame = {
    val p = pool(s, dir)
    val pa = p.groupBy(col("probe_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel_fix"))).as("pool"))
    val sa = poolSims(p).groupBy(col("probe_id"))
      .agg(collect_list(struct(col("a"), col("b"), col("sim_fix")))
        .as("sims"))
    pa.join(sa, "probe_id")
      .select(col("probe_id"),
        explode(graft.functions.MmrSelect(col("pool"), col("sims"),
          SELK, WREL, WDIV)).as("r"))
      .select(col("probe_id"), col("r.step").as("step"),
        col("r.vec_id").as("vec_id"), col("r.score_fix").as("score_fix"))
  }

  // ---------------------------------------------------------------- SQL

  private def mmrSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings),
       n AS (SELECT vec_id,
               list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS ne
             FROM e),
       pool AS (SELECT probe_id, vec_id, ne, rel_fix FROM (
           SELECT p.vec_id AS probe_id, d.vec_id, d.ne,
                  CAST(round($SIM_SCALE * list_dot_product(d.ne, p.ne)) AS BIGINT) AS rel_fix,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY CAST(round($SIM_SCALE * list_dot_product(d.ne, p.ne)) AS BIGINT) DESC,
                             d.vec_id) AS rn
           FROM n d CROSS JOIN (SELECT * FROM n WHERE vec_id < $NPROBE) p
           WHERE d.vec_id <> p.vec_id)
         WHERE rn <= $POOL),
       psim AS (SELECT l.probe_id, l.vec_id AS a, r.vec_id AS b,
                  CAST(round($SIM_SCALE * list_dot_product(l.ne, r.ne)) AS BIGINT) AS sim_fix
                FROM pool l JOIN pool r
                  ON l.probe_id = r.probe_id AND l.vec_id <> r.vec_id),
       sel1 AS (SELECT probe_id, 1 AS step, vec_id,
                  rel_fix * $WREL AS score_fix FROM (
                    SELECT probe_id, vec_id, rel_fix,
                      row_number() OVER (PARTITION BY probe_id
                        ORDER BY rel_fix DESC, vec_id) AS rn FROM pool)
                WHERE rn = 1),
       acc1 AS (SELECT * FROM sel1)"""
    for (k <- 2 to SELK) {
      val p = k - 1
      sb ++= s""",
       cand$k AS (SELECT pool.probe_id, pool.vec_id, pool.rel_fix
                 FROM pool LEFT JOIN acc$p
                   ON pool.probe_id = acc$p.probe_id AND pool.vec_id = acc$p.vec_id
                 WHERE acc$p.vec_id IS NULL),
       ms$k AS (SELECT c.probe_id, c.vec_id,
                  c.rel_fix * $WREL - max(s.sim_fix) * $WDIV AS score_fix
                FROM cand$k c
                JOIN psim s ON s.probe_id = c.probe_id AND s.a = c.vec_id
                JOIN acc$p ON acc$p.probe_id = s.probe_id AND acc$p.vec_id = s.b
                GROUP BY c.probe_id, c.vec_id, c.rel_fix),
       sel$k AS (SELECT probe_id, $k AS step, vec_id, score_fix FROM (
                   SELECT probe_id, vec_id, score_fix,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY score_fix DESC, vec_id) AS rn FROM ms$k)
                 WHERE rn = 1),
       acc$k AS (SELECT * FROM acc$p UNION ALL SELECT * FROM sel$k)"""
    }
    sb ++= s"""
       SELECT probe_id, CAST(step AS BIGINT) AS step, vec_id, score_fix
       FROM acc$SELK ORDER BY probe_id, step"""
    sb.toString
  }

  val xMmrDiversify = Q("x_mmr_diversify", mmrSql) { (s, dir) =>
    diversify(s, dir)
      .select(col("probe_id"), col("step"), col("vec_id"), col("score_fix"))
      .orderBy("probe_id", "step")
  }

  val all: Seq[Q] = Seq(xMmrDiversify)
}
