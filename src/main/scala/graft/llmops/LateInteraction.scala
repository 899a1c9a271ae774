package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Q

/** Late-interaction (multi-vector) retrieval — the ColBERT scoring
  * model (Khattab & Zaharia 2020): a document is T token vectors, not
  * one pooled vector, and relevance is MaxSim — for each query token
  * take its best-matching document token, then sum:
  *
  *   score(q, d) = Σ_{t ∈ q} max_{u ∈ d} cos(t, u)
  *
  * Deployed as a RERANKER (the production composition): stage 1
  * retrieves a coarse candidate pool per probe with the single-vector
  * cosine (q34's scorer), stage 2 re-scores only that pool with
  * MaxSim. The fixture lake stores one 64-dim vector per doc, so token
  * vectors are its four 16-dim slices, each l2-normalized — a
  * deterministic multi-vector layout that keeps every engine-side
  * mechanism (per-token normalize, T×T dot grid, max-reduce, sum,
  * two-stage rank) real; a true token-embedding table would change
  * only the slicing step.
  *
  * Scale posture: the corpus is touched once (the shared normalized
  * base); the T×T MaxSim grid runs only over |probes| × POOL pairs —
  * never corpus-wide — and the coarse stage is the same
  * TakeOrdered-not-window shape as every retrieval query here. All
  * HOF arithmetic (zip_with / aggregate / array_max) is codegen'd
  * builtin machinery.
  *
  * Cross-engine: both engines compute raw-double MaxSim and round at 6
  * decimals for ranking only (the q34 discipline — scores are never
  * output); summation order over query tokens is the fixed t=0..3
  * sequence on both sides. The per-pair raw MaxSim values are covered
  * by the rounding-margin audit (RoundingMarginSpec).
  */
object LateInteraction {

  val T = 4        // token vectors per doc
  val D = 16       // dims per token vector
  val POOL = 50    // coarse candidate pool per probe
  val TOPK = 10

  /** Adds `toks`: the T l2-normalized token slices of `emb`. */
  private[llmops] def withToks(e: DataFrame): DataFrame =
    e.withColumn("rtoks",
        expr(s"transform(sequence(0, ${T - 1}), t -> slice(emb, t * $D + 1, $D))"))
      .withColumn("toks", expr(
        """transform(rtoks, s -> transform(s, x ->
           x / sqrt(aggregate(zip_with(s, s, (a, b) -> a * b),
                              0D, (ac, v) -> ac + v))))"""))
      .drop("rtoks")

  /** MaxSim over two token arrays (raw double, pre-round). */
  private[llmops] val maxsimExpr = expr(
    """aggregate(ptoks, 0D, (acc, qt) ->
       acc + array_max(transform(dtoks, dt ->
         aggregate(zip_with(qt, dt, (a, b) -> a * b),
                   0D, (ac, v) -> ac + v))))""")

  /** (probe_id, vec_id, label, maxsim raw) over the coarse pool — also
    * consumed by the rounding-margin audit.
    */
  def maxsimRaw(s: SparkSession, dir: String): DataFrame = {
    val e = VectorSearch.embeddingsBase(s, dir)
      .select(col("vec_id"), col("label"), col("emb"), col("n_emb"))
    val probes = VectorSearch.probes(e, 5, col("n_emb").as("p_emb"))
    val coarse = VectorSearch.topPerProbe(e.join(broadcast(probes))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(VectorSearch.dot(col("n_emb"), col("p_emb")), 6).as("sim")), POOL)
      .select(col("probe_id"), col("vec_id"), col("label"))
    val dt = withToks(e).select(col("vec_id"), col("toks").as("dtoks"))
    val pt = VectorSearch.probes(withToks(e), 5, col("toks").as("ptoks"))
    coarse
      .join(broadcast(pt), "probe_id")
      .join(dt, "vec_id")
      .select(col("probe_id"), col("vec_id"), col("label"),
        maxsimExpr.as("maxsim"))
  }

  private[llmops] def sliceNorm(t: Int): String = {
    val s = s"emb[${t * D + 1}:${(t + 1) * D}]"
    s"list_transform($s, x -> x / sqrt(list_dot_product($s, $s)))"
  }

  val xMaxsimRerank = Q(
    "x_maxsim_rerank",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings),
       n AS (SELECT vec_id, label, emb,
               list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS n_emb,
               [${(0 until T).map(sliceNorm).mkString(",\n                ")}] AS toks
             FROM e),
       coarse AS (SELECT probe_id, vec_id, label, ptoks, dtoks FROM (
           SELECT p.vec_id AS probe_id, d.vec_id AS vec_id, d.label,
                  p.toks AS ptoks, d.toks AS dtoks,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY round(list_dot_product(d.n_emb, p.n_emb), 6) DESC,
                             d.vec_id) AS crn
           FROM n d CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) p)
         WHERE crn <= $POOL),
       ms AS (SELECT probe_id, vec_id, label,
                round(list_sum(list_transform(ptoks, qt ->
                  list_max(list_transform(dtoks, dt ->
                    list_dot_product(qt, dt))))), 6) AS maxsim
              FROM coarse)
       SELECT probe_id, rn AS rank, vec_id, label FROM (
         SELECT probe_id, vec_id, label,
                row_number() OVER (PARTITION BY probe_id
                  ORDER BY maxsim DESC, vec_id) AS rn
         FROM ms)
       WHERE rn <= $TOPK ORDER BY probe_id, rank""") { (s, dir) =>
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("maxsim"), 6).desc, col("vec_id"))
    maxsimRaw(s, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"))
      .orderBy("probe_id", "rank")
  }

  val all: Seq[Q] = Seq(xMaxsimRerank)
}
