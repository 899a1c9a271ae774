package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Q

/** The COMPLETE retrieval stack composed under one oracle — the
  * retrieval sibling of x_full_curation: every stage exists as its own
  * graded operator, and this query chains them the way a production
  * RAG serving path does, for one query (probe doc 0):
  *
  *   1. hybrid recall   — BM25 lexical arm + single-vector semantic
  *                        arm, fused by reciprocal rank
  *                        (TextStats.rrfFused, x_rrf_fusion's arms,
  *                        both TakeOrdered top-100), keep the fused
  *                        top-20
  *   2. precision rerank — ColBERT MaxSim over the 4×16 l2-normalized
  *                        token slices, only on those 20 candidates
  *                        (x_maxsim_rerank's scorer), keep the top-10
  *   3. diversification — MMR over the reranked 10 (relevance = the
  *                        1e6 fixed-point MaxSim, redundancy = 1e6
  *                        fixed-point whole-vector cosine, λ = 7/3),
  *                        select 5 via the native MmrSelect walk
  *
  * Output: the 5 selections with full provenance — MMR step, fused
  * rank, rerank rank, and the integer MMR score. Cross-engine: stage 1
  * and 2 rank on round(·, 6) doubles (the q34 discipline); stage 3 is
  * pure integer arithmetic; the raw MaxSim and pairwise-cosine values
  * feeding the fixed points are margin-audited (RoundingMarginSpec,
  * rag-* families).
  *
  * Scale posture: each stage narrows the candidate set before the next
  * pays its cost — corpus → 100-per-arm (TakeOrdered, no corpus
  * window) → 20 (T×T MaxSim grid on 20 rows) → 10 (pairwise sims on 90
  * pairs) → 5. The expensive models run on exactly the rows the
  * cheaper stages surfaced — the whole point of the architecture.
  */
object Rag {

  val FUSE_TOP = 20
  val RERANK_TOP = 10
  val SEL = 5

  /** (doc_id, r_rrf) — fused top-FUSE_TOP for probe 0. */
  def fusedTop(s: SparkSession, dir: String): DataFrame =
    TextStats.topRanked(TextStats.rrfFused(s, dir), FUSE_TOP, "r_rrf",
        col("rrf").desc, col("doc_id"))
      .select(col("doc_id"), col("r_rrf"))

  /** (doc_id, r_rrf, msraw) — raw MaxSim of each fused candidate vs
    * probe 0 (also the margin-audit source).
    */
  def rerankRaw(s: SparkSession, dir: String): DataFrame = {
    val e = VectorSearch.embeddingsBase(s, dir)
      .select(col("vec_id"), col("emb"))
    val dt = LateInteraction.withToks(e)
      .select(col("vec_id").as("doc_id"), col("toks").as("dtoks"))
    val pt = LateInteraction.withToks(e).filter(col("vec_id") === 0)
      .select(col("toks").as("ptoks"))
    fusedTop(s, dir)
      .join(dt, "doc_id")
      .crossJoin(broadcast(pt))
      .select(col("doc_id"), col("r_rrf"),
        LateInteraction.maxsimExpr.as("msraw"))
  }

  val xRagPipeline = Q(
    "x_rag_pipeline",
    Rag.oracleSql) { (s, dir) =>
    val top = rerankRaw(s, dir)
      .withColumn("r_maxsim", row_number().over(
        Window.orderBy(round(col("msraw"), 6).desc, col("doc_id")))
        .cast("long"))
      .filter(col("r_maxsim") <= RERANK_TOP)
      .withColumn("rel_fix", round(col("msraw") * 1e6).cast("long"))
      .localCheckpoint()
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "n_emb")
    val withEmb = top.join(e, top("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("rel_fix"), col("n_emb"))
    val l = withEmb.select(col("doc_id").as("a"), col("n_emb").as("ea"))
    val r = withEmb.select(col("doc_id").as("b"), col("n_emb").as("eb"))
    val sims = l.crossJoin(broadcast(r)).filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(VectorSearch.dot(col("ea"), col("eb")) * 1e6)
          .cast("long").as("sim_fix"))
    val packed = withEmb
      .select(struct(col("doc_id").as("vec_id"), col("rel_fix")).as("p"))
      .agg(collect_list(col("p")).as("pool"))
    val spacked = sims
      .select(struct(col("a"), col("b"), col("sim_fix")).as("s"))
      .agg(collect_list(col("s")).as("sims"))
    packed.crossJoin(spacked)
      .select(explode(graft.functions.MmrSelect(col("pool"), col("sims"),
        SEL, Mmr.WREL, Mmr.WDIV)).as("m"))
      .select(col("m.step").as("step"), col("m.vec_id").as("doc_id"),
        col("m.score_fix").as("score_fix"))
      .join(top.select(col("doc_id"), col("r_rrf"), col("r_maxsim")),
        "doc_id")
      .select(col("step"), col("doc_id"), col("r_rrf"), col("r_maxsim"),
        col("score_fix"))
      .orderBy("step")
  }

  /** The composed oracle: the x_rrf_fusion chain (probe 0) → MaxSim on
    * the fused 20 → the Mmr layered greedy over the reranked 10.
    */
  private def oracleSql: String = {
    val T = TextStats
    val toks = (0 until LateInteraction.T)
      .map(LateInteraction.sliceNorm).mkString("[", ",\n                ", "]")
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       d AS (SELECT doc_id, len(ws) AS dl,
                    len(list_filter(ws, x -> x = '${T.BM25_QUERY(0)}')) AS tf1,
                    len(list_filter(ws, x -> x = '${T.BM25_QUERY(1)}')) AS tf2,
                    len(list_filter(ws, x -> x = '${T.BM25_QUERY(2)}')) AS tf3
             FROM w),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(dl) AS BIGINT) AS sdl,
                        CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                        CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
                        CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
                 FROM d),
       lexs AS (SELECT doc_id,
           round(
             ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n)))
           + ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n)))
           + ln(1.0 + (CAST(n AS DOUBLE) - df3 + 0.5) / (df3 + 0.5)) * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n))), 6) AS score
         FROM d CROSS JOIN stats),
       lex AS (SELECT doc_id, r FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
                 FROM lexs) WHERE r <= ${T.RRF_TOPK}),
       sems AS (SELECT e.vec_id AS doc_id,
                       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(p.embedding AS DOUBLE[])), 6) AS sim,
                       e.vec_id
                FROM embeddings e
                CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p),
       sem AS (SELECT doc_id, r FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r
                 FROM sems) WHERE r <= ${T.RRF_TOPK}),
       fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                        coalesce(1.0 / (${T.RRF_K} + lex.r), 0)
                      + coalesce(1.0 / (${T.RRF_K} + sem.r), 0) AS rrf
                 FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id),
       ftop AS (SELECT doc_id, r_rrf FROM (
                  SELECT doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS r_rrf
                  FROM fused) WHERE r_rrf <= $FUSE_TOP),
       e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       nt AS (SELECT vec_id,
                list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS ne,
                $toks AS toks
              FROM e2),
       msr AS (SELECT f.doc_id, f.r_rrf,
                 list_sum(list_transform(p.toks, qt ->
                   list_max(list_transform(dd.toks, dt ->
                     list_dot_product(qt, dt))))) AS msraw
               FROM ftop f JOIN nt dd ON dd.vec_id = f.doc_id
               CROSS JOIN (SELECT toks FROM nt WHERE vec_id = 0) p),
       pool AS (SELECT doc_id, r_rrf, r_maxsim,
                  CAST(round(1000000 * msraw) AS BIGINT) AS rel_fix FROM (
                    SELECT doc_id, r_rrf, msraw,
                      CAST(row_number() OVER (ORDER BY round(msraw, 6) DESC, doc_id) AS BIGINT) AS r_maxsim
                    FROM msr) WHERE r_maxsim <= $RERANK_TOP),
       psim AS (SELECT a.doc_id AS a, b.doc_id AS b,
                  CAST(round(1000000 * list_dot_product(na.ne, nb.ne)) AS BIGINT) AS sim_fix
                FROM pool a JOIN pool b ON a.doc_id <> b.doc_id
                JOIN nt na ON na.vec_id = a.doc_id
                JOIN nt nb ON nb.vec_id = b.doc_id),
       sel1 AS (SELECT 1 AS step, doc_id, rel_fix * ${Mmr.WREL} AS score_fix FROM (
                  SELECT doc_id, rel_fix, row_number() OVER
                    (ORDER BY rel_fix DESC, doc_id) AS rn FROM pool)
                WHERE rn = 1),
       acc1 AS (SELECT * FROM sel1)"""
    for (k <- 2 to SEL) {
      val p = k - 1
      sb ++= s""",
       cand$k AS (SELECT pool.doc_id, pool.rel_fix FROM pool
                 LEFT JOIN acc$p ON pool.doc_id = acc$p.doc_id
                 WHERE acc$p.doc_id IS NULL),
       ms$k AS (SELECT c.doc_id,
                  c.rel_fix * ${Mmr.WREL} - max(s.sim_fix) * ${Mmr.WDIV} AS score_fix
                FROM cand$k c
                JOIN psim s ON s.a = c.doc_id
                JOIN acc$p ON acc$p.doc_id = s.b
                GROUP BY c.doc_id, c.rel_fix),
       sel$k AS (SELECT $k AS step, doc_id, score_fix FROM (
                   SELECT doc_id, score_fix, row_number() OVER
                     (ORDER BY score_fix DESC, doc_id) AS rn FROM ms$k)
                 WHERE rn = 1),
       acc$k AS (SELECT * FROM acc$p UNION ALL SELECT * FROM sel$k)"""
    }
    sb ++= s"""
       SELECT CAST(a.step AS BIGINT) AS step, a.doc_id AS doc_id,
              pool.r_rrf, pool.r_maxsim, a.score_fix
       FROM acc$SEL a JOIN pool ON a.doc_id = pool.doc_id
       ORDER BY step"""
    sb.toString
  }

  val all: Seq[Q] = Seq(xRagPipeline)
}
