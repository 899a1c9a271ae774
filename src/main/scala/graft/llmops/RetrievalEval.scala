package graft.llmops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Q

/** Retrieval evaluation — the IR-metrics harness a pipeline runs to
  * decide whether a retriever is good enough to ship (and the missing
  * third leg beside the retrievers themselves — q34/x_ivfpq/x_bm25 —
  * and their fusion x_rrf_fusion): per query, against a ground-truth
  * relevance set, grade the ranked list.
  *
  * Relevance here is the label column of the embeddings table (the
  * x_knn_label convention: same label = relevant, self excluded);
  * the ranked list is the exact cosine top-K (q34's scorer). Metrics
  * per probe, all exact integers:
  *
  *   n_rel          — relevant candidates in the corpus
  *   hits_at_k      — relevant results inside the top-K
  *   first_rel_rank — rank of the first relevant result (0 = none)
  *   rr_fix         — reciprocal rank as the exact integer
  *                    RR_SCALE // first_rel_rank (0 = none); mean
  *                    over probes = MRR, computable downstream
  *
  * Scale posture: the probe set is fixed and broadcast; ranking is the
  * q34 shape (per-probe TakeOrdered, similarity never output); metric
  * aggregation is per-probe counts over K rows. The eval NEVER needs a
  * corpus-wide window.
  */
object RetrievalEval {

  val NPROBE = 10
  val TOPK = 10
  val RR_SCALE = 1000000L

  val xRetrievalEval = Q(
    "x_retrieval_eval",
    s"""WITH ranked AS (SELECT probe_id, p_label, vec_id, label, rn FROM (
           SELECT p.vec_id AS probe_id, p.label AS p_label,
                  e.vec_id AS vec_id, e.label,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY round(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]),
                        CAST(p.embedding AS DOUBLE[])), 6) DESC,
                      e.vec_id) AS rn
           FROM embeddings e
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $NPROBE) p
           WHERE e.vec_id <> p.vec_id)
         WHERE rn <= $TOPK),
       rel AS (SELECT p.vec_id AS probe_id, CAST(count(*) AS BIGINT) AS n_rel
               FROM embeddings e
               JOIN (SELECT * FROM embeddings WHERE vec_id < $NPROBE) p
                 ON e.label = p.label AND e.vec_id <> p.vec_id
               GROUP BY 1),
       m AS (SELECT probe_id,
               CAST(sum(CASE WHEN label = p_label THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
               CAST(coalesce(min(CASE WHEN label = p_label THEN rn END), 0) AS BIGINT) AS first_rel_rank
             FROM ranked GROUP BY 1)
       SELECT m.probe_id AS probe_id, rel.n_rel, m.hits_at_k, m.first_rel_rank,
              CASE WHEN m.first_rel_rank > 0
                   THEN $RR_SCALE // m.first_rel_rank ELSE 0 END AS rr_fix
       FROM m JOIN rel ON m.probe_id = rel.probe_id
       ORDER BY probe_id""") { (s, dir) =>
    val e = VectorSearch.embeddingsBase(s, dir)
      .select("vec_id", "label", "n_emb")
    val probes = VectorSearch.probes(e, NPROBE, col("label").as("p_label"),
      col("n_emb").as("p_emb"))
    val ranked = VectorSearch.topPerProbe(e.join(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("p_label"), col("vec_id"), col("label"),
        round(VectorSearch.dot(col("n_emb"), col("p_emb")), 6).as("sim")), TOPK)
    val rel = e.join(broadcast(probes), col("label") === col("p_label"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_rel"))
    val m = ranked.groupBy(col("probe_id"))
      .agg(
        sum(when(col("label") === col("p_label"), 1L).otherwise(0L))
          .as("hits_at_k"),
        coalesce(min(when(col("label") === col("p_label"), col("rank"))), lit(0))
          .cast("long").as("first_rel_rank"))
    m.join(rel, "probe_id")
      .select(col("probe_id"), col("n_rel"), col("hits_at_k"),
        col("first_rel_rank"),
        when(col("first_rel_rank") > 0,
          expr(s"$RR_SCALE div first_rel_rank")).otherwise(0L).as("rr_fix"))
      .orderBy("probe_id")
  }

  /** X — ranking-quality AUC: the full-ranking complement to
    * x_retrieval_eval's set-at-k metrics. Per probe, every candidate is
    * ranked by the q34 scorer (round(cos, 6) DESC, vec_id — a
    * deterministic TOTAL order, so ranks are distinct integers and the
    * Mann-Whitney U statistic needs no tie convention):
    *
    *   U = Σ_{relevant} rank_asc − n₁(n₁+1)/2,  AUC = U / (n₁·n₂)
    *
    * with rank_asc counted from the WORST end so larger U = better
    * ranking; U is an exact integer and AUC ships as the exact floor
    * fixed-point (1e6·U) // (n₁·n₂). Same relevance convention as
    * x_retrieval_eval / x_knn_label (same label, self excluded).
    *
    * Scale posture: ranking is one per-probe window over the broadcast
    * probe set; U is a filtered sum — no pairwise positive×negative
    * comparison ever materializes (that product is what U *counts*,
    * not what it computes).
    */
  val xAucEval = Q(
    "x_auc_eval",
    s"""WITH ranked AS (
           SELECT p.vec_id AS probe_id,
                  CAST(e.label = p.label AS INTEGER) AS rel,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY round(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]),
                        CAST(p.embedding AS DOUBLE[])), 6) ASC,
                      e.vec_id DESC) AS rank_asc
           FROM embeddings e
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $NPROBE) p
           WHERE e.vec_id <> p.vec_id),
       m AS (SELECT probe_id,
               CAST(sum(rel) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(rel) AS BIGINT) AS n_neg,
               CAST(sum(CASE WHEN rel = 1 THEN rank_asc ELSE 0 END)
                 AS BIGINT) AS rank_sum
             FROM ranked GROUP BY probe_id)
       SELECT probe_id, n_pos, n_neg,
              rank_sum - n_pos * (n_pos + 1) // 2 AS u_stat,
              (1000000 * (rank_sum - n_pos * (n_pos + 1) // 2))
                // (n_pos * n_neg) AS auc_fix
       FROM m ORDER BY probe_id""") { (s, dir) =>
    val e = VectorSearch.embeddingsBase(s, dir)
      .select("vec_id", "label", "n_emb")
    val probes = VectorSearch.probes(e, NPROBE, col("label").as("p_label"),
      col("n_emb").as("p_emb"))
    val ranked = e.join(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"),
        (col("label") === col("p_label")).cast("int").as("rel"),
        round(VectorSearch.dot(col("n_emb"), col("p_emb")), 6).as("sim"),
        col("vec_id"))
      .withColumn("rank_asc", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").asc, col("vec_id").desc)))
    ranked.groupBy(col("probe_id"))
      .agg(sum(col("rel")).cast("long").as("n_pos"),
        (count(lit(1)) - sum(col("rel"))).cast("long").as("n_neg"),
        sum(when(col("rel") === 1, col("rank_asc")).otherwise(0L))
          .cast("long").as("rank_sum"))
      .select(col("probe_id"), col("n_pos"), col("n_neg"),
        expr("rank_sum - n_pos * (n_pos + 1) div 2").as("u_stat"),
        expr("(1000000 * (rank_sum - n_pos * (n_pos + 1) div 2)) div (n_pos * n_neg)")
          .as("auc_fix"))
      .orderBy("probe_id")
  }

  /** X — NDCG@K: the graded-position complement to hits@k/MRR/AUC.
    * Per probe, DCG = Σ_{i≤K} rel_i · w_i with the standard discount
    * w_i = 1/log2(i+1); IDCG places the min(K, n_rel) relevant docs at
    * the top. Both engines compute the K discount weights as
    * round(1e6/log2(i+1)) over the CONSTANT ranks 1..K (data-independent
    * — the ndcg-weights margin family), after which DCG, IDCG, and
    * ndcg_fix = 1e6·DCG // IDCG are pure integers.
    *
    * Scale posture: identical to x_retrieval_eval (broadcast probes,
    * per-probe window over candidates, K-row metric agg) plus one
    * K-row constant frame joined to the per-probe relevant counts.
    */
  val xNdcgEval = Q(
    "x_ndcg_eval",
    s"""WITH ranked AS (SELECT probe_id, p_label, label, rn FROM (
           SELECT p.vec_id AS probe_id, p.label AS p_label, e.label,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY round(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]),
                        CAST(p.embedding AS DOUBLE[])), 6) DESC,
                      e.vec_id) AS rn
           FROM embeddings e
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $NPROBE) p
           WHERE e.vec_id <> p.vec_id)
         WHERE rn <= $TOPK),
       dcg AS (SELECT probe_id,
               CAST(sum(CASE WHEN label = p_label
                    THEN CAST(round(1000000 / log2(rn + 1)) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS dcg_fix
             FROM ranked GROUP BY 1),
       rel AS (SELECT p.vec_id AS probe_id, CAST(count(*) AS BIGINT) AS n_rel
               FROM embeddings e
               JOIN (SELECT * FROM embeddings WHERE vec_id < $NPROBE) p
                 ON e.label = p.label AND e.vec_id <> p.vec_id
               GROUP BY 1),
       ranks AS (SELECT unnest(generate_series(1, $TOPK)) AS i),
       idcg AS (SELECT probe_id,
               CAST(sum(CAST(round(1000000 / log2(i + 1)) AS BIGINT))
                    AS BIGINT) AS idcg_fix
             FROM rel CROSS JOIN ranks
             WHERE i <= least($TOPK, n_rel) GROUP BY 1)
       SELECT dcg.probe_id AS probe_id, rel.n_rel, dcg.dcg_fix,
              idcg.idcg_fix,
              (1000000 * dcg.dcg_fix) // idcg.idcg_fix AS ndcg_fix
       FROM dcg JOIN rel ON dcg.probe_id = rel.probe_id
       JOIN idcg ON dcg.probe_id = idcg.probe_id
       ORDER BY probe_id""") { (s, dir) =>
    val e = VectorSearch.embeddingsBase(s, dir)
      .select("vec_id", "label", "n_emb")
    val probes = VectorSearch.probes(e, NPROBE, col("label").as("p_label"),
      col("n_emb").as("p_emb"))
    val w = round(lit(1000000.0) / log2(col("rank") + 1)).cast("long")
    val dcg = VectorSearch.topPerProbe(e.join(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("p_label"), col("vec_id"), col("label"),
        round(VectorSearch.dot(col("n_emb"), col("p_emb")), 6).as("sim")), TOPK)
      .groupBy(col("probe_id"))
      .agg(sum(when(col("label") === col("p_label"), w).otherwise(0L))
        .as("dcg_fix"))
    val rel = e.join(broadcast(probes), col("label") === col("p_label"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_rel"))
    val ranks = s.range(1, TOPK + 1).select(col("id").as("i"))
    val idcg = rel.crossJoin(broadcast(ranks))
      .filter(col("i") <= least(lit(TOPK.toLong), col("n_rel")))
      .groupBy(col("probe_id"))
      .agg(sum(round(lit(1000000.0) / log2(col("i") + 1)).cast("long"))
        .as("idcg_fix"))
    dcg.join(rel, "probe_id").join(idcg, "probe_id")
      .select(col("probe_id"), col("n_rel"), col("dcg_fix"),
        col("idcg_fix"),
        expr("(1000000 * dcg_fix) div idcg_fix").as("ndcg_fix"))
      .orderBy("probe_id")
  }

  val all: Seq[Q] = Seq(xRetrievalEval, xAucEval, xNdcgEval)
}
