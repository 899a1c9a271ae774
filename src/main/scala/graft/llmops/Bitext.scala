package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Q

/** Margin-based bitext mining — the parallel-corpus construction step
  * of multilingual LLM pipelines (Artetxe & Schwenk 2019's margin
  * criterion; the CCMatrix/LASER recipe): candidate source/target
  * pairs are scored not by raw cosine (which hubness corrupts) but by
  * the RATIO of the pair's cosine to the mean of each side's k-nearest
  * cosines:
  *
  *   margin(x, y) = cos(x, y) / (Σ_{z∈NNk(x)} cos(x,z)/2k
  *                             + Σ_{z∈NNk(y)} cos(y,z)/2k)
  *
  * The "target language" side is synthesized deterministically (the
  * x_url_canon discipline): tgt_i = normalize(src_i + 0.1·src_{i+1}) —
  * a planted alignment with controlled cross-talk, the same expression
  * on both engines. Mining must recover i↔i.
  *
  * Cross-engine: every cosine is rounded ONCE to a 1e6 fixed-point
  * integer (margin-audited); the margin is then the exact integer
  * comparison/value (2k·SCALE·cos_fix) // (knn_sum_fwd + knn_sum_bwd)
  * — no further float exists. The per-source argmax ties to the lower
  * target id.
  *
  * Scale posture: the dense source×target grid here is the
  * verification-sized spelling; at corpus scale the candidate grid
  * comes from the IVF/PQ index (x_ivfpq_search) exactly as CCMatrix
  * mines through FAISS — the margin arithmetic, kNN normalizers, and
  * selection are unchanged. The kNN normalizers run as bounded-heap
  * TopKByScore aggregations (map-side partial top-K — the shuffle
  * carries ≤ K rows per group per partition, never the grid) and the
  * per-source selection is a max-of-struct aggregation; the grid never
  * meets a window (spelling A/B measured in docs/SCALING.md).
  */
object Bitext {

  val K = 4            // neighborhood size for the margin normalizer
  val SCALE = 1000000L
  val MARGIN_TH = 1400000L // mined iff margin ≥ 1.40 (fixed-point) —
                           // measured dead zone: aligned ≥ 1.774,
                           // unaligned ≤ 1.166 at sf0.01

  /** Grid-pair ceiling for the shared-exchange shape (see the adaptive
    * choice in xBitextMine): measured crossover bracket [50M, 200M]
    * pairs on the 128 GiB box — share wins at 50M (22.8 vs 35.9 s),
    * loses 2.7× at 200M (224 vs 82 s, the exchange spills).
    */
  val SHARE_MAX_PAIRS = 100000000L

  /** (src vec_id, tgt vec_id, cos_fix) — the dense candidate grid over
    * normalized source embeddings and the synthesized target side — and
    * the embeddings count the target synthesis takes (callers size the
    * grid from it instead of counting the base again).
    */
  def grid(s: SparkSession, dir: String): (DataFrame, Long) = {
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "emb")
    val n = e.count()
    val nxt = e.select((col("vec_id") - 1 + n) % n as "vec_id",
      col("emb").as("emb_next"))
    // materialized BEFORE the cross join: HOF expressions (zip_with/
    // aggregate) are interpreted, not codegen'd, and an un-materialized
    // projection collapses into the join — re-normalizing the target
    // vector once PER PAIR instead of once per target (measured 6.9 s →
    // sub-second at sf0.1)
    val tgt = e.join(nxt, "vec_id")
      .filter(col("vec_id") % 2 === 0)
      .withColumn("mix", expr("zip_with(emb, emb_next, (a, b) -> a + 0.1 * b)"))
      .select(col("vec_id").as("tgt_id"), expr(
        """transform(mix, x -> x / sqrt(aggregate(zip_with(mix, mix,
           (a, b) -> a * b), 0D, (ac, v) -> ac + v)))""").as("t_emb"))
      .localCheckpoint()
    // the embeddings table is one parquet file => the cross join would
    // otherwise run (and checkpoint) in a single task; spread the
    // stream side so the 64-dim dot grid and everything downstream
    // parallelizes
    val src = VectorSearch.embeddingsBase(s, dir)
      .select(col("vec_id").as("src_id"), col("n_emb").as("s_emb"))
      .repartition(s.sparkContext.defaultParallelism)
    (src.crossJoin(tgt)
      .select(col("src_id"), col("tgt_id"),
        round(VectorSearch.dot(col("s_emb"), col("t_emb")) * SCALE)
          .cast("long").as("cos_fix")), n)
  }

  val xBitextMine = Q(
    "x_bitext_mine",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM e),
       s AS (SELECT vec_id AS src_id,
               list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS se
             FROM e),
       tmix AS (SELECT a.vec_id AS tgt_id,
                  list_transform(range(1, len(a.emb) + 1),
                    i -> a.emb[i] + 0.1 * b.emb[i]) AS mix
                FROM e a JOIN e b ON b.vec_id = (a.vec_id + 1) % (SELECT cnt FROM n)
                WHERE a.vec_id % 2 = 0),
       t AS (SELECT tgt_id,
               list_transform(mix, x -> x / sqrt(list_dot_product(mix, mix))) AS te
             FROM tmix),
       g AS (SELECT src_id, tgt_id,
               CAST(round($SCALE * list_dot_product(se, te)) AS BIGINT) AS cos_fix
             FROM s CROSS JOIN t),
       fwd AS (SELECT src_id, CAST(sum(cos_fix) AS BIGINT) AS knn_fwd FROM (
                 SELECT src_id, cos_fix, row_number() OVER (PARTITION BY src_id
                   ORDER BY cos_fix DESC, tgt_id) AS rn FROM g)
               WHERE rn <= $K GROUP BY src_id),
       bwd AS (SELECT tgt_id, CAST(sum(cos_fix) AS BIGINT) AS knn_bwd FROM (
                 SELECT tgt_id, cos_fix, row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cos_fix DESC, src_id) AS rn FROM g)
               WHERE rn <= $K GROUP BY tgt_id),
       m AS (SELECT g.src_id, g.tgt_id,
               (2 * $K * $SCALE * g.cos_fix) // (fwd.knn_fwd + bwd.knn_bwd) AS margin_fix
             FROM g JOIN fwd ON g.src_id = fwd.src_id
                    JOIN bwd ON g.tgt_id = bwd.tgt_id),
       best AS (SELECT src_id, tgt_id, margin_fix FROM (
                  SELECT src_id, tgt_id, margin_fix,
                    row_number() OVER (PARTITION BY src_id
                      ORDER BY margin_fix DESC, tgt_id) AS rn FROM m)
                WHERE rn = 1)
       SELECT src_id, tgt_id, margin_fix FROM best
       WHERE margin_fix >= $MARGIN_TH ORDER BY src_id""") { (s, dir) =>
    // Zero windows over the grid, margin arithmetic and argmax as pure
    // codegen'd expressions. Spelling A/B at sf0.1's 2M-pair grid: three
    // window passes ~7 s; a literal-map lookup inside an interpreted HOF
    // 290 s; this shape, dominated by the grid's own dot products.
    // One dot-grid evaluation for all three consumers: the grid ends in
    // a shuffle ON src_id, so AQE's stage reuse materializes the 3-long-
    // column exchange output once (~50 MB at sf0.1) and every consumer
    // reads it — the fwd kNN and the final argmax even aggregate
    // shuffle-free (hashpartitioning(src_id) already satisfied; broadcast
    // joins preserve it); only the bwd kNN re-shuffles by tgt_id. The
    // alternatives, interleaved idle at sf0.1 (min of 3 reps, two runs
    // each): no sharing = three ~2 s BNLJ+dot evals, 4.9-5.5 s total;
    // MEMORY_ONLY cache = one eval + columnar write, 4.25-4.94 s; this
    // exchange-reuse shape 3.66-4.09 s — no cache-write overhead, no
    // CacheBin bookkeeping.
    // SCALE-ADAPTIVE sharing (round-15 decade measurement): the shared
    // exchange materializes the FULL grid (3 long columns), and the bwd
    // normalizer re-shuffles it by tgt_id — 2 full-grid shuffles that
    // spill once the grid outgrows memory, while the dot grid itself is
    // an embarrassingly parallel BNLJ scan that costs seconds to
    // re-evaluate. Same-window A/B on replicated lakes:
    // 2M pairs share 7.2 s vs re-eval 6.2 (tie; idle round-14 bracket
    // 3.7-4.1 vs 4.9-5.5 — share wins), 50M pairs 22.8 vs 35.9 (share
    // wins), 200M pairs 224 vs 82 (share LOSES 2.7x — the 6 GB exchange
    // thrashes). Crossover sits between 50M and 200M pairs on this
    // 128 GiB box; the bracket midpoint is the threshold. On a cluster
    // the same rule holds per-executor-memory — the point is that the
    // choice is SIZED, not fixed. Below the threshold every consumer
    // reads the one materialized exchange; above it each of the three
    // consumers re-evaluates the grid and the TopKByScore aggs shuffle
    // only <=K rows per group per partition.
    val (g0, n) = grid(s, dir)
    val sharedGrid = n * (n / 2) <= SHARE_MAX_PAIRS
    val g = if (sharedGrid) g0.repartition(col("src_id")) else g0
    // kNN sums via the bounded-heap TopKByScore aggregator (the
    // x_domain_cap machinery): map-side partial top-K, so each shuffle
    // carries ≤ K rows per group per partition — never the full grid
    // (the collect_list spelling shuffled all |src|·|tgt| structs twice)
    val topk = graft.functions.TopKByScore.topK(K)
    def knnSum(keyCol: String, idCol: String) =
      g.groupBy(col(keyCol))
        .agg(topk(col("cos_fix"), col(idCol)).as("kept"))
        .select(col(keyCol), expr(
          "aggregate(kept, 0L, (ac, x) -> ac + x.score)")
          .as(s"knn_$keyCol"))
    val fwd = knnSum("src_id", "tgt_id")
    val bwd = knnSum("tgt_id", "src_id")
    // argmax via the native two-long-buffer declarative aggregate: the
    // max(struct) spelling planned a SortAggregate pair (full sort of the
    // 2M-row margin grid, partial AND final — measured ~3 s of the 5 s
    // wall at sf0.1); ArgMaxPair keeps the same (margin DESC, tgt
    // ASC) tie rule inside codegen'd HashAggregate with map-side partials
    g.join(broadcast(fwd), "src_id").join(broadcast(bwd), "tgt_id")
      .select(col("src_id"),
        expr(s"(2 * $K * $SCALE * cos_fix) div (knn_src_id + knn_tgt_id)")
          .as("m"),
        (-col("tgt_id")).as("nt"))
      .groupBy(col("src_id"))
      .agg(graft.functions.ArgMax.argmaxLongPair(col("m"), col("nt"))
        .as("best"))
      .filter(col("best.m") >= MARGIN_TH)
      .select(col("src_id"), (-col("best.nt")).as("tgt_id"),
        col("best.m").as("margin_fix"))
      .orderBy("src_id")
  }

  val all: Seq[Q] = Seq(xBitextMine)
}
