package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, Scratch, Tables => T}

/** Similarity search over an embedding column (SURVEY.md §2b Q34 + the
  * training-data-ops extensions).
  *
  * Everything is expressed with higher-order functions (zip_with +
  * aggregate) — codegen-friendly, no UDF deserialization per row.
  *
  * Scale posture: brute-force top-k is a broadcast of the probe set over
  * a single scan of the corpus (embarrassingly parallel, no shuffle until
  * the per-probe top-k), which is the right *exact* plan at any corpus
  * size for small probe sets. The IVF variant below bounds scanned rows
  * per probe for the large-probe-set / low-latency regime.
  */
object VectorSearch {

  /** dot(a, b) — codegen'd native expression (graft.functions). */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayOps.dot(a, b)

  /** Shared normalized-embeddings base — (vec_id, label, emb [double],
    * n_emb [unit-normalized]) — scanned, cast and normalized ONCE per data
    * dir, cached, and reused by every vector query (q34, x_embed_nn,
    * x_embed_neardup, x_ann_ivf). The cached InMemoryRelation prunes
    * unused columns at read, so the extra width is free to queries that
    * don't need `emb`/`label`.
    *
    * Round 3's vector-query timings silently relied on an ACCIDENTAL
    * CacheManager plan collision (two queries' private frames happened to
    * canonicalize identically, so the second reused the first's cache);
    * round 4 added a column to one of them, broke the collision, and every
    * vector query paid its own scan+normalize again. Deliberate sharing is
    * also the scale posture: the normalized base is the vector index's one
    * full pass over the corpus, and every search derives from it.
    */
  private val bases =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  def embeddingsBase(s: SparkSession, dir: String): DataFrame = {
    // entries of stopped sessions are dead weight (each pins the dead
    // session's plan state) — sweep them on every lookup; the map holds
    // at most live-sessions × dirs entries
    bases.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    val key = (System.identityHashCode(s), dir)
    // eq-check the memoized frame's session: identityHashCode can recur
    // after the original session is stopped and collected, and a frame
    // bound to a dead session must never be served
    bases.get(key).filter(_.sparkSession eq s).getOrElse {
      // NOTE (round 16): repartitioning this base to defaultParallelism
      // was tried and REVERTED — it parallelizes the few compute-heavy
      // consumers but taxes the many small/iterative ones (coreset,
      // semdedup, embed_neardup ran 1.5-2.5x slower paying 32 tasks per
      // tiny job). Heavy consumers spread the base themselves at their
      // own entry (silhouette grid, bitext grid, the ivfpq append batch).
      val df = T(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"),
          graft.functions.ArrayOps.l2normalize(col("embedding")).as("n_emb"))
        .cache()
      // the bin key is SESSION-scoped: two live sessions sharing one
      // CacheManager must not unpersist each other's base generation
      graft.core.CacheBin.swap(
        s"vector.base:${System.identityHashCode(s)}:$dir", df)
      bases.put(key, df)
      df
    }
  }

  /** cosine(a, b) — mirrors DuckDB's dot/(sqrt(na)*sqrt(nb)) shape. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Q34 — exact top-10 cosine neighbors for probe vectors (vec_id < 5).
    * Similarity is used only for ranking (with vec_id tiebreak), never
    * output. The two engines compute cosine with structurally different
    * arithmetic (normalize-then-dot here vs dot-over-norms in DuckDB),
    * so the ranking similarity is rounded to 6 decimals on BOTH sides:
    * a last-ulp arithmetic difference can then only flip the top-10 when
    * a true value lands within ~1 ulp of a rounding boundary (residual
    * risk, not zero — the x_bm25 caveat).
    */
  val q34 = Q(
    "q34_vector_topk",
    """SELECT probe_id, rn AS rank, vec_id, label FROM (
         SELECT p.vec_id AS probe_id, e.vec_id AS vec_id, e.label,
                row_number() OVER (
                  PARTITION BY p.vec_id
                  ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                        CAST(p.embedding AS DOUBLE[])), 6) DESC,
                           e.vec_id) AS rn
         FROM embeddings e
         CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p)
       WHERE rn <= 10 ORDER BY probe_id, rank""") { (s, dir) =>
    // normalize once per vector => each candidate pair costs ONE dot
    val e = embeddingsBase(s, dir).select("vec_id", "label", "n_emb")
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("n_emb").as("p_emb"))
    val scored = e.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(dot(col("n_emb"), col("p_emb")), 6).as("sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"))
      .orderBy("probe_id", "rank")
  }

  /** X — embedding-cosine near-dup: each vector's single nearest neighbor
    * (rank-1 by cosine, self excluded), computed EXACTLY through IVF
    * candidate lists instead of an all-pairs join.
    *
    * Algorithm (branch-and-bound over coarse-quantizer lists — the exact
    * IVF search used by ball-tree / FAISS-style indexes):
    *   1. k-means assigns each vector to its nearest centroid list `cid`
    *   2. phase 1 joins each vector only with its OWN list (pair count is
    *      Σ|list|², not n²) → per-vector seed best `s0`
    *   3. for normalized u in list c, q·u ≤ q·c + ||u−c||, so a list whose
    *      bound q·c + r_c (r_c = max member residual) can't beat s0 is
    *      pruned; phase 2 scans only the surviving lists
    *   4. global max over both phases → the exact nearest neighbor
    *
    * Pair count is bounded by list sizes of un-pruned lists; correctness
    * never depends on the quantizer (a bad centroid only weakens pruning).
    * A vector in a singleton list has no seed (s0 = −2 ≤ min cosine), so
    * it falls back to scanning every list — the exact-fallback path.
    *
    * Measured regimes (docs/SCALING.md): up to ~10⁵ vectors the all-pairs
    * codegen'd dot kernel is FASTER (dense compute; high-dim radius
    * bounds prune weakly), and this plan degrades gracefully to ≤2×
    * brute. What the bounded pair stream buys at 10⁹ vectors is shuffle
    * feasibility — n² pairs can't be materialized as a join stream at
    * all — and the truly-large-scale path is the approximate IVF
    * (x_ann_ivf) with this exact search as its correctness anchor.
    */
  val xNearestNeighbor = Q(
    "x_embed_nn",
    """SELECT vec_id, nn_id FROM (
         SELECT a.vec_id, b.vec_id AS nn_id,
                row_number() OVER (
                  PARTITION BY a.vec_id
                  ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                  CAST(b.embedding AS DOUBLE[])) DESC,
                           b.vec_id) AS rn
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
       WHERE rn = 1 ORDER BY vec_id""") { (s, dir) =>
    val e = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
    // the one shared per-dir quantizer (memoized): a private per-call
    // k-means pays driver-synchronized iteration jobs on every run for a
    // quantizer that only moves pruning strength, never the exact answer
    exactNearestNeighbor(e, quantizer = Some(sharedCentroids(s, dir)))
      .orderBy("vec_id")
  }

  /** Library form of the exact branch-and-bound NN search: input needs
    * (vec_id, n_emb [normalized]); returns (vec_id, nn_id). Pass a
    * precomputed `quantizer` (e.g. sharedCentroids) to skip the private
    * k-means — centroid quality only affects pruning strength, never
    * correctness (the radius bound adapts to loose clusters).
    */
  def exactNearestNeighbor(e: DataFrame, k: Int = 16,
      quantizer: Option[Array[Array[Double]]] = None): DataFrame = {
    // one Lloyd iteration when self-quantizing: quality only moves
    // pruning strength (see above)
    val centroids = quantizer.getOrElse(kmeansCentroids(e, k, 1))
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    // nearest-centroid assignment; keep csim to derive the list radius.
    // cached: feeds the radius agg, both join sides, and the bound scan
    val own = e
      .select(col("vec_id"), col("n_emb"),
        posexplode(centLit).as(Seq("cid", "cent")))
      .withColumn("csim", dot(col("n_emb"), col("cent")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("n_emb"), col("cid"), col("csim"))
      .cache()
    graft.core.CacheBin.swap("exact_nn.own", own)
    // r_c = max ||u − c|| over list members = max sqrt(2 − 2·csim).
    // csim can exceed 1.0 by an ulp (e.g. a singleton list whose centroid
    // IS its member) — clamp before the sqrt, else the radius is NaN and
    // NaN > everything under Spark's max, silently pruning every bound.
    val radius = own.groupBy(col("cid"))
      .agg(max(sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("csim")))).as("r"))
    val members = own.select(col("cid"), col("vec_id").as("m_id"),
      col("n_emb").as("m_emb"))
    def best(pairs: DataFrame): DataFrame = pairs
      .filter(col("vec_id") =!= col("m_id"))
      .select(col("vec_id"),
        dot(col("n_emb"), col("m_emb")).as("sim"),
        (-col("m_id")).as("neg_id"))
    // phase 1: own-list seed (map-side argmax reduction per vector —
    // ArgMaxDoubleLongPair keeps it in codegen'd HashAggregate; the
    // max(struct) spelling silently planned SortAggregate)
    val argmax = graft.functions.ArgMax.argmaxDoubleLong _
    val seed = best(own.join(members, Seq("cid")))
      .groupBy(col("vec_id"))
      .agg(argmax(col("sim"), col("neg_id")).as("seed"))
    // phase 2: only lists whose upper bound can beat the seed
    val survivors = own.join(seed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_emb"), col("cid").as("own_cid"),
        coalesce(col("seed.m"), lit(-2.0)).as("s0"))
      .select(col("vec_id"), col("n_emb"), col("own_cid"), col("s0"),
        posexplode(centLit).as(Seq("cid", "cent")))
      .join(radius, Seq("cid"))
      // 1e-9 absorbs float rounding in the bound; sims differ at >=1e-3
      .filter(col("cid") =!= col("own_cid") &&
        dot(col("n_emb"), col("cent")) + col("r") + lit(1e-9) > col("s0"))
      .select(col("cid"), col("vec_id"), col("n_emb"))
    best(survivors.join(members, Seq("cid")))
      .union(seed.select(col("vec_id"),
        col("seed.m").as("sim"), col("seed.nt").as("neg_id")))
      .groupBy(col("vec_id"))
      .agg(argmax(col("sim"), col("neg_id")).as("best"))
      .select(col("vec_id"), (-col("best.nt")).cast("long").as("nn_id"))
  }

  /** X — embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine(a, b) ≥ τ — the embedding-space member of the dedup family
    * (exact md5 / MinHash / SimHash / n-gram Jaccard live in Dedup,
    * MinHashLSH, SimHash).
    *
    * EXACT, not approximate: vectors are assigned to k coarse-quantizer
    * lists, and only list PAIRS whose upper bound can reach τ are joined.
    * For unit u = c_a + du (|du| ≤ r_a) and v = c_b + dv (|dv| ≤ r_b):
    *   u·v = c_a·c_b + c_a·dv + du·c_b + du·dv
    *       ≤ c_a·c_b + r_b + r_a + r_a·r_b,
    * so a list pair with bound < τ provably holds no qualifying pair and
    * is skipped without scanning — same branch-and-bound family as
    * x_embed_nn, but bounding PAIRS of lists (Σ|a||b| over surviving
    * pairs, never n²). Pruning strength scales with quantizer quality
    * (more/tighter lists at bigger corpora); correctness never depends on
    * it. The survived-pair table is k²-bounded driver state, like the
    * centroid table itself.
    *
    * Verification computes cosine from the RAW double arrays with the
    * same dot/(sqrt·sqrt) shape DuckDB's list_cosine_similarity uses, so
    * both engines round identically at the threshold.
    */
  val COSINE_TAU = 0.4

  val xEmbedNearDup = Q(
    "x_embed_neardup",
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) >= $COSINE_TAU
       ORDER BY a_id, b_id""") { (s, dir) =>
    cosineNearDupPairs(s, dir).orderBy("a_id", "b_id")
  }

  /** All (a_id < b_id) pairs with cosine ≥ COSINE_TAU — the exact
    * list-pair-bounded computation behind x_embed_neardup, shared with
    * x_semdedup (survivor selection is a pure composition on top).
    *
    * Deliberately NOT memoized as a whole: the shared INPUTS are (the
    * embeddings base, the quantizer — both per-dir memos), but the pair
    * join itself re-executes per call. A result-level memo would make
    * x_embed_neardup's bench reps count a cached frame — the recorded
    * time would measure nothing and a regression in this path could
    * never trip the gate. Queries' bench numbers measure their own
    * marginal work over the shared bases; here that work IS the join.
    */
  def cosineNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val raw = embeddingsBase(s, dir).select("vec_id", "emb", "n_emb")
    val k = ANN_K
    // the one shared quantizer per data dir (2 Lloyd iterations —
    // quality only moves pruning strength, never the exact answer)
    val centroids = sharedCentroids(s, dir)
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    val own = raw
      .select(col("vec_id"), col("emb"), col("n_emb"),
        posexplode(centLit).as(Seq("cid", "cent")))
      .withColumn("csim", dot(col("n_emb"), col("cent")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("emb"), col("cid"), col("csim"))
      .cache()
    graft.core.CacheBin.swap("x_embed_neardup.own", own)
    // per-list radius r_c = max ||u − c||; k rows — driver-side like the
    // centroid table. Clamp 2 − 2·csim at 0 before the sqrt: csim > 1 by
    // an ulp (singleton list = its own centroid) would make the radius NaN,
    // NaN wins max, and every bound test on that list silently fails —
    // missing pairs despite the EXACT contract.
    val radii: Map[Int, Double] = own.groupBy(col("cid"))
      .agg(max(sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("csim")))).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def cdot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val surviving = for {
      a <- 0 until k; b <- a until k
      ra = radii.getOrElse(a, 0.0); rb = radii.getOrElse(b, 0.0)
      if radii.contains(a) && radii.contains(b) &&
        cdot(centroids(a), centroids(b)) + ra + rb + ra * rb + 1e-9 >= COSINE_TAU
    } yield (a, b)
    import s.implicits._
    val allowed = surviving.toDF("a_cid", "b_cid")
    // spread the stream side of the pair verification: the cached `own`
    // frame coalesces to one tiny-bytes partition (cached-plan AQE,
    // round 16), but the candidate-pair cosine verification downstream
    // is compute-heavy — without this the whole bounded pair join ran
    // single-task (x_embed_neardup 0.5 → 1.9 s, x_semdedup 0.8 → 2.3 s)
    val x = own.select(col("cid").as("a_cid"), col("vec_id").as("x_id"),
      col("emb").as("x_emb"))
      .repartition(s.sparkContext.defaultParallelism)
    val y = own.select(col("cid").as("b_cid"), col("vec_id").as("y_id"),
      col("emb").as("y_emb"))
    x.join(broadcast(allowed), Seq("a_cid"))
      .join(y, Seq("b_cid"))
      // same-list pairs once via id order; cross-list pairs appear exactly
      // once in the (a_cid ≤ b_cid) enumeration, any id order
      .filter(col("a_cid") =!= col("b_cid") || col("x_id") < col("y_id"))
      .filter(cosine(col("x_emb"), col("y_emb")) >= COSINE_TAU)
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
  }

  /** X — semantic-dedup survivors (the SemDeDup decision applied with the
    * suite's min-id convention): keep a vector iff NO lower-id vector is
    * cosine-similar at τ — i.e. drop the b-side of every exact pair. A
    * pure composition over cosineNearDupPairs, so unlike SemDeDup's
    * within-cluster approximation the answer is EXACT and the DuckDB
    * NOT-EXISTS oracle spells the identical predicate. At scale the pair
    * stream is the list-pair-bounded one, never n².
    */
  val xSemDedup = Q(
    "x_semdedup",
    s"""SELECT e.vec_id FROM embeddings e
       WHERE NOT EXISTS (
         SELECT 1 FROM embeddings a
         WHERE a.vec_id < e.vec_id
           AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])) >= $COSINE_TAU)
       ORDER BY vec_id""") { (s, dir) =>
    val ids = embeddingsBase(s, dir).select(col("vec_id"))
    val losers = cosineNearDupPairs(s, dir)
      .select(col("b_id").as("vec_id")).distinct()
    ids.join(losers, Seq("vec_id"), "left_anti").orderBy("vec_id")
  }

  /** X — embedding-based eval-set decontamination: drop every TRAINING
    * vector cosine-similar (≥ COSINE_TAU) to ANY vector of a held-out
    * BENCHMARK split (vec_id % 10 == 0 — 10% of the corpus, the eval-set
    * role). This is the semantic sibling of x_ngram_contamination:
    * verbatim-overlap decontamination catches quoted benchmark text;
    * this catches paraphrases a verbatim 8-gram check misses.
    *
    * The plan is deliberately DIFFERENT from x_semdedup's all-pairs
    * list-bounded shape: an eval set is tiny relative to the corpus
    * (thousands of rows vs billions), so the 100 TB-correct plan is a
    * BROADCAST nested-loop LeftAnti — benchmark embeddings ship to every
    * executor once, each training partition streams its rows against
    * them with the codegen'd dot product, and NOTHING shuffles: no LSH
    * build, no IVF index, no pair exchange. Cost is n_train·n_bench·dim
    * multiply-adds, embarrassingly parallel, zero driver state. The
    * similarity predicate is the same cosine() spelling and the same
    * COSINE_TAU as x_embed_neardup/x_semdedup, so the measured
    * cross-engine threshold margins of those queries cover every pair
    * this one evaluates (cross-split pairs are a subset of all pairs).
    */
  val xSemanticDecontam = Q(
    "x_semantic_decontam",
    s"""SELECT e.vec_id FROM embeddings e
       WHERE e.vec_id % 10 <> 0
         AND NOT EXISTS (
           SELECT 1 FROM embeddings b
           WHERE b.vec_id % 10 = 0
             AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) >= $COSINE_TAU)
       ORDER BY vec_id""") { (s, dir) =>
    val base = embeddingsBase(s, dir)
    val train = base.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("emb"))
    val bench = base.filter(col("vec_id") % 10 === 0)
      .select(col("emb").as("b_emb"))
    train.join(broadcast(bench), cosine(col("emb"), col("b_emb")) >= COSINE_TAU,
        "left_anti")
      .select(col("vec_id")).orderBy("vec_id")
  }

  /** Deterministic distributed k-means over normalized vectors (cosine
    * k-means: assignment by max dot, centroids re-normalized). The only
    * driver-side state is the k×dim centroid table — standard for any
    * Spark k-means; all per-vector work is distributed.
    */
  def kmeansCentroids(
      normalized: DataFrame, k: Int, iterations: Int): Array[Array[Double]] = {
    val spark = normalized.sparkSession
    import spark.implicits._
    // deterministic init: the k lowest-id vectors
    var centroids: Array[Array[Double]] = normalized
      .orderBy("vec_id").limit(k)
      .select(col("n_emb")).as[Array[Double]].collect()

    for (_ <- 1 to iterations) {
      val centLit = typedLit(centroids.map(_.toSeq).toSeq)
      val assigned = normalized
        .select(col("vec_id"), col("n_emb"),
          posexplode(centLit).as(Seq("cid", "cent")))
        .select(col("vec_id"), col("n_emb"),
          dot(col("n_emb"), col("cent")).as("sim"), (-col("cid")).as("neg"))
        .groupBy(col("vec_id"), col("n_emb"))
        .agg(graft.functions.ArgMax.argmaxDoubleLong(
          col("sim"), col("neg")).as("best"))
        .select(col("n_emb"), (-col("best.nt")).cast("int").as("cid"))
      val sums = assigned
        .select(col("cid"), posexplode(col("n_emb")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .as[(Int, Int, Double)].collect()
      val next = centroids.clone()
      sums.groupBy(_._1).foreach { case (cid, rows) =>
        val c = new Array[Double](rows.length)
        rows.foreach { case (_, pos, m) => c(pos) = m }
        val norm = math.sqrt(c.map(x => x * x).sum)
        next(cid) = if (norm == 0) c else c.map(_ / norm)
      }
      centroids = next
    }
    centroids
  }

  /** X — IVF ANN: k-means coarse quantizer (k=16 lists), vectors assigned
    * to their nearest centroid list; each probe scans only its nprobe=2
    * closest lists. The point is the scale path: per-probe scanned rows
    * drop by ~k/nprobe ×, and the quantizer itself is distributed with
    * only the k×dim centroid table on the driver.
    *
    * Approximate results aren't oracle-expressible, so the hash-checked
    * contract is the DERIVED FACT that matters: per-probe recall@10
    * against the exact twin (computed Spark-side from the same data)
    * meets the bar. A quantizer or search regression flips recall_ok to
    * false and the hash goes red — a genuine correctness gate, not a
    * rows-only count.
    *
    * nprobe is the recall/SLO knob: this corpus is a near-uniform sphere
    * (no planted neighbor structure — measured max cosine ≈ 0.5), the
    * hardest regime for IVF, so meeting the recall SLO costs a larger
    * nprobe than a clustered corpus would. Measured at all three SFs:
    * nprobe=2 dips to 0.7; nprobe=6 holds ≥ 0.9 everywhere.
    * The bar is 0.85 — "at most one of the true top-10 missed" — leaving
    * one-hit slack under the measured 0.9 floor so last-ulp centroid
    * noise (float sums are partition-order-dependent) can't flip the
    * hash between runs. The engine picks the knob to meet the SLO and
    * says so, rather than shipping a fast setting that silently misses
    * neighbors.
    */
  val ANN_RECALL_BAR = 0.85

  val xAnnIvf = Q(
    "x_ann_ivf",
    """SELECT vec_id AS probe_id, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 5 ORDER BY probe_id""") { (s, dir) =>
    ivfRecall(s, dir, ANN_NPROBE)
      .select(col("probe_id"), col("recall_ok")).orderBy("probe_id")
  }

  val ANN_K = 16
  val ANN_NPROBE = 6

  /** IVF ANN search + recall@10 audit vs the exact twin (one frame:
    * probe_id, recall, recall_ok).
    */
  def ivfRecall(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    // the shared cached base: k-means revisits the vectors twice per
    // iteration, and the exact twin re-scans them once more
    val e = embeddingsBase(s, dir).select("vec_id", "label", "n_emb")
    // 2 Lloyd iterations: quantizer quality only moves recall (measured
    // unchanged at nprobe=6), and each iteration costs two
    // driver-synchronized jobs; the centroid table is shared with
    // x_embed_cluster (sharedCentroids) — one quantizer per data dir
    val centLit = typedLit(sharedCentroids(s, dir).map(_.toSeq).toSeq)

    def topClusters(n: Int): DataFrame = e
      .select(col("vec_id"), col("label"), col("n_emb"),
        posexplode(centLit).as(Seq("cid", "cent")))
      .withColumn("csim", dot(col("n_emb"), col("cent")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crank") <= n)
      .drop("cent", "csim", "crank")

    val lists = topClusters(1) // every vector lives in exactly one list
    val probes = topClusters(nprobe).filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("n_emb").as("p_emb"), col("cid"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val approx = lists.join(broadcast(probes), Seq("cid"))
      .select(col("probe_id"), col("vec_id"),
        dot(col("n_emb"), col("p_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("vec_id"))
    // exact twin over the same cached vectors: broadcast probes × one scan
    val exact = e.crossJoin(broadcast(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("n_emb").as("p_emb"))))
      .select(col("probe_id"), col("vec_id"),
        dot(col("n_emb"), col("p_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("probe_id", "vec_id"), "inner")
      .groupBy(col("probe_id"))
      .agg((count(lit(1)) / 10.0).as("recall"))
    // left join from the probe set so a zero-recall probe still reports
    // (as false) instead of vanishing from the output
    e.filter(col("vec_id") < 5).select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("recall"), lit(0.0)).as("recall"),
        (coalesce(col("recall"), lit(0.0)) >= ANN_RECALL_BAR).as("recall_ok"))
      .orderBy("probe_id")
  }

  /** Per-vector cluster assignments from a distributed k-means over the
    * normalized embeddings: (vec_id, cid, own_sim). The library form of
    * the quantizer behind x_ann_ivf, exposed because semantic-dedup and
    * mixture-balancing pipelines (SemDeDup-style) consume the ASSIGNMENT
    * itself, not just the ANN search built on it. All per-vector work is
    * distributed; the only driver state is the k×dim centroid table.
    */
  def clusterAssignments(
      normalized: DataFrame, k: Int, iterations: Int): DataFrame =
    assignFromScored(
      scoreAgainstCentroids(normalized, kmeansCentroids(normalized, k, iterations)))

  /** (vec_id, cid, sim): every vector scored against every centroid —
    * one narrow pass; the shared first half of assignment, probing, and
    * the cluster gates.
    */
  def scoreAgainstCentroids(
      normalized: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    normalized
      .select(col("vec_id"), col("n_emb"),
        posexplode(centLit).as(Seq("cid", "cent")))
      .select(col("vec_id"), col("cid"),
        dot(col("n_emb"), col("cent")).as("sim"))
  }

  /** argmax over a scored frame: (vec_id, cid, own_sim), lowest cid wins
    * ties — THE assignment spelling (x_embed_cluster and
    * clusterAssignments all go through here; a tie-break drift between
    * private copies would silently invalidate the probe-calibrated gate
    * bars).
    */
  def assignFromScored(scored: DataFrame): DataFrame =
    scored
      .select(col("vec_id"), col("sim"), (-col("cid")).as("neg"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.ArgMax.argmaxDoubleLong(
        col("sim"), col("neg")).as("best"))
      .select(col("vec_id"), (-col("best.nt")).cast("int").as("cid"),
        col("best.m").as("own_sim"))

  /** Shared k-means centroid table per (session, dir): x_ann_ivf and
    * x_embed_cluster run the IDENTICAL quantizer (K=16, 2 Lloyd
    * iterations, deterministic lowest-id init) over the same cached
    * base — computing it once per data dir halves the driver-synchronized
    * iteration jobs, and keeps both queries' assignments consistent (the
    * ANN lists ARE the cluster assignment). Bounded driver state: k×dim
    * doubles. Same sweep/eq-check discipline as embeddingsBase.
    */
  private val centroidMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), (SparkSession, Array[Array[Double]])]

  def sharedCentroids(s: SparkSession, dir: String): Array[Array[Double]] = {
    centroidMemo.filterInPlace((_, v) => !v._1.sparkContext.isStopped)
    val key = (System.identityHashCode(s), dir)
    centroidMemo.get(key).filter(_._1 eq s).map(_._2).getOrElse {
      val e = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
      val c = kmeansCentroids(e, ANN_K, 2)
      centroidMemo.put(key, (s, c))
      c
    }
  }

  /** Gate bars for x_embed_cluster, chosen with slack under the measured
    * values at sf0.001/0.01/0.1 (see scaladoc below) so last-ulp centroid
    * noise (float sums are partition-order-dependent) can't flip the
    * hash between runs.
    */
  val CLUSTER_NONEMPTY_FLOOR = 10
  val CLUSTER_BALANCE_CAP = 0.5
  val CLUSTER_COHESION_MARGIN = 0.05

  /** X — embedding clustering as a first-class operator (the SemDeDup /
    * data-mixing workhorse): k-means assignment over the shared
    * normalized base, audited in one output row.
    *
    * `n_vecs` is a REAL cross-engine check: Spark outputs the sum of
    * cluster sizes and the oracle counts the embeddings table — a
    * dropped or duplicated vector anywhere in the assignment pipeline
    * hash-fails. The booleans are derived-fact gates in the x_ann_ivf
    * style (the quantities aren't SQL-expressible, the MEASURED margins
    * are): every cluster floor, no cluster above half the corpus
    * (quantizer collapse), and mean own-centroid similarity beating the
    * mean all-centroid similarity by a real margin (clustering actually
    * separates the sphere). Measured at the three SFs:
    * nonempty 16/16, max share 0.070–0.084, cohesion margin 0.262–0.319
    * vs bars 10, 0.5, 0.05.
    */
  val xEmbedCluster = Q(
    "x_embed_cluster",
    s"""SELECT CAST(count(*) AS BIGINT) AS n_vecs, TRUE AS nonempty_ok,
          TRUE AS balance_ok, TRUE AS cohesion_ok
        FROM embeddings""") { (s, dir) =>
    val e = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
    val scored = scoreAgainstCentroids(e, sharedCentroids(s, dir))
    val assigned = assignFromScored(scored)
    // one pass over the assignment (per-cluster rollup feeding a 1-row
    // final agg), one narrow re-score for the all-centroid mean
    val stats = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("sz"), sum(col("own_sim")).as("ssim"))
      .agg(sum(col("sz")).as("n_vecs"), count(lit(1)).as("nonempty"),
        max(col("sz")).as("max_sz"),
        (sum(col("ssim")) / sum(col("sz"))).as("own_avg"))
    val allAvg = scored.agg(avg(col("sim")).as("all_avg"))
    stats.crossJoin(broadcast(allAvg))
      .select(col("n_vecs"),
        (col("nonempty") >= CLUSTER_NONEMPTY_FLOOR).as("nonempty_ok"),
        (col("max_sz").cast("double") / col("n_vecs") <= CLUSTER_BALANCE_CAP)
          .as("balance_ok"),
        (col("own_avg") - col("all_avg") >= CLUSTER_COHESION_MARGIN)
          .as("cohesion_ok"))
  }

  /** X — k-NN majority-vote labeling: each probe (vec_id < 5) takes the
    * majority label of its 10 nearest neighbors by cosine (self
    * excluded), ties broken by the smaller label — the classic
    * label-propagation / weak-supervision primitive over an embedded
    * corpus. Reuses the shared normalized base and the codegen'd dot;
    * similarity is ranking-only (vec_id tiebreak), votes and the final
    * argmax are integers, so nothing float-valued crosses engines. The
    * two engines compute cosine with structurally different arithmetic
    * (normalize-then-dot here vs dot-over-norms in DuckDB), so the
    * ranking similarity is ROUNDED to 6 decimals on both sides before
    * the rn<=10 cutoff: a sub-ulp arithmetic difference can then only
    * flip the neighbor set when a true value lands within ~1 ulp of a
    * rounding boundary (residual, not zero — the x_bm25 caveat). Same
    * broadcast-probe single-scan shape as q34: exact at any corpus size
    * for bounded probe sets; large probe sets route through the IVF
    * lists (x_ann_ivf) instead.
    */
  val xKnnLabel = Q(
    "x_knn_label",
    """WITH nb AS (
         SELECT p.vec_id AS probe_id, e.label, e.vec_id,
                row_number() OVER (
                  PARTITION BY p.vec_id
                  ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                        CAST(p.embedding AS DOUBLE[])), 6) DESC,
                           e.vec_id) AS rn
         FROM embeddings e
         CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p
         WHERE e.vec_id <> p.vec_id),
       v AS (SELECT probe_id, label, count(*) AS c FROM nb
             WHERE rn <= 10 GROUP BY probe_id, label)
       SELECT probe_id, label AS pred_label, c AS n_votes FROM (
         SELECT probe_id, label, c,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY c DESC, label) AS rr
         FROM v)
       WHERE rr = 1 ORDER BY probe_id""") { (s, dir) =>
    val e = embeddingsBase(s, dir).select("vec_id", "label", "n_emb")
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("n_emb").as("p_emb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val votes = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(dot(col("n_emb"), col("p_emb")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    votes
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("c").desc, col("label"))))
      .filter(col("rr") === 1)
      .select(col("probe_id"), col("label").as("pred_label"), col("c").as("n_votes"))
      .orderBy("probe_id")
  }

  // ---- Product quantization (PQ): the memory-side half of billion-scale
  // ANN (IVF above is the pruning-side half; together they are the
  // IVF-PQ layout). Each vector's 64 dims split into PQ_BLOCKS
  // subvectors; per block a PQ_K-centroid codebook is k-means-trained
  // over coarse-quantizer RESIDUALS, and a vector's code is its
  // per-block nearest centroid ids — PQ_BLOCKS bytes (8 bits at K=256,
  // the FAISS-standard width) instead of 64 doubles: 8 bytes/vector vs
  // 512, the 64x compression that lets a 10^9-vector index live in
  // cluster RAM. Search is ADC (asymmetric distance): the probe stays
  // exact, dot(p, v) ~ dot(p, coarseCent[v]) + sum_b dot(p_b,
  // codebook[b, code_b(v)]) — per-probe lookup tables, never a
  // decompression of the corpus. Measured on this corpus:
  // 4-bit codebooks leave ~0.07 per-block reconstruction error on these
  // wide-cluster synthetic embeddings (ADC noise swamps the ~0.01-0.05
  // top-10 similarity gaps — recall 0.3-0.7); 8-bit residual codebooks
  // cut it to ~0.018 and the two-stage search below clears 0.9+.

  val PQ_BLOCKS = 8
  val PQ_K = 256
  /** ADC shortlist size for the exact re-rank stage: production PQ
    * search is two-stage — ADC selects a shortlist from the compressed
    * codes, then the shortlist ONLY (6.4x the answer size here) is
    * re-ranked with exact arithmetic; the corpus-wide scan never touches
    * raw vectors. Bare ADC top-10 without the re-rank loses the
    * near-ties quantization distortion reorders.
    */
  val PQ_SHORTLIST = 64
  /** Measured two-stage recall@10: 0.9-1.0 at every SF (worst probe 0.9
    * at sf0.1); bar set with slack under the measurement, the
    * ANN_RECALL_BAR contract.
    */
  val PQ_RECALL_BAR = 0.8
  /** Lloyd iterations for codebook training — one melted job per
    * iteration regardless of PQ_BLOCKS, so this is cheap to raise;
    * reconstruction error stops improving around here.
    */
  val PQ_ITERS = 6

  /** Per-vector subvector stream (vec_id, block, sub) — block width
    * derived from the stored dim so a lake regeneration with a new dim
    * cannot silently mis-slice.
    */
  def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, ${PQ_BLOCKS - 1}),
            b -> slice(n_emb, b * (size(n_emb) div ${PQ_BLOCKS}) + 1,
                       size(n_emb) div ${PQ_BLOCKS}))"""))
      .as(Seq("block", "sub")))

  /** All PQ_BLOCKS codebooks trained in ONE melted Lloyd pass per
    * iteration (blocks ride the same frame, keyed (block, cid)) instead
    * of PQ_BLOCKS separate k-means runs — the driver-synchronized job
    * count per iteration is 1, not PQ_BLOCKS. Nearest-by-L2 via the
    * codegen'd dot: argmin |s-c|^2 = argmax(dot(s,c) - |c|^2/2).
    * Deterministic init (per block: subvectors of the PQ_K lowest
    * vec_ids); empty clusters keep their previous centroid. Driver
    * state: PQ_BLOCKS x PQ_K x (dim/PQ_BLOCKS) doubles.
    */
  def pqCodebooks(e: DataFrame, iterations: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val sub = subvectors(e)
    // deterministic STRIDE init, seeded from the vec_id DOMAIN instead
    // of a global rank (round-8 ADVICE item): when ids are dense
    // (max − min + 1 == n, true of this lake at every SF), the seed ids
    // min + i·stride are EXACTLY the evenly-spaced rows round 8's
    // row_number window selected — same seeds, same codebooks, same
    // measured recalls — for the price of one 1-row (min, max, count)
    // agg and a broadcast-join fetch, replacing the full per-block
    // corpus sort through PQ_BLOCKS tasks plus a separate count() job.
    // Sparse-id fallback: the PQ_K smallest by xxhash64(vec_id) via a
    // bounded TakeOrderedAndProject top-K — pseudo-random spread with
    // no window either; measured one recall hit weaker on this corpus
    // (worst probe 0.8 vs 0.9 at nprobe=6), which is why the dense
    // path keeps the stride seeds.
    val (mn, mx, nVec) = e
      .agg(min(col("vec_id")), max(col("vec_id")), count(lit(1)))
      .as[(Long, Long, Long)].head()
    val stride = math.max(1L, nVec / PQ_K)
    val seedIds: Seq[(Long, Int)] =
      if (mx - mn + 1 == nVec)
        (0 until math.min(PQ_K.toLong, nVec).toInt)
          .map(i => (mn + i * stride, i))
      else
        e.select(col("vec_id"), xxhash64(col("vec_id")).as("hk"))
          .orderBy(col("hk"), col("vec_id")).limit(PQ_K)
          .as[(Long, Long)].collect()
          .sortBy(t => (t._2, t._1)).map(_._1).zipWithIndex.toSeq
    var cents: Seq[(Int, Int, Seq[Double])] = sub
      .join(broadcast(seedIds.toDF("vec_id", "cid")), "vec_id")
      .select(col("block"), col("cid"), col("sub"))
      .as[(Int, Int, Seq[Double])].collect().toSeq
    def centDf(): DataFrame = cents
      .map { case (b, c, v) => (b, c, v, v.map(x => x * x).sum) }
      .toDF("block", "cid", "cent", "cn2")
    for (_ <- 1 to iterations) {
      val sums = assignCodes(sub, centDf())
        .join(sub, Seq("vec_id", "block"))
        .select(col("block"), col("cid"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("block"), col("cid"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .as[(Int, Int, Int, Double)].collect()
      val next = scala.collection.mutable.Map(cents.map {
        case (b, c, v) => (b, c) -> v }.toSeq: _*)
      sums.groupBy(r => (r._1, r._2)).foreach { case ((b, c), rows) =>
        val v = new Array[Double](rows.map(_._3).max + 1)
        rows.foreach { case (_, _, pos, m) => v(pos) = m }
        next((b, c)) = v.toSeq
      }
      cents = next.toSeq.map { case ((b, c), v) => (b, c, v) }
    }
    centDf()
  }

  /** Per-(vector, block) nearest codebook entry: (vec_id, block, cid).
    * The corpus-side PQ code table — PQ_BLOCKS rows per vector here for
    * joinability; bit-packs to 4 bytes/vector in a storage layout.
    */
  def assignCodes(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("block"))
      .select(col("vec_id"), col("block"),
        (dot(col("sub"), col("cent")) - col("cn2") / 2).as("score"),
        (-col("cid")).as("neg"))
      .groupBy(col("vec_id"), col("block"))
      .agg(graft.functions.ArgMax.argmaxDoubleLong(
        col("score"), col("neg")).as("best"))
      .select(col("vec_id"), col("block"),
        (-col("best.nt")).cast("int").as("cid"))

  /** ADC top-k + recall against the exact twin, x_ann_ivf's derived-fact
    * pattern. Scale posture: the probe LUT is (probes x PQ_BLOCKS x
    * PQ_K) rows behind a broadcast; the scoring join touches the CODE
    * table (PQ_BLOCKS small rows per vector, the compressed index — the
    * raw vectors are never read at search time), and the per-(probe,
    * vec) sum gets full map-side combine because a vector's PQ_BLOCKS
    * code rows co-locate in its partition.
    */
  /** Coarse quantizer pass shared with IVF: (vec_id, ccid, and the
    * RESIDUAL n_emb − coarseCentroid[ccid] exposed under the n_emb name
    * so the PQ machinery runs on residuals unchanged). Quantizing
    * residuals instead of raw vectors is the standard IVF-PQ layout
    * (FAISS's IndexIVFPQ); it also makes the code table immediately
    * IVF-partitionable (each list's codes share its centroid). Honest
    * measurement on THIS corpus: the shared coarse centroids are
    * L2-normalized (cosine k-means), so v − c keeps ~0.7 of a unit
    * vector's energy at the observed ~0.65 within-cluster cosine — the
    * residual layer is kept for the layout, and the recall win comes
    * from the 8-bit codebooks (measured: 0.088 per-block residual error
    * at K=16 vs 0.018 at K=256).
    */
  def coarseResiduals(s: SparkSession, dir: String, e: DataFrame)
      : DataFrame =
    coarseResidualsFrom(sharedCentroids(s, dir).map(_.toSeq).toSeq, e)

  /** Same pass against an EXPLICIT centroid table — the form the warm
    *-start / incremental path uses (centroids come from the persisted
    * index, not a fresh k-means).
    */
  def coarseResidualsFrom(cents: Seq[Seq[Double]], e: DataFrame)
      : DataFrame = {
    val centLit = typedLit(cents)
    // argmax carries only (sim, -ccid); the winning centroid is recovered
    // by O(1) literal-array index afterwards — carrying the ccent array
    // through the old max(struct) spelling both forced SortAggregate and
    // shuffled a 64-double payload per candidate row
    e.select(col("vec_id"), col("n_emb"),
        posexplode(centLit).as(Seq("ccid", "ccent")))
      .select(col("vec_id"), col("n_emb"),
        dot(col("n_emb"), col("ccent")).as("sim"), (-col("ccid")).as("neg"))
      .groupBy(col("vec_id"), col("n_emb"))
      .agg(graft.functions.ArgMax.argmaxDoubleLong(
        col("sim"), col("neg")).as("best"))
      .select(col("vec_id"), (-col("best.nt")).cast("int").as("ccid"),
        col("n_emb"))
      .withColumn("best_cent", element_at(centLit, col("ccid") + 1))
      .select(col("vec_id"), col("ccid"),
        expr("zip_with(n_emb, best_cent, (a, b) -> a - b)").as("n_emb"))
  }

  /** The built PQ index — (codebooks, code table with coarse cid) —
    * memoized per (session, dir) with the embeddingsBase discipline: an
    * index is built ONCE and searched many times; a bench rep or a
    * second query re-building codebooks from scratch would measure
    * index construction, not search.
    */
  private val pqMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), (DataFrame, DataFrame)]

  def pqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    pqMemo.filterInPlace((_, v) => !v._1.sparkSession.sparkContext.isStopped)
    val key = (System.identityHashCode(s), dir)
    pqMemo.get(key).filter(_._1.sparkSession eq s).getOrElse {
      val e = embeddingsBase(s, dir).select("vec_id", "n_emb")
      val resid = coarseResiduals(s, dir, e)
      val cb = pqCodebooks(resid.select("vec_id", "n_emb"), PQ_ITERS).cache()
      val codes = assignCodes(subvectors(resid.select("vec_id", "n_emb")), cb)
        .join(resid.select("vec_id", "ccid"), Seq("vec_id")).cache()
      graft.core.CacheBin.swap(
        s"pq.index:${System.identityHashCode(s)}:$dir", cb, codes)
      pqMemo.put(key, (cb, codes))
      (cb, codes)
    }
  }

  /** Stage 2 of every PQ-backed search + the recall audit, shared by
    * x_pq_recall and x_ivfpq_search: exact re-rank of the ADC shortlist
    * (touches probes × PQ_SHORTLIST raw vectors, never the corpus), the
    * exact brute-force twin, and the per-probe recall@10 report.
    */
  private def rerankAndRecall(
      e: DataFrame, short: DataFrame, bar: Double): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val approx = short
      .join(e, Seq("vec_id"))
      .join(broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("n_emb").as("q_emb"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        dot(col("n_emb"), col("q_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("vec_id"))
    val exact = e.crossJoin(broadcast(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("n_emb").as("p_emb"))))
      .select(col("probe_id"), col("vec_id"),
        dot(col("n_emb"), col("p_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("probe_id", "vec_id"), "inner")
      .groupBy(col("probe_id"))
      .agg((count(lit(1)) / 10.0).as("recall"))
    e.filter(col("vec_id") < 5).select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("recall"), lit(0.0)).as("recall"),
        (coalesce(col("recall"), lit(0.0)) >= bar).as("recall_ok"))
      .orderBy("probe_id")
  }

  /** Probe-side residual-codebook LUT: (probe_id, block, cid, psim) —
    * probes × PQ_BLOCKS × PQ_K rows behind a broadcast.
    */
  private def pqProbeLut(probeFrame: DataFrame, cb: DataFrame): DataFrame =
    subvectors(probeFrame)
      .select(col("vec_id").as("probe_id"), col("block"), col("sub"))
      .join(broadcast(cb), Seq("block"))
      .select(col("probe_id"), col("block"), col("cid"),
        dot(col("sub"), col("cent")).as("psim"))

  /** Probe-side coarse term dot(p, ccent): (probe_id, ccid, csim) —
    * probes × ANN_K rows.
    */
  private def pqCoarseLut(
      s: SparkSession, dir: String, probeFrame: DataFrame): DataFrame =
    pqCoarseLutFrom(sharedCentroids(s, dir).map(_.toSeq).toSeq, probeFrame)

  private def pqCoarseLutFrom(
      cents: Seq[Seq[Double]], probeFrame: DataFrame): DataFrame = {
    val centLit = typedLit(cents)
    probeFrame
      .select(col("vec_id").as("probe_id"), col("n_emb"),
        posexplode(centLit).as(Seq("ccid", "ccent")))
      .select(col("probe_id"), col("ccid"),
        dot(col("n_emb"), col("ccent")).as("csim"))
  }

  def pqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingsBase(s, dir).select("vec_id", "n_emb")
    val (cb, codes) = pqIndex(s, dir)
    // probe-side tables, both broadcast: the residual-codebook LUT
    // (probes x PQ_BLOCKS x PQ_K) and the coarse term dot(p, ccent)
    // (probes x ANN_K)
    val probeFrame = e.filter(col("vec_id") < 5)
    val lut = pqProbeLut(probeFrame, cb)
    val coarseLut = pqCoarseLut(s, dir, probeFrame)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    // stage 1: ADC shortlist off the compressed codes (no raw vectors):
    // sim ~ dot(p, ccent[v]) + sum_b dot(p_b, residCodebook[b, code_b])
    val short = codes.join(broadcast(lut), Seq("block", "cid"))
      .groupBy(col("probe_id"), col("vec_id"), col("ccid"))
      .agg(sum(col("psim")).as("rsim"))
      .join(broadcast(coarseLut), Seq("probe_id", "ccid"))
      .select(col("probe_id"), col("vec_id"),
        (col("rsim") + col("csim")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PQ_SHORTLIST)
      .select(col("probe_id"), col("vec_id"))
    rerankAndRecall(e, short, PQ_RECALL_BAR)
  }

  /** X — PQ compression + two-stage ADC search graded by recall against
    * the exact twin (derived-fact oracle, the x_ann_ivf contract):
    * 64x-compressed codes must still put >= PQ_RECALL_BAR of the true
    * top-10 in the re-ranked top-10 for every probe.
    */
  val xPqRecall = Q(
    "x_pq_recall",
    """SELECT vec_id AS probe_id, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 5 ORDER BY probe_id""") { (s, dir) =>
    pqRecall(s, dir).select(col("probe_id"), col("recall_ok")).orderBy("probe_id")
  }

  // ---- IVF-PQ: the two halves composed into the billion-vector layout.
  // x_ann_ivf prunes which lists are read; x_pq_recall compresses what a
  // list read costs; a production index (FAISS IndexIVFPQ) is their
  // COMPOSITION: probe the nprobe nearest coarse lists, ADC-score only
  // those lists' codes, exact re-rank the shortlist. Scanned codes per
  // probe = the probed lists' sizes — nprobe/nlists of the corpus on a
  // balanced quantizer (measured in ScaleProbe section `ivfpq`), at
  // 8 bytes/vector; the raw corpus is touched only for the
  // PQ_SHORTLIST-sized re-rank.

  /** nprobe for the composed search. The composition inherits BOTH
    * error sources (coarse prune can drop a list holding a true
    * neighbor; ADC mis-ranks near-ties, repaired only within the
    * shortlist), so recall was re-measured for the composed path, not
    * assumed from the halves. Measured (all three SFs):
    * nprobe=2 dips to 0.7, nprobe=4 to 0.7–0.8; nprobe=6 holds
    * worst-probe 0.9 everywhere — the same floor as bare PQ (0.9–1.0),
    * i.e. the prune costs at most nothing measurable once the shortlist
    * is 6.4× the answer size. Scanned-code fraction at nprobe=6:
    * 0.363–0.388 vs the ideal nprobe/nlists = 0.375 (quantizer balanced
    * within ±0.013 of ideal at every SF).
    */
  val IVFPQ_NPROBE = 6
  /** Same bar as the bare-PQ stage: measured composed floor is 0.9
    * (IVFPQ_NPROBE scaladoc); 0.8 leaves one-hit slack so last-ulp
    * centroid noise can't flip the hash.
    */
  val IVFPQ_RECALL_BAR = 0.8

  /** The pruned code stream behind x_ivfpq_search: codes of the nprobe
    * best coarse lists per probe, (probe_id, csim, vec_id, block, cid).
    * Exposed so ScaleProbe can count scanned codes — the quantity whose
    * ratio to the full code table IS the IVF-PQ claim (≈ nprobe/nlists).
    */
  def ivfpqScannedCodes(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = embeddingsBase(s, dir).select("vec_id", "n_emb")
    val (_, codes) = pqIndex(s, dir)
    val probed = pqCoarseLut(s, dir, e.filter(col("vec_id") < 5))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("csim").desc, col("ccid"))))
      .filter(col("crank") <= nprobe)
      .drop("crank")
    // the equi-join against the broadcast probed-list table IS the
    // prune: a code row is read once per probe that probes its list,
    // never for the (nlists - nprobe) unprobed lists
    codes.join(broadcast(probed), Seq("ccid"))
  }

  def ivfpqRecall(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = embeddingsBase(s, dir).select("vec_id", "n_emb")
    val (cb, codes) = pqIndex(s, dir)
    val lut = pqProbeLut(e.filter(col("vec_id") < 5), cb)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    // stage 1: ADC over the probed lists' codes ONLY. csim rides the
    // probed-list table (it was computed to RANK the lists), so the
    // coarse term costs no second join; max() collapses the constant.
    val short = ivfpqScannedCodes(s, dir, nprobe)
      .join(broadcast(lut), Seq("probe_id", "block", "cid"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg((sum(col("psim")) + max(col("csim"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PQ_SHORTLIST)
      .select(col("probe_id"), col("vec_id"))
    rerankAndRecall(e, short, IVFPQ_RECALL_BAR)
  }

  /** X — the composed IVF-PQ search graded by recall against the exact
    * twin (derived-fact oracle, the x_ann_ivf contract): coarse-prune to
    * nprobe lists, ADC over only those lists' 64×-compressed codes,
    * exact re-rank of the shortlist — and every probe must still recover
    * ≥ IVFPQ_RECALL_BAR of the true top-10.
    */
  val xIvfPqSearch = Q(
    "x_ivfpq_search",
    """SELECT vec_id AS probe_id, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 5 ORDER BY probe_id""") { (s, dir) =>
    ivfpqRecall(s, dir, IVFPQ_NPROBE)
      .select(col("probe_id"), col("recall_ok")).orderBy("probe_id")
  }

  // ---- IVF-PQ persistence + incremental extension: a real billion-
  // vector index is an ARTIFACT, not a session object — it survives
  // restart (codebooks/codes/centroids stored as parquet under the
  // lake) and absorbs new vector batches WITHOUT retraining (new
  // vectors are coarse-assigned to the stored centroids and PQ-coded
  // with the stored codebooks — FAISS's add-after-train contract).
  // Retraining per batch would be both wasteful (codebook training is
  // the expensive pass) and wrong (stored codes become stale against
  // new codebooks; the whole corpus would need re-coding).

  /** Stable per-lake path standing in for the lake's index prefix
    * (overwrite-mode writers, removed on JVM exit with the scratch root).
    */
  def indexPath(dir: String): String =
    Scratch.path(s"pqindex/${new java.io.File(dir).getName}")

  /** vec_id offset for the incremental batch (disjoint id space). */
  val INCR_OFFSET = 10000000L

  /** Write the built index as parquet: coarse centroids, per-block
    * residual codebooks, and the code table. Returns the index path.
    * Session-memoized per dir: the artifacts are deterministic, so the
    * second persisting query (x_semdedup_incremental after
    * x_ivfpq_incremental, or bench reps) reuses the stored files
    * instead of rewriting them.
    */
  private val persistMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]

  def persistPqIndex(s: SparkSession, dir: String): String = {
    val key = (System.identityHashCode(s), dir)
    persistMemo.get(key) match {
      case Some(p) if !s.sparkContext.isStopped => return p
      case _ => persistMemo.filterInPlace((k, _) => k._1 != key._1)
    }
    val path = persistPqIndexNow(s, dir)
    persistMemo.put(key, path)
    path
  }

  private def persistPqIndexNow(s: SparkSession, dir: String): String = {
    import s.implicits._
    val path = indexPath(dir)
    val (cb, codes) = pqIndex(s, dir)
    // the artifact writes land on disjoint paths — overlap the
    // independent ones (core.Par, guide §2.6). The codebook write runs
    // FIRST alone: codes derives from the (cached) cb, and a concurrent
    // first materialization of both caches would train the codebooks
    // twice. Centroids are driver rows already (sharedCentroids).
    val centRows = sharedCentroids(s, dir).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    graft.core.Par.run(
      () => codes.write.mode("overwrite").parquet(s"$path/codes"),
      () => centRows.toDF("ccid", "cent")
        .write.mode("overwrite").parquet(s"$path/coarse"))
    path
  }

  /** Warm start: load the persisted artifacts — no k-means, no codebook
    * training, no corpus scan. The returned frames read straight from
    * the stored parquet.
    */
  def loadPqIndex(s: SparkSession, path: String)
      : (Seq[Seq[Double]], DataFrame, DataFrame) = {
    import s.implicits._
    val cents = s.read.parquet(s"$path/coarse")
      .orderBy("ccid").select("cent")
      .as[Seq[Double]].collect().toSeq
    (cents, s.read.parquet(s"$path/codebooks"), s.read.parquet(s"$path/codes"))
  }

  /** Code rows for a NEW batch against a stored index: coarse-assign to
    * the stored centroids, PQ-code the residuals with the stored
    * codebooks. No training anywhere — two narrow passes over the batch
    * plus broadcast lookups, O(batch) regardless of corpus size.
    */
  def incrementalCodes(
      batch: DataFrame, cents: Seq[Seq[Double]], cb: DataFrame): DataFrame = {
    val resid = coarseResidualsFrom(cents, batch)
    assignCodes(subvectors(resid.select("vec_id", "n_emb")), cb)
      .join(resid.select("vec_id", "ccid"), Seq("vec_id"))
  }

  /** The deterministic "new crawl batch": one near-duplicate replica of
    * the corpus (0.999·v + 0.001·rotate(v), renormalized — the tight-
    * cluster regime ScaleProbe's clustered mode uses, and the HARD case
    * for an untouched quantizer: every new vector lands right on top of
    * an existing one, so the true top-10 of every probe is rewritten by
    * the batch).
    */
  def replicaBatch(s: SparkSession, dir: String): DataFrame = {
    // spread the batch over the slots: the cached base is one partition
    // (single fixture file), and the no-retrain coding pass downstream
    // (subvectors + 256-way code assignment per block) is the heavy
    // consumer that otherwise runs single-task (round 16)
    val e = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
      .repartition(s.sparkContext.defaultParallelism)
    val shifted = "concat(slice(n_emb, 2, size(n_emb) - 1), slice(n_emb, 1, 1))"
    e.select((col("vec_id") + lit(INCR_OFFSET)).as("vec_id"),
      graft.functions.ArrayOps.l2normalize(
        expr(s"zip_with(n_emb, $shifted, (a, b) -> 0.999*a + 0.001*b)"))
        .as("n_emb"))
  }

  /** nprobe for the incremental search: the merged corpus pairs every
    * base vector with a near-duplicate, so every pruned list that held
    * ONE true neighbor of some probe now hides TWO — the recall cost of
    * a coarse miss doubles. Measured: nprobe=6/8 dip to 0.8
    * (probe 3 at sf0.01 has its #9/#10 neighbors in a list ranked 10th
    * by csim — an intrinsic far-cluster neighbor, not a storage bug);
    * nprobe=10 plus the doubled shortlist below measures recall 1.0 on
    * every probe at every SF. The wider probe set is the price of searching a corpus
    * with systematic near-tie pairs; the single-corpus search keeps
    * nprobe=6.
    */
  val IVFPQ_INCR_NPROBE = 10
  /** Recall bar for the incremental search. Measured floor on the
    * merged corpus is 1.0 on every probe at every SF; 0.8
    * leaves two-hit slack under the measurement.
    */
  val IVFPQ_INCR_RECALL_BAR = 0.8

  /** The full persist → load → extend → search round trip behind
    * x_ivfpq_incremental:
    *
    *   1. build the index for `dir` (memoized) and WRITE it to parquet
    *   2. warm-start: load centroids/codebooks/codes back from storage
    *   3. code the new batch against the LOADED artifacts (no retrain)
    *      and APPEND its code rows to the stored code table
    *   4. re-read the extended code table and run the two-stage IVF-PQ
    *      search for the standard probes over the MERGED corpus
    *   5. grade per-probe recall@10 against the exact twin on the
    *      merged corpus
    *
    * Every stored artifact is load-bearing: a serialization bug in any
    * of the three tables (centroid order, codebook norms, code ids)
    * lands directly on the recall gate.
    */
  def ivfpqIncrementalRecall(s: SparkSession, dir: String): DataFrame = {
    // the eager steps below (index build + persist, memoized, so ~0 on
    // warm reps; load; batch append) are the bench record's build_s, the
    // lazy search its exec_s; the record's first-rep wall keeps the
    // one-time index cost
    val path = persistPqIndex(s, dir)
    val (cents, cbL, _) = loadPqIndex(s, path)
    val batch = replicaBatch(s, dir)
    incrementalCodes(batch, cents, cbL)
      .write.mode("overwrite").parquet(s"$path/codes_incr")
    // merged index = stored base codes + stored batch codes, both read
    // back from parquet (the restart-survival claim)
    val codesAll = s.read.parquet(s"$path/codes")
      .unionByName(s.read.parquet(s"$path/codes_incr"))
    val eAll = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
      .unionByName(batch)
    val probeFrame = eAll.filter(col("vec_id") < 5)
    val lut = pqProbeLut(probeFrame, cbL)
    val probed = pqCoarseLutFrom(cents, probeFrame)
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("csim").desc, col("ccid"))))
      .filter(col("crank") <= IVFPQ_INCR_NPROBE)
      .drop("crank")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val short = codesAll.join(broadcast(probed), Seq("ccid"))
      .join(broadcast(lut), Seq("probe_id", "block", "cid"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg((sum(col("psim")) + max(col("csim"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2 * PQ_SHORTLIST)
      .select(col("probe_id"), col("vec_id"))
    rerankAndRecall(eAll, short, IVFPQ_INCR_RECALL_BAR)
  }

  /** X — persisted + incrementally extended IVF-PQ (derived-fact
    * oracle, the x_ivfpq_search contract): after a storage round trip
    * and a no-retrain batch append, every probe must still recover
    * ≥ IVFPQ_INCR_RECALL_BAR of the true top-10 of the MERGED corpus.
    */
  val xIvfPqIncremental = Q(
    "x_ivfpq_incremental",
    """SELECT vec_id AS probe_id, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 5 ORDER BY probe_id""") { (s, dir) =>
    ivfpqIncrementalRecall(s, dir)
      .select(col("probe_id"), col("recall_ok")).orderBy("probe_id")
  }

  /** Flag-rate floor for the planted-duplicate half of
    * x_semdedup_incremental. Measured 1.0 at every SF (every replica is
    * flagged; see Round10Spec) — 0.95 leaves slack for a replica whose
    * perturbation crosses a coarse boundary AND whose own list holds no
    * other τ-similar vector (not observed on this lake).
    */
  val SEMDEDUP_INCR_DUP_BAR = 0.95
  /** Probe width for the dedup SCREEN — narrower than the search's
    * IVFPQ_INCR_NPROBE because the screen needs ANY τ-similar vector in
    * a probed list, not the full top-10. The measured trade (sf0.01):
    * PLANTED near-duplicates (the dedup target, cosine ≈ 1) flag 100%
    * at every SF already at nprobe=2; recall of ORGANIC borderline
    * pairs (τ = 0.4, NOT near-duplicates) climbs 0.50 / 0.67 / 0.80 /
    * 0.90 / 0.96 at nprobe 2/4/6/8/10 — the scan-fraction knob. 4
    * doubles the planted-dup safety margin while scanning 4/16 of the
    * corpus; a deployment screening for borderline similarity rather
    * than duplication raises it.
    */
  val SEMDEDUP_NPROBE = 4

  /** X — INCREMENTAL semantic dedup against the standing lake: the
    * embedding sibling of x_incremental_neardup (MinHash text) and
    * x_cdc_incremental (chunks), completing the trio. A new vector
    * batch — half planted near-duplicates of the corpus (replicaBatch),
    * half rotations of the same vectors (near-orthogonal controls) — is
    * screened against the PERSISTED coarse index: each batch vector
    * probes its IVFPQ_INCR_NPROBE nearest stored lists and exact-cosines
    * against only those lists' vectors (vec_ids from the stored code
    * table joined back to the corpus — the raw vectors never broadcast,
    * never all-pairs). A batch vector flags as duplicate iff some
    * probed-list vector is ≥ COSINE_TAU.
    *
    * The probed-list screen is approximate by construction (a true
    * neighbor can hide in an unprobed list), so the graded contract is
    * the derived-fact pair that matters operationally: the planted-dup
    * half must flag at ≥ SEMDEDUP_INCR_DUP_BAR (measured 1.0 — misses
    * would admit duplicates into the corpus), reported alongside the
    * exact integer flag counts per batch half.
    *
    * Scale posture: batch-sized coarse assignment (broadcast centroid
    * table), one equi-join against the probed lists' code rows, one
    * equi-join to fetch those vectors, a batch-keyed max — cost is
    * O(batch × probed-list sizes), independent of corpus size; the
    * standing corpus is touched only through the stored index.
    */
  val xSemDedupIncremental = Q(
    "x_semdedup_incremental",
    s"""SELECT 'control' AS half, CAST(count(*) AS BIGINT) AS n_batch, TRUE AS dup_rate_ok
       FROM embeddings
       UNION ALL
       SELECT 'replica' AS half, CAST(count(*) AS BIGINT) AS n_batch, TRUE AS dup_rate_ok
       FROM embeddings
       ORDER BY half""") { (s, dir) =>
    val flags = semDedupIncrementalFlags(s, dir)
    val halves = incrementalScreenBatch(s, dir)
      .select(col("vec_id").as("probe_id"),
        when(col("probe_id") < 2 * INCR_OFFSET, "replica")
          .otherwise("control").as("half"))
    halves.join(flags, Seq("probe_id"), "left")
      .groupBy(col("half"))
      .agg(count(lit(1)).as("n_batch"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
      .select(col("half"), col("n_batch"),
        when(col("half") === "replica",
          col("n_dup") >= col("n_batch") * SEMDEDUP_INCR_DUP_BAR)
          .otherwise(lit(true)).as("dup_rate_ok"))
      .orderBy("half")
  }

  /** The screening batch of x_semdedup_incremental: planted replicas
    * (ids +INCR_OFFSET) plus rotated near-orthogonal controls
    * (ids +2·INCR_OFFSET).
    */
  def incrementalScreenBatch(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
    val shifted = "concat(slice(n_emb, 2, size(n_emb) - 1), slice(n_emb, 1, 1))"
    val control = e.select((col("vec_id") + lit(2 * INCR_OFFSET)).as("vec_id"),
      graft.functions.ArrayOps.l2normalize(expr(shifted)).as("n_emb"))
    replicaBatch(s, dir).unionByName(control)
  }

  /** Per-batch-vector duplicate flags against the persisted index
    * (probe_id, dup ∈ {0,1}) — the probed-list screen shared by the Q
    * and the spec's precision/recall measurement. Flags use EXACT cosine
    * over the probed lists' vectors, so a flag is always a true
    * duplicate (precision 1 by construction); recall is what the spec
    * measures against brute force.
    */
  def semDedupIncrementalFlags(s: SparkSession, dir: String): DataFrame = {
    val path = persistPqIndex(s, dir)
    val (cents, _, codesL) = loadPqIndex(s, path)
    val e = embeddingsBase(s, dir).select(col("vec_id"), col("n_emb"))
    val batch = incrementalScreenBatch(s, dir)
    val probed = pqCoarseLutFrom(cents, batch)
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("csim").desc, col("ccid"))))
      .filter(col("crank") <= SEMDEDUP_NPROBE)
      .select(col("probe_id"), col("ccid"))
    // candidate corpus vectors = members of the probed lists (ids from
    // the STORED code table; one row per vector at block 0)
    val members = codesL.filter(col("block") === 0)
      .select(col("ccid"), col("vec_id").as("cand_id"))
    batch.select(col("vec_id").as("probe_id"), col("n_emb"))
      .join(probed, Seq("probe_id"))
      .join(members, Seq("ccid"))
      .join(e.select(col("vec_id").as("cand_id"), col("n_emb").as("c_emb")),
        Seq("cand_id"))
      .groupBy(col("probe_id"))
      .agg(max(when(dot(col("n_emb"), col("c_emb")) >= COSINE_TAU, 1L)
        .otherwise(0L)).as("dup"))
  }

  /** X — hard-negative mining: for each probe, the top-5 most cosine-
    * similar vectors carrying a DIFFERENT label — the negatives a
    * contrastive embedding trainer wants (near the anchor but wrong
    * class; random negatives are too easy to teach anything). Same
    * broadcast-probe exact scoring as q34 plus the label-disagreement
    * predicate pushed below the rank window, and the identical 6-decimal
    * ranking round. At corpus scale the scorer swaps for the IVF-PQ
    * shortlist like every other search in this file; the label filter
    * rides the candidate stream either way.
    */
  val xHardNegatives = Q(
    "x_hard_negatives",
    """SELECT probe_id, rn AS rank, vec_id, label FROM (
         SELECT p.vec_id AS probe_id, e.vec_id AS vec_id, e.label,
                row_number() OVER (
                  PARTITION BY p.vec_id
                  ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                        CAST(p.embedding AS DOUBLE[])), 6) DESC,
                           e.vec_id) AS rn
         FROM embeddings e
         CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p
         WHERE e.label <> p.label)
       WHERE rn <= 5 ORDER BY probe_id, rank""") { (s, dir) =>
    val e = embeddingsBase(s, dir).select("vec_id", "label", "n_emb")
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("n_emb").as("p_emb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(probes))
      .filter(col("label") =!= col("p_label"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(dot(col("n_emb"), col("p_emb")), 6).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"))
      .orderBy("probe_id", "rank")
  }

  // ---- Filtered (hybrid) ANN: attribute-constrained vector search ----
  // Production vector search is almost always metadata-constrained
  // ("results in my language", a date window, a source filter). Two
  // standard spellings over the same IVF-PQ index:
  //   PRE-filter — the predicate prunes CODE rows before ADC scoring
  //     (the attribute is a STORED column of the code table, exactly as
  //     a production index keeps filterable attributes beside the
  //     codes); scanned work ≈ selectivity × nprobe/nlists × corpus,
  //     and the shortlist is all-matching by construction.
  //   POST-filter — the unfiltered search over-fetches a k′-sized
  //     shortlist and filters afterwards; no index change needed, but
  //     recall decays when k′ × selectivity < k (the shortlist fills
  //     with non-matching near neighbors). Measured on this corpus
  //     (docs/SCALING.md): at 10% selectivity the unfiltered
  //     k′ = 64 shortlist collapses to worst-probe 0.2 at sf0.1;
  //     k′ ≈ 2.5 × k/selectivity = 256 restores ≥ 0.8.

  /** The constraint: each probe restricts results to its OWN label (the
    * "my language" shape — per-probe predicate, 10% selective here).
    */
  private def probeConstraints(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("n_emb").as("q_emb"))

  /** Exact filtered twin + per-probe hit accounting, the rerankAndRecall
    * contract under a per-probe predicate: ground truth = exact cosine
    * top-10 among label-matching vectors; recall denominator
    * k_true = min(10, #matching) (a 5-matching corpus slice can only
    * ever yield 5 hits). Returns (probe_id, strategy, hits, k_true); the
    * graded query reduces it to the integer cross-multiplied bar.
    */
  private def filteredRecallStats(e: DataFrame, short: DataFrame,
      strategy: String): DataFrame = {
    val probes = probeConstraints(e)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val approx = short
      .join(e, Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .filter(col("label") === col("p_label")) // no-op for the pre-filter arm
      .select(col("probe_id"), col("vec_id"),
        dot(col("n_emb"), col("q_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("vec_id"))
    val exact = e
      .join(broadcast(probes), e("label") === probes("p_label"))
      .select(col("probe_id"), col("vec_id"),
        dot(col("n_emb"), col("q_emb")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("vec_id"))
    val kTrue = exact.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k_true"))
    val hits = approx.join(exact, Seq("probe_id", "vec_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    probes.select(col("probe_id"))
      .join(kTrue, Seq("probe_id"), "left")
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), lit(strategy).as("strategy"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("k_true"), lit(0L)).as("k_true"))
  }

  /** The probed coarse lists per probe (probe_id, ccid, csim), shared by
    * both arms and by the FANN scanned-codes accounting in ScaleProbe.
    */
  private[llmops] def probedLists(
      s: SparkSession, dir: String, nprobe: Int): DataFrame =
    pqCoarseLut(s, dir,
      embeddingsBase(s, dir).select("vec_id", "n_emb").filter(col("vec_id") < 5))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("csim").desc, col("ccid"))))
      .filter(col("crank") <= nprobe)
      .drop("crank")

  /** Pre-filter arm's scanned code stream: label-matching codes of the
    * probed lists ONLY — the count of these rows vs the unfiltered
    * ivfpqScannedCodes IS the pre-filter claim (≈ selectivity ×). The
    * label joins in from the corpus here; a production index stores it
    * as a code-table column (one narrow attribute beside 8 code bytes).
    */
  private def filteredScannedCodes(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = embeddingsBase(s, dir)
    val (_, codes) = pqIndex(s, dir)
    val probedL = probedLists(s, dir, nprobe)
      .join(broadcast(probeConstraints(e)
        .select(col("probe_id"), col("p_label").as("label"))), Seq("probe_id"))
    codes.join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .join(broadcast(probedL), Seq("ccid", "label"))
  }

  /** ADC shortlist for the filtered-search arms, one point of the
    * (nprobe, k′, strategy) surface: scan the probed lists' codes —
    * label-pre-filtered or not — score by ADC, keep the top `shortK` per
    * probe.
    */
  private def fannShortlist(s: SparkSession, dir: String,
      nprobe: Int, shortK: Int, prefiltered: Boolean): DataFrame = {
    val e = embeddingsBase(s, dir).select("vec_id", "n_emb")
    val (cb, _) = pqIndex(s, dir)
    val lut = pqProbeLut(e.filter(col("vec_id") < 5), cb)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val scanned = if (prefiltered) filteredScannedCodes(s, dir, nprobe)
      else ivfpqScannedCodes(s, dir, nprobe)
    scanned
      .join(broadcast(lut), Seq("probe_id", "block", "cid"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg((sum(col("psim")) + max(col("csim"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortK)
      .select(col("probe_id"), col("vec_id"))
  }

  /** The filtered search's probe budget — the first finding this
    * operator exists to surface: the filtered ground truth is the
    * top-10 of a 10%-selective slice whose TAIL members are not near
    * the probe overall and live in lists the unfiltered nprobe = 6
    * budget never reads. Measured (all three SFs): at
    * nprobe = 6 worst-probe filtered recall dips to 0.5–0.6 pre-filter
    * and 0.2 post-filter; widening helps monotonically but only
    * nprobe = nlists closes it — so for a predicate this selective the
    * production spelling IS "scan every list's MATCHING codes": the
    * stored-attribute prune still reads only ~11% of one full code scan
    * (measured scanned-code ratios 0.103/0.115/0.113 per SF), the 64×
    * ADC compression still pays, and worst-probe recall is 1.0 at every
    * SF. The coarse prune is the wrong knob under strong filters; the
    * attribute prune replaces it.
    */
  val FANN_NPROBE = ANN_K // = nlists: all lists' matching codes
  /** Post-filter needs BOTH the full probe budget and a k/selectivity-
    * scaled over-fetch: k′ = 256 ≈ 2.5 × k/selectivity holds worst-probe
    * 0.8–1.0 (at k′ = 64 it collapses to 0.2 at sf0.1 — the shortlist
    * fills with non-matching near neighbors; the docs/SCALING.md
    * filtered-ANN table prices the decay).
    */
  val FANN_OVERFETCH = 256
  /** Bars with the sibling queries' slack discipline: pre-filter 0.8
    * under a measured floor of 1.0 (two-hit slack); post-filter 0.7
    * under a measured floor of 0.8 (one-hit slack, IVFPQ_RECALL_BAR's
    * contract). Integer cross-multiplied — no float division.
    */
  val FANN_PRE_BAR_X10 = 8L
  val FANN_POST_BAR_X10 = 7L

  /** X — attribute-constrained IVF-PQ search, both strategies graded by
    * recall against the exact FILTERED twin (derived-fact oracle, the
    * x_ivfpq_search contract): pre-filter (predicate inside the list
    * scan, before ADC — the attribute is a stored code-table column)
    * and post-filter (unfiltered over-fetched shortlist, predicate
    * after). Pre-filter strictly dominates here — same candidate
    * generation, earlier prune, smaller shortlist; post-filter ships as
    * the no-index-change fallback a deployment runs before its index
    * stores the attribute.
    */
  val xFilteredAnn = Q(
    "x_filtered_ann",
    """SELECT vec_id AS probe_id, s.strategy, TRUE AS recall_ok
       FROM embeddings
       CROSS JOIN (SELECT 'postfilter' AS strategy
                   UNION ALL SELECT 'prefilter') s
       WHERE vec_id < 5 ORDER BY probe_id, strategy""") { (s, dir) =>
    val e = embeddingsBase(s, dir).select("vec_id", "label", "n_emb")
    val pre = filteredRecallStats(e,
      fannShortlist(s, dir, FANN_NPROBE, PQ_SHORTLIST, prefiltered = true),
      "prefilter")
    val post = filteredRecallStats(e,
      fannShortlist(s, dir, FANN_NPROBE, FANN_OVERFETCH, prefiltered = false),
      "postfilter")
    val bar = when(col("strategy") === "prefilter", lit(FANN_PRE_BAR_X10))
      .otherwise(lit(FANN_POST_BAR_X10))
    pre.unionByName(post)
      .select(col("probe_id"), col("strategy"),
        (lit(10L) * col("hits") >= bar * col("k_true")).as("recall_ok"))
      .orderBy(col("probe_id"), col("strategy"))
  }

  val all: Seq[Q] = Seq(q34, xNearestNeighbor, xEmbedNearDup, xAnnIvf,
    xEmbedCluster, xSemDedup, xSemanticDecontam, xKnnLabel, xPqRecall,
    xIvfPqSearch, xIvfPqIncremental, xSemDedupIncremental, xHardNegatives,
    xFilteredAnn)
}
