package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}
import graft.functions.ArrayOps

/** X — INCREMENTAL curation: the per-batch admission pipeline a
  * continuously-ingesting lake actually runs, composed end-to-end as ONE
  * graded query. x_full_curation grades the batch re-curation of a whole
  * corpus; production doesn't do that — each arriving batch is curated
  * against STANDING state (the already-admitted lake's indexes and the
  * frozen benchmark suite), and only the indexes grow. The pieces exist
  * as separately-graded operators (x_bloom_dedup's digest probe,
  * x_incremental_neardup's band-index probe, x_ngram_contamination's
  * membership join, x_semantic_decontam's broadcast anti join); this
  * query grades their COMPOSITION over one batch, plus the index UPDATE
  * that makes the next batch incremental too.
  *
  * The cast (same split recipe as the incremental family):
  *   standing lake = doc_id < cut (80% id watermark), non-holdout
  *   new batch     = doc_id ≥ cut, non-holdout
  *   benchmark     = the md5-prefix holdout split (any id)
  *
  * Per batch document, the admission verdict is the FIRST failing stage
  * in pipeline order (each later stage runs only on earlier survivors —
  * the cache-the-losers discipline, with every loser set a SMALL id
  * frame):
  *
  *   1. 'quality'      — C4/Gopher keep-gate on the BATCH only (token
  *                       floor, 3-gram repetition cap, stopword-ratio
  *                       cap; the x_full_curation constants)
  *   2. 'exact_dup'    — md5 digest already in the PERSISTED standing
  *                       digest index, or an identical lower-id quality
  *                       survivor in the same batch (keep-lowest)
  *   3. 'near_dup'     — word-3-shingle Jaccard ≥ τ against the
  *                       PERSISTED standing band index (the
  *                       x_incremental_neardup probe: batch band keys
  *                       equi-joined against the stored (band, bh) keys,
  *                       exact-verified in place from the index's own
  *                       shingle sets), or against a lower-id exact
  *                       survivor in the batch (capped LSH within the
  *                       batch). Exact verification makes banding a pure
  *                       cost knob — the brute-force arm lives only in
  *                       the oracle.
  *   4. 'contaminated' — shares a verbatim 8-gram with the benchmark
  *                       split (gram DIGESTS cross the join, never gram
  *                       strings)
  *   5. 'sem_dup'      — embedding cosine ≥ τ_cos to any benchmark
  *                       vector (broadcast nested-loop semi join — the
  *                       benchmark suite is model-sized)
  *   6. 'admitted'
  *
  * Then the INDEX UPDATE: the admitted docs' digest and band-index rows
  * are APPENDED to the standing indexes (a real second-generation
  * parquet write — the x_ivfpq_incremental warm-start discipline), and
  * the graded card reads the merged index sizes BACK from the updated
  * store. The card is (lang, verdict) grain — docs, id-sum (membership
  * witness), token sum — with the post-update index sizes as constant
  * audit columns, so the oracle hash-checks both the per-doc admission
  * decisions and the merged end state.
  *
  * Admitted digests are provably disjoint from the standing index (the
  * doc passed stage 2) and from each other (keep-lowest within the
  * batch), so digests_after = |standing| + |admitted| — the oracle
  * recomputes it from scratch as count(DISTINCT md5) over the union;
  * bands_after = BANDS × (shingled standing docs + admitted docs) since
  * every admitted doc carries ≥ MIN_TOKENS > 3 words.
  *
  * Exactness: every inter-stage value is integer or exact-string; the
  * two float boundaries are the established green ones — ratio-vs-gate
  * comparisons of identical IEEE divisions (q33 / x_quality_rules
  * precedent) and cosine-vs-τ (x_semantic_decontam precedent).
  *
  * Scale posture — the reason this query exists: per-batch cost is
  * proportional to the BATCH, never the lake. Quality is narrow map
  * work over the batch; the digest probe is an equi-join against the
  * digest index (composable with x_bloom_dedup's bloom prefilter so
  * definite-new documents skip it); the near-dup probe joins batch band
  * keys against the stored index — candidates, not corpus², and the
  * index's (band, bh, hs, c) rows mean verification needs NO second
  * lookup; decontamination joins batch gram digests against the
  * benchmark-sized gram set; semantic decontam broadcasts the benchmark
  * vectors. The index update appends batch-sized files. The standing
  * lake appears ONLY as the probed index — SCALING.md's SCALE-INCCUR
  * table measures the per-batch wall flat while the standing index
  * grows 10×.
  */
object IncrementalCuration {

  import FullCuration.{K_GRAM, MAX_BUCKET, gramSql}
  import TextStats.{MIN_TOKENS, REP_MAX, STOP_MAX, sqlList, stopEn}

  /** Bootstrap the standing lake's persisted indexes: the distinct
    * digest index and the (doc_id, band, bh, hs, c) band index. In
    * production this is the state the lake already carries (each batch's
    * admission appended it); the graded query builds it once from the
    * standing split, then the batch path touches ONLY these files.
    */
  def bootstrapIndexes(standing: DataFrame, scratch: String): Unit = {
    val sets = MinHashLSH.wordSets(standing, 3)
    // the two index writes read the same immutable standing split and
    // land on disjoint paths — overlap them (core.Par, guide §2.6)
    graft.core.Par.run(
      () => MinHashLSH.bandIndex(sets)
        .write.mode("overwrite").parquet(s"$scratch/bands"),
      () => standing.select(md5(col("text")).as("digest")).distinct()
        .write.mode("overwrite").parquet(s"$scratch/digests"))
    ()
  }

  /** The per-batch admission path: verdicts for every batch document
    * against the persisted indexes + benchmark reference sets. Returns
    * (doc_id, lang, n_tokens, verdict).
    */
  def batchVerdicts(s: SparkSession, batch: DataFrame, scratch: String,
      benchGrams: DataFrame, benchEmb: DataFrame, eb: DataFrame): DataFrame = {
    val bandIdx = s.read.parquet(s"$scratch/bands")
    val digIdx = s.read.parquet(s"$scratch/digests")

    // stage 1 — quality gate, narrow work over the batch only
    val words = split(col("text"), " ")
    val scored = batch.select(col("doc_id"), col("lang"), col("text"),
      TextStats.nTokens(words).as("n_tokens"),
      TextStats.stopRatio(words).as("stop_ratio"))
    val qv = scored.join(TextStats.repRatios(batch), Seq("doc_id"), "left")
      .withColumn("q_fail", !TextStats.keep(col("n_tokens"),
        col("stop_ratio"), coalesce(col("rep_ratio"), lit(0.0))))
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"),
        col("q_fail"))
      .localCheckpoint()
    val qs = qv.filter(!col("q_fail"))

    // stage 2 — digest probe against the persisted index (left_semi:
    // the index never expands the batch) + keep-lowest within the batch
    val dig = qs.withColumn("digest", md5(col("text")))
    val exStanding = dig.join(digIdx, Seq("digest"), "left_semi")
      .select(col("doc_id"))
    val exWithin = dig.withColumn("rn", row_number().over(
        Window.partitionBy("digest").orderBy("doc_id")))
      .filter(col("rn") > 1).select(col("doc_id"))
    val exl = exStanding.union(exWithin).distinct().localCheckpoint()
    val exs = qs.join(exl, Seq("doc_id"), "left_anti")

    // stage 3 — near-dup probe: batch sets/bands computed per batch
    // (batch-proportional); the standing side arrives ONLY as the stored
    // index. Band-0 rows give the per-doc (hs, c) view of the index
    // without an array-distinct.
    val bSets = MinHashLSH.wordSets(exs, 3).localCheckpoint()
    val bBands = MinHashLSH.bandKeys(MinHashLSH.signaturesFromSets(bSets))
    val crossPairs = bBands
      .select(col("band"), col("bh"), col("doc_id").as("b_id"))
      .join(bandIdx.select(col("band"), col("bh"), col("doc_id").as("a_id")),
        Seq("band", "bh"))
      .select(col("a_id"), col("b_id")).distinct()
    val ndCross = MinHashLSH.setOverlap(crossPairs,
        bandIdx.filter(col("band") === 0), Some(bSets))
      .filter(col("inter").cast("double") /
        (col("ca") + col("cb") - col("inter")) >= MinHashLSH.TAU)
      .select(col("b_id").as("doc_id"))
    val ndWithin = MinHashLSH.exactJaccardFromSets(
        MinHashLSH.cappedCandidates(bBands, MAX_BUCKET), bSets)
      .filter(col("jaccard") >= MinHashLSH.TAU)
      .select(col("b_id").as("doc_id"))
    val ndl = ndCross.union(ndWithin).distinct().localCheckpoint()
    val nds = exs.join(ndl, Seq("doc_id"), "left_anti")

    // stage 4 — verbatim 8-gram decontamination (digests cross the join)
    val ctl = nds.select(col("doc_id"),
        explode(ArrayOps.wordShingleHashes(col("text"), K_GRAM)).as("g"))
      .join(benchGrams, "g").select(col("doc_id")).distinct()
      .localCheckpoint()
    val cts = nds.join(ctl, Seq("doc_id"), "left_anti")

    // stage 5 — semantic decontam: broadcast the benchmark vectors
    val sml = cts.select(col("doc_id"))
      .join(eb.select(col("vec_id").as("doc_id"), col("emb")), Seq("doc_id"))
      .join(broadcast(benchEmb),
        VectorSearch.cosine(col("emb"), col("b_emb")) >=
          VectorSearch.COSINE_TAU, "left_semi")
      .select(col("doc_id")).distinct()

    // verdict assembly: first failing stage wins; each loser frame only
    // contains earlier-stage survivors, so the flags are disjoint and
    // the when-chain is pure bookkeeping
    qv.join(exl.withColumn("f_ex", lit(true)), Seq("doc_id"), "left")
      .join(ndl.withColumn("f_nd", lit(true)), Seq("doc_id"), "left")
      .join(ctl.withColumn("f_ct", lit(true)), Seq("doc_id"), "left")
      .join(sml.withColumn("f_sm", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        when(col("q_fail"), "quality")
          .when(col("f_ex"), "exact_dup")
          .when(col("f_nd"), "near_dup")
          .when(col("f_ct"), "contaminated")
          .when(col("f_sm"), "sem_dup")
          .otherwise("admitted").as("verdict"))
  }

  val xIncrementalCuration = Q(
    "x_incremental_curation",
    s"""WITH cut AS (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS c FROM documents),
       base AS (SELECT doc_id, lang, text,
                  ${Incremental.holdoutSqlPred} AS holdout
                FROM documents),
       standing AS MATERIALIZED (
         SELECT b.* FROM base b, cut WHERE b.doc_id < cut.c AND NOT b.holdout),
       batch AS MATERIALIZED (
         SELECT b.* FROM base b, cut WHERE b.doc_id >= cut.c AND NOT b.holdout),
       bench AS (SELECT * FROM base WHERE holdout),
       q AS (SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN (${sqlList(stopEn)}))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio
             FROM batch),
       w3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
       sh3 AS MATERIALIZED (
         SELECT doc_id, ${gramSql(3)} AS sh
         FROM w3, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
         WHERE len(t) >= 3),
       rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
               FROM (SELECT doc_id, sh, count(*) AS c FROM sh3 GROUP BY 1, 2)
               GROUP BY 1),
       qv AS MATERIALIZED (
         SELECT q.doc_id, q.lang, q.text, q.n_tokens,
           (q.n_tokens < $MIN_TOKENS OR q.stop_ratio > $STOP_MAX
            OR coalesce(rep.rep_ratio, 0) > $REP_MAX) AS q_fail
         FROM q LEFT JOIN rep USING (doc_id)),
       exl AS MATERIALIZED (
         SELECT DISTINCT qv.doc_id FROM qv
         WHERE NOT q_fail AND (
           EXISTS (SELECT 1 FROM standing s WHERE md5(s.text) = md5(qv.text))
           OR EXISTS (SELECT 1 FROM qv a WHERE NOT a.q_fail
                      AND md5(a.text) = md5(qv.text)
                      AND a.doc_id < qv.doc_id))),
       exs AS MATERIALIZED (
         SELECT qv.* FROM qv LEFT JOIN exl USING (doc_id)
         WHERE NOT q_fail AND exl.doc_id IS NULL),
       shb AS MATERIALIZED (
         SELECT DISTINCT s.doc_id, s.sh FROM sh3 s
         JOIN exs ON exs.doc_id = s.doc_id),
       cb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM shb GROUP BY 1),
       ws AS (SELECT doc_id, string_split(text, ' ') AS t FROM standing),
       shs AS MATERIALIZED (
         SELECT DISTINCT doc_id, ${gramSql(3)} AS sh
         FROM ws, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
         WHERE len(t) >= 3),
       cs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM shs GROUP BY 1),
       ndx AS (SELECT x.doc_id AS b_id, s.doc_id AS a_id, count(*) AS i
               FROM shb x JOIN shs s ON x.sh = s.sh GROUP BY 1, 2),
       ndl1 AS (SELECT DISTINCT b_id AS doc_id FROM ndx
                JOIN cs ON cs.doc_id = a_id JOIN cb ON cb.doc_id = b_id
                WHERE CAST(i AS DOUBLE) / (cs.c + cb.c - i) >= ${MinHashLSH.TAU}),
       ndw AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS i
               FROM shb x JOIN shb y ON x.sh = y.sh AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
       ndl2 AS (SELECT DISTINCT b_id AS doc_id FROM ndw
                JOIN cb ca ON ca.doc_id = a_id JOIN cb cbb ON cbb.doc_id = b_id
                WHERE CAST(i AS DOUBLE) / (ca.c + cbb.c - i) >= ${MinHashLSH.TAU}),
       ndl AS MATERIALIZED (
         SELECT doc_id FROM ndl1 UNION SELECT doc_id FROM ndl2),
       nds AS MATERIALIZED (
         SELECT exs.* FROM exs LEFT JOIN ndl USING (doc_id)
         WHERE ndl.doc_id IS NULL),
       bw AS (SELECT doc_id, string_split(text, ' ') AS t FROM bench),
       bg AS (SELECT DISTINCT ${gramSql(K_GRAM)} AS g
              FROM bw, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K_GRAM - 1}, 1))) AS i)
              WHERE len(t) >= $K_GRAM),
       tw AS (SELECT doc_id, string_split(text, ' ') AS t FROM nds),
       tg AS (SELECT DISTINCT doc_id, ${gramSql(K_GRAM)} AS g
              FROM tw, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K_GRAM - 1}, 1))) AS i)
              WHERE len(t) >= $K_GRAM),
       ctl AS MATERIALIZED (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (g)),
       cts AS (SELECT nds.* FROM nds LEFT JOIN ctl USING (doc_id)
               WHERE ctl.doc_id IS NULL),
       sml AS MATERIALIZED (
         SELECT DISTINCT cts.doc_id FROM cts
         WHERE EXISTS (SELECT 1 FROM embeddings e, embeddings b
           WHERE e.vec_id = cts.doc_id
             AND substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 2) <= '19'
             AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))
                 >= ${VectorSearch.COSINE_TAU})),
       verd AS MATERIALIZED (
         SELECT qv.doc_id, qv.lang, qv.n_tokens,
           CASE WHEN qv.q_fail THEN 'quality'
                WHEN exl.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN ndl.doc_id IS NOT NULL THEN 'near_dup'
                WHEN ctl.doc_id IS NOT NULL THEN 'contaminated'
                WHEN sml.doc_id IS NOT NULL THEN 'sem_dup'
                ELSE 'admitted' END AS verdict
         FROM qv LEFT JOIN exl USING (doc_id) LEFT JOIN ndl USING (doc_id)
           LEFT JOIN ctl USING (doc_id) LEFT JOIN sml USING (doc_id)),
       adm AS (SELECT doc_id FROM verd WHERE verdict = 'admitted'),
       digx AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS digests_after FROM (
                  SELECT md5(text) AS d FROM standing
                  UNION ALL
                  SELECT md5(b.text) FROM batch b JOIN adm USING (doc_id))),
       bnd AS (SELECT CAST(${MinHashLSH.BANDS} * (
                 (SELECT count(*) FROM standing
                  WHERE len(string_split(text, ' ')) >= 3)
                 + (SELECT count(*) FROM adm)) AS BIGINT) AS bands_after)
       SELECT v.lang, v.verdict, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(v.doc_id) AS BIGINT) AS id_sum,
              CAST(sum(v.n_tokens) AS BIGINT) AS tok_sum,
              digx.digests_after, bnd.bands_after
       FROM verd v, digx, bnd
       GROUP BY v.lang, v.verdict, digx.digests_after, bnd.bands_after
       ORDER BY v.lang, v.verdict""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val cut = Incremental.cutoffValue(docs)
    val scratch = Scratch.fresh("graft_inccur").toString

    // standing-state bootstrap (in production: already on disk, grown by
    // every prior batch's append — the cost amortizes to zero per batch)
    val standing = docs
      .filter(col("doc_id") < cut && !Incremental.holdoutColumn)
    bootstrapIndexes(standing, scratch)

    // benchmark reference sets (frozen; benchmark-suite-sized)
    val bench = docs.filter(Incremental.holdoutColumn)
    val benchGrams = bench
      .select(explode(ArrayOps.wordShingleHashes(col("text"), K_GRAM)).as("g"))
      .distinct()
    val eb = VectorSearch.embeddingsBase(s, dir)
    val benchEmb = eb
      .filter(substring(md5(col("vec_id").cast("string")), 1, 2) <= "19")
      .select(col("emb").as("b_emb"))

    // the batch path — everything here is batch-proportional
    val batch = docs
      .filter(col("doc_id") >= cut && !Incremental.holdoutColumn)
    val v = batchVerdicts(s, batch, scratch, benchGrams, benchEmb, eb)
      .localCheckpoint()

    // index update: append the admitted docs' rows (batch-sized files);
    // the card reads the merged sizes BACK from the updated store
    val adm = v.filter(col("verdict") === "admitted").select(col("doc_id"))
    val admBatch = batch.join(adm, "doc_id")
    // the two index appends (disjoint paths, same immutable inputs)
    // overlap, as do the two merged-size read-backs (core.Par)
    graft.core.Par.run(
      () => MinHashLSH.bandIndex(MinHashLSH.wordSets(admBatch, 3))
        .write.mode("append").parquet(s"$scratch/bands"),
      () => admBatch.select(md5(col("text")).as("digest"))
        .write.mode("append").parquet(s"$scratch/digests"))
    val Seq(bandsAfter, digestsAfter) = graft.core.Par.run[Long](
      () => s.read.parquet(s"$scratch/bands").count(),
      () => s.read.parquet(s"$scratch/digests")
        .select(col("digest")).distinct().count())

    v.groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
        sum(col("n_tokens")).as("tok_sum"))
      .withColumn("digests_after", lit(digestsAfter))
      .withColumn("bands_after", lit(bandsAfter))
      .orderBy("lang", "verdict")
  }

  val all: Seq[Q] = Seq(xIncrementalCuration)
}
