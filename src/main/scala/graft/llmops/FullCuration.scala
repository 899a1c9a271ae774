package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}
import graft.functions.{ArrayOps, TextNormalize}

/** X — the FULL pre-training curation DAG as ONE graded query: every
  * published corpus-cleanup stage, chained end-to-end in the RefinedWeb
  * order of operations under a single oracle that recomputes the final
  * state stage by stage. The individual operators are graded separately
  * (x_normalize_text, x_lang_id, x_quality_rules, q32/q33, x_line_dedup,
  * x_ngram_contamination, x_semantic_decontam, x_temperature_mix,
  * x_shard_assign, x_dataset_card); this query grades their COMPOSITION
  * — the thing a real pipeline actually ships.
  *
  * Stage ORDER matters and follows RefinedWeb (Penedo et al. 2023):
  * document-level fuzzy dedup runs on the FULL text BEFORE line-level
  * boilerplate removal. The reverse order (tried first) is measurably
  * broken on any corpus whose near-duplicate docs share whole lines:
  * line dedup strips exactly the shared content, collapsing every true
  * near-dup pair to junk-J stubs (the sf0.01 fixture's post-line-dedup
  * pair spectrum is EMPTY above J=0.45 except 2-shingle stubs at
  * exactly 0.5, where LSH banding's S-curve captures only ~40% — a real
  * recall cliff, not an implementation bug). Doc-level dedup first sees
  * the high-J pairs banding is tuned for; the length floor re-applied
  * after line removal (as RefinedWeb re-filters) then drops the stubs.
  *
  * Stages (train split = documents below the md5-prefix holdout
  * watermark; the holdout docs play the eval-benchmark role):
  *
  *   1. normalize      — inject decomposed accents (the deterministic
  *                       dirty-input synthesis of x_normalize_text),
  *                       NFC-compose + accent-fold back; downstream
  *                       stages consume the PROVABLY normalized text
  *   2. language ID    — stopword-vote prediction (x_lang_id), carried
  *                       through to the card as a per-shard
  *                       misprediction count (the fixture corpus is
  *                       English-ish for every label, so the vote says
  *                       'en' everywhere — the count makes the stage
  *                       load-bearing in the final hash anyway)
  *   3. quality rules  — C4/Gopher keep-gate: token floor, 3-gram
  *                       repetition cap, stopword-ratio cap
  *   4. exact dedup    — md5(full text), keep lowest doc_id
  *   5. near-dup       — MinHash-LSH candidates (capped buckets) +
  *                       exact-Jaccard verify at τ on the full text;
  *                       higher doc_id of every pair drops. The oracle
  *                       spells brute-force Jaccard — exact verification
  *                       makes banding a pure cost knob for PRECISION;
  *                       RECALL still rides the 8×4 S-curve (per-pair
  *                       catch probability ≈40% at J = τ = 0.5), so the
  *                       brute-oracle match holds because the fixture's
  *                       real pairs sit at J ≥ 0.9 where the curve is
  *                       ≈1 (the LlmOpsSpec plateau guard asserts this;
  *                       a mid-similarity fixture would need wider
  *                       banding or an x_lsh_autotune-derived (b,r))
  *   6. line dedup     — cross-document boilerplate lines (≥2 distinct
  *                       docs) removed, documents reassembled, token
  *                       floor RE-applied (stub docs that lost most
  *                       lines drop out)
  *   7. n-gram decontam— drop survivors sharing any verbatim 8-gram of
  *                       their CLEANED text with the holdout split
  *                       (x_ngram_contamination's membership join,
  *                       gram-hash keyed)
  *   8. semantic decontam — drop survivors cosine-similar (≥ τ_cos) to
  *                       any holdout embedding (doc i ↔ vec i): the
  *                       broadcast nested-loop anti join of
  *                       x_semantic_decontam — nothing shuffles
  *   9. temperature mix— per-language keep thresholds ∝ p^α (α=0.3,
  *                       mT5), fixed-point 1e9 weights, the
  *                       deterministic md5-threshold sampler
  *  10. shard assign   — global token cumsum in md5-of-id order via the
  *                       bucket-refined decomposition (BucketCumsum —
  *                       never a corpus-wide single-task window),
  *                       shard = before div SHARD_TOKENS
  *  11. dataset card   — final release audit at (lang, shard) grain:
  *                       docs, tokens, id-sum (membership witness),
  *                       distinct sources, lang-id mispredictions
  *
  * ONE PASS PER STAGE: two frames feed multiple stages and are
  * materialized once each — the quality-survivor base `qual` (digest
  * window, shingle sets, line explode) and the post-line-dedup base
  * `cl` (8-gram sets, embedding join, mix counts, shard cumsum). Every
  * eliminated-document set (exact losers, near-dup losers,
  * contaminated, semantically contaminated) is a SMALL id frame, and
  * each stage is an anti join of a materialized base against the
  * accumulated losers — the x_curation_pipeline cache-the-losers
  * discipline, extended to the full DAG. No stage recomputes another
  * stage's base. The bases use localCheckpoint rather than cache: a
  * cache leaves the full logical lineage attached, and Catalyst
  * re-analyzes that (enormous) tree on EVERY downstream action — the
  * measured cost was seconds of pure driver time per stage, several
  * times the cluster work itself (FcProbe); checkpointing truncates the
  * lineage so each stage plans against a leaf.
  *
  * Cross-engine determinism: every inter-stage value is integer or
  * exact-string (token counts, gram digests, md5 thresholds); the two
  * float boundaries are the established ones — Jaccard/cosine-vs-τ
  * (identical IEEE division of identical operands; green precedent
  * q33/x_semantic_decontam) and pow(p, α) (immediately rounded to 1e9
  * fixed-point; boundary margins for THIS query's survivor counts are
  * measured in RoundingMarginSpec alongside x_temperature_mix's).
  *
  * Scale posture: stages 1–3 are narrow map work + one (doc, gram)
  * aggregation; 4–7 shuffle on digest/line/gram keys only (never
  * pairwise beyond the capped LSH buckets); 8 is broadcast-anti; 9 is a
  * broadcast-map filter off ≤n_langs driver rows; 10 is the 256-way
  * bucket cumsum. The widest shuffle key at 100 TB is the line/gram
  * digest — both bounded by corpus token count, not its square.
  */
object FullCuration {

  private[llmops] val K_GRAM = 8
  private[llmops] val MAX_BUCKET = 10000

  private[llmops] def gramSql(k: Int): String =
    (0 until k).map(j => s"t[i+$j]").mkString(" || ' ' || ")

  import TextStats.{MIN_TOKENS, REP_MAX, STOP_MAX, sqlList, stopEn, stopDe, stopEs, stopFr}
  import Chunking.{LINE_W, LINE_DUP_K, SHARD_TOKENS}
  import Curation.TEMP_ALPHA
  import VectorSearch.COSINE_TAU

  val xFullCuration = Q(
    "x_full_curation",
    s"""WITH raw AS (
         SELECT doc_id, source, lang,
                strip_accents(nfc_normalize(replace(text, 'a', 'a' || chr(769)))) AS text,
                ${Incremental.holdoutSqlPred} AS holdout
         FROM documents),
       scored AS (
         SELECT doc_id, source, lang, text,
                len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEn)}))) AS s_en,
                len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopDe)}))) AS s_de,
                len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEs)}))) AS s_es,
                len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopFr)}))) AS s_fr,
                len(string_split(text, ' ')) AS n_tokens,
                CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEn)}))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS stop_ratio
         FROM raw WHERE NOT holdout),
       pred AS (
         SELECT doc_id, source, lang, text, n_tokens, stop_ratio,
                CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                     WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                     WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred
         FROM scored),
       w3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM pred),
       sh3 AS (SELECT doc_id, ${gramSql(3)} AS sh
               FROM w3, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
               WHERE len(t) >= 3),
       rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
               FROM (SELECT doc_id, sh, count(*) AS c FROM sh3 GROUP BY 1, 2)
               GROUP BY 1),
       qual AS (SELECT p.doc_id, p.source, p.lang, p.lang_pred, p.text
                FROM pred p JOIN rep USING (doc_id)
                WHERE NOT (n_tokens < $MIN_TOKENS)
                  AND NOT (rep_ratio > $REP_MAX)
                  AND NOT (stop_ratio > $STOP_MAX)),
       ex AS (SELECT doc_id, source, lang, lang_pred, text FROM (
                SELECT q.*, row_number() OVER (PARTITION BY md5(text)
                                               ORDER BY doc_id) AS rn
                FROM qual q) WHERE rn = 1),
       wj AS (SELECT doc_id, string_split(text, ' ') AS t FROM ex),
       shj AS (SELECT DISTINCT doc_id, ${gramSql(3)} AS sh
               FROM wj, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
               WHERE len(t) >= 3),
       card3 AS (SELECT doc_id, count(*) AS c FROM shj GROUP BY 1),
       inter AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS i
                 FROM shj x JOIN shj y ON x.sh = y.sh AND x.doc_id < y.doc_id
                 GROUP BY 1, 2),
       ndl AS (SELECT DISTINCT b_id AS doc_id FROM inter
               JOIN card3 ca ON ca.doc_id = a_id
               JOIN card3 cb ON cb.doc_id = b_id
               WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= ${MinHashLSH.TAU}),
       nd AS (SELECT ex.doc_id, ex.source, ex.lang, ex.lang_pred, ex.text
              FROM ex LEFT JOIN ndl ON ndl.doc_id = ex.doc_id
              WHERE ndl.doc_id IS NULL),
       lw AS (SELECT doc_id, string_split(text, ' ') AS t FROM nd),
       lines AS (SELECT doc_id, i,
                   array_to_string(t[(i-1)*$LINE_W+1:(i-1)*$LINE_W+$LINE_W], ' ') AS line
                 FROM lw, LATERAL (SELECT unnest(generate_series(1,
                   CAST(ceil(len(t) / ${LINE_W}.0) AS BIGINT))) AS i)),
       bl AS (SELECT line FROM lines GROUP BY line
              HAVING count(DISTINCT doc_id) >= $LINE_DUP_K),
       clean AS (SELECT l.doc_id,
                   string_agg(CASE WHEN d.line IS NULL THEN l.line END,
                              ' ' ORDER BY l.i) AS text
                 FROM lines l LEFT JOIN bl d ON l.line = d.line
                 GROUP BY l.doc_id
                 HAVING count(CASE WHEN d.line IS NULL THEN 1 END) >= 1),
       cl AS (SELECT c.doc_id, n.source, n.lang, n.lang_pred, c.text,
                CAST(len(regexp_extract_all(c.text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok
              FROM clean c JOIN nd n USING (doc_id)
              WHERE len(string_split(c.text, ' ')) >= $MIN_TOKENS),
       bw AS (SELECT doc_id, string_split(text, ' ') AS t FROM raw WHERE holdout),
       bg AS (SELECT DISTINCT ${gramSql(K_GRAM)} AS g
              FROM bw, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K_GRAM - 1}, 1))) AS i)
              WHERE len(t) >= $K_GRAM),
       tw AS (SELECT doc_id, string_split(text, ' ') AS t FROM cl),
       tg AS (SELECT DISTINCT doc_id, ${gramSql(K_GRAM)} AS g
              FROM tw, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K_GRAM - 1}, 1))) AS i)
              WHERE len(t) >= $K_GRAM),
       ngl AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (g)),
       dc AS (SELECT cl.* FROM cl LEFT JOIN ngl USING (doc_id)
              WHERE ngl.doc_id IS NULL),
       sem AS (SELECT dc.* FROM dc WHERE NOT EXISTS (
                 SELECT 1 FROM embeddings e, embeddings b
                 WHERE e.vec_id = dc.doc_id
                   AND substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 2) <= '19'
                   AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[])) >= $COSINE_TAU)),
       c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM sem GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
       pw AS (SELECT lang, n,
                CAST(round(pow(CAST(n AS DOUBLE) / nn, $TEMP_ALPHA) * 1000000000) AS BIGINT) AS wfix
              FROM c, tot),
       sw AS (SELECT CAST(sum(wfix) AS BIGINT) AS sm FROM pw),
       f AS (SELECT lang,
               printf('%05x', CAST(floor(least(1.0,
                 (CAST(wfix AS DOUBLE) / sm) * (nn / 5.0) / n) * 65536) AS BIGINT)) AS ht
             FROM pw, sw, tot),
       mix AS (SELECT sem.* FROM sem JOIN f USING (lang)
               WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < ht),
       cum AS (SELECT doc_id, lang, lang_pred, source, n_tok,
                 coalesce(sum(n_tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
               FROM mix)
       SELECT lang, CAST(before // $SHARD_TOKENS AS BIGINT) AS shard,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum(doc_id) AS BIGINT) AS id_sum,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(sum(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mispred
       FROM cum GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    curate(s, dir)
  }

  /** The Spark DAG. Returns the (lang, shard) dataset card of the final
    * mixture. Separated from the Q wiring so specs can call it directly.
    */
  def curate(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val sem = semStage(s, dir)

    // stage 9 — temperature mixture: ≤n_langs driver rows; pow
    // immediately fixed-pointed (margins measured in RoundingMarginSpec)
    val counts = mixInputCounts(sem)
    val nn = counts.map(_._2).sum
    val wfix = counts.map { case (l, n) =>
      (l, n, math.round(math.pow(n.toDouble / nn, TEMP_ALPHA) * 1e9)) }
    val sw = wfix.map(_._3).sum
    val thrMap = wfix.map { case (l, n, w) =>
      val frac = math.min(1.0, (w.toDouble / sw) * (nn / 5.0) / n)
      l -> f"${math.floor(frac * 65536).toLong}%05x"
    }.toMap
    val mixKept = sem
      .withColumn("ht",
        try_element_at(typedLit[Map[String, String]](thrMap), col("lang")))
      .filter(concat(lit("0"),
        substring(md5(col("doc_id").cast("string")), 1, 4)) < col("ht"))

    // stage 10 — shard assignment: bucket-refined global token cumsum
    val assigned = graft.core.BucketCumsum.before(
      mixKept.select(col("doc_id"), col("lang"), col("lang_pred"),
        col("source"), col("n_tok")),
      "doc_id", col("n_tok"))
      .withColumn("shard", expr(s"before div $SHARD_TOKENS"))

    // stage 11 — the dataset card at (lang, shard) grain
    assigned.groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(col("lang_pred") =!= col("lang"), 1L).otherwise(0L))
          .as("n_mispred"))
      .orderBy("lang", "shard")
  }

  /** Survivor counts per language after stage 8 — the inputs to the
    * fixed-point pow weights; exposed (with [[semStage]]) for the
    * rounding-margin audit.
    */
  def mixInputCounts(sem: DataFrame): Array[(String, Long)] =
    sem.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)

  /** Stages 1–8: normalized train split through semantic decontamination.
    * Returns the cached survivor frame (doc_id, source, lang, lang_pred,
    * text, n_tok).
    */
  def semStage(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")

    // stage 1 — normalize (identity-recovering on the ASCII fixture:
    // inject U+0301 after every 'a', NFC-compose, accent-fold)
    val normText = TextNormalize.stripAccents(
      TextNormalize.normalize(regexp_replace(col("text"), "a", "á"), "NFC"))
    val raw = docs.select(col("doc_id"), col("source"), col("lang"),
      normText.as("text"),
      Incremental.holdoutColumn.as("holdout"))

    // the holdout reference sets (8-gram digests + benchmark embeddings)
    // are only consumed by stages 7/8 but depend on nothing the main
    // chain produces — materialize them CONCURRENTLY with stages 1-6
    // (core.Par, guide §2.6) so their holdout-split normalization and
    // gram hashing leave the critical path
    val refsJoin = graft.core.Par.async {
      val bg = raw.filter(col("holdout"))
        .select(explode(ArrayOps.wordShingleHashes(col("text"), K_GRAM))
          .as("g"))
        .distinct().localCheckpoint()
      val be = VectorSearch.embeddingsBase(s, dir).join(
          raw.filter(col("holdout")).select(col("doc_id").as("vec_id")),
          "vec_id")
        .select(col("emb").as("b_emb")).localCheckpoint()
      (bg, be)
    }

    // the normalized TRAIN split: the language-vote branch and the
    // repetition-shingle branch both consume it. NO barrier here
    // (round-17): a localCheckpoint serialized a corpus-wide
    // normalization job in front of qual's own job, while the two
    // consumers live inside ONE downstream plan whose independent
    // stages AQE materializes concurrently — the duplicated ICU map
    // work runs in parallel slack and the serial wall drops by a full
    // job (A/B numbers in OPTIMIZATION_r17.md)
    val train = raw.filter(!col("holdout"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"))

    // stages 2+3 (narrow part) — language vote + length/stopword signals
    val words = split(col("text"), " ")
    val scored = train.select(
      Seq(col("doc_id"), col("source"), col("lang"), col("text")) ++
        TextStats.langVotes(words) ++
        Seq(TextStats.nTokens(words).as("n_tokens"),
          TextStats.stopRatio(words).as("stop_ratio")): _*)
    val pred = scored.select(col("doc_id"), col("source"), col("lang"),
      col("text"), col("n_tokens"), col("stop_ratio"),
      TextStats.langPred.as("lang_pred"))

    // stage 3 (shuffle part) — the 3-gram repetition ratio and the gate.
    // THE first shared base: quality survivors feed the digest window,
    // the shingle sets, and the line explode. localCheckpoint, not
    // cache: the composed DAG's logical plan is enormous, and Catalyst
    // re-ANALYZES the full lineage on every downstream action even when
    // the physical scan hits the cache — measured 1.5-7 s of pure
    // driver time per stage (FcProbe). Checkpointing materializes the
    // frame AND truncates the lineage, so every later stage plans
    // against a leaf.
    val qual = pred.join(TextStats.repRatios(pred), "doc_id")
      .filter(TextStats.keep(col("n_tokens"), col("stop_ratio"), col("rep_ratio")))
      .select(col("doc_id"), col("source"), col("lang"), col("lang_pred"),
        col("text"))
      .localCheckpoint()

    // stage 4 — exact-dedup LOSERS (small side; the cache-the-losers
    // discipline of DedupPipeline). Lazy (round-17): both consumers
    // (the shingle-set anti join and nd's anti join) sit in the same
    // downstream plan over the qual LEAF, so the identical digest-window
    // exchange is deduped by ReuseExchange instead of being forced by a
    // serial localCheckpoint job ahead of everything stage 5 does
    val exLosers = qual.withColumn("digest", md5(col("text")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("digest").orderBy("doc_id")))
      .filter(col("rn") > 1).select("doc_id")

    // stage 5 — near-dup losers on the FULL text (see scaladoc: fuzzy
    // dedup before line removal, the RefinedWeb order): condensed
    // shingle sets hashed from the checkpointed base (measured CHEAPER
    // than semi-joining the session-memoized corpus-wide shingle frame
    // against the survivor ids — narrow re-hash beats an extra
    // shuffle), capped-LSH candidates, exact verify
    val sets = MinHashLSH.wordSets(qual, 3)
      .join(exLosers, Seq("doc_id"), "left_anti")
    val cand = MinHashLSH.cappedCandidates(
      MinHashLSH.bandKeys(MinHashLSH.signaturesFromSets(sets)), MAX_BUCKET)
    val ndLosers = MinHashLSH.exactJaccardFromSets(cand, sets)
      .filter(col("jaccard") >= MinHashLSH.TAU)
      .select(col("b_id").as("doc_id")).distinct()
    val nd = qual.join(exLosers, Seq("doc_id"), "left_anti")
      .join(ndLosers, Seq("doc_id"), "left_anti")

    // stage 6 — line dedup + reassembly (Chunking.lineDedup, the
    // x_line_dedup plan, over the dedup survivors) + the RE-applied
    // token floor
    val cleanText = Chunking.lineDedup(nd.select(col("doc_id"), col("text")))
      .filter(col("n_kept") >= 1)
      .select(col("doc_id"), col("text_clean").as("text"))

    // THE second shared base: cleaned text + regex token count, cached
    // once — decontamination, mixing and sharding all read this cache
    val cl = cleanText
      .join(nd.select(col("doc_id"), col("source"), col("lang"),
        col("lang_pred")), "doc_id")
      .filter(size(split(col("text"), " ")) >= MIN_TOKENS)
      .withColumn("n_tok", TextStats.regexTokenCount)
      .localCheckpoint()

    // stage 7 — verbatim 8-gram decontamination vs the holdout split
    // (gram digests, never gram strings, cross the shuffle); the
    // reference sets were materialized concurrently above
    val (benchGrams, benchEmb) = refsJoin()
    val contam = cl
      .select(col("doc_id"),
        explode(ArrayOps.wordShingleHashes(col("text"), K_GRAM)).as("g"))
      .join(benchGrams, "g")
      .select("doc_id").distinct()
    val afterNg = cl.join(contam, Seq("doc_id"), "left_anti")

    // stage 8 — semantic decontamination: broadcast the (tiny) holdout
    // embeddings, stream survivors against them — zero shuffle. The
    // loser set is computed from `cl` rather than afterNg (round-17):
    // per-doc the cosine test is independent of stage 7, and
    // semLosers_cl ∩ afterNg = semLosers_afterNg (the extra scored docs
    // are exactly the contaminated ones the anti join below has already
    // removed), so decoupling lets AQE materialize the gram-explode and
    // the cosine stages CONCURRENTLY instead of serially
    val eb = VectorSearch.embeddingsBase(s, dir)
    val semLosers = cl.select(col("doc_id"))
      .join(eb.select(col("vec_id").as("doc_id"), col("emb")), Seq("doc_id"))
      .join(broadcast(benchEmb),
        VectorSearch.cosine(col("emb"), col("b_emb")) >= COSINE_TAU,
        "left_semi")
      .select("doc_id").distinct()
    afterNg.join(semLosers, Seq("doc_id"), "left_anti").localCheckpoint()
  }

  val all: Seq[Q] = Seq(xFullCuration)
}
