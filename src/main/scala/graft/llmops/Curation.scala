package graft.llmops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, Tables => T}
import FullCuration.gramSql

/** Corpus-curation operators: the decisions a training-data pipeline
  * makes AFTER dedup/quality — what the final mixture contains and
  * whether the eval sets leaked into it.
  *
  *   - x_ngram_contamination: the canonical eval-decontamination check —
  *     training documents sharing any verbatim 8-gram with the held-out
  *     benchmark split are flagged with their collision count. Exact
  *     containment on hashed n-grams (one semi-shaped join on the gram
  *     hash), not near-dup similarity: a single quoted benchmark answer
  *     inside an otherwise-unique document must flag.
  *   - x_mix_sample: deterministic corpus mixing to a TARGET language
  *     distribution under a document budget — per-language keep
  *     fractions derived from the target weights, applied as a
  *     reproducible md5-threshold sample (same doc set on every run and
  *     every engine, no RNG). The data-mixing step every multi-source
  *     pretraining corpus goes through.
  *
  * Both hash-checked against DuckDB oracles computing the same
  * arithmetic.
  */
object Curation {

  private val K = 8 // contamination gram width

  val xNgramContamination = Q(
    "x_ngram_contamination",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT DISTINCT doc_id, ${gramSql(K)} AS sh
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K - 1}, 1))) AS i)
              WHERE len(t) >= $K),
       split AS (SELECT doc_id, ${Incremental.holdoutSqlPred} AS holdout
                 FROM documents),
       bench AS (SELECT DISTINCT sh.sh FROM sh JOIN split USING (doc_id) WHERE split.holdout)
       SELECT sh.doc_id, CAST(count(DISTINCT sh.sh) AS BIGINT) AS n_hits
       FROM sh JOIN split USING (doc_id) JOIN bench ON sh.sh = bench.sh
       WHERE NOT split.holdout
       GROUP BY sh.doc_id ORDER BY sh.doc_id""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    // per-row native gram-hash sets (already distinct): no gram strings,
    // no per-doc distinct shuffle (collision odds ~|grams|²/2⁶⁴ — the
    // same accepted class as exactJaccard's hashes). The CACHED frame is
    // one array row per doc — caching the exploded (doc, gram) stream
    // would pin a corpus-scale intermediate at 100 TB; two cheap explodes
    // over the condensed rows (bench side, train side) beat that.
    val gramSets = docs
      .select(col("doc_id"), Incremental.holdoutColumn.as("holdout"),
        graft.functions.ArrayOps.wordShingleHashes(col("text"), K).as("hs"))
      .cache()
    graft.core.CacheBin.swap("x_ngram_contamination.gram_sets", gramSets)
    val bench = gramSets.filter(col("holdout"))
      .select(explode(col("hs")).as("g")).distinct()
    // (doc_id, g) is unique by construction (per-row sets), so a plain
    // count after the membership join IS the distinct-gram hit count
    gramSets.filter(!col("holdout"))
      .select(col("doc_id"), explode(col("hs")).as("g"))
      .join(bench, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Target language mixture (weights sum to 1) and document budget. */
  private[llmops] val MixWeights =
    Seq("de" -> 0.2, "en" -> 0.5, "es" -> 0.1, "fr" -> 0.15, "zh" -> 0.05)
  private[llmops] val MixBudget = 200.0

  val xMixSample = Q(
    "x_mix_sample",
    s"""WITH n AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
       w(lang, wt) AS (VALUES ${MixWeights.map { case (l, w) => s"('$l', $w)" }.mkString(", ")}),
       t AS (SELECT d.doc_id, d.lang,
               printf('%05x', CAST(floor(least(1.0, CAST(wt AS DOUBLE) * $MixBudget / nl) * 65536) AS BIGINT)) AS ht
             FROM documents d JOIN n USING (lang) JOIN w USING (lang))
       SELECT lang, count(*) AS n_kept FROM t
       WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < ht
       GROUP BY lang ORDER BY lang""") { (s, dir) =>
    mixSample(T(s, dir, "documents"), "doc_id", "lang",
      MixWeights.toMap, MixBudget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** Library form of the deterministic mixture sampler: keep a
    * reproducible md5-hash sample of each group sized so the kept counts
    * approach `weights` × `budget` (groups smaller than their share are
    * kept whole — keep fraction caps at 1.0).
    *
    * Per-group keep fraction -> fixed-width lowercase-hex threshold;
    * lexicographic compare on same-width hex IS the numeric compare.
    * WIDTH IS 5, NOT 4: a group whose count fits its budget gets keep
    * fraction 1.0 -> threshold 65536 = 0x10000, five hex digits — padding
    * to 4 would TRUNCATE it to "1000" and silently drop ~94% of exactly
    * the small group the budget protects (the md5 prefix side gets a
    * leading '0' so both operands stay five chars).
    */
  def mixSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      groupCol: String, weights: Map[String, Double],
      budget: Double): org.apache.spark.sql.DataFrame = {
    val nl = count(lit(1)).over(Window.partitionBy(col(groupCol)))
    // try_element_at, NOT element_at: under Spark 4's default ANSI mode a
    // group value absent from the weights map must yield NULL (dropping
    // the group, like the oracle's inner join on the weight table), not
    // throw MAP_KEY_DOES_NOT_EXIST for the whole query
    val wt = try_element_at(typedLit[Map[String, Double]](weights), col(groupCol))
    val thr = floor(least(lit(1.0), wt * lit(budget) / nl) * 65536)
      .cast("long")
    df.withColumn("ht", lpad(lower(hex(thr)), 5, "0"))
      .filter(concat(lit("0"),
        substring(md5(col(idCol).cast("string")), 1, 4)) < col("ht"))
      .drop("ht")
  }

  /** X — per-source document cap (the RefinedWeb/C4 "domain cap": no
    * single web domain may dominate the corpus). Keeps the CAP longest
    * documents per source, priority n_chars DESC then doc_id ASC.
    *
    * Spark side runs the bounded-heap Aggregator
    * ([[graft.functions.TopKByScore]]) inside ObjectHashAggregate with
    * map-side partials — each input partition ships at most CAP rows per
    * source into the shuffle, so the exchange is O(sources × CAP ×
    * partitions) no matter how large the corpus, and a hot domain never
    * serializes one task. The oracle spells the same contract as the
    * window top-k (full shuffle + sort — fine for DuckDB's single-node
    * sort, the plan this operator exists to avoid at 100 TB).
    */
  val xDomainCap = Q(
    "x_domain_cap",
    """SELECT source, rnk, doc_id, n_chars FROM (
         SELECT source, doc_id, n_chars,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
         FROM documents)
       WHERE rnk <= 3 ORDER BY source, rnk""") { (s, dir) =>
    val topk = graft.functions.TopKByScore.topK(3)
    T(s, dir, "documents")
      .groupBy(col("source"))
      .agg(topk(col("n_chars"), col("doc_id")).as("kept"))
      .select(col("source"), posexplode(col("kept")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("doc_id"), col("col.score").as("n_chars"))
      .orderBy("source", "rnk")
  }

  /** X — the dataset card: the per-language audit table a corpus
    * release ships (what HF dataset cards / Dolma reports tabulate) —
    * documents, exact tokens, distinct sources, and exact-duplicate
    * document counts, in ONE scan plus one digest agg. Everything is
    * integer arithmetic (hash-safe by construction); the duplicate
    * count joins the corpus against the ≥2-multiplicity digest set,
    * the same bounded-join shape as x_heavy_hitters' recount.
    */
  val xDatasetCard = Q(
    "x_dataset_card",
    """WITH t AS (SELECT doc_id, lang, source, md5(text) AS h,
            CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok
          FROM documents),
       d AS (SELECT h FROM t GROUP BY h HAVING count(*) >= 2)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
       FROM t LEFT JOIN d ON t.h = d.h
       GROUP BY lang ORDER BY lang""") { (s, dir) =>
    val t = T(s, dir, "documents").select(col("doc_id"), col("lang"),
      col("source"), md5(col("text")).as("h"),
      TextStats.regexTokenCount.as("n_tok"))
    val d = t.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h")).withColumn("isdup", lit(1))
    t.join(d, Seq("h"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(col("isdup").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"))
      .orderBy("lang")
  }

  /** X — per-document n-gram NOVELTY against the standing corpus (the
    * WIMBD-style audit, and the dual of x_ngram_contamination): for each
    * document above the 80% id watermark, how many of its distinct
    * 8-grams have never appeared in the standing corpus below the
    * watermark. High-novelty docs are genuinely new content; near-zero
    * novelty means the "new" batch is recombined boilerplate — the
    * signal incremental crawls use to decide what's worth keeping.
    *
    * Grams flow as md5 digests (16 bytes, not the raw 8-word strings) so
    * the anti-join key stays narrow; the watermark is a pushed-down
    * literal (Incremental.cutoffValue). One distinct per side + one
    * left-anti-shaped join on the digest — no pairwise work.
    */
  val xNgramNovelty = Q(
    "x_ngram_novelty",
    s"""WITH cut AS (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS c FROM documents),
       words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT DISTINCT doc_id, md5(${gramSql(K)}) AS d
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K - 1}, 1))) AS i)
              WHERE len(t) >= $K),
       ref AS (SELECT DISTINCT d FROM sh, cut WHERE doc_id <= c),
       neu AS (SELECT doc_id, d FROM sh, cut WHERE doc_id > c)
       SELECT neu.doc_id,
              CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN ref.d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       FROM neu LEFT JOIN ref ON neu.d = ref.d
       GROUP BY neu.doc_id ORDER BY neu.doc_id""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val cut = Incremental.cutoffValue(docs)
    val sh = Shingles.wordShingles(docs, K)
      .select(col("doc_id"), md5(col("sh")).as("d")).distinct()
    val ref = sh.filter(col("doc_id") <= cut).select(col("d")).distinct()
      .withColumn("seen", lit(1))
    sh.filter(col("doc_id") > cut)
      .join(ref, Seq("d"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .orderBy("doc_id")
  }

  /** Temperature exponent for x_temperature_mix (the mT5/XLM-R α). */
  val TEMP_ALPHA = 0.3

  /** X — temperature-scaled multilingual sampling (mT5/XLM-R): language
    * weights w_i ∝ p_i^α with α = 0.3 — flatter than the corpus
    * distribution, so low-resource languages are upsampled relative to
    * their share without head languages vanishing. The derived weights
    * feed the same deterministic md5-threshold sampler as x_mix_sample
    * (which takes FIXED target weights; this computes them FROM the
    * corpus — the two halves of how real mixtures are specified).
    *
    * Cross-engine float discipline: p_i^α is the only libm operation —
    * immediately rounded to a 1e9 fixed-point integer on both engines
    * (Round9Spec measures every weight's distance to the round-half
    * boundary, the DSIR pattern). Everything after is integer sums and
    * IEEE divisions of identical operands, so the thresholds agree
    * bit-for-bit. Driver state: one ≤n_langs-row collect.
    */
  val xTemperatureMix = Q(
    "x_temperature_mix",
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
       pw AS (SELECT lang, n,
                CAST(round(pow(CAST(n AS DOUBLE) / nn, $TEMP_ALPHA) * 1000000000) AS BIGINT) AS wfix
              FROM c, tot),
       sw AS (SELECT CAST(sum(wfix) AS BIGINT) AS s FROM pw),
       f AS (SELECT lang, n, wfix,
               printf('%05x', CAST(floor(least(1.0,
                 (CAST(wfix AS DOUBLE) / s) * (nn / 5.0) / n) * 65536) AS BIGINT)) AS ht
             FROM pw, sw, tot),
       k AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
             FROM documents d JOIN f USING (lang)
             WHERE '0' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < ht
             GROUP BY d.lang)
       SELECT f.lang, f.n AS n_docs, f.wfix,
              CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
       FROM f LEFT JOIN k ON f.lang = k.lang ORDER BY f.lang""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val rows = temperatureThresholds(docs)
    val thrMap = rows.map { case (l, _, _, thr) => l -> f"$thr%05x" }.toMap
    val kept = docs
      .withColumn("ht", try_element_at(typedLit[Map[String, String]](thrMap), col("lang")))
      .filter(concat(lit("0"),
        substring(md5(col("doc_id").cast("string")), 1, 4)) < col("ht"))
      .groupBy(col("lang")).agg(count(lit(1)).as("k"))
    s.createDataFrame(rows.toSeq).toDF("lang", "n_docs", "wfix", "thr")
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("wfix"),
        coalesce(col("k"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  /** Per-language (lang, n_docs, wfix, threshold) for the temperature
    * mixture — the bounded driver-side model state (≤ n_langs rows).
    * Exposed for the Round9Spec fixed-point margin measurement.
    */
  def temperatureThresholds(docs: org.apache.spark.sql.DataFrame)
      : Array[(String, Long, Long, Long)] = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val nn = counts.map(_._2).sum
    val wfix = counts.map { case (l, c) =>
      (l, c, math.round(math.pow(c.toDouble / nn, TEMP_ALPHA) * 1e9)) }
    val sw = wfix.map(_._3).sum
    wfix.map { case (l, c, w) =>
      val frac = math.min(1.0, (w.toDouble / sw) * (nn / 5.0) / c)
      (l, c, w, math.floor(frac * 65536).toLong)
    }
  }

  /** Priority-sample size. */
  val PS_K = 50

  /** 2^40 — the hash domain for the deterministic uniform draw. */
  val PS_DOM = 1099511627776L

  /** X — priority sampling (Duffield–Lund–Thorup): a weight-aware sample
    * of K documents with per-item Horvitz–Thompson-style estimates, the
    * principled replacement for "keep the biggest" when a pipeline must
    * subsample yet still estimate subset totals. Each doc gets priority
    * q = w/u with u a uniform draw; the K highest-priority docs are kept
    * and each carries the estimate max(w, τ) with τ the (K+1)-th
    * priority — Σ estimates is unbiased for Σ w over any subset.
    *
    * Determinism: u is the md5-derived 40-bit integer (h+1)/2^40, so
    * q·2^40/2^40 = w·2^40 div (h+1) is an EXACT integer priority both
    * engines compute bit-identically; ranking ties break on doc_id. No
    * RNG, no float.
    *
    * Scale posture: map-only priority computation, then
    * TakeOrderedAndProject(K+1) — the same k-bounded head as q18_topk;
    * τ broadcasts back as a 1-row frame. No window over the corpus, no
    * full sort.
    */
  val xPrioritySample = Q(
    "x_priority_sample",
    s"""WITH q AS (SELECT doc_id, n_chars AS w,
             (n_chars * $PS_DOM) // (('0x' ||
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT + 1)
               AS q_fix
           FROM documents),
       r AS (SELECT *, CAST(row_number() OVER (ORDER BY q_fix DESC, doc_id)
               AS BIGINT) AS rank FROM q),
       tau AS (SELECT CAST(coalesce(max(CASE WHEN rank = ${PS_K + 1}
                 THEN q_fix END), 0) AS BIGINT) AS tau
               FROM r WHERE rank <= ${PS_K + 1})
       SELECT rank, doc_id, w, q_fix, greatest(w, tau) AS est
       FROM r, tau WHERE rank <= $PS_K ORDER BY rank""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val q = T(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        expr(s"""(n_chars * $PS_DOM) div
                 (cast(conv(substring(md5(cast(doc_id as string)), 1, 10),
                            16, 10) as bigint) + 1)""").as("q_fix"))
    val top = q.orderBy(col("q_fix").desc, col("doc_id")).limit(PS_K + 1)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("q_fix").desc, col("doc_id"))).cast("long"))
    val tau = top.agg(coalesce(
      max(when(col("rank") === (PS_K + 1), col("q_fix"))), lit(0L)).as("tau"))
    top.filter(col("rank") <= PS_K)
      .crossJoin(broadcast(tau))
      .select(col("rank"), col("doc_id"), col("w"), col("q_fix"),
        greatest(col("w"), col("tau")).as("est"))
      .orderBy("rank")
  }

  /** Epoch cap for data-constrained mixing: no source repeats more than
    * this many times (Muennighoff et al. measure ~4 epochs as the point
    * of sharply diminishing returns; 3 here so the cap bisects this
    * fixture — the corpus sources are near-uniform in size, and a 3×
    * budget under UNIFORM shares wants ≈3·t_avg/t epochs of each, i.e.
    * above the cap for below-average sources and below it for
    * above-average ones, so both regimes are gate-covered at every SF).
    */
  val EPOCH_MAX = 3L

  /** Token budget as a multiple of the corpus total (×1000): 3× the
    * unique-token count — a data-constrained run that WANTS more tokens
    * than one epoch supplies. */
  val BUDGET_PERMILLE = 3000L

  /** X — data-constrained epoch scheduling: allocate a token budget of
    * 3× the corpus across sources under UNIFORM target shares (the
    * maximal-upsampling mixing recipe — every source gets an equal slice
    * of the budget regardless of its size, the α→0 limit of temperature
    * mixing), capped at EPOCH_MAX epochs of each source's unique tokens,
    * with one closed-form redistribution of the capped excess equally
    * across uncapped sources (re-capped; whatever still can't be placed
    * stays visible as the want-vs-alloc gap per row rather than silently
    * dropped). This is the planning step of "Scaling Data-Constrained
    * Language Models": how many times each source repeats inside a fixed
    * compute budget.
    *
    * Exactness: pure integers end to end — token counts, source count,
    * and every allocation line is integer multiply/divide (uniform
    * shares need no pow table at all).
    *
    * Scale posture: one hash agg to per-source token counts (20 rows),
    * then driver-free integer arithmetic over the bounded source
    * dimension via two broadcast joins of 1-row totals. The corpus is
    * scanned once.
    */
  val xEpochSchedule = Q(
    "x_epoch_schedule",
    s"""WITH s AS (SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
           FROM documents GROUP BY 1),
       tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt,
                 CAST(count(*) AS BIGINT) AS ns FROM s),
       b AS (SELECT tt, ns, (tt * $BUDGET_PERMILLE) // 1000 AS budget FROM tot),
       p1 AS (SELECT source, t, budget // ns AS want,
                least(budget // ns, $EPOCH_MAX * t) AS got1,
                ns FROM s, b),
       x AS (SELECT CAST(sum(want - got1) AS BIGINT) AS excess,
               CAST(sum(CASE WHEN want < $EPOCH_MAX * t THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2 FROM p1),
       p2 AS (SELECT source, t, want, got1,
                CASE WHEN want < $EPOCH_MAX * t AND n2 > 0
                     THEN least(got1 + excess // n2, $EPOCH_MAX * t)
                     ELSE got1 END AS alloc
              FROM p1, x)
       SELECT source, t AS unique_tokens, want, alloc,
              (1000 * alloc) // t AS epochs_milli,
              (alloc = $EPOCH_MAX * t) AS capped
       FROM p2 ORDER BY source""") { (s, dir) =>
    val w = T(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("t"))
    val tot = w.agg(sum(col("t")).as("tt"), count(lit(1)).as("ns"))
      .withColumn("budget", expr(s"(tt * $BUDGET_PERMILLE) div 1000"))
    val p1 = w.crossJoin(broadcast(tot))
      .withColumn("want", expr("budget div ns"))
      .withColumn("got1", least(col("want"), lit(EPOCH_MAX) * col("t")))
    val x = p1.agg(
      sum(col("want") - col("got1")).as("excess"),
      sum(when(col("want") < lit(EPOCH_MAX) * col("t"), 1L)
        .otherwise(0L)).as("n2"))
    p1.crossJoin(broadcast(x))
      .withColumn("alloc",
        when(col("want") < lit(EPOCH_MAX) * col("t") && col("n2") > 0,
          least(col("got1") + expr("excess div n2"),
            lit(EPOCH_MAX) * col("t")))
          .otherwise(col("got1")))
      .select(col("source"), col("t").as("unique_tokens"),
        col("want"), col("alloc"),
        expr("(1000 * alloc) div t").as("epochs_milli"),
        (col("alloc") === lit(EPOCH_MAX) * col("t")).as("capped"))
      .orderBy("source")
  }

  /** X — per-BENCHMARK decontamination attribution: real pipelines hold
    * out a SUITE of benchmarks, and "the corpus is contaminated" is not
    * actionable until you know WHICH benchmark leaks through WHICH
    * source — that row decides whether to drop documents or to re-split
    * the benchmark. The holdout is partitioned into three suites by the
    * same md5 machinery that defines it (prefix thirds), and each
    * (suite, source) cell reports contaminated train docs + distinct
    * verbatim-8-gram hits. A train doc can be contaminated by several
    * suites; each attribution is its own row — the sum over suites
    * intentionally exceeds the x_ngram_contamination doc count.
    *
    * Scale posture: identical to x_ngram_contamination (gram digests
    * cross the membership join; the suite label rides the bench side) —
    * the attribution grain adds |suites| to the group key, nothing to
    * the data volume.
    */
  val xBenchAttribution = Q(
    "x_bench_attribution",
    s"""WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS t
              FROM documents),
       sh AS (SELECT DISTINCT doc_id, source, ${gramSql(K)} AS sh
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - ${K - 1}, 1))) AS i)
              WHERE len(t) >= $K),
       split AS (SELECT doc_id,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
                 FROM documents),
       bench AS (SELECT DISTINCT
                   CASE WHEN split.h <= '07' THEN 'suiteA'
                        WHEN split.h <= '0f' THEN 'suiteB'
                        ELSE 'suiteC' END AS suite, sh.sh
                 FROM sh JOIN split USING (doc_id)
                 WHERE split.h <= '19'),
       hits AS (SELECT bench.suite, sh.source, sh.doc_id, sh.sh
                FROM sh JOIN split USING (doc_id)
                JOIN bench ON sh.sh = bench.sh
                WHERE split.h > '19')
       SELECT suite, source,
              CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_contam,
              CAST(count(DISTINCT sh) AS BIGINT) AS n_grams_hit
       FROM hits GROUP BY suite, source ORDER BY suite, source""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val pre = substring(md5(col("doc_id").cast("string")), 1, 2)
    val grams = docs.select(col("doc_id"), col("source"), pre.as("h"),
      explode(graft.functions.ArrayOps.wordShingleHashes(col("text"), K))
        .as("g"))
    val bench = grams.filter(col("h") <= "19")
      .select(when(col("h") <= "07", "suiteA")
        .when(col("h") <= "0f", "suiteB")
        .otherwise("suiteC").as("suite"), col("g"))
      .distinct()
    grams.filter(col("h") > "19")
      .select(col("doc_id"), col("source"), col("g"))
      .join(bench, "g")
      .groupBy(col("suite"), col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs_contam"),
        countDistinct(col("g")).as("n_grams_hit"))
      .orderBy("suite", "source")
  }

  /** X — quality-gate ABLATION: per rule of the C4/Gopher keep-gate
    * (token floor, stopword-ratio cap, 3-gram repetition cap), how many
    * documents it fails and how many it SOLELY fails — the table that
    * says which rule is doing the work and which is redundant before
    * anyone retunes a threshold (a rule with n_sole_fail = 0 can be
    * dropped without changing the kept corpus).
    *
    * Pure counts from one scan + the 3-gram bag agg; the 3-row reshape
    * is a driver-side literal union, never a shuffle.
    */
  val xQualityAblation = Q(
    "x_quality_ablation", {
      import TextStats.{MIN_TOKENS, REP_MAX, STOP_MAX, sqlList, stopEn}
      s"""WITH q AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
               w -> w IN (${sqlList(stopEn)}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
           FROM documents),
       w3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh3 AS (SELECT doc_id, ${gramSql(3)} AS sh
               FROM w3, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
               WHERE len(t) >= 3),
       rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
               FROM (SELECT doc_id, sh, count(*) AS c FROM sh3 GROUP BY 1, 2)
               GROUP BY 1),
       f AS (SELECT q.doc_id,
               q.n_tokens < $MIN_TOKENS AS f_tok,
               q.stop_ratio > $STOP_MAX AS f_stop,
               coalesce(rep.rep_ratio, 0) > $REP_MAX AS f_rep
             FROM q LEFT JOIN rep USING (doc_id)),
       agg AS (SELECT
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN NOT f_tok AND NOT f_stop AND NOT f_rep
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN f_tok THEN 1 ELSE 0 END) AS BIGINT) AS tok_f,
           CAST(sum(CASE WHEN f_tok AND NOT f_stop AND NOT f_rep
                         THEN 1 ELSE 0 END) AS BIGINT) AS tok_s,
           CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS stop_f,
           CAST(sum(CASE WHEN f_stop AND NOT f_tok AND NOT f_rep
                         THEN 1 ELSE 0 END) AS BIGINT) AS stop_s,
           CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS rep_f,
           CAST(sum(CASE WHEN f_rep AND NOT f_tok AND NOT f_stop
                         THEN 1 ELSE 0 END) AS BIGINT) AS rep_s
         FROM f)
       SELECT 'repetition' AS rule, rep_f AS n_fail, rep_s AS n_sole_fail,
              n_docs, n_pass FROM agg
       UNION ALL
       SELECT 'stopword_ratio', stop_f, stop_s, n_docs, n_pass FROM agg
       UNION ALL
       SELECT 'token_floor', tok_f, tok_s, n_docs, n_pass FROM agg
       ORDER BY rule"""
    }) { (s, dir) =>
    import TextStats.{nTokens, repRatios, stopRatio, stopwordHeavy, tooRepetitive, tooShort}
    val docs = T(s, dir, "documents")
    val words = split(col("text"), " ")
    val q = docs.select(col("doc_id"),
      nTokens(words).as("n_tokens"), stopRatio(words).as("stop_ratio"))
    val f = q.join(repRatios(docs), Seq("doc_id"), "left")
      .select(tooShort(col("n_tokens")).as("f_tok"),
        stopwordHeavy(col("stop_ratio")).as("f_stop"),
        tooRepetitive(coalesce(col("rep_ratio"), lit(0.0))).as("f_rep"))
    val agg = f.agg(
      count(lit(1)).as("n_docs"),
      sum(when(!col("f_tok") && !col("f_stop") && !col("f_rep"), 1L)
        .otherwise(0L)).as("n_pass"),
      sum(when(col("f_tok"), 1L).otherwise(0L)).as("tok_f"),
      sum(when(col("f_tok") && !col("f_stop") && !col("f_rep"), 1L)
        .otherwise(0L)).as("tok_s"),
      sum(when(col("f_stop"), 1L).otherwise(0L)).as("stop_f"),
      sum(when(col("f_stop") && !col("f_tok") && !col("f_rep"), 1L)
        .otherwise(0L)).as("stop_s"),
      sum(when(col("f_rep"), 1L).otherwise(0L)).as("rep_f"),
      sum(when(col("f_rep") && !col("f_tok") && !col("f_stop"), 1L)
        .otherwise(0L)).as("rep_s"))
    agg.select(lit("repetition").as("rule"), col("rep_f").as("n_fail"),
        col("rep_s").as("n_sole_fail"), col("n_docs"), col("n_pass"))
      .unionAll(agg.select(lit("stopword_ratio"), col("stop_f"),
        col("stop_s"), col("n_docs"), col("n_pass")))
      .unionAll(agg.select(lit("token_floor"), col("tok_f"),
        col("tok_s"), col("n_docs"), col("n_pass")))
      .orderBy("rule")
  }

  /** α grid for the temperature operating curve, ×10. */
  val TEMP_CURVE_ALPHAS = Seq(1L, 3L, 5L, 7L, 10L)

  /** X — the α OPERATING CURVE for temperature mixing: what every
    * mixture designer writes down before committing to an exponent
    * (x_temperature_mix runs ONE α; this prices the knob — the same
    * relationship x_dedup_threshold_curve has to q33). For α ∈
    * {0.1, 0.3, 0.5, 0.7, 1.0}, each language's mixture share
    * w_i ∝ p_i^α is computed from the SAME single language-count
    * aggregation; the table shows the head language's suppression and
    * the tail's upsampling sweep from near-uniform (α→0) to
    * proportional (α=1) — the two failure modes (head domination vs
    * tail overfitting from extreme upsampling) sit at the ends, and the
    * row where the tail's boost_ppm crosses the epoch-cap budget
    * (x_epoch_schedule) is how α actually gets chosen.
    *
    * Float discipline: p^α is the one libm operation, immediately
    * rounded to the 1e9 fixed-point grid (the x_temperature_mix
    * contract, margin-audited in Round9Spec's family); shares are then
    * exact integer ppm floor-divs.
    *
    * Scale posture: the corpus collapses to one (lang, n) agg; the
    * curve is |langs| × |α grid| rows of pure projection — the whole
    * operator is group-domain-sized after one map-side-combined pass.
    */
  val xTemperatureCurve = Q(
    "x_temperature_curve",
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
             FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
       alphas AS (SELECT CAST(unnest(ARRAY[${TEMP_CURVE_ALPHAS.mkString(",")}])
                    AS BIGINT) AS alpha_x10),
       pw AS (SELECT alpha_x10, lang, n,
                CAST(round(pow(CAST(n AS DOUBLE) / nn, alpha_x10 / 10.0)
                  * 1000000000) AS BIGINT) AS wfix
              FROM c, tot, alphas),
       sw AS (SELECT alpha_x10, CAST(sum(wfix) AS BIGINT) AS s
              FROM pw GROUP BY 1)
       SELECT pw.alpha_x10, pw.lang, pw.n AS n_docs, pw.wfix,
              (1000000 * pw.wfix) // sw.s AS share_ppm,
              ((1000000 * pw.wfix) // sw.s) * tot.nn // pw.n AS boost_ppm
       FROM pw JOIN sw USING (alpha_x10), tot
       ORDER BY alpha_x10, lang""") { (s, dir) =>
    val c = T(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("nn"))
    val alphas = s.createDataset(TEMP_CURVE_ALPHAS)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("alpha_x10")
    val pw = c.crossJoin(broadcast(tot)).crossJoin(broadcast(alphas))
      .select(col("alpha_x10"), col("lang"), col("n"),
        expr("""CAST(round(pow(CAST(n AS DOUBLE) / nn, alpha_x10 / 10.0)
                * 1000000000) AS BIGINT)""").as("wfix"),
        col("nn"))
    val sw = pw.groupBy("alpha_x10").agg(sum(col("wfix")).as("s"))
    pw.join(broadcast(sw), Seq("alpha_x10"))
      .select(col("alpha_x10"), col("lang"), col("n").as("n_docs"),
        col("wfix"),
        expr("(1000000 * wfix) div s").as("share_ppm"),
        expr("((1000000 * wfix) div s) * nn div n").as("boost_ppm"))
      .orderBy("alpha_x10", "lang")
  }

  val all: Seq[Q] = Seq(xNgramContamination, xMixSample, xDomainCap,
    xDatasetCard, xNgramNovelty, xTemperatureMix, xPrioritySample,
    xEpochSchedule, xBenchAttribution, xQualityAblation, xTemperatureCurve)
}
