package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}

/** Corpus-overlap evaluation metrics — ROUGE and BLEU, the standard
  * scores a data pipeline computes when qualifying machine-rewritten
  * text (summaries, simplifications, decontaminating paraphrases)
  * against its source.
  *
  * The graded candidate is a deterministic "lossy rewrite" of each
  * document: every 11th word is replaced by 'the' (introduces n-grams
  * the reference may lack → clipping binds) and every 7th word is
  * dropped (shortens the candidate → brevity penalty binds). Both
  * engines build it with the same indexed list lambdas.
  *
  * Exactness: all n-gram counting is integer (explode → count → join →
  * Σ min). ROUGE P/R/F1 are exact integer rationals emitted as 1e6
  * fixed points via integer division. Corpus BLEU needs exp/sqrt once
  * over the FINAL six integers — the one rounded transcendental, so the
  * raw value is audited in RoundingMarginSpec ("bleu-corpus" family).
  *
  * Scale posture: token explode → (doc_id, gram) hash agg → same-key
  * join → per-doc (ROUGE) or global (BLEU) re-agg. Everything shuffles
  * on (doc_id, gram) with map-side combine; no windows, no driver
  * state.
  */
object Overlap {

  /** Rewrite parameters: replace every REP_K-th word, drop every
    * DROP_K-th. */
  val REP_K = 11L
  val DROP_K = 7L

  private val duckRewrite =
    s"""list_filter(list_transform(string_split(text, ' '),
        (x, i) -> CASE WHEN i % $REP_K = 0 THEN 'the' ELSE x END),
        (x, i) -> i % $DROP_K != 0)"""

  private val sparkRewrite =
    s"""filter(transform(split(text, ' '),
        (x, i) -> IF((i + 1) % $REP_K = 0, 'the', x)),
        (x, i) -> (i + 1) % $DROP_K != 0)"""

  /** (doc_id, rw, cw): reference and candidate word arrays. */
  private[graft] def pairsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      split(col("text"), " ").as("rw"),
      expr(sparkRewrite).as("cw"))

  private[llmops] def pairs(s: SparkSession, dir: String): DataFrame =
    pairsFrom(T(s, dir, "documents"))

  /** Per-doc clipped unigram matches m, candidate total c, ref total r. */
  private[llmops] def unigramStats(s: SparkSession, dir: String): DataFrame = {
    val p = pairs(s, dir)
    val cu = p.select(col("doc_id"), explode(col("cw")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cc"))
    val ru = p.select(col("doc_id"), explode(col("rw")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("rc"))
    val m = cu.join(ru, Seq("doc_id", "g"))
      .groupBy("doc_id").agg(sum(least(col("cc"), col("rc"))).as("m1"))
    p.select(col("doc_id"), size(col("cw")).cast("long").as("c1"),
        size(col("rw")).cast("long").as("r1"))
      .join(m, Seq("doc_id"), "left")
      .na.fill(0L, Seq("m1"))
  }

  /** X — ROUGE-1 per document: clipped unigram overlap precision /
    * recall / F1 between the rewrite and its source, all exact integer
    * rationals (F1 = 2m/(c+r), no transcendental anywhere).
    */
  val xRougeEval = Q(
    "x_rouge_eval",
    s"""WITH p AS (SELECT doc_id, string_split(text, ' ') AS rw,
             $duckRewrite AS cw FROM documents),
       cu AS (SELECT doc_id, unnest(cw) AS g FROM p),
       cuc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc
               FROM cu GROUP BY 1, 2),
       ru AS (SELECT doc_id, unnest(rw) AS g FROM p),
       ruc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc
               FROM ru GROUP BY 1, 2),
       m AS (SELECT doc_id, CAST(sum(least(cc, rc)) AS BIGINT) AS m1
             FROM cuc JOIN ruc USING (doc_id, g) GROUP BY doc_id),
       b AS (SELECT p.doc_id, coalesce(m1, 0) AS m1,
               CAST(len(cw) AS BIGINT) AS c1, CAST(len(rw) AS BIGINT) AS r1
             FROM p LEFT JOIN m ON p.doc_id = m.doc_id)
       SELECT doc_id, m1, c1, r1,
              (1000000 * m1) // c1 AS p_fix,
              (1000000 * m1) // r1 AS rec_fix,
              (2000000 * m1) // (c1 + r1) AS f1_fix
       FROM b ORDER BY doc_id""") { (s, dir) =>
    unigramStats(s, dir)
      .select(col("doc_id"), col("m1"), col("c1"), col("r1"),
        expr("(1000000 * m1) div c1").as("p_fix"),
        expr("(1000000 * m1) div r1").as("rec_fix"),
        expr("(2000000 * m1) div (c1 + r1)").as("f1_fix"))
      .orderBy("doc_id")
  }

  /** The six corpus-level BLEU integers:
    * (m1, c1, m2, c2, r_len, c_len). */
  private[llmops] def bleuParts(s: SparkSession, dir: String): DataFrame = {
    // ONE tagged gram shuffle instead of six aggregate passes (measured
    // 1.73 s → 0.3 s at sf0.1, see BENCH_COMPARISON): both sides'
    // unigrams AND bigrams explode once with an (n, side) tag, one
    // (doc_id, n, g) hash agg builds the candidate/reference counts, and
    // every BLEU integer falls out of two tiny follow-up aggs. Clipped
    // matches are Σ min(cc, rc) — a gram absent on one side contributes
    // 0, exactly what the old inner-join spelling computed.
    def gramArray(c: String) = expr(
      s"""concat(
            transform($c, w -> struct(1 AS n, w AS g)),
            CASE WHEN size($c) >= 2 THEN
              transform(sequence(1, size($c) - 1),
                i -> struct(2 AS n, concat(element_at($c, i), ' ',
                                           element_at($c, i + 1)) AS g))
            ELSE slice(transform(sequence(1, 1),
                   i -> struct(2 AS n, '' AS g)), 1, 0) END)""")
    val p = pairs(s, dir)
    val ex = p.select(col("doc_id"), lit(1L).as("is_cand"),
        explode(gramArray("cw")).as("e"))
      .union(p.select(col("doc_id"), lit(0L).as("is_cand"),
        explode(gramArray("rw")).as("e")))
      .select(col("doc_id"), col("is_cand"),
        col("e.n").as("n"), col("e.g").as("g"))
    val counts = ex.groupBy("doc_id", "n", "g").agg(
      sum(col("is_cand")).as("cc"),
      sum(lit(1L) - col("is_cand")).as("rc"))
    val byN = counts.groupBy("n").agg(
      sum(least(col("cc"), col("rc"))).as("m"),
      sum(col("cc")).as("c"), sum(col("rc")).as("r"))
    byN.agg(
        sum(when(col("n") === 1, col("m"))).as("m1"),
        sum(when(col("n") === 1, col("c"))).as("c1"),
        sum(when(col("n") === 2, col("m"))).as("m2"),
        sum(when(col("n") === 2, col("c"))).as("c2"),
        sum(when(col("n") === 1, col("r"))).as("r_len"))
      .select(col("m1"), col("c1"), col("m2"), col("c2"),
        col("r_len"), col("c1").as("c_len"))
  }

  /** The pre-round corpus BLEU double (for the rounding-margin audit). */
  private[llmops] def bleuRaw(s: SparkSession, dir: String): Double = {
    val Array(r) = bleuParts(s, dir).collect()
    val (m1, c1, m2, c2, rl, cl) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val bp = if (cl >= rl) 1.0 else math.exp(1.0 - rl.toDouble / cl)
    bp * math.sqrt((m1.toDouble / c1) * (m2.toDouble / c2))
  }

  /** X — corpus BLEU-2 of the rewrite against its source: clipped
    * modified n-gram precisions p1, p2 plus the brevity penalty, i.e.
    * BLEU = BP · √(p1·p2). The six aggregates are exact integers; the
    * single exp/sqrt runs once over them in both engines and is rounded
    * to a 1e6 fixed point (margin audited).
    */
  val xBleuEval = Q(
    "x_bleu_eval",
    s"""WITH p AS (SELECT doc_id, string_split(text, ' ') AS rw,
             $duckRewrite AS cw FROM documents),
       cuc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM
               (SELECT doc_id, unnest(cw) AS g FROM p) GROUP BY 1, 2),
       ruc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM
               (SELECT doc_id, unnest(rw) AS g FROM p) GROUP BY 1, 2),
       cbc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM
               (SELECT doc_id, cw[i] || ' ' || cw[i+1] AS g FROM p,
                  LATERAL (SELECT unnest(generate_series(1, len(cw) - 1)) AS i)
                WHERE len(cw) >= 2) GROUP BY 1, 2),
       rbc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM
               (SELECT doc_id, rw[i] || ' ' || rw[i+1] AS g FROM p,
                  LATERAL (SELECT unnest(generate_series(1, len(rw) - 1)) AS i)
                WHERE len(rw) >= 2) GROUP BY 1, 2),
       agg AS (SELECT
           (SELECT CAST(sum(least(cc, rc)) AS BIGINT)
              FROM cuc JOIN ruc USING (doc_id, g)) AS m1,
           (SELECT CAST(sum(len(cw)) AS BIGINT) FROM p) AS c1,
           (SELECT CAST(sum(least(cc, rc)) AS BIGINT)
              FROM cbc JOIN rbc USING (doc_id, g)) AS m2,
           (SELECT CAST(sum(CASE WHEN len(cw) >= 2 THEN len(cw) - 1
                                 ELSE 0 END) AS BIGINT) FROM p) AS c2,
           (SELECT CAST(sum(len(rw)) AS BIGINT) FROM p) AS r_len,
           (SELECT CAST(sum(len(cw)) AS BIGINT) FROM p) AS c_len)
       SELECT m1, c1, m2, c2, r_len, c_len,
              CAST(round(1000000 *
                (CASE WHEN c_len >= r_len THEN 1.0
                      ELSE exp(1.0 - CAST(r_len AS DOUBLE) / c_len) END) *
                sqrt((CAST(m1 AS DOUBLE) / c1) * (CAST(m2 AS DOUBLE) / c2)))
                AS BIGINT) AS bleu_fix
       FROM agg""") { (s, dir) =>
    bleuParts(s, dir).select(col("m1"), col("c1"), col("m2"), col("c2"),
      col("r_len"), col("c_len"),
      round(lit(1000000.0) *
        when(col("c_len") >= col("r_len"), lit(1.0))
          .otherwise(exp(lit(1.0) - col("r_len").cast("double") / col("c_len"))) *
        sqrt((col("m1").cast("double") / col("c1")) *
          (col("m2").cast("double") / col("c2"))))
        .cast("long").as("bleu_fix"))
  }

  /** The nine corpus-level chrF integers: per n ∈ {1,2,3} the clipped
    * match / candidate-total / reference-total character-n-gram counts
    * (whitespace stripped, per the chrF definition), summed over the
    * corpus sacrebleu-style. Same single tagged gram shuffle as BLEU.
    */
  private[graft] def chrfPartsFrom(docs: DataFrame): DataFrame = {
    val p0 = pairsFrom(docs).select(col("doc_id"),
      array_join(col("rw"), "").as("rt"), array_join(col("cw"), "").as("ct"))
    // two chained generators + a post-explode substring projection: the
    // position stream is plain ints and the gram string is cut once per
    // output row inside whole-stage codegen — measured ~2× the struct-
    // array spelling (which materialized ~6·len(t) structs per doc
    // before exploding them)
    val ex = p0.select(col("doc_id"), lit(1L).as("is_cand"),
        col("ct").as("t"))
      .union(p0.select(col("doc_id"), lit(0L).as("is_cand"),
        col("rt").as("t")))
      .select(col("doc_id"), col("is_cand"), col("t"),
        explode(expr("array(1, 2, 3)")).as("n"))
      .filter(length(col("t")) >= col("n"))
      .select(col("doc_id"), col("is_cand"), col("n"), col("t"),
        expr("explode(sequence(1, length(t) - n + 1))").as("i"))
      .select(col("doc_id"), col("is_cand"), col("n"),
        expr("substring(t, i, n)").as("g"))
    val cnt = ex.groupBy("doc_id", "n", "g").agg(
      sum(col("is_cand")).as("cc"), sum(lit(1L) - col("is_cand")).as("rc"))
    val byN = cnt.groupBy("n").agg(
      sum(least(col("cc"), col("rc"))).as("m"),
      sum(col("cc")).as("c"), sum(col("rc")).as("r"))
    byN.agg(
      sum(when(col("n") === 1, col("m"))).as("m1"),
      sum(when(col("n") === 1, col("c"))).as("c1"),
      sum(when(col("n") === 1, col("r"))).as("r1"),
      sum(when(col("n") === 2, col("m"))).as("m2"),
      sum(when(col("n") === 2, col("c"))).as("c2"),
      sum(when(col("n") === 2, col("r"))).as("r2"),
      sum(when(col("n") === 3, col("m"))).as("m3"),
      sum(when(col("n") === 3, col("c"))).as("c3"),
      sum(when(col("n") === 3, col("r"))).as("r3"))
  }

  private[llmops] def chrfParts(s: SparkSession, dir: String): DataFrame =
    chrfPartsFrom(T(s, dir, "documents"))

  /** The pre-round corpus chrF double (for the rounding-margin audit). */
  private[llmops] def chrfRaw(s: SparkSession, dir: String): Double = {
    val r = chrfParts(s, dir).collect()(0)
    def l(i: Int) = r.getLong(i)
    val p = (l(0).toDouble / l(1) + l(3).toDouble / l(4) +
      l(6).toDouble / l(7)) / 3.0
    val rr = (l(0).toDouble / l(2) + l(3).toDouble / l(5) +
      l(6).toDouble / l(8)) / 3.0
    5.0 * p * rr / (4.0 * p + rr)
  }

  /** X — corpus chrF (Popović 2015), the third leg of the MT/rewrite
    * eval panel beside ROUGE and BLEU: character-n-gram F-score with
    * n = 1..3 and β = 2 (recall-weighted), whitespace stripped. CHRP and
    * CHRR macro-average the per-n clipped precisions/recalls over the
    * corpus-summed statistics (sacrebleu's corpus aggregation), and
    * chrF = 5·P·R/(4·P + R). The nine aggregates are exact integers;
    * the final expression is written in the identical IEEE evaluation
    * order in both engines and rounded once to a 1e6 fixed point
    * (margin audited — "chrf-corpus" family).
    *
    * Scale posture: identical to BLEU's — one tagged explode of both
    * sides' grams, one (doc_id, n, g) hash agg with map-side combine,
    * two bounded re-aggs (3 rows, then 1). The char-gram explode is 3×
    * the corpus character count per side: scan-proportional, no
    * windows, no driver state.
    */
  val xChrfEval = Q(
    "x_chrf_eval",
    s"""WITH p AS (SELECT doc_id,
             array_to_string(string_split(text, ' '), '') AS rt,
             array_to_string($duckRewrite, '') AS ct FROM documents),
       ex AS (
         SELECT doc_id, 1 AS is_cand, n, substr(ct, i, n) AS g
         FROM p, LATERAL (SELECT unnest([1, 2, 3]) AS n) ln,
              LATERAL (SELECT unnest(generate_series(1, len(ct) - n + 1)) AS i) li
         WHERE len(ct) >= n
         UNION ALL
         SELECT doc_id, 0 AS is_cand, n, substr(rt, i, n) AS g
         FROM p, LATERAL (SELECT unnest([1, 2, 3]) AS n) ln,
              LATERAL (SELECT unnest(generate_series(1, len(rt) - n + 1)) AS i) li
         WHERE len(rt) >= n),
       cnt AS (SELECT doc_id, n, g,
                 CAST(sum(is_cand) AS BIGINT) AS cc,
                 CAST(sum(1 - is_cand) AS BIGINT) AS rc
               FROM ex GROUP BY 1, 2, 3),
       byn AS (SELECT n, CAST(sum(least(cc, rc)) AS BIGINT) AS m,
                 CAST(sum(cc) AS BIGINT) AS c, CAST(sum(rc) AS BIGINT) AS r
               FROM cnt GROUP BY n),
       agg AS (SELECT
           CAST(sum(CASE WHEN n = 1 THEN m END) AS BIGINT) AS m1,
           CAST(sum(CASE WHEN n = 1 THEN c END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN n = 1 THEN r END) AS BIGINT) AS r1,
           CAST(sum(CASE WHEN n = 2 THEN m END) AS BIGINT) AS m2,
           CAST(sum(CASE WHEN n = 2 THEN c END) AS BIGINT) AS c2,
           CAST(sum(CASE WHEN n = 2 THEN r END) AS BIGINT) AS r2,
           CAST(sum(CASE WHEN n = 3 THEN m END) AS BIGINT) AS m3,
           CAST(sum(CASE WHEN n = 3 THEN c END) AS BIGINT) AS c3,
           CAST(sum(CASE WHEN n = 3 THEN r END) AS BIGINT) AS r3
         FROM byn),
       f AS (SELECT *,
           (CAST(m1 AS DOUBLE) / c1 + CAST(m2 AS DOUBLE) / c2 +
            CAST(m3 AS DOUBLE) / c3) / 3.0 AS chrp,
           (CAST(m1 AS DOUBLE) / r1 + CAST(m2 AS DOUBLE) / r2 +
            CAST(m3 AS DOUBLE) / r3) / 3.0 AS chrr
         FROM agg)
       SELECT m1, c1, r1, m2, c2, r2, m3, c3, r3,
              CAST(round(1000000 * (5.0 * chrp * chrr / (4.0 * chrp + chrr)))
                AS BIGINT) AS chrf_fix
       FROM f""") { (s, dir) =>
    val parts = chrfParts(s, dir)
    val chrp = (col("m1").cast("double") / col("c1") +
      col("m2").cast("double") / col("c2") +
      col("m3").cast("double") / col("c3")) / lit(3.0)
    val chrr = (col("m1").cast("double") / col("r1") +
      col("m2").cast("double") / col("r2") +
      col("m3").cast("double") / col("r3")) / lit(3.0)
    parts.select(col("m1"), col("c1"), col("r1"), col("m2"), col("c2"),
      col("r2"), col("m3"), col("c3"), col("r3"),
      round(lit(1000000.0) * (lit(5.0) * chrp * chrr /
        (lit(4.0) * chrp + chrr))).cast("long").as("chrf_fix"))
  }

  val all: Seq[Q] = Seq(xRougeEval, xBleuEval, xChrfEval)
}
