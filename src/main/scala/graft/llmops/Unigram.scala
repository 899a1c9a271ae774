package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, SessionMemo, Tables => T}

/** Unigram-LM (SentencePiece-style) tokenizer — the second tokenizer
  * family real pipelines use beside BPE (Kudo 2018: seed a substring
  * vocabulary, EM-fit piece probabilities, prune, segment by maximum
  * likelihood). Re-expressed for a distributed engine with FULL oracle
  * replication (unlike BPE's derived-fact oracle, every training step
  * here is cross-engine checkable):
  *
  *   1. word histogram         — the one corpus pass (BPE's formulation:
  *                               tokenization is context-free, so all
  *                               later work runs over (word, count))
  *   2. seed vocabulary        — every substring of length ≤ MAX_PIECE
  *                               with corpus frequency; all single chars
  *                               plus the SEED_MULTI most frequent
  *                               multi-char pieces
  *   3. hard-EM E-step         — Viterbi-segment every histogram word
  *                               under the seed log-probs (the Viterbi
  *                               approximation SentencePiece itself
  *                               offers); piece usage = Σ word-count
  *                               over the chosen paths
  *   4. M-step + prune         — multi-char pieces with zero Viterbi
  *                               usage drop (the EM prune); survivor
  *                               probabilities re-estimated from usage
  *                               with add-one smoothing
  *   5. final segmentation     — Viterbi under the refit model; output
  *                               per word: piece count, total log-prob,
  *                               and the segmentation itself
  *
  * Cross-engine float discipline (the x_dsir_weights pattern): ln runs
  * ONLY on the ≤|vocab| probability estimates, each immediately rounded
  * to a LP_SCALE fixed-point integer; all Viterbi arithmetic is then
  * exact integer sums, so best scores, tie resolution, piece counts and
  * the reconstructed paths agree bit-for-bit between engines. The
  * rounding-margin audit (RoundingMarginSpec) measures every vocab
  * entry's distance to the round-half boundary.
  *
  * Viterbi determinism: the DP maximizes score with ties broken toward
  * FEWER pieces; path reconstruction walks backward taking the LONGEST
  * piece consistent with the (score, pieces) optimum at every step —
  * a pure function of the integer tables, identical in both engines.
  *
  * Distributed shape: the corpus is touched once (histogram); the DP is
  * an UNROLLED column pipeline over the histogram frame — per-row
  * narrow work, no UDF, no driver loop over words; only the model
  * (≤ SEED_MULTI + alphabet rows of piece/usage/log-prob) ever sits on
  * the driver, the k-means-centroid acceptance class. The histogram
  * itself is never collected (unlike BPE's documented driver path), so
  * an open web-scale vocabulary changes nothing structurally. Words
  * longer than MAX_WORD fail loudly (this lake: max 8). The DP runs
  * as a native per-row expression (graft.functions.UnigramSegment);
  * the corpus-sized work (histogram build, application join) is
  * codegen'd column machinery.
  */
object Unigram {

  val MAX_PIECE = 4
  val MAX_WORD = 12
  val SEED_MULTI = 40
  val LP_SCALE = 1000000L
  private val NEG = -1000000000000L

  // ---------------------------------------------------------------- Spark

  /** (w, cnt) — corpus word histogram, the single corpus-wide pass. */
  def wordHist(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** All (piece, freq) substring candidates of length 1..MAX_PIECE,
    * freq = occurrences weighted by word count.
    */
  def candidates(hist: DataFrame): DataFrame =
    (1 to MAX_PIECE).map { l =>
      hist.filter(length(col("w")) >= l)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(1, length(w) - $l + 1), i -> substring(w, i, $l))"))
          .as("p"))
    }.reduce(_ unionByName _)
      .groupBy("p").agg(sum(col("cnt")).as("freq"))

  /** Viterbi over the histogram frame under integer log-probs `lp`:
    * adds `n_pieces`, `score_fix`, `seg` via the native per-row DP
    * expression ([[graft.functions.UnigramSegment]] — see its scaladoc
    * for why this replaced the unrolled column pipeline).
    */
  def viterbi(hist: DataFrame, lp: Map[String, Long]): DataFrame =
    hist.withColumn("r",
        graft.functions.UnigramSegment(col("w"), lp, MAX_PIECE))
      .select(col("w"), col("cnt"), col("r.n_pieces").as("n_pieces"),
        col("r.score_fix").as("score_fix"), col("r.seg").as("seg"))

  /** Session-memoized trained model per lake dir: a tokenizer is
    * trained once and applied many times; the three graded queries
    * share one training run. The returned segmentation frame is
    * localCheckpoint'd — the unrolled Viterbi lineage is enormous, and
    * every downstream action would otherwise re-analyze it (the
    * FullCuration lesson).
    */
  private val trainMemo =
    new SessionMemo[(Seq[(String, Long, Long)], DataFrame)]

  def trainedModel(s: SparkSession, dir: String)
      : (Seq[(String, Long, Long)], DataFrame) =
    trainMemo(s, dir)(train(T(s, dir, "documents")))

  /** The trained model: (vocab rows (piece, usage, lp_fix) sorted by
    * piece, and the final-segmentation frame over the histogram).
    * Driver state is the vocabulary only.
    */
  def train(docs: DataFrame): (Seq[(String, Long, Long)], DataFrame) = {
    val spark = docs.sparkSession
    val hist = wordHist(docs).cache()
    graft.core.CacheBin.swap("unigram.hist", hist)
    val over = hist.filter(length(col("w")) > MAX_WORD).count()
    require(over == 0, s"$over words exceed MAX_WORD=$MAX_WORD — raise the unroll bound")

    val cand = candidates(hist)
    val singles = cand.filter(length(col("p")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val multis = cand.filter(length(col("p")) >= 2)
      .orderBy(col("freq").desc, col("p")).limit(SEED_MULTI)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val seed = singles ++ multis
    val t0 = seed.map(_._2).sum
    val lp0 = seed.map { case (p, f) =>
      p -> math.round(LP_SCALE * math.log(f.toDouble / t0)) }.toMap

    // E-step: Viterbi usage under the seed model (vocab-sized collect)
    val usage = viterbi(hist, lp0)
      .select(col("cnt"), explode(split(col("seg"), "\\|")).as("p"))
      .groupBy("p").agg(sum(col("cnt")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // M-step + prune: all singles (add-one floor), used multis only
    val v1 = (singles.map { case (p, _) => (p, usage.getOrElse(p, 0L)) } ++
      multis.flatMap { case (p, _) =>
        usage.get(p).filter(_ >= 1).map(u => (p, u)) }).sortBy(_._1)
    val tu = v1.map(_._2).sum
    val nv = v1.length
    val vocab = v1.map { case (p, u) =>
      (p, u, math.round(LP_SCALE * math.log((u + 1.0) / (tu + nv)))) }
    val lp1 = vocab.map { case (p, _, lp) => p -> lp }.toMap
    (vocab, viterbi(hist, lp1).localCheckpoint())
  }

  // ---------------------------------------------------------------- SQL

  /** The unrolled forward DP + backward walk as a chain of layered
    * CTEs over a frame exposing (w, cnt) — mirrors [[viterbi]] term for
    * term. One CTE per DP step: DuckDB expands same-SELECT alias
    * references TEXTUALLY, so a single-select spelling of a 12-step,
    * 4-candidate recurrence is a ~4^12-node expression tree (measured:
    * minutes of binder time); layering materializes each step once.
    * piece→lp lookups go through a 1-row MAP column (`$mapCol`, cross-
    * joined in the first layer and carried by SELECT *) because alias
    * chaining also rejects subquery-bearing expressions.
    */
  private def dpCtes(pfx: String, mapCol: String, mapTable: String): String = {
    def look(piece: String): String = s"$mapCol[$piece][1]"
    val sb = new StringBuilder
    sb ++= s"""       ${pfx}_f0 AS (SELECT hist.*, $mapCol,
         CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS n0
         FROM hist, $mapTable),""" + "\n"
    for (i <- 1 to MAX_WORD) {
      val cands = (1 to math.min(MAX_PIECE, i)).map { l =>
        (l, s"""CASE WHEN len(w) >= $i AND ${look(s"substr(w, ${i - l + 1}, $l)")} IS NOT NULL
             THEN b${i - l} + ${look(s"substr(w, ${i - l + 1}, $l)")} ELSE $NEG END""")
      }
      val bi =
        if (cands.length == 1) cands.head._2
        else s"greatest(${cands.map(_._2).mkString(", ")})"
      val ni = s"least(${cands.map { case (l, sc) =>
        s"CASE WHEN ($sc) = b$i THEN n${i - l} + 1 END" }.mkString(", ")})"
      sb ++= s"""       ${pfx}_f$i AS (SELECT *, ($bi) AS b$i, ($ni) AS n$i
         FROM ${pfx}_f${i - 1}),""" + "\n"
    }
    sb ++= s"""       ${pfx}_s0 AS (SELECT *,
         [${(0 to MAX_WORD).map("b" + _).mkString(", ")}] AS barr,
         [${(0 to MAX_WORD).map("n" + _).mkString(", ")}] AS narr,
         len(w) AS pos0 FROM ${pfx}_f$MAX_WORD),""" + "\n"
    for (k <- 1 to MAX_WORD) {
      val pos = s"pos${k - 1}"
      val whens = (MAX_PIECE to 1 by -1).map { l =>
        s"""WHEN $pos >= $l AND ${look(s"substr(w, $pos - $l + 1, $l)")} IS NOT NULL
               AND barr[$pos - $l + 1] + ${look(s"substr(w, $pos - $l + 1, $l)")} = barr[$pos + 1]
               AND narr[$pos - $l + 1] + 1 = narr[$pos + 1] THEN $l"""
      }.mkString(" ")
      sb ++= s"""       ${pfx}_s$k AS (SELECT *,
         (CASE WHEN $pos > 0 THEN CASE $whens END END) AS L$k,
         (CASE WHEN L$k IS NOT NULL THEN substr(w, $pos - L$k + 1, L$k) END) AS piece$k,
         (CASE WHEN L$k IS NOT NULL THEN $pos - L$k ELSE 0 END) AS pos$k
         FROM ${pfx}_s${k - 1}),""" + "\n"
    }
    sb ++= s"""       $pfx AS (SELECT w, cnt,
         ${(1 to MAX_WORD).map("piece" + _).mkString(", ")},
         narr[len(w) + 1] AS n_pieces,
         barr[len(w) + 1] AS score_fix,
         array_to_string(list_reverse(list_filter(
           [${(1 to MAX_WORD).map("piece" + _).mkString(", ")}],
           x -> x IS NOT NULL)), '|') AS seg
         FROM ${pfx}_s$MAX_WORD)"""
    sb.toString
  }

  /** Shared training CTE chain (through the refit model lp1). */
  private def trainSql: String =
    s"""WITH wq AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       hist AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM wq
                WHERE w <> '' GROUP BY w),
       cand AS (SELECT substr(h.w, i, l) AS p, CAST(sum(h.cnt) AS BIGINT) AS freq
                FROM hist h,
                     LATERAL (SELECT unnest(generate_series(1, $MAX_PIECE)) AS l),
                     LATERAL (SELECT unnest(generate_series(1, len(h.w) - l + 1)) AS i)
                WHERE len(h.w) >= l GROUP BY 1),
       singles AS (SELECT p, freq FROM cand WHERE len(p) = 1),
       multis AS (SELECT p, freq FROM cand WHERE len(p) >= 2
                  ORDER BY freq DESC, p LIMIT $SEED_MULTI),
       v0 AS (SELECT p, freq FROM singles UNION ALL SELECT p, freq FROM multis),
       t0 AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM v0),
       lp0 AS (SELECT p, CAST(round($LP_SCALE * ln(CAST(freq AS DOUBLE) / t)) AS BIGINT) AS lp
               FROM v0, t0),
       lpm0 AS (SELECT map(list(p ORDER BY p), list(lp ORDER BY p)) AS m0 FROM lp0),
${dpCtes("dp0", "m0", "lpm0")},
       use0 AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS u FROM (
                  SELECT cnt, unnest(list_filter(
                    [${(1 to MAX_WORD).map("piece" + _).mkString(", ")}],
                    x -> x IS NOT NULL)) AS p
                  FROM dp0) GROUP BY 1),
       v1 AS (SELECT s.p, coalesce(u.u, 0) AS u
              FROM singles s LEFT JOIN use0 u ON s.p = u.p
              UNION ALL
              SELECT m.p, u.u FROM multis m JOIN use0 u ON m.p = u.p
              WHERE u.u >= 1),
       uv AS (SELECT CAST(sum(u) AS BIGINT) AS tu, CAST(count(*) AS BIGINT) AS nv FROM v1),
       lp1 AS (SELECT p, CAST(round($LP_SCALE * ln((u + 1.0) / (tu + nv))) AS BIGINT) AS lp
               FROM v1, uv),
       lpm1 AS (SELECT map(list(p ORDER BY p), list(lp ORDER BY p)) AS m1 FROM lp1)"""

  // ---------------------------------------------------------------- Qs

  /** X — the learned vocabulary itself: every surviving piece with its
    * Viterbi usage and fixed-point log-prob.
    */
  val xUnigramVocab = Q(
    "x_unigram_vocab",
    s"""$trainSql
       SELECT v1.p AS piece, CAST(v1.u AS BIGINT) AS usage, lp1.lp AS lp_fix
       FROM v1 JOIN lp1 ON v1.p = lp1.p ORDER BY piece""") { (s, dir) =>
    import s.implicits._
    val (vocab, _) = trainedModel(s, dir)
    vocab.toDF("piece", "usage", "lp_fix").orderBy("piece")
  }

  /** X — maximum-likelihood segmentation of every corpus word under the
    * trained model: piece count, total fixed-point log-prob, and the
    * segmentation string (the tokenizer's observable behavior — any
    * vocabulary, probability, or tie-resolution divergence lands here).
    */
  val xUnigramTokenize = Q(
    "x_unigram_tokenize",
    s"""$trainSql,
${dpCtes("seg1", "m1", "lpm1")}
       SELECT w AS word, cnt, n_pieces, score_fix, seg
       FROM seg1 ORDER BY word""") { (s, dir) =>
    val (_, segs) = trainedModel(s, dir)
    segs.select(col("w").as("word"), col("cnt"), col("n_pieces"),
      col("score_fix"), col("seg"))
      .orderBy("word")
  }

  /** X — the trained tokenizer APPLIED corpus-wide: per document, the
    * whitespace word count, total unigram piece count, and total
    * fixed-point log-prob under the final model. The application join is
    * the production shape: tokenization is context-free, so the
    * (distinct-word → segmentation) table — vocabulary-sized, broadcast
    * — joins the exploded corpus word stream; no per-doc DP ever runs.
    * All three outputs are exact integers (the score is a sum of
    * fixed-point piece log-probs), so the hash needs no rounding
    * argument at all.
    */
  val xUnigramApply = Q(
    "x_unigram_apply",
    s"""$trainSql,
${dpCtes("seg1", "m1", "lpm1")},
       dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       j AS (SELECT dw.doc_id, seg1.n_pieces, seg1.score_fix
             FROM dw JOIN seg1 ON dw.w = seg1.w WHERE dw.w <> '')
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
              CAST(sum(score_fix) AS BIGINT) AS score_fix
       FROM j GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val (_, segs) = trainedModel(s, dir)
    val segMap = segs.select(col("w"), col("n_pieces"), col("score_fix"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segMap), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"),
        sum(col("score_fix")).as("score_fix"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(xUnigramVocab, xUnigramTokenize, xUnigramApply)
}
