package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, SessionMemo, Tables => T}

/** WordPiece tokenizer — the THIRD tokenizer family real pipelines ship
  * beside BPE and unigram-LM (Wu et al. 2016; BERT's tokenizer). Its
  * distinguishing semantics, both implemented for real:
  *
  *   - the vocabulary distinguishes WORD-INITIAL pieces from
  *     CONTINUATION pieces (rendered with the `##` marker): "ing" as a
  *     word start and "##ing" mid-word are different entries with
  *     different corpus frequencies;
  *   - inference is GREEDY LONGEST-MATCH-FIRST (no DP): at each
  *     position commit to the longest vocabulary piece that matches,
  *     which makes segmentation a pure function of the vocabulary SET —
  *     no scores, so the cross-engine contract needs no fixed-point
  *     discipline at all (contrast x_unigram_*'s integer log-probs).
  *
  * Vocabulary construction is frequency-based over the word histogram
  * (the unigram seeding rule applied per piece-kind): every single
  * character in both its initial and continuation form — which
  * guarantees total coverage, no UNK on the training corpus — plus the
  * WP_MULTI most frequent multi-char pieces across both kinds, ties on
  * (freq DESC, piece ASC). Fully oracle-replicated: DuckDB rebuilds the
  * histogram, the marked candidate counts, the vocabulary selection,
  * and the greedy walk (layered CTEs, one per step) and must agree
  * bit-for-bit on every piece, segmentation, and per-doc count.
  *
  * Scale posture (the BPE/unigram formulation): tokenization is
  * context-free, so ALL training and segmentation work runs over the
  * (word, count) HISTOGRAM — the corpus is touched exactly twice, once
  * to build the histogram (one shuffle) and once to apply the trained
  * segmentation via a broadcast vocabulary-sized join (x_wordpiece_apply;
  * no per-doc work ever runs). Driver state is the vocabulary only
  * (singles + WP_MULTI rows — the k-means-centroid acceptance class).
  * The `##` marker is unambiguous on this lake (words are [a-z0-9],
  * verified by the require below: a corpus word containing '#' would
  * make marked continuation pieces collide with initial pieces).
  */
object WordPiece {

  val MAX_PIECE = 4
  val WP_MULTI = 40
  val MAX_WORD = 12

  // ---------------------------------------------------------------- Spark

  /** Marked (piece, freq) candidates over the histogram: substrings of
    * length 1..MAX_PIECE, word-initial occurrences as-is, later
    * occurrences with the `##` continuation marker; freq = occurrences
    * weighted by word count.
    */
  def candidates(hist: DataFrame): DataFrame =
    (1 to MAX_PIECE).map { l =>
      hist.filter(length(col("w")) >= l)
        .select(col("cnt"), explode(expr(
          s"""transform(sequence(1, length(w) - $l + 1),
              i -> IF(i = 1, substring(w, i, $l),
                      concat('##', substring(w, i, $l))))""")).as("p"))
    }.reduce(_ unionByName _)
      .groupBy("p").agg(sum(col("cnt")).as("freq"))

  /** Core (unmarked) length of a rendered piece. */
  private def coreLen = when(col("p").startsWith("##"), length(col("p")) - 2)
    .otherwise(length(col("p")))

  /** Session-memoized trained model per lake dir (train once, the three
    * graded queries share the run): vocabulary rows (piece, freq) sorted
    * by piece, and the greedy-segmentation frame over the word histogram.
    */
  private val trainMemo = new SessionMemo[(Seq[(String, Long)], DataFrame)]

  def trainedModel(s: SparkSession, dir: String)
      : (Seq[(String, Long)], DataFrame) = trainMemo(s, dir) {
    val docs = T(s, dir, "documents")
    val hist = Unigram.wordHist(docs).cache()
    graft.core.CacheBin.swap("wordpiece.hist", hist)
    val bad = hist.filter(length(col("w")) > MAX_WORD ||
      col("w").contains("#")).count()
    require(bad == 0,
      s"$bad words exceed MAX_WORD=$MAX_WORD or contain '#' " +
        "(the continuation marker must stay unambiguous)")

    val cand = candidates(hist)
    val singles = cand.filter(coreLen === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multis = cand.filter(coreLen >= 2)
      .orderBy(col("freq").desc, col("p")).limit(WP_MULTI)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val vocab = (singles ++ multis).sortBy(_._1)
    val vset = vocab.map(_._1).toSet

    val segs = hist.withColumn("r",
        graft.functions.WordPieceSegment(col("w"), vset, MAX_PIECE))
      .select(col("w"), col("cnt"), col("r.n_pieces").as("n_pieces"),
        col("r.seg").as("seg"))
      .localCheckpoint()
    (vocab, segs)
  }

  // ---------------------------------------------------------------- SQL

  /** Shared vocabulary-construction CTE chain (through `vocab` + the
    * 1-row membership MAP `vm` — same alias-chaining workaround as the
    * unigram oracle: lookups go through a map column because DuckDB
    * expands same-SELECT alias references textually and rejects
    * subquery-bearing aliases).
    */
  private def vocabSql: String =
    s"""WITH wq AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       hist AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM wq
                WHERE w <> '' GROUP BY w),
       cand AS (SELECT CASE WHEN i = 1 THEN substr(h.w, i, l)
                            ELSE '##' || substr(h.w, i, l) END AS p,
                       CAST(sum(h.cnt) AS BIGINT) AS freq
                FROM hist h,
                     LATERAL (SELECT unnest(generate_series(1, $MAX_PIECE)) AS l),
                     LATERAL (SELECT unnest(generate_series(1, len(h.w) - l + 1)) AS i)
                WHERE len(h.w) >= l GROUP BY 1),
       singles AS (SELECT p, freq FROM cand
                   WHERE (CASE WHEN p LIKE '##%' THEN len(p) - 2 ELSE len(p) END) = 1),
       multis AS (SELECT p, freq FROM cand
                  WHERE (CASE WHEN p LIKE '##%' THEN len(p) - 2 ELSE len(p) END) >= 2
                  ORDER BY freq DESC, p LIMIT $WP_MULTI),
       vocab AS (SELECT p, freq FROM singles UNION ALL SELECT p, freq FROM multis),
       vm AS (SELECT map(list(p ORDER BY p), list(1 ORDER BY p)) AS m FROM vocab)"""

  /** The greedy longest-match walk as layered CTEs over `hist` — one
    * CTE per step, mirroring [[graft.functions.WordPieceSegment]] term
    * for term. rend(l) is the candidate piece at the current position
    * in its position-dependent rendering.
    */
  private def greedySql: String = {
    def rend(prev: Int, l: String): String =
      s"CASE WHEN pos$prev = 0 THEN substr(w, 1, $l) " +
        s"ELSE '##' || substr(w, pos$prev + 1, $l) END"
    def hit(prev: Int, l: Int): String =
      s"m[${rend(prev, l.toString)}][1] IS NOT NULL"
    val sb = new StringBuilder
    sb ++= """       wp_s0 AS (SELECT hist.*, m, 0 AS pos0 FROM hist, vm),""" + "\n"
    for (k <- 1 to MAX_WORD) {
      val p = k - 1
      val whens = (MAX_PIECE to 2 by -1).map { l =>
        s"WHEN len(w) - pos$p >= $l AND ${hit(p, l)} THEN $l"
      }.mkString(" ")
      sb ++= s"""       wp_s$k AS (SELECT *,
         (CASE WHEN pos$p < len(w) THEN
            CASE $whens WHEN ${hit(p, 1)} THEN 1 END END) AS L$k,
         (CASE WHEN L$k IS NOT NULL THEN ${rend(p, s"L$k")} END) AS piece$k,
         pos$p + coalesce(L$k, 0) AS pos$k
         FROM wp_s$p),""" + "\n"
    }
    sb ++= s"""       seg AS (SELECT w, cnt,
         CAST(len(list_filter([${(1 to MAX_WORD).map("piece" + _).mkString(", ")}],
           x -> x IS NOT NULL)) AS BIGINT) AS n_pieces,
         array_to_string(list_filter([${(1 to MAX_WORD).map("piece" + _).mkString(", ")}],
           x -> x IS NOT NULL), '|') AS seg
         FROM wp_s$MAX_WORD)"""
    sb.toString
  }

  // ---------------------------------------------------------------- Qs

  /** X — the learned vocabulary: every piece in its rendered form with
    * its kind and corpus frequency.
    */
  val xWordpieceVocab = Q(
    "x_wordpiece_vocab",
    s"""$vocabSql
       SELECT p AS piece,
              CASE WHEN p LIKE '##%' THEN 'cont' ELSE 'init' END AS kind,
              freq FROM vocab ORDER BY piece""") { (s, dir) =>
    import s.implicits._
    val (vocab, _) = trainedModel(s, dir)
    vocab.toDF("piece", "freq")
      .select(col("piece"),
        when(col("piece").startsWith("##"), "cont").otherwise("init")
          .as("kind"),
        col("freq"))
      .orderBy("piece")
  }

  /** X — greedy segmentation of every corpus word under the trained
    * vocabulary (the tokenizer's observable behavior — any vocabulary
    * or tie-resolution divergence lands here).
    */
  val xWordpieceTokenize = Q(
    "x_wordpiece_tokenize",
    s"""$vocabSql,
$greedySql
       SELECT w AS word, cnt, n_pieces, seg FROM seg ORDER BY word""") { (s, dir) =>
    val (_, segs) = trainedModel(s, dir)
    segs.select(col("w").as("word"), col("cnt"), col("n_pieces"),
      col("seg")).orderBy("word")
  }

  /** X — the tokenizer APPLIED corpus-wide (the production shape, as in
    * x_unigram_apply): the vocabulary-sized (word → segmentation) table
    * broadcasts against the exploded corpus word stream; per document,
    * whitespace word count and total piece count — both exact integers.
    */
  val xWordpieceApply = Q(
    "x_wordpiece_apply",
    s"""$vocabSql,
$greedySql,
       dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       j AS (SELECT dw.doc_id, seg.n_pieces
             FROM dw JOIN seg ON dw.w = seg.w WHERE dw.w <> '')
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(n_pieces) AS BIGINT) AS n_pieces
       FROM j GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val (_, segs) = trainedModel(s, dir)
    val segMap = segs.select(col("w"), col("n_pieces"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segMap), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
      .orderBy("doc_id")
  }

  /** X — tokenizer fertility audit: pieces-per-word of the trained
    * WordPiece model, broken out by language. Fertility is THE
    * tokenizer-governance number a multilingual pipeline watches — a
    * language whose fertility balloons is being shattered into
    * characters (vocabulary under-serves it), which silently inflates
    * its training cost and truncation rate. Exact integer rational:
    * fert_fix = 1e6·Σpieces // Σwords per lang.
    *
    * Scale posture: x_wordpiece_apply's shape (word explode →
    * broadcast segmentation join) re-aggregated by the lang key —
    * group domain = |languages|.
    */
  val xTokenizerFertility = Q(
    "x_tokenizer_fertility",
    s"""$vocabSql,
$greedySql,
       dw AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       j AS (SELECT dw.lang, seg.n_pieces
             FROM dw JOIN seg ON dw.w = seg.w WHERE dw.w <> '')
       SELECT lang,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
              (1000000 * CAST(sum(n_pieces) AS BIGINT)) // count(*) AS fert_fix
       FROM j GROUP BY lang ORDER BY lang""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val (_, segs) = trainedModel(s, dir)
    docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segs.select(col("w"), col("n_pieces"))), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        expr("(1000000 * n_pieces) div n_words").as("fert_fix"))
      .orderBy("lang")
  }

  val all: Seq[Q] =
    Seq(xWordpieceVocab, xWordpieceTokenize, xWordpieceApply,
      xTokenizerFertility)
}
