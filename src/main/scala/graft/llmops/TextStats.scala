package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}

/** Text-analysis operators for training-data curation (SURVEY.md §2b Q35
  * + language-ID / quality-scoring / token-counting extensions).
  *
  * All per-document metrics are narrow (no shuffle); corpus rollups are
  * single hash aggs. Ratios are integer-over-integer double divisions —
  * deterministic across engines.
  */
object TextStats {

  private[llmops] val stopEn = Seq("the", "a", "of", "and", "to")
  private[llmops] val stopDe = Seq("der", "die", "das", "und", "ist")
  private[llmops] val stopEs = Seq("el", "la", "de", "y", "es")
  private[llmops] val stopFr = Seq("le", "la", "de", "et", "est")

  private[llmops] def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Q35 — corpus stats per language: doc count, token totals, exact mean
    * document length.
    */
  val q35 = Q(
    "q35_text_stats",
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
       FROM documents GROUP BY lang ORDER BY lang""") { (s, dir) =>
    T(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang")
  }

  /** Q35b — top-20 terms by document frequency (distinct doc-term pairs,
    * then a count shuffle + top-k).
    */
  val q35b = Q(
    "q35_top_terms",
    """SELECT w AS term, count(*) AS df FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
         FROM documents)
       GROUP BY w ORDER BY df DESC, term LIMIT 20""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  /** X — TF-IDF top terms per language: document frequencies within and
    * across languages combine into the classic tf·idf score; top-5 terms
    * per language. Everything reduces to two doc-term aggregations and a
    * WindowGroupLimit top-k — no corpus-size blowup; ln rounded to 6 on
    * both engines (same contract as the other transcendentals).
    */
  val xTfIdf = Q(
    "x_tfidf",
    """WITH terms AS (SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS term
                      FROM documents),
       df_all AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
       n AS (SELECT count(*) AS n_docs FROM documents),
       lang_tf AS (SELECT lang, term, count(*) AS tf FROM terms GROUP BY lang, term),
       scored AS (SELECT lang, lt.term,
                    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
                  FROM lang_tf lt JOIN df_all d ON lt.term = d.term CROSS JOIN n)
       SELECT lang, term, score FROM (
         SELECT lang, term, score,
                row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rnk
         FROM scored)
       WHERE rnk <= 5 ORDER BY lang, score DESC, term""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val terms = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val dfAll = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.count().toDouble // one scalar; the corpus size
    val langTf = terms.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("term"))
    langTf.join(dfAll, "term")
      .select(col("lang"), col("term"),
        round(col("tf") * log(lit(nDocs) / col("df")), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("term"), col("score"))
      .orderBy(col("lang"), col("score").desc, col("term"))
  }

  /** The C4/Gopher keep-gate: a document is kept when it has at least
    * MIN_TOKENS whitespace tokens, its most repeated word 3-gram covers at
    * most REP_MAX of its 3-gram bag, and at most STOP_MAX of its words are
    * stopwords. x_quality_rules grades the gate; x_quality_ablation,
    * x_full_curation, x_incremental_curation, x_multimodal_pipeline and
    * x_stream_curation apply it through the helpers below.
    */
  private[graft] val MIN_TOKENS = 20
  private[llmops] val REP_MAX = 0.2
  private[llmops] val STOP_MAX = 0.5

  /** Token count and stopword count/ratio over a whitespace word array
    * (`split(text, " ")`).
    */
  private[llmops] def nTokens(words: Column): Column = size(words).cast("long")
  private def stopHits(words: Column, ws: Seq[String]): Column =
    size(filter(words, w => w.isInCollection(ws)))
  private[llmops] def stopCount(words: Column): Column = stopHits(words, stopEn)
  private[llmops] def stopRatio(words: Column): Column =
    stopCount(words).cast("double") / size(words)

  /** The stopword language vote over a whitespace word array: the four
    * per-language stopword counts `s_en`, `s_de`, `s_es`, `s_fr`
    * (langVotes) and the fixed en > de > es > fr tie-break over them
    * (langPred). x_lang_id, x_code_switch and x_full_curation vote with
    * it.
    */
  private[llmops] def langVotes(words: Column): Seq[Column] =
    Seq("en" -> stopEn, "de" -> stopDe, "es" -> stopEs, "fr" -> stopFr)
      .map { case (l, ws) => stopHits(words, ws).as(s"s_$l") }
  private[llmops] def langPred: Column =
    when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es")
      && col("s_en") >= col("s_fr"), "en")
      .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
      .when(col("s_es") >= col("s_fr"), "es")
      .otherwise("fr")

  /** The bag of word-3-shingle counts per document: (doc_id, sh, c). */
  private[llmops] def shingleBag(docs: DataFrame): DataFrame =
    Shingles.wordShingles(docs.select(col("doc_id"), col("text")), 3,
        distinct = false)
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))

  /** The repetition ratio, aggregated over a [[shingleBag]] group. */
  private[llmops] def repRatio: Column = max(col("c")).cast("double") / sum(col("c"))

  /** (doc_id, rep_ratio). A document under 3 words has no bag and so no
    * row, and each caller's join type decides what that means: the
    * filters (x_quality_rules, x_full_curation) join inner and drop it,
    * as it fails the token floor anyway; the verdict tables
    * (x_incremental_curation, x_quality_ablation) join left and read the
    * missing ratio as 0, because every document must get a verdict.
    */
  private[llmops] def repRatios(docs: DataFrame): DataFrame =
    shingleBag(docs).groupBy(col("doc_id")).agg(repRatio.as("rep_ratio"))

  /** The gate's three rules, and the gate. */
  private[llmops] def tooShort(nTokens: Column): Column = nTokens < MIN_TOKENS
  private[llmops] def tooRepetitive(repRatio: Column): Column = repRatio > REP_MAX
  private[llmops] def stopwordHeavy(stopRatio: Column): Column = stopRatio > STOP_MAX
  private[llmops] def keep(nTokens: Column, stopRatio: Column,
      repRatio: Column): Column =
    !tooShort(nTokens) && !tooRepetitive(repRatio) && !stopwordHeavy(stopRatio)

  /** The regex pre-tokenizer's token count (x_token_count), which the
    * packing, budget, sharding, drift and dataset-card operators count in.
    */
  private[llmops] def regexTokenCount: Column =
    expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
      .cast("long")

  /** X — quality scoring: token count, mean token length, punctuation and
    * stopword ratios per document (the usual pre-training filters).
    */
  val xQuality = Q(
    "x_quality_score",
    s"""SELECT doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
        CAST(length(text) - length(translate(text, '.!?,;', '')) AS DOUBLE) / n_chars AS punct_ratio,
        CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEn)}))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio
        FROM documents ORDER BY doc_id""") { (s, dir) =>
    // token array materialized once; char strips are non-regex
    // (translate/replace) — a near-full-string regexp_replace was the
    // single hottest expression in the whole BENCH suite
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"),
        split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        nTokens(col("w")).as("n_tokens"),
        (length(translate(col("text"), " ", "")).cast("double") /
          size(col("w"))).as("avg_token_len"),
        ((length(col("text")) - length(translate(col("text"), ".!?,;", "")))
          .cast("double") / col("n_chars")).as("punct_ratio"),
        stopRatio(col("w")).as("stop_ratio"))
      .orderBy("doc_id")
  }

  /** X — regex tokenizer (BPE-ish pre-tokenization pattern) count. */
  val xTokenCount = Q(
    "x_token_count",
    """SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens
       FROM documents ORDER BY doc_id""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("doc_id"), regexTokenCount.as("n_tokens"))
      .orderBy("doc_id")
  }

  /** X — language-ID heuristic: stopword-list voting with a fixed
    * tie-break order, reported as a (predicted × actual) confusion
    * rollup. The heuristic itself is the declared operator; both engines
    * evaluate the identical scoring expression.
    */
  val xLangId = Q(
    "x_lang_id",
    s"""WITH scored AS (
         SELECT lang,
           len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEn)}))) AS s_en,
           len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopDe)}))) AS s_de,
           len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEs)}))) AS s_es,
           len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopFr)}))) AS s_fr
         FROM documents),
       pred AS (
         SELECT lang,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted
         FROM scored)
       SELECT predicted, lang AS actual, count(*) AS n
       FROM pred GROUP BY predicted, lang ORDER BY predicted, actual""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("lang") +: langVotes(split(col("text"), " ")): _*)
      .select(col("lang"), langPred.as("predicted"))
      .groupBy(col("predicted"), col("lang").as("actual"))
      .agg(count(lit(1)).as("n"))
      .orderBy("predicted", "actual")
  }

  /** X — repetition scoring (the Gopher-style "fraction of the document
    * covered by the most repeated 3-gram"): bag-semantics shingles, top
    * count per doc over total. High values flag boilerplate/spam.
    */
  val xRepetition = Q(
    "x_repetition_score",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
              WHERE len(t) >= 3),
       cnt AS (SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY doc_id, sh)
       SELECT doc_id, max(c) AS top_ngram_count, CAST(sum(c) AS BIGINT) AS n_ngrams,
              CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
       FROM cnt GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    shingleBag(T(s, dir, "documents"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_ngram_count"), sum(col("c")).as("n_ngrams"),
        repRatio.as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** X — combined curation rule set (C4/Gopher-style): per-document
    * boolean verdicts plus the final keep flag, joined from the length /
    * stopword / repetition signals. The thresholds are illustrative; the
    * point is the composable rule-evaluation shape.
    */
  val xQualityRules = Q(
    "x_quality_rules",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
              WHERE len(t) >= 3),
       rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio FROM
               (SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY doc_id, sh)
               GROUP BY doc_id),
       base AS (SELECT doc_id,
                  len(string_split(text, ' ')) AS n_tokens,
                  CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEn)}))) AS DOUBLE)
                    / len(string_split(text, ' ')) AS stop_ratio
                FROM documents)
       SELECT base.doc_id,
              (n_tokens < $MIN_TOKENS) AS too_short,
              (rep_ratio > $REP_MAX) AS too_repetitive,
              (stop_ratio > $STOP_MAX) AS stopword_heavy,
              (NOT (n_tokens < $MIN_TOKENS) AND NOT (rep_ratio > $REP_MAX)
               AND NOT (stop_ratio > $STOP_MAX)) AS keep
       FROM base JOIN rep ON base.doc_id = rep.doc_id
       ORDER BY base.doc_id""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val words = split(col("text"), " ")
    val base = docs.select(col("doc_id"),
      nTokens(words).as("n_tokens"), stopRatio(words).as("stop_ratio"))
    val (n, stop, rep) = (col("n_tokens"), col("stop_ratio"), col("rep_ratio"))
    base.join(repRatios(docs), "doc_id")
      .select(col("doc_id"),
        tooShort(n).as("too_short"),
        tooRepetitive(rep).as("too_repetitive"),
        stopwordHeavy(stop).as("stopword_heavy"),
        keep(n, stop, rep).as("keep"))
      .orderBy("doc_id")
  }

  /** X — per-document word-distribution Shannon entropy: the
    * information-density quality signal (boilerplate and keyword-stuffed
    * spam score low, natural prose high). Distributed shape: explode →
    * per-(doc, word) count → per-doc partition-sum window → per-doc agg;
    * the only shuffle key is doc_id (plus the word within the count
    * agg's composite key), so it rides the same two-level plan as TF-IDF
    * at any corpus size. Rounded to 6 digits on both engines to absorb
    * summation-order ulps in the -Σ p·log2(p) reduction (the same
    * contract as the transcendental queries).
    */
  val xWordEntropy = Q(
    "x_word_entropy",
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
       t AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM c)
       SELECT doc_id,
              round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)) + 0.0, 6)
                AS entropy,
              count(*) AS n_distinct_words
       FROM t GROUP BY doc_id
       ORDER BY doc_id""") { (s, dir) =>
    val counts = T(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val withN = counts
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
    val p = col("c").cast("double") / col("n")
    withN.groupBy(col("doc_id"))
      // `+ 0.0` normalizes the -0.0 a single-word doc produces (p=1 →
      // -sum(0.0) = -0.0) to +0.0 — the driver hashes RENDERED values,
      // and "-0.0" vs "0.0" would mismatch even though they compare equal.
      .agg(round(-sum(p * log2(p)) + lit(0.0), 6).as("entropy"),
        count(lit(1)).as("n_distinct_words"))
      .orderBy("doc_id")
  }

  /** Library form of hashed bag-of-words featurization: term-frequency
    * counts bucketed by a hash of the word — the embedding-GENERATION
    * step that turns raw text into the sparse feature vector a trainer
    * or hashing-trick classifier consumes (closing the corpus →
    * embeddings loop the vector operators start from). Output is the
    * sparse form itself, (id, bucket, cnt): one narrow pass + one hash
    * aggregation on (id, bucket), no vocabulary table, no fit step —
    * the hashing trick's whole point at 100 TB, where a word→index
    * vocabulary would be a corpus-wide build + broadcast. Bucketing
    * hashes the md5 hex prefix (engine-portable, unlike xxhash64 which
    * DuckDB lacks); collisions fold counts, which the trick accepts.
    */
  def hashEmbed(df: DataFrame, idCol: String,
      textCol: String, dim: Int): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col(idCol),
        (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int") % dim)
          .as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  val xHashEmbed = Q(
    "x_hash_embed",
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       h AS (SELECT doc_id, substr(md5(w), 1, 4) AS hx FROM w WHERE w <> ''),
       b AS (SELECT doc_id,
               ((strpos('0123456789abcdef', substr(hx,1,1))-1)*4096
              + (strpos('0123456789abcdef', substr(hx,2,1))-1)*256
              + (strpos('0123456789abcdef', substr(hx,3,1))-1)*16
              + (strpos('0123456789abcdef', substr(hx,4,1))-1)) % 64 AS bucket
             FROM h)
       SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, count(*) AS cnt
       FROM b GROUP BY 1, 2 ORDER BY doc_id, bucket""") { (s, dir) =>
    hashEmbed(T(s, dir, "documents"), "doc_id", "text", 64)
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
        col("cnt"))
      .orderBy("doc_id", "bucket")
  }

  /** BM25 parameters (the standard Okapi defaults). */
  val BM25_K1 = 1.2
  val BM25_B = 0.75

  /** The fixed query for the contract run (three mid-frequency corpus
    * terms); the library form takes any term list.
    */
  val BM25_QUERY = Seq("spark", "join", "stream")

  /** X — BM25 retrieval scoring: rank documents against a fixed term
    * query with the Okapi formula (the Lucene `+1` idf variant so the
    * log argument stays positive at any df):
    *   Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
    *       tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))
    *
    * Cross-engine float discipline: a float SUM over query terms would be
    * addition-order-dependent, so the per-term contributions are computed
    * as COLUMNS (conditional aggs) and added in one fixed left-to-right
    * expression spelled identically in both engines; the corpus constants
    * (N, df_t, avgdl) ride a broadcast 1-row frame (exact integer sums,
    * one double division each). Ordering uses the ROUNDED score with a
    * doc_id tiebreak. Residual cross-engine risk, acknowledged: ln/log
    * come from different libm implementations (DuckDB's C++ libm vs JVM
    * Math.log), so a 1-ulp difference in a raw score can still push it
    * across a 6-decimal rounding boundary and flip top-20 membership —
    * rounding shrinks the exposure from "any 1-ulp difference" to
    * "a value within ~1 ulp of a decision boundary (k+0.5)·1e-6", it
    * does not eliminate it. The fixture corpus has no score within
    * 1e-12 of a decision boundary (GraphSpec's bm25 margin test, which
    * measures |frac(s·1e6) − 0.5| — distance to the round-half boundary,
    * corrected in round 9: the round-8 version measured distance to the
    * nearest 6-decimal VALUE, the safe direction, not the dangerous
    * one). Observed minimum boundary distances: 1.0e-9 at sf0.001,
    * 1.9e-10 at sf0.01 — 5+ orders of magnitude more than the ~1e-15 a
    * few-ulp libm disagreement can move a magnitude-~1 score, which is
    * what keeps the hash contract honest at oracle scale.
    *
    * Scale posture: one narrow scan builds (doc_id, dl, tf per term) with
    * map-side partial aggs; the stats frame is 1 row; top-20 is a
    * TakeOrderedAndProject. For ad-hoc multi-term queries at corpus scale
    * the same shape generalizes to an inverted-index join (posting lists
    * per term), which is what x_tfidf's doc-term frame is.
    */
  /** Per-doc UNROUNDED BM25 score for the contract query — the Q body
    * rounds this to 6 decimals; the spec's margin test reads it raw to
    * verify no fixture score sits within 1e-12 of a round-half decision
    * boundary (the condition under which the acknowledged libm-ulp risk
    * could actually flip a hash). Same margin, measurement, and
    * boundary definition as the xBm25 scaladoc above.
    */
  def bm25Raw(s: SparkSession,
      dir: String): DataFrame = {
    val d = T(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        size(filter(col("ws"), _ === BM25_QUERY(0))).cast("long").as("tf1"),
        size(filter(col("ws"), _ === BM25_QUERY(1))).cast("long").as("tf2"),
        size(filter(col("ws"), _ === BM25_QUERY(2))).cast("long").as("tf3"))
    val stats = d.agg(
      count(lit(1)).as("n"), sum(col("dl")).as("sdl"),
      sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
      sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
      sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
    def contrib(tf: String, df: String) =
      log(lit(1.0) + (col("n").cast("double") - col(df) + lit(0.5)) / (col(df) + lit(0.5))) *
        (col(tf) * lit(BM25_K1 + 1)) /
        (col(tf) + lit(BM25_K1) * (lit(1 - BM25_B) + lit(BM25_B) * col("dl") /
          (col("sdl").cast("double") / col("n"))))
    d.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (contrib("tf1", "df1") + contrib("tf2", "df2") + contrib("tf3", "df3"))
          .as("raw"))
  }

  val xBm25 = Q(
    "x_bm25",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       d AS (SELECT doc_id, len(ws) AS dl,
                    len(list_filter(ws, x -> x = '${BM25_QUERY(0)}')) AS tf1,
                    len(list_filter(ws, x -> x = '${BM25_QUERY(1)}')) AS tf2,
                    len(list_filter(ws, x -> x = '${BM25_QUERY(2)}')) AS tf3
             FROM w),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(dl) AS BIGINT) AS sdl,
                        CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                        CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
                        CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
                 FROM d),
       scored AS (SELECT doc_id,
           round(
             ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n)))
           + ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n)))
           + ln(1.0 + (CAST(n AS DOUBLE) - df3 + 0.5) / (df3 + 0.5)) * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n))), 6) AS score
         FROM d CROSS JOIN stats)
       SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
              doc_id, score
       FROM scored ORDER BY rank LIMIT 20""") { (s, dir) =>
    val scored = bm25Raw(s, dir)
      .select(col("doc_id"), round(col("raw"), 6).as("score"))
    topRanked(scored, 20, "rank", col("score").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy("rank")
  }

  /** DSIR feature dimensionality (hashed buckets) and fixed-point scale
    * for the log-ratio weights.
    */
  val DSIR_DIM = 64
  val DSIR_SCALE = 1e6

  /** Raw (unrounded) per-bucket DSIR log-ratio weights — exposed so the
    * spec can measure each weight's distance to its round-half decision
    * boundary (the bm25 discipline: the only float crossing engines is
    * round(1e6·ln(ratio)), and only a value within ~1 ulp of a
    * (k+0.5)·1e-6 boundary could round differently under libm wobble).
    */
  def dsirRawWeights(s: SparkSession,
      dir: String): DataFrame = {
    val words = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int") % DSIR_DIM)
          .as("b"))
    val hist = words.groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        count(when(col("lang") === "en", 1)).as("tc"))
    val tot = hist.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    hist.crossJoin(broadcast(tot))
      .select(col("b"),
        (lit(DSIR_SCALE) *
          log(((col("tc") + lit(1.0)) / (col("tt") + lit(DSIR_DIM.toDouble))) /
              ((col("rc") + lit(1.0)) / (col("rt") + lit(DSIR_DIM.toDouble)))))
          .as("raw_wgt"))
  }

  /** X — DSIR importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every document by how much its
    * hashed bag-of-words distribution looks like a TARGET distribution
    * (here the lang='en' slice) relative to the RAW corpus — the
    * published recipe for selecting pretraining data that matches a
    * high-quality target domain without training a classifier.
    *
    * score(doc) = Σ_w ln( p_target(bucket(w)) / p_raw(bucket(w)) ), with
    * add-one smoothing over DSIR_DIM hashed buckets — the importance
    * log-weight of the doc under the bucketed n-gram model.
    *
    * Cross-engine float discipline: a per-doc float SUM over words would
    * be addition-order-dependent, so the ONLY float step is computing the
    * 64 per-bucket weights (one ln each), immediately rounded to
    * fixed-point integers (·1e6). The per-doc score is then an exact
    * integer dot product Σ cnt(doc,b)·wgt(b) — order-independent in both
    * engines. Boundary exposure is 64 values, each measured against its
    * round-half boundary in the spec (vs per-doc-sum exposure, which
    * would be unmeasurable).
    *
    * Scale posture: hashed features need no vocabulary build (the
    * hashing-trick argument of x_hash_embed); the weight table is
    * DIM-sized and broadcast; the corpus sees two narrow aggregations
    * (bucket histogram, per-doc bucket counts) and no window, no driver
    * state beyond the 64-row weight frame.
    */
  val xDsirWeights = Q(
    "x_dsir_weights",
    s"""WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
       h AS (SELECT doc_id, lang, substr(md5(w), 1, 4) AS hx FROM w WHERE w <> ''),
       ww AS (SELECT doc_id, lang,
               ((strpos('0123456789abcdef', substr(hx,1,1))-1)*4096
              + (strpos('0123456789abcdef', substr(hx,2,1))-1)*256
              + (strpos('0123456789abcdef', substr(hx,3,1))-1)*16
              + (strpos('0123456789abcdef', substr(hx,4,1))-1)) % $DSIR_DIM AS b
             FROM h),
       hist AS (SELECT b, count(*) AS rc,
                       count(*) FILTER (lang = 'en') AS tc
                FROM ww GROUP BY 1),
       tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rt, CAST(sum(tc) AS BIGINT) AS tt FROM hist),
       wt AS (SELECT b,
                CAST(round($DSIR_SCALE * ln(((tc + 1.0) / (tt + ${DSIR_DIM}.0)) /
                                            ((rc + 1.0) / (rt + ${DSIR_DIM}.0)))) AS BIGINT) AS wgt
              FROM hist CROSS JOIN tot),
       dc AS (SELECT doc_id, b, count(*) AS c FROM ww GROUP BY 1, 2)
       SELECT dc.doc_id, CAST(sum(dc.c * wt.wgt) AS BIGINT) AS dsir_score
       FROM dc JOIN wt ON dc.b = wt.b
       GROUP BY 1 ORDER BY doc_id""") { (s, dir) =>
    val words = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int") % DSIR_DIM)
          .as("b"))
    val hist = words.groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        count(when(col("lang") === "en", 1)).as("tc"))
    val tot = hist.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    val wt = hist.crossJoin(broadcast(tot))
      .select(col("b"),
        round(lit(DSIR_SCALE) *
          log(((col("tc") + lit(1.0)) / (col("tt") + lit(DSIR_DIM.toDouble))) /
              ((col("rc") + lit(1.0)) / (col("rt") + lit(DSIR_DIM.toDouble)))))
          .cast("long").as("wgt"))
    val dc = words.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
    dc.join(broadcast(wt), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("wgt")).as("dsir_score"))
      .orderBy("doc_id")
  }

  /** RRF constants: the standard k=60 damping; each retriever
    * contributes its top-100.
    */
  val RRF_K = 60
  val RRF_TOPK = 100

  /** X — hybrid retrieval via Reciprocal Rank Fusion: the lexical
    * ranking (BM25, the fixed contract query) and the semantic ranking
    * (exact cosine against probe vector 0, doc i ↔ vec i) each
    * contribute their top-100, fused by Σ 1/(60 + rank) over the lists
    * a document appears in — the standard production hybrid-search
    * combiner (Cormack et al. 2009), robust to the two scores living on
    * incomparable scales because only RANKS cross the boundary.
    *
    * Cross-engine determinism is structural: ranks are integers (each
    * side's ordering uses the established 6-decimal rounding + id
    * tiebreak of xBm25/q34), and 1.0/(60+r) + 1.0/(60+r') is a fixed
    * two-term IEEE expression over integers — bit-identical in any
    * engine, so the fused score itself is hash-safe unrounded.
    *
    * Scale posture: each retriever's list is a TakeOrderedAndProject
    * (never a corpus-wide rank window — a document outside both top-100s
    * can't reach the fused top-20 since scores are rank-monotone); the
    * fusion joins two ≤100-row frames. Swap the exact cosine side for
    * x_ivfpq_search's shortlist and the same shape serves a
    * billion-vector hybrid index.
    */
  val xRrfFusion = Q(
    "x_rrf_fusion",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       d AS (SELECT doc_id, len(ws) AS dl,
                    len(list_filter(ws, x -> x = '${BM25_QUERY(0)}')) AS tf1,
                    len(list_filter(ws, x -> x = '${BM25_QUERY(1)}')) AS tf2,
                    len(list_filter(ws, x -> x = '${BM25_QUERY(2)}')) AS tf3
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
                 FROM lexs) WHERE r <= $RRF_TOPK),
       sems AS (SELECT e.vec_id AS doc_id,
                       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(p.embedding AS DOUBLE[])), 6) AS sim,
                       e.vec_id
                FROM embeddings e
                CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p),
       sem AS (SELECT doc_id, r FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r
                 FROM sems) WHERE r <= $RRF_TOPK),
       fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                        coalesce(1.0 / ($RRF_K + lex.r), 0)
                      + coalesce(1.0 / ($RRF_K + sem.r), 0) AS rrf
                 FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
       SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
              doc_id, rrf
       FROM fused ORDER BY rank LIMIT 20""") { (s, dir) =>
    topRanked(rrfFused(s, dir), 20, "rank", col("rrf").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("rrf"))
      .orderBy("rank")
  }

  /** The top `k` rows of `df` by `order`, numbered 1..k in column `tag`:
    * a TakeOrdered, then a row_number over at most k rows, never a
    * corpus-wide rank window.
    */
  private[llmops] def topRanked(df: DataFrame, k: Int, tag: String,
      order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn(tag, row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** Σ 1/(RRF_K + r) over the rank columns, a missing rank adding 0. */
  private def rrfScore(ranks: Column*): Column =
    ranks.map(r => coalesce(lit(1.0) / (lit(RRF_K) + r), lit(0.0))).reduce(_ + _)

  /** (doc_id, rrf): x_rrf_fusion's two arms, each its top-RRF_TOPK
    * (BM25 on the contract query; cosine against probe vector 0), fused.
    * x_rag_pipeline's hybrid recall stage reads the same frame.
    */
  private[llmops] def rrfFused(s: SparkSession,
      dir: String): DataFrame = {
    val lex = topRanked(bm25Raw(s, dir)
        .select(col("doc_id"), round(col("raw"), 6).as("score")),
      RRF_TOPK, "r_lex", col("score").desc, col("doc_id"))
      .select(col("doc_id"), col("r_lex"))
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "n_emb")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("n_emb").as("p_emb"))
    val sem = topRanked(e.crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          round(VectorSearch.dot(col("n_emb"), col("p_emb")), 6).as("sim")),
      RRF_TOPK, "r_sem", col("sim").desc, col("doc_id"))
      .select(col("doc_id"), col("r_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), rrfScore(col("r_lex"), col("r_sem")).as("rrf"))
  }

  /** X — ensemble quality gate: three INDEPENDENT quality rankers fused
    * by reciprocal-rank fusion into one keep-list — the production
    * pattern when no single heuristic is trusted alone (RefinedWeb
    * combines rule-, ratio- and model-signals the same way):
    *
    *   - length: token count (long-form preferred),
    *   - naturalness: stopword milli-ratio (integer (1000·stops) div n),
    *   - diversity: distinct-word milli-ratio (type/token).
    *
    * Each ranker is an exact integer score → TakeOrdered top-RRF_TOPK
    * (never a corpus window); fusion is x_rrf_fusion's rrfScore —
    * 1/(K+r) sums over small integers are the same IEEE expression on
    * both engines, bit-identical. Output: the top-20 keep-list with its
    * fused score.
    */
  val xQualityEnsemble = Q(
    "x_quality_ensemble",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       m AS (SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tok,
               (1000 * CAST(len(list_filter(ws, w -> w IN (${sqlList(stopEn)})))
                 AS BIGINT)) // len(ws) AS stop_milli,
               (1000 * CAST(len(list_distinct(ws)) AS BIGINT)) // len(ws)
                 AS div_milli
             FROM d),
       r1 AS (SELECT doc_id, r FROM (SELECT doc_id,
                row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r FROM m)
              WHERE r <= $RRF_TOPK),
       r2 AS (SELECT doc_id, r FROM (SELECT doc_id,
                row_number() OVER (ORDER BY stop_milli DESC, doc_id) AS r FROM m)
              WHERE r <= $RRF_TOPK),
       r3 AS (SELECT doc_id, r FROM (SELECT doc_id,
                row_number() OVER (ORDER BY div_milli DESC, doc_id) AS r FROM m)
              WHERE r <= $RRF_TOPK),
       fused AS (SELECT coalesce(r1.doc_id, r2.doc_id, r3.doc_id) AS doc_id,
                        coalesce(1.0 / ($RRF_K + r1.r), 0)
                      + coalesce(1.0 / ($RRF_K + r2.r), 0)
                      + coalesce(1.0 / ($RRF_K + r3.r), 0) AS rrf
                 FROM r1
                 FULL JOIN r2 ON r1.doc_id = r2.doc_id
                 FULL JOIN r3 ON coalesce(r1.doc_id, r2.doc_id) = r3.doc_id)
       SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                AS rank, doc_id, rrf
       FROM fused ORDER BY rank LIMIT 20""") { (s, dir) =>
    val ws = split(col("text"), " ")
    val m = T(s, dir, "documents").select(col("doc_id"),
        nTokens(ws).as("n_tok"),
        stopCount(ws).cast("long").as("st"),
        size(array_distinct(ws)).cast("long").as("dw"))
      .select(col("doc_id"), col("n_tok"),
        expr("(1000 * st) div n_tok").as("stop_milli"),
        expr("(1000 * dw) div n_tok").as("div_milli"))
    def ranker(score: String, tag: String) =
      topRanked(m, RRF_TOPK, tag, col(score).desc, col("doc_id"))
        .select(col("doc_id"), col(tag))
    val fused = ranker("n_tok", "r1")
      .join(ranker("stop_milli", "r2"), Seq("doc_id"), "full_outer")
      .join(ranker("div_milli", "r3"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), rrfScore(col("r1"), col("r2"), col("r3")).as("rrf"))
    topRanked(fused, 20, "rank", col("rrf").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("rrf"))
      .orderBy("rank")
  }

  /** X — Flesch reading-ease readability, exact fixed point. The classic
    * curation signal (readability-banded sampling is a standard web-corpus
    * recipe): FRE = 206.835 − 1.015·(W/S) − 84.6·(Y/W) with W words,
    * S sentences, Y syllables. The syllable heuristic is vowel-group
    * counting (runs of [aeiouy] in the lowercased word, min 1 per word);
    * S counts terminal-punctuation runs ([.!?]+, min 1).
    *
    * Exactness: multiply through by the common denominator S·W — the
    * milli-FRE is the single integer quotient
    *   (206835·S·W − 1015·W² − 84600·Y·S) div (S·W)
    * sign-split because Spark's `div` truncates toward zero while
    * DuckDB's `//` floors (negative FRE happens for run-on synthetic
    * text). Pure integers end to end; no rounding margin to audit.
    *
    * Scale posture: per-document map-only arithmetic over array
    * higher-order functions (no explode, no shuffle beyond the final
    * presentation sort) — the whole-stage-codegen shape that is scan-
    * bound at 100 TB.
    */
  val xReadability = Q(
    "x_readability",
    """WITH b AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS s,
             CAST(list_sum(list_transform(string_split(lower(text), ' '),
               t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))) AS BIGINT) AS y
           FROM documents),
       f AS (SELECT doc_id, w, s, y,
               206835 * s * w - 1015 * w * w - 84600 * y * s AS num,
               s * w AS den FROM b)
       SELECT doc_id, w, s, y,
              CASE WHEN num >= 0 THEN num // den
                   ELSE -((-num) // den) END AS fre_milli
       FROM f ORDER BY doc_id""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
          .as("s"),
        expr("""aggregate(split(lower(text), ' '), CAST(0 AS BIGINT),
                  (a, t) -> a + greatest(1,
                    size(regexp_extract_all(t, '[aeiouy]+', 0))))""").as("y"))
      .withColumn("num",
        lit(206835L) * col("s") * col("w") - lit(1015L) * col("w") * col("w") -
          lit(84600L) * col("y") * col("s"))
      .withColumn("den", col("s") * col("w"))
      .select(col("doc_id"), col("w"), col("s"), col("y"),
        expr("CASE WHEN num >= 0 THEN num div den ELSE -((-num) div den) END")
          .as("fre_milli"))
      .orderBy("doc_id")
  }

  /** X — lexical-diversity audit per source: the corpus-health indices a
    * curation report quotes before mixing. Simpson's index (the
    * probability two random tokens are the same type — high = repetitive
    * vocabulary), type-token ratio, and the hapax fraction (share of
    * types seen exactly once — high = productive/noisy vocabulary). All
    * three are exact rationals over token/type counts, emitted as ppm by
    * integer division — no float crosses engines.
    *
    * Scale posture: one explode → (source, word) hash agg with map-side
    * combine, then a |sources|-sized re-agg; Simpson's Σ n_i(n_i−1)
    * accumulates as exact BIGINTs. The same two-level shape as
    * x_word_entropy, minus its transcendental.
    */
  val xDiversityIndex = Q(
    "x_diversity_index",
    """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
           FROM documents),
       c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS n
             FROM w WHERE word != '' GROUP BY 1, 2),
       a AS (SELECT source,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
               CAST(sum(n * (n - 1)) AS BIGINT) AS simpson_num
             FROM c GROUP BY 1)
       SELECT source, n_tokens, n_types, hapax,
              (1000000 * simpson_num) // (n_tokens * (n_tokens - 1)) AS simpson_ppm,
              (1000000 * n_types) // n_tokens AS ttr_ppm,
              (1000000 * hapax) // n_types AS hapax_ppm
       FROM a ORDER BY source""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("n") * (col("n") - 1)).as("simpson_num"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("hapax"),
        expr("(1000000 * simpson_num) div (n_tokens * (n_tokens - 1))")
          .as("simpson_ppm"),
        expr("(1000000 * n_types) div n_tokens").as("ttr_ppm"),
        expr("(1000000 * hapax) div n_types").as("hapax_ppm"))
      .orderBy("source")
  }

  /** X — Zipf-law fit over the word frequency spectrum: least-squares
    * slope/intercept of ln(count) against ln(rank) — the "is this
    * corpus naturally distributed" audit (synthetic or template-spam
    * corpora show slopes far from the natural ≈ −1).
    *
    * Exactness: ln(rank) and ln(count) are fixed-pointed once per
    * VOCABULARY entry (model-sized; margin family "zipf-ln"); the
    * regression runs exact-integer with sign-split division (the slope
    * is negative). Per-term x·y ≈ 3·10¹⁴, so the second-moment sums
    * sxy/sxx — and everything derived from them (num, den, the
    * intercept products) — are carried in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) FROM THE AGGREGATION ONWARD: a 10⁵-type
    * vocabulary already pushes sxy and k·sxy past int64, and ANSI
    * checked arithmetic would loud-fail the BIGINT spelling.
    *
    * Scale posture: one word hash agg, a rank window over the
    * vocabulary dimension, a 1-row regression re-agg.
    */
  val xZipfFit = Q(
    "x_zipf_fit",
    """WITH c AS (SELECT word, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE word != '' GROUP BY 1),
       r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rk
             FROM c),
       p AS (SELECT CAST(round(1000000 * ln(CAST(rk AS DOUBLE))) AS BIGINT) AS x,
               CAST(round(1000000 * ln(CAST(n AS DOUBLE))) AS BIGINT) AS y
             FROM r),
       s AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx FROM p),
       f AS (SELECT k,
               k::HUGEINT * sxy - sx::HUGEINT * sy AS num,
               k::HUGEINT * sxx - sx::HUGEINT * sx AS den,
               sy, sx FROM s)
       SELECT k AS n_vocab,
              CASE WHEN num >= 0
                   THEN CAST((1000000::HUGEINT * num) // den AS BIGINT)
                   ELSE -CAST((1000000::HUGEINT * (-num)) // den AS BIGINT)
              END AS slope_micro,
              CASE WHEN sy::HUGEINT * den - num::HUGEINT * sx >= 0
                   THEN CAST((sy::HUGEINT * den - num::HUGEINT * sx)
                          // (k::HUGEINT * den) AS BIGINT)
                   ELSE -CAST((-(sy::HUGEINT * den - num::HUGEINT * sx))
                          // (k::HUGEINT * den) AS BIGINT) END AS intercept_micro
       FROM f""") { (s, dir) =>
    val c = T(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
    val p = c.withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("word"))).cast("long"))
      .select(
        expr("CAST(round(1000000 * ln(CAST(rk AS DOUBLE))) AS BIGINT)").as("x"),
        expr("CAST(round(1000000 * ln(CAST(n AS DOUBLE))) AS BIGINT)").as("y"))
    p.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y"))
          .cast("decimal(38,0)").as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x"))
          .cast("decimal(38,0)").as("sxx"))
      .select(col("k"),
        (col("k") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("decimal(38,0)")
          .as("num"),
        (col("k") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx")).cast("decimal(38,0)")
          .as("den"),
        col("sy"), col("sx"))
      .select(col("k").as("n_vocab"),
        expr("""CASE WHEN num >= 0
                THEN CAST(CAST(1000000 AS DECIMAL(38,0)) * num DIV den AS BIGINT)
                ELSE -CAST(CAST(1000000 AS DECIMAL(38,0)) * (-num) DIV den AS BIGINT)
                END""").as("slope_micro"),
        expr("""CASE WHEN CAST(sy AS DECIMAL(38,0)) * den - CAST(num AS DECIMAL(38,0)) * sx >= 0
                THEN CAST((CAST(sy AS DECIMAL(38,0)) * den - CAST(num AS DECIMAL(38,0)) * sx)
                       DIV (CAST(k AS DECIMAL(38,0)) * den) AS BIGINT)
                ELSE -CAST((-(CAST(sy AS DECIMAL(38,0)) * den - CAST(num AS DECIMAL(38,0)) * sx))
                       DIV (CAST(k AS DECIMAL(38,0)) * den) AS BIGINT) END""")
          .as("intercept_micro"))
  }

  /** X — word burstiness: the variance-to-mean ratio (VMR) of per-doc
    * occurrence counts, top-10 burstiest words. Function words spread
    * evenly (VMR ≈ 1, Poisson-like); topical words clump into few
    * documents (VMR ≫ 1) — the Church–Gale burstiness signal used for
    * keyword extraction and template/spam detection. Zeros count:
    * stats run over ALL D docs, not just the word's df.
    *
    * Exactness: VMR = var/mean = (D·Σc² − tot²)/(D·tot) over the
    * per-doc counts c — exact integers cross-multiplied (the numerator
    * is ≥ 0 by Cauchy–Schwarz), ppm by one division; the rank orders
    * the truncated ppm with a word tiebreak (identical integers both
    * engines).
    *
    * Scale posture: one explode → (doc, word) hash agg → per-word
    * re-agg, a 1-row D broadcast, TakeOrdered(10).
    */
  val xBurstiness = Q(
    "x_burstiness",
    """WITH c AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE word != '' GROUP BY 1, 2),
       w AS (SELECT word, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS tot,
               CAST(sum(c * c) AS BIGINT) AS sq FROM c GROUP BY 1),
       dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
       v AS (SELECT word, df, tot,
               (1000000 * (d * sq - tot * tot)) // (d * tot) AS vmr_ppm
             FROM w, dd),
       r AS (SELECT *, row_number() OVER (ORDER BY vmr_ppm DESC, word) AS rk
             FROM v)
       SELECT CAST(rk AS BIGINT) AS rank, word, df, tot, vmr_ppm
       FROM r WHERE rk <= 10 ORDER BY rank""") { (s, dir) =>
    val c = T(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val w = c.groupBy("word").agg(count(lit(1)).as("df"),
      sum(col("c")).as("tot"), sum(col("c") * col("c")).as("sq"))
    val dd = T(s, dir, "documents").agg(count(lit(1)).as("d"))
    val v = w.crossJoin(broadcast(dd))
      .select(col("word"), col("df"), col("tot"),
        expr("(1000000 * (d * sq - tot * tot)) div (d * tot)").as("vmr_ppm"))
    v.orderBy(col("vmr_ppm").desc, col("word")).limit(10)
      .select(row_number().over(
          Window.orderBy(col("vmr_ppm").desc, col("word")))
          .cast("long").as("rank"),
        col("word"), col("df"), col("tot"), col("vmr_ppm"))
      .orderBy("rank")
  }

  /** X — RAKE keyword extraction (Rose et al.): split each document
    * into candidate phrases at stopword boundaries, score every
    * content word by deg(w)/freq(w) (deg = Σ length of the phrases its
    * occurrences sit in — co-occurrence degree including self; freq =
    * occurrence count), and score a phrase as the sum of its member
    * words' scores; report the corpus top-10 phrases. The classic
    * unsupervised keyword extractor — one corpus pass, no training.
    *
    * Exactness: per-word score is the TRUNCATED fixed point
    * 1e6·deg div freq (both engines truncate identically; the declared
    * contract is the integer share, the x_attribution discipline), so
    * phrase scores are exact BIGINT sums and the top-10 rank
    * (score DESC, phrase) is a pure integer fact.
    *
    * Scale posture: phrase segmentation is a per-doc window (sum of
    * break flags over token position — frames bounded by doc length,
    * partitioned by doc, never corpus-wide); word stats are one hash
    * agg to the vocabulary domain; the phrase join broadcasts the
    * vocabulary-sized score table; the head is TakeOrdered(10).
    */
  val xRakeKeywords = Q(
    "x_rake_keywords",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents),
       tok AS (SELECT doc_id, t[i] AS w, i,
                 CASE WHEN t[i] IN (${sqlList(stopEn)}) THEN 1 ELSE 0 END
                   AS brk
               FROM words,
                 LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
       ph AS (SELECT doc_id, w, i, brk,
                CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY i)
                  AS BIGINT) AS pid
              FROM tok),
       member AS (SELECT doc_id, pid, w, i FROM ph
                  WHERE brk = 0 AND w <> ''),
       phlen AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
                 FROM member GROUP BY 1, 2),
       wscore AS (SELECT w,
                    (1000000 * CAST(sum(plen) AS BIGINT))
                      // CAST(count(*) AS BIGINT) AS wsc
                  FROM member JOIN phlen USING (doc_id, pid) GROUP BY w),
       phrases AS (SELECT m.doc_id, m.pid,
                     string_agg(m.w, ' ' ORDER BY m.i) AS phrase,
                     CAST(sum(s.wsc) AS BIGINT) AS score
                   FROM member m JOIN wscore s ON m.w = s.w
                   GROUP BY 1, 2)
       SELECT phrase, max(score) AS score,
              CAST(count(*) AS BIGINT) AS n_occur
       FROM phrases GROUP BY phrase
       ORDER BY score DESC, phrase LIMIT 10""") { (s, dir) =>
    val tok = T(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("i", "w")))
      .withColumn("brk",
        when(col("w").isInCollection(stopEn), 1L).otherwise(0L))
    val member = tok
      .withColumn("pid", sum(col("brk")).over(
        Window.partitionBy("doc_id").orderBy("i")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("brk") === 0 && col("w") =!= "")
      .select("doc_id", "pid", "w", "i")
    val phlen = member.groupBy("doc_id", "pid")
      .agg(count(lit(1)).as("plen"))
    val wscore = member.join(phlen, Seq("doc_id", "pid"))
      .groupBy("w")
      .agg(expr("(1000000 * sum(plen)) div count(1)").as("wsc"))
    member.join(broadcast(wscore), "w")
      .groupBy("doc_id", "pid")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("w")))),
          x => x.getField("w")), " ").as("phrase"),
        sum(col("wsc")).as("score"))
      .groupBy("phrase")
      .agg(max(col("score")).as("score"), count(lit(1)).as("n_occur"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(10)
  }

  /** Hill-estimator order statistics (top-k tail). */
  val HILL_K = 20

  /** X — Hill tail-index estimator over the word-frequency spectrum:
    * α̂ = k / Σ_{i≤k}(ln f_(i) − ln f_(k+1)) over the k+1 largest
    * frequencies — the standard heavy-tail exponent companion to
    * x_zipf_fit's least-squares slope (Hill uses only the extreme order
    * statistics, so it is robust to the mid-rank bulge that biases the
    * regression; real corpora report both).
    *
    * Exactness: the SAME fixed-point ln(count) grid as x_zipf_fit
    * (margin family "zipf-ln" — model-sized, once per distinct
    * frequency), then pure integers: order statistics by (count DESC,
    * word) rank, an exact micro-unit sum, and floor-division readouts.
    * A degenerate spectrum (top k+1 counts all equal) zeroes the
    * denominator and reports alpha_milli = 0 (the kappa convention).
    *
    * Scale posture: one vocabulary hash agg, a rank over the vocab
    * domain, a k-row reduction — x_zipf_fit's exact shape.
    */
  val xTailIndex = Q(
    "x_tail_index",
    s"""WITH c AS (SELECT word, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE word != '' GROUP BY 1),
       r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, word)
               AS BIGINT) AS rk FROM c),
       t AS (SELECT CAST(round(1000000 * ln(CAST(n AS DOUBLE))) AS BIGINT)
               AS y, rk
             FROM r WHERE rk <= ${HILL_K + 1}),
       s AS (SELECT
               CAST(sum(CASE WHEN rk <= $HILL_K THEN y ELSE 0 END)
                 AS BIGINT) AS sy,
               CAST(max(CASE WHEN rk = ${HILL_K + 1} THEN y ELSE 0 END)
                 AS BIGINT) AS yk
             FROM t)
       SELECT $HILL_K AS k, sy, yk,
              (sy - $HILL_K * yk) // $HILL_K AS hill_inv_micro,
              CASE WHEN sy - $HILL_K * yk > 0
                   THEN (1000000000 * CAST($HILL_K AS BIGINT))
                        // (sy - $HILL_K * yk)
                   ELSE 0 END AS alpha_milli
       FROM s""") { (s, dir) =>
    val c = T(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
    c.withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("word")))
          .cast("long"))
      .filter(col("rk") <= HILL_K + 1)
      .select(expr("CAST(round(1000000 * ln(CAST(n AS DOUBLE))) AS BIGINT)")
        .as("y"), col("rk"))
      .agg(
        sum(when(col("rk") <= HILL_K, col("y")).otherwise(0L)).as("sy"),
        max(when(col("rk") === HILL_K + 1, col("y")).otherwise(0L)).as("yk"))
      .select(lit(HILL_K.toLong).as("k"), col("sy"), col("yk"),
        expr(s"(sy - $HILL_K * yk) div $HILL_K").as("hill_inv_micro"),
        when(col("sy") - col("yk") * HILL_K > 0,
          expr(s"(1000000000 * CAST($HILL_K AS BIGINT)) div (sy - $HILL_K * yk)"))
          .otherwise(0L).as("alpha_milli"))
  }

  /** X — log-odds-ratio keyword comparison ("fightin' words", Monroe et
    * al.): which terms distinguish the en corpus slice from the rest,
    * by the smoothed log-odds delta
    *   δ_w = ln((a+1)/(A−a+1)) − ln((b+1)/(B−b+1))
    * (a/b = w's token count in each group, A/B group token totals,
    * +1 smoothing so absent words stay finite) — the statistically
    * grounded replacement for raw tf ratios when comparing corpora.
    *
    * Exactness: each ln is fixed-pointed ONCE per integer argument
    * (margin family "logodds-ln" — ln of counts, the zipf-ln class)
    * and δ is a pure integer combination; the top-10 rank has a word
    * tiebreak. Scale posture: one token hash agg to the vocabulary
    * domain, a 1-row totals broadcast, TakeOrdered(10).
    */
  val xLogOdds = Q(
    "x_log_odds",
    """WITH tok AS (SELECT (lang = 'en') AS grp, w
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                 FROM documents) WHERE w <> ''),
       tot AS (SELECT
                 CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS ta,
                 CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS tb
               FROM tok),
       c AS (SELECT w,
               CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS b
             FROM tok GROUP BY w),
       d AS (SELECT w, a, b,
               CAST(round(1000000 * ln(CAST(a + 1 AS DOUBLE))) AS BIGINT)
               - CAST(round(1000000 * ln(CAST(ta - a + 1 AS DOUBLE))) AS BIGINT)
               - CAST(round(1000000 * ln(CAST(b + 1 AS DOUBLE))) AS BIGINT)
               + CAST(round(1000000 * ln(CAST(tb - b + 1 AS DOUBLE))) AS BIGINT)
                 AS delta_micro
             FROM c, tot)
       SELECT w AS word, a AS n_en, b AS n_rest, delta_micro
       FROM d ORDER BY delta_micro DESC, word LIMIT 10""") { (s, dir) =>
    val tok = T(s, dir, "documents")
      .select((col("lang") === "en").as("grp"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val tot = tok.agg(
      sum(when(col("grp"), 1L).otherwise(0L)).as("ta"),
      sum(when(!col("grp"), 1L).otherwise(0L)).as("tb"))
    val c = tok.groupBy("w").agg(
      sum(when(col("grp"), 1L).otherwise(0L)).as("a"),
      sum(when(!col("grp"), 1L).otherwise(0L)).as("b"))
    def lnfix(e: String) =
      s"CAST(round(1000000 * ln(CAST($e AS DOUBLE))) AS BIGINT)"
    c.crossJoin(broadcast(tot))
      .select(col("w").as("word"), col("a").as("n_en"), col("b").as("n_rest"),
        expr(s"""${lnfix("a + 1")} - ${lnfix("ta - a + 1")}
                 - ${lnfix("b + 1")} + ${lnfix("tb - b + 1")}""")
          .as("delta_micro"))
      .orderBy(col("delta_micro").desc, col("word"))
      .limit(10)
  }

  /** X — code-switching screen: per document, how MIXED the
    * language-stopword vote is — monolingual-corpus curation drops (or
    * routes) documents whose second-language share is material, a
    * different decision than x_lang_id's argmax label (a doc can be
    * confidently 'en' by vote and still be 30% German). Pure rationals:
    * mixedness = 1e6·(total − top) DIV total and the flag is the
    * cross-multiplied 10·(total − top) ≥ 3·total — no division until
    * the fixed-point readout. Vote-free docs keep mixed_ppm NULL (the
    * ratio is undefined) and flag false — no evidence of mixing is not
    * evidence of it.
    *
    * Scale posture: a pure codegen'd map over the scan (the same four
    * stopword-filter expressions x_lang_id evaluates) — a free rider on
    * any corpus pass, no shuffle beyond the output order.
    */
  val xCodeSwitch = Q(
    "x_code_switch",
    s"""WITH scored AS (
         SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEn)}))) AS BIGINT) AS s_en,
           CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopDe)}))) AS BIGINT) AS s_de,
           CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopEs)}))) AS BIGINT) AS s_es,
           CAST(len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(stopFr)}))) AS BIGINT) AS s_fr
         FROM documents),
       t AS (SELECT doc_id, s_en + s_de + s_es + s_fr AS tot,
               greatest(s_en, s_de, s_es, s_fr) AS mx
             FROM scored)
       SELECT doc_id, tot AS n_votes, mx AS top_votes,
              CASE WHEN tot = 0 THEN NULL
                   ELSE (1000000 * (tot - mx)) // tot END AS mixed_ppm,
              CASE WHEN tot = 0 THEN false
                   ELSE 10 * (tot - mx) >= 3 * tot END AS code_switched
       FROM t ORDER BY doc_id""") { (s, dir) =>
    val votes = Seq("s_en", "s_de", "s_es", "s_fr").map(col(_).cast("long"))
    T(s, dir, "documents")
      .select(col("doc_id") +: langVotes(split(col("text"), " ")): _*)
      .select(col("doc_id"), votes.reduce(_ + _).as("tot"),
        greatest(votes: _*).as("mx"))
      .select(col("doc_id"), col("tot").as("n_votes"),
        col("mx").as("top_votes"),
        when(col("tot") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * (tot - mx)) div tot")).as("mixed_ppm"),
        when(col("tot") === 0, lit(false))
          .otherwise(lit(10L) * (col("tot") - col("mx")) >= lit(3L) * col("tot"))
          .as("code_switched"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(q35, q35b, xTfIdf, xQuality, xTokenCount, xLangId,
    xRepetition, xQualityRules, xWordEntropy, xHashEmbed, xBm25, xDsirWeights,
    xRrfFusion, xQualityEnsemble, xReadability, xDiversityIndex, xZipfFit,
    xBurstiness, xRakeKeywords, xTailIndex, xLogOdds, xCodeSwitch)
}
