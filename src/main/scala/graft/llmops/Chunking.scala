package graft.llmops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, Tables => T}

/** Training-data document preparation: chunking and stratified sampling.
  *
  * Chunking splits each document into fixed-size overlapping character
  * windows — the unit a tokenizer/packing stage consumes downstream.
  * Stratified sampling draws an equal-size, deterministic sample per
  * stratum (language) — the class-balancing primitive for eval-set
  * construction.
  *
  * Scale posture: chunking is a pure per-row explode (narrow, no
  * shuffle; output partitioning inherits the scan). Stratified sampling
  * is one window per stratum — at 100 TB a rank over lang-partitioned
  * data is a single shuffle by the stratum key, and the hash-ordered
  * rank makes the sample reproducible under any repartitioning, unlike
  * rand()-based sampling.
  */
object Chunking {

  val CHUNK = 200   // window size (chars)
  val STRIDE = 150  // step between window starts (50-char overlap)

  /** X — overlapping character-window chunks per document. Offsets
    * 0, STRIDE, 2·STRIDE, … while < length; every doc (even empty)
    * yields at least one chunk. Chunk text is carried as md5 so the
    * output stays narrow; n_chars shows the ragged tail.
    */
  val xDocChunk = Q(
    "x_doc_chunk",
    s"""SELECT doc_id, CAST(off AS BIGINT) AS chunk_start,
              CAST(length(substr(text, off + 1, $CHUNK)) AS BIGINT) AS n_chars,
              md5(substr(text, off + 1, $CHUNK)) AS digest
       FROM documents,
            LATERAL (SELECT unnest(generate_series(0, greatest(length(text) - 1, 0), $STRIDE)) AS off)
       ORDER BY doc_id, chunk_start""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest(length(col("text")) - 1, lit(0)), lit(STRIDE))).as("off"))
      .select(col("doc_id"),
        col("off").cast("long").as("chunk_start"),
        length(expr(s"substring(text, off + 1, $CHUNK)")).cast("long").as("n_chars"),
        md5(expr(s"substring(text, off + 1, $CHUNK)")).as("digest"))
      .orderBy("doc_id", "chunk_start")
  }

  /** X — equal-size stratified sample: the first N docs per language in
    * md5-of-id order (a deterministic shuffle). Same sample on every
    * engine, every rerun, any partitioning.
    */
  val SAMPLE_PER_STRATUM = 40

  val xStratifiedSample = Q(
    "x_stratified_sample",
    s"""SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                row_number() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         FROM documents)
       WHERE rn <= $SAMPLE_PER_STRATUM ORDER BY doc_id""") { (s, dir) =>
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    T(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SAMPLE_PER_STRATUM)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** X — sequence packing: assign docs to training context windows by
    * running token count (greedy contiguous packing — concatenate in
    * doc order, cut every BUDGET tokens — the standard pretraining
    * packing discipline). bin = floor(tokens-before-this-doc / BUDGET),
    * computed as one window cumsum per language shard; packing per shard
    * (not globally) is exactly how this parallelizes at corpus scale —
    * a global pack order would serialize on one partition.
    */
  val PACK_BUDGET = 2048

  val xPackSequences = Q(
    "x_pack_sequences",
    s"""WITH t AS (SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
         FROM documents),
       p AS (SELECT doc_id, lang, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $PACK_BUDGET) AS BIGINT) AS bin
         FROM t)
       SELECT doc_id, lang, n_tokens, bin FROM p ORDER BY doc_id""") { (s, dir) =>
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextStats.regexTokenCount.as("n_tokens"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / PACK_BUDGET))
      .orderBy("doc_id")
  }

  /** X — C4-style span-level dedup: cut every document into fixed
    * non-overlapping spans, keep only the FIRST occurrence of each span
    * corpus-wide ((doc_id, offset) order), and report per doc how much
    * survives. This is the line/paragraph dedup stage of a crawl
    * pipeline (C4 removed duplicate three-sentence spans the same way).
    *
    * Scale posture: ONE shuffle keyed on the span digest (the window
    * partition), then a per-doc re-aggregation — the span stream is
    * narrow (doc_id, offset, 16-byte digest), never the full text, and
    * the hot key is a span duplicated millions of times, which the
    * digest partitioning spreads no worse than the dedup groupBy any
    * exact-dedup pipeline runs.
    */
  val SPAN = 40

  val xSpanDedup = Q(
    "x_span_dedup",
    s"""WITH chunks AS (
         SELECT doc_id, off, md5(substr(text, off + 1, $SPAN)) AS d
         FROM documents,
              LATERAL (SELECT unnest(generate_series(0, greatest(length(text) - 1, 0), $SPAN)) AS off)),
       r AS (SELECT doc_id,
                    row_number() OVER (PARTITION BY d ORDER BY doc_id, off) AS rn
             FROM chunks)
       SELECT doc_id, count(*) AS n_spans,
              CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM r GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    val w = Window.partitionBy(col("d")).orderBy(col("doc_id"), col("off"))
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest(length(col("text")) - 1, lit(0)), lit(SPAN))).as("off"))
      .select(col("doc_id"), col("off"),
        md5(expr(s"substring(text, off + 1, $SPAN)")).as("d"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** X — deterministic token-budget subsampling (the data-MIXING
    * primitive: "give me ~20% of the corpus tokens, split equally across
    * languages, reproducibly"). The global budget is an exact fifth of
    * the corpus token count; each language gets its largest-remainder
    * equal share (B div L, +1 for the first B mod L languages in name
    * order); within a language, docs are taken in the md5-of-id
    * deterministic-shuffle order while the inclusive running token count
    * stays within budget. Everything is integers; the selection is a
    * pure function of the corpus.
    *
    * Scale posture — the naive spelling (one cumsum window per language)
    * serializes each language on one task, and a real corpus has a
    * dominant language. This build is TWO-LEVEL: docs bucket by their
    * md5 PREFIX (256 buckets/lang; the bucket order refines the doc
    * order, so per-bucket token sums + a bucket-level running offset
    * reproduce the global cumsum exactly), the bucket-offset window runs
    * on a (lang × 256)-sized frame, whole buckets whose offset already
    * exceeds the budget are pruned BEFORE the expensive within-bucket
    * window (off > budget ⇒ every doc in the bucket is over), and the
    * within-bucket cumsum partitions by (lang, bucket) — 256-way
    * parallel per language, and the prefix width is the knob. The
    * oracle computes the naive single-window spelling; identical rows
    * prove the decomposition exact.
    */
  val BUDGET_DEN = 5

  val xTokenBudget = Q(
    "x_token_budget",
    s"""WITH t AS (SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
         FROM documents),
       b AS (SELECT CAST(sum(n_tokens) // $BUDGET_DEN AS BIGINT) AS btot FROM t),
       l AS (SELECT lang, CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS lrank
             FROM (SELECT DISTINCT lang FROM t)),
       n AS (SELECT count(*) AS nl FROM l),
       a AS (SELECT lang,
                    CAST(btot // nl + (CASE WHEN lrank <= btot % nl THEN 1 ELSE 0 END) AS BIGINT) AS budget
             FROM l, b, n),
       c AS (SELECT doc_id, lang, n_tokens,
                    sum(n_tokens) OVER (PARTITION BY lang
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM t)
       SELECT c.doc_id, c.lang, c.n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens
       FROM c JOIN a ON a.lang = c.lang
       WHERE c.cum <= a.budget ORDER BY c.doc_id""") { (s, dir) =>
    tokenBudgetSelect(T(s, dir, "documents"))
  }

  /** The x_token_budget machinery over any (doc_id, lang, text) frame —
    * exposed so the property suite can drive adversarial corpora
    * (empty texts, single-language, budgets of zero) through the bucket
    * decomposition against a driver-side brute force.
    */
  def tokenBudgetSelect(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs
      .select(col("doc_id"), col("lang"),
        TextStats.regexTokenCount.as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val btot = t.agg(expr(s"sum(n_tokens) div $BUDGET_DEN").as("btot"))
    val langs = t.select("lang").distinct()
      .withColumn("lrank",
        row_number().over(Window.orderBy("lang")).cast("long"))
    val nl = langs.agg(count(lit(1)).as("nl"))
    val alloc = langs.crossJoin(broadcast(btot)).crossJoin(broadcast(nl))
      .select(col("lang"),
        (expr("btot div nl") +
          when(col("lrank") <= expr("btot % nl"), 1L).otherwise(0L)).as("budget"))
    // bucket-level token sums + running offsets: a (lang x 256)-sized
    // frame; off > budget buckets can never contribute a selected row
    val boff = t.groupBy("lang", "bkt").agg(sum("n_tokens").as("bt"))
      .withColumn("off", coalesce(
        sum(col("bt")).over(Window.partitionBy("lang").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(alloc), "lang")
      .filter(col("off") <= col("budget"))
      .select(col("lang"), col("bkt"), col("off"), col("budget"))
    val wIn = Window.partitionBy("lang", "bkt").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t.join(broadcast(boff), Seq("lang", "bkt"))
      .withColumn("cum_tokens", col("off") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Line width (words) and cross-doc multiplicity threshold for
    * x_line_dedup. A "line" is a non-overlapping LINE_W-word window (the
    * fixture corpus has no newlines, so fixed word windows stand in for
    * physical lines); a line occurring verbatim in >= LINE_DUP_K DISTINCT
    * documents is boilerplate and removed from every document.
    */
  val LINE_W = 10
  val LINE_DUP_K = 2

  /** X — line-level deduplication with document reassembly (the
    * RefinedWeb/CCNet stage between exact doc-dedup and near-dup: strip
    * boilerplate lines repeated across documents — headers, footers,
    * navigation — and rebuild each document from its surviving lines).
    * Distinct from x_span_dedup, which only COUNTS first-occurrence
    * char-spans: this one makes the keep/drop decision on cross-document
    * multiplicity and emits the cleaned text itself, the form the next
    * pipeline stage consumes.
    *
    * Plan: one narrow pass explodes docs into (doc_id, i, line); the
    * boilerplate set is a single hash aggregation on the line (two-level:
    * (line, doc_id) partial-distinct, then the distinct-doc count); the
    * decision is a left join back on the line key; reassembly is one
    * per-doc aggregation collecting surviving (i, line) structs,
    * array_sort for deterministic order under any partitioning, then a
    * join — no window over the corpus, no driver state. At 100 TB the
    * join key would be a 128-bit line digest instead of the raw string
    * (same accepted-collision class as the other digest joins); raw
    * strings keep this contract exact.
    */
  val xLineDedup = Q(
    "x_line_dedup",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       lines AS (SELECT doc_id, i,
                   array_to_string(t[(i-1)*$LINE_W+1:(i-1)*$LINE_W+$LINE_W], ' ') AS line
                 FROM w, LATERAL (SELECT unnest(generate_series(1,
                   CAST(ceil(len(t) / ${LINE_W}.0) AS BIGINT))) AS i)),
       dup AS (SELECT line FROM lines GROUP BY line
               HAVING count(DISTINCT doc_id) >= $LINE_DUP_K)
       SELECT l.doc_id,
              coalesce(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
                                  ' ' ORDER BY l.i), '') AS text_clean,
              CAST(sum(CASE WHEN d.line IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN d.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       FROM lines l LEFT JOIN dup d ON l.line = d.line
       GROUP BY l.doc_id ORDER BY l.doc_id""") { (s, dir) =>
    lineDedup(T(s, dir, "documents")).orderBy("doc_id")
  }

  /** The x_line_dedup machinery over any (doc_id, text) frame — one row
    * per input doc: (doc_id, text_clean, n_kept, n_dropped). Shared by
    * the Q above and the full-curation DAG (stage 6).
    */
  def lineDedup(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val lines = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1),
          ceil(size(col("t")) / lit(LINE_W.toDouble)).cast("int"))).as("i"))
      .select(col("doc_id"), col("i"),
        array_join(
          slice(col("t"), (col("i") - 1) * LINE_W + 1, lit(LINE_W)),
          " ").as("line"))
    val dup = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= LINE_DUP_K)
      .select(col("line"), lit(1).as("isdup"))
    lines.join(dup, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("isdup").isNull, struct(col("i"), col("line"))))),
            x => x("line")),
          " ").as("text_clean"),
        sum(when(col("isdup").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("isdup").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Minimum repeated-substring length for x_substr_dedup (chars). */
  val SUBSTR_L = 40

  /** X — exact repeated-substring regions at ARBITRARY offsets (the
    * suffix-array-style dedup of "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022, re-expressed for a
    * distributed engine): find every maximal region of each document
    * whose ≥SUBSTR_L-char content appears verbatim elsewhere in the
    * corpus (any doc, any offset — including elsewhere in the same doc).
    * x_span_dedup only sees repeats aligned to its fixed span grid; this
    * catches a quoted passage at any character position, which is what
    * the suffix-array method buys.
    *
    * Formulation: a char position is covered iff some SUBSTR_L-window
    * containing it repeats corpus-wide. Sliding windows (step 1) are
    * digested (md5 — both engines spell it identically); digests with
    * count ≥ 2 mark their windows repeated; per doc, overlapping/adjacent
    * repeated windows merge into maximal islands (gaps-and-islands via a
    * running max-end window PARTITIONED BY doc — never a corpus-wide
    * window). Output per doc: region count + covered chars.
    *
    * Scale posture: the window stream is n_chars rows/doc (narrow map);
    * the repeat set is one hash agg on the digest; the island merge is
    * per-doc-partitioned window work. A true suffix array would find
    * variable-L maximal repeats; fixing L and sliding by 1 is the
    * standard distributed relaxation (it reports the same regions for
    * any repeat of length ≥ L, clipped to window resolution).
    */
  val xSubstrDedup = Q(
    "x_substr_dedup",
    s"""WITH wins AS (SELECT doc_id, off, md5(substr(text, off + 1, $SUBSTR_L)) AS d
                 FROM documents,
                      LATERAL (SELECT unnest(generate_series(0, len(text) - $SUBSTR_L)) AS off)
                 WHERE len(text) >= $SUBSTR_L),
       rep AS (SELECT d FROM wins GROUP BY d HAVING count(*) >= 2),
       r AS (SELECT w.doc_id, w.off FROM wins w JOIN rep USING (d)),
       m AS (SELECT doc_id, off,
               max(off + $SUBSTR_L) OVER (PARTITION BY doc_id ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
             FROM r),
       g AS (SELECT doc_id, off,
               sum(CASE WHEN pe IS NULL OR off > pe THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY off) AS isl
             FROM m),
       reg AS (SELECT doc_id, isl, min(off) AS s, max(off) + $SUBSTR_L AS e
               FROM g GROUP BY 1, 2)
       SELECT doc.doc_id,
              CAST(coalesce(count(reg.isl), 0) AS BIGINT) AS n_regions,
              CAST(coalesce(sum(reg.e - reg.s), 0) AS BIGINT) AS n_repeated_chars
       FROM documents doc LEFT JOIN reg ON doc.doc_id = reg.doc_id
       GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val wins = docs
      .filter(length(col("text")) >= SUBSTR_L)
      .select(col("doc_id"),
        explode(sequence(lit(0), length(col("text")) - SUBSTR_L)).as("off"),
        col("text"))
      .select(col("doc_id"), col("off"),
        md5(expr(s"substring(text, off + 1, $SUBSTR_L)")).as("d"))
    val rep = wins.groupBy(col("d")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("d"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("off"))
    val regions = wins.join(rep, Seq("d"))
      .select(col("doc_id"), col("off"))
      .withColumn("pe", max(col("off") + SUBSTR_L).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("pe").isNull || col("off") > col("pe"), 1L).otherwise(0L))
        .over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("off")).as("s"), (max(col("off")) + SUBSTR_L).as("e"))
    docs.select(col("doc_id"))
      .join(regions, Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(count(col("isl")), lit(0L)).as("n_regions"),
        coalesce(sum(col("e") - col("s")), lit(0L)).as("n_repeated_chars"))
      .orderBy("doc_id")
  }

  /** X — content-defined chunking (the rsync/LBFS boundary trick applied
    * to corpus dedup): cut the word stream where a hash of the local
    * 2-word window lands in a target residue class (md5 first hex digit
    * ∈ {0,1} → cut probability 1/8, mean chunk ≈ 8 words), then count
    * chunks whose content repeats corpus-wide.
    *
    * Why content-defined beats every fixed grid in this file: span/line
    * dedup cut at fixed offsets, so ONE inserted word shifts every later
    * boundary and a shared passage stops matching; a CDC boundary
    * depends only on the two words beside it, so an edit perturbs at
    * most its neighboring chunks and the rest of the document still
    * dedups (the property rsync/LBFS/backup stores are built on).
    * x_substr_dedup gets the same robustness from char-level sliding
    * windows but pays n_chars rows per doc; CDC pays n_words rows and
    * one digest per ~8 words — the cheap version when approximate
    * region resolution is acceptable.
    *
    * Scale posture: boundary decisions and chunk assembly are per-doc
    * partitioned windows (never corpus-wide); the only corpus-wide step
    * is one hash agg on chunk digests. Per doc: total chunks, chunks
    * whose content appears ≥2× corpus-wide, and the words inside them.
    */
  /** CDC chunk table for a (doc_id, text) frame: one row per chunk with
    * its content digest and word count. All window work is per-doc
    * partitioned. Shared by x_cdc_chunk and the insertion-robustness
    * property test.
    */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "w")
      .withColumn("pw", lag(col("w"), 1).over(byDoc))
      .withColumn("cut",
        when(col("pw").isNull, 0L)
          .when(substring(md5(concat_ws(" ", col("pw"), col("w"))), 1, 1)
            .isin("0", "1"), 1L)
          .otherwise(0L))
      .withColumn("cid", sum(col("cut")).over(byDoc))
      .groupBy(col("doc_id"), col("cid"))
      .agg(
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ")).as("h"),
        count(lit(1)).as("n_words"))
  }

  val xCdcChunk = Q(
    "x_cdc_chunk",
    """WITH words AS (
         SELECT doc_id, i - 1 AS pos, t[i] AS w
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
       c AS (SELECT doc_id, pos, w,
               CASE WHEN pos = 0 THEN 0
                    WHEN substr(md5(lag(w) OVER (PARTITION BY doc_id ORDER BY pos)
                                    || ' ' || w), 1, 1) IN ('0','1') THEN 1
                    ELSE 0 END AS cut
             FROM words),
       ch AS (SELECT doc_id,
                     sum(cut) OVER (PARTITION BY doc_id ORDER BY pos) AS cid,
                     pos, w
              FROM c),
       chunks AS (SELECT doc_id, cid,
                         md5(string_agg(w, ' ' ORDER BY pos)) AS h,
                         count(*) AS n_words
                  FROM ch GROUP BY doc_id, cid),
       rep AS (SELECT h FROM chunks GROUP BY h HAVING count(*) >= 2)
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
              CAST(coalesce(sum(CASE WHEN rep.h IS NOT NULL THEN n_words END), 0) AS BIGINT) AS n_dup_words
       FROM chunks LEFT JOIN rep USING (h)
       GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    val chunks = cdcChunks(T(s, dir, "documents"))
    val rep = chunks.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    chunks.join(rep.withColumn("isrep", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("isrep").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"),
        coalesce(sum(when(col("isrep").isNotNull, col("n_words"))), lit(0L))
          .as("n_dup_words"))
      .orderBy("doc_id")
  }

  /** Chunk-level SQL shared by x_cdc_chunk's oracle and the incremental
    * twin: the (doc_id, cid, h, n_words) chunk table of `src`.
    */
  private def chunksSql(src: String): String =
    s"""SELECT doc_id, cid, md5(string_agg(w, ' ' ORDER BY pos)) AS h,
              count(*) AS n_words
       FROM (SELECT doc_id,
                    sum(cut) OVER (PARTITION BY doc_id ORDER BY pos) AS cid,
                    pos, w
             FROM (SELECT doc_id, pos, w,
                     CASE WHEN pos = 0 THEN 0
                          WHEN substr(md5(lag(w) OVER (PARTITION BY doc_id ORDER BY pos)
                                          || ' ' || w), 1, 1) IN ('0','1') THEN 1
                          ELSE 0 END AS cut
                   FROM (SELECT doc_id, i - 1 AS pos, t[i] AS w
                         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
                              LATERAL (SELECT unnest(generate_series(1, len(t))) AS i))))
       GROUP BY doc_id, cid"""

  /** X — incremental CDC dedup against the STANDING lake (the point of
    * content-defined chunking: chunk-level dedup of an edited corpus
    * against stored chunk digests stays O(edits) under insertion, where
    * any fixed grid re-shards every chunk after the edit). The round
    * trip is real: the base corpus's chunk table is WRITTEN to parquet,
    * read back, and the perturbed corpus (every doc_id ≡ 7 mod 10 gets
    * one word inserted after its 5th word) joins its re-chunked digests
    * against the STORED set. Per doc: chunk count, new-digest count,
    * edited flag.
    *
    * The graded fact IS the O(edits) claim: unedited docs re-chunk to
    * exactly their stored digests (n_new = 0 — bitwise storage
    * round-trip proof riding the hash gate), and an edited doc perturbs
    * at most the chunk containing the insert plus its hash-window
    * neighbors (n_new ≤ 3 per edit; the Round9Spec property test bounds
    * the multiset diff at 6 counting both directions). The oracle
    * recomputes both chunk tables and the same join; it cannot read the
    * parquet, so a storage corruption on the Spark side surfaces as a
    * per-doc n_new mismatch.
    *
    * Scale posture: identical to x_cdc_chunk (per-doc windows + one
    * digest agg) plus one distinct-digest join against the lake table —
    * the lake side is a parquet scan of digests only (16 bytes/chunk),
    * never the stored text.
    */
  val xCdcIncremental = Q(
    "x_cdc_incremental",
    s"""WITH base AS (${chunksSql("documents")}),
       lake AS (SELECT DISTINCT h FROM base),
       pert AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 = 7 THEN
                    array_to_string(list_concat(list_concat(
                      t[1:least(5, len(t))], ['INSERTED']),
                      t[least(5, len(t)) + 1:len(t)]), ' ')
                  ELSE text END AS text
                FROM (SELECT doc_id, text, string_split(text, ' ') AS t
                      FROM documents)),
       ch2 AS (${chunksSql("pert")})
       SELECT ch2.doc_id,
              (ch2.doc_id % 10 = 7) AS edited,
              CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(CASE WHEN lake.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       FROM ch2 LEFT JOIN lake ON ch2.h = lake.h
       GROUP BY ch2.doc_id ORDER BY ch2.doc_id""") { (s, dir) =>
    cdcIncremental(s, dir)
  }

  /** The Spark side of x_cdc_incremental (exposed for the spec): write
    * base chunks to the lake path, read the digest set back, re-chunk
    * the perturbed corpus, count per-doc new digests.
    */
  def cdcIncremental(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val path = graft.core.Scratch.path(s,
      s"cdc_lake_${new java.io.File(dir).getName}")
    cdcChunks(docs).write.mode("overwrite").parquet(path)
    val lake = s.read.parquet(path).select(col("h")).distinct()
      .withColumn("seen", lit(1))
    val t = split(col("text"), " ")
    val kk = least(lit(5), size(t))
    val pert = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 7,
        array_join(concat(slice(t, lit(1), kk), array(lit("INSERTED")),
          slice(t, kk + 1, size(t) - kk)), " "))
        .otherwise(col("text")).as("text"))
    cdcChunks(pert)
      .join(lake, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), (col("doc_id") % 10 === 7).as("edited"),
        col("n_chunks"), col("n_new"))
      .orderBy("doc_id")
  }

  /** Target tokens per output shard for x_shard_assign. */
  val SHARD_TOKENS = 2048L

  /** X — balanced training-shard assignment: the step before writing
    * webdataset/TFRecord-style output, where the tokenized corpus must
    * land in shards of ≈SHARD_TOKENS tokens each, reproducibly. Docs are
    * laid out in the md5-of-id deterministic-shuffle order (so shards
    * are topic-mixed, not source-clumped) and each doc goes to
    * `floor(tokens_before_it / SHARD_TOKENS)` — contiguous fill, every
    * shard within one document of the target.
    *
    * The cumsum is GLOBAL — the naive spelling is one corpus-wide
    * window on a single task. Same escape as x_token_budget, minus the
    * language dimension: docs bucket by md5 prefix (256 buckets, the
    * bucket order refines the doc order), per-bucket token sums feed a
    * 256-row bucket-offset window, and the within-bucket cumsum
    * partitions by bucket — 256-way parallel, prefix width is the knob.
    * The oracle runs the naive window; identical rows prove the
    * decomposition exact.
    */
  val xShardAssign = Q(
    "x_shard_assign",
    s"""WITH t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h
         FROM documents),
       c AS (SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             FROM t)
       SELECT doc_id, n_tokens,
              CAST(before // $SHARD_TOKENS AS BIGINT) AS shard
       FROM c ORDER BY doc_id""") { (s, dir) =>
    shardAssign(T(s, dir, "documents")).orderBy("doc_id")
  }

  /** The x_shard_assign machinery over any (doc_id, text) frame —
    * exposed for the balance property test. Decomposition shared with
    * x_dense_ids via [[graft.core.BucketCumsum]].
    */
  def shardAssign(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.core.BucketCumsum.before(
      docs.select(col("doc_id"),
        TextStats.regexTokenCount.as("n_tokens")),
      "doc_id", col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"before div $SHARD_TOKENS").as("shard"))

  /** Span length for x_span_corruption (T5 uses mean 3; ours is a fixed
    * 3 so the mask is position-parallel and exactly replayable).
    */
  val SPAN_LEN = 3
  /** Start-selection rate: md5 first byte < 0x0d ⇒ 13/256 ≈ 5.1% of
    * positions start a span; ×3 length ≈ 14% corruption before overlap
    * merge — the T5 ~15% target.
    */
  val SPAN_SEL = "0d"

  /** X — span-corruption masking audit (the T5/UL2 denoising objective's
    * data half): deterministically select span STARTS by a per-(doc,
    * position) hash, corrupt SPAN_LEN tokens from each start, merge
    * overlaps, and report per doc the mask rate and the sentinel count
    * (= number of MAXIMAL masked runs — each run becomes one sentinel
    * token in the corrupted input).
    *
    * The whole mask is POSITION-PARALLEL — masked(p) ⇔ some start in
    * [p−SPAN_LEN+1, p] was selected, and a run begins where masked(p)
    * ∧ ¬masked(p−1) — so no per-doc sequential scan exists anywhere:
    * each position evaluates ≤ 2·SPAN_LEN hash tests independently
    * (the map-only shape that scales to any document length), then one
    * per-doc hash agg. Selection reuses the x_sample_hash md5-prefix
    * idiom, so both engines compute the identical mask.
    */
  val xSpanCorruption = Q(
    "x_span_corruption",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents),
       pos AS (SELECT doc_id, len(t) AS n, i
               FROM words,
                 LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
       m AS (SELECT doc_id, n, i,
               ${(0 until SPAN_LEN).map(k =>
                 s"""(i - $k >= 1 AND substr(md5(CAST(doc_id AS VARCHAR)
                    || ':' || CAST(i - $k AS VARCHAR)), 1, 2) < '$SPAN_SEL')""")
                 .mkString(" OR ")} AS masked,
               ${(1 to SPAN_LEN).map(k =>
                 s"""(i - $k >= 1 AND substr(md5(CAST(doc_id AS VARCHAR)
                    || ':' || CAST(i - $k AS VARCHAR)), 1, 2) < '$SPAN_SEL')""")
                 .mkString(" OR ")} AS prev_masked
             FROM pos)
       SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                AS n_masked,
              CAST(sum(CASE WHEN masked AND NOT prev_masked THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sentinels,
              (1000000 * CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END)
                 AS BIGINT)) // max(n) AS corruption_ppm
       FROM m GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    def sel(posExpr: String) =
      s"""(($posExpr) >= 1 AND substr(md5(CAST(doc_id AS STRING)
         || ':' || CAST(($posExpr) AS STRING)), 1, 2) < '$SPAN_SEL')"""
    val masked = (0 until SPAN_LEN).map(k => sel(s"i - $k")).mkString(" OR ")
    val prev = (1 to SPAN_LEN).map(k => sel(s"i - $k")).mkString(" OR ")
    T(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("i0", "w")))
      .select(col("doc_id"), (col("i0") + 1).as("i"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")).as("n"))
      .select(col("doc_id"), col("n"),
        expr(masked).as("masked"), expr(prev).as("prev_masked"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("masked") && !col("prev_masked"), 1L).otherwise(0L))
          .as("n_sentinels"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        col("n_sentinels"),
        expr("(1000000 * n_masked) div n_tokens").as("corruption_ppm"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(xDocChunk, xStratifiedSample, xPackSequences, xSpanDedup,
    xTokenBudget, xLineDedup, xSubstrDedup, xCdcChunk, xCdcIncremental,
    xShardAssign, xSpanCorruption)
}
