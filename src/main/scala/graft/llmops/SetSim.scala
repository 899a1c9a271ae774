package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, SessionMemo, Tables => T}

/** Exact set-similarity self-join via PREFIX FILTERING (AllPairs /
  * PPJoin, Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06) — the other
  * classic scale path to "all document pairs with Jaccard ≥ t" besides
  * MinHash LSH (q33). Where LSH is probabilistic (banding trades recall
  * for candidate count, gated by a measured-recall contract), prefix
  * filtering is EXACT: order the element universe by ascending document
  * frequency, index only the first |x| − ⌈t·|x|⌉ + 1 elements of each
  * set (its "prefix"), and any pair with Jaccard ≥ t provably shares a
  * prefix element — so candidates = pairs co-occurring in some RARE
  * element, and a verification pass computes the true intersection.
  * The result is the brute-force answer by construction, which is
  * exactly what the oracle computes.
  *
  * The set universe is the word-3-gram shingle hash set of each
  * document — the SAME shared cached base q33 / x_dedup_families /
  * x_dedup_survivors condense the corpus into (MinHashLSH.wordSetsBase:
  * one narrow per-row pass, no shingle-stream shuffle), so in a
  * pipeline that runs both operators the corpus is shingled once.
  * Threshold 3/5 sits BELOW q33's LSH band design point: the exact
  * path is how you sweep a threshold regime the banding wasn't tuned
  * for without re-deriving band/row parameters.
  *
  * Scale posture (10^9-document corpus):
  *   - Prefix filtering DOES pay one corpus-scale exploded shuffle (the
  *     df dictionary + the per-doc (df, h) re-sort) — the price of an
  *     exact guarantee; LSH exists to avoid it when recall < 1 is
  *     acceptable. The candidate join itself is keyed by each doc's
  *     RAREST ~(1−t) fraction of shingles, so the hub-shingle blowup
  *     (boilerplate shared by every page) is excluded by construction —
  *     the same role the LSH hot-bucket cap plays (MinHashLSH.scala:
  *     188-204), but with zero completeness loss.
  *   - Candidate count is Σ_h df_prefix(h)² over prefix occurrences
  *     only, further cut at JOIN time by PPJoin's length filter
  *     (den·min(ca,cb) ≥ num·max(ca,cb) — mismatched-size pairs can
  *     never reach the threshold) and positional filter (the overlap
  *     upper bound 1 + min(ca−pa, cb−pb) at the shared prefix element
  *     must reach the required overlap α) — both necessary conditions,
  *     so zero completeness loss; SCALE-SETSIM measures the candidate
  *     reduction at identical output. Verification touches candidates,
  *     not the pair space, and costs one codegen'd merge scan per pair
  *     (SortedLongArrayIntersect) on the already-cached sorted hash
  *     arrays.
  *   - All similarity arithmetic is integer cross-multiplication
  *     (J ≥ 3/5 ⇔ 5·|a∩b| ≥ 3·|a∪b|); no floats cross engines. Hash
  *     collisions perturb a count with probability ~|A||B|/2^64 per
  *     pair (the q33 contract, MinHashLSH.scala:211-214).
  */
object SetSim {

  /** Jaccard threshold 3/5 as an integer rational. */
  val T_NUM = 3
  val T_DEN = 5

  /** Exploded (doc_id, h) element stream of a wordSets-shaped frame. */
  private def elements(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("hs")).as("h"))

  /** Per-doc element arrays re-sorted into the global (df asc, h asc)
    * order — the threshold-INDEPENDENT half of prefix computation (df
    * dictionary + per-doc re-sort), shared by every prefix-filtered
    * operator regardless of threshold.
    */
  private def orderedSets(el: DataFrame): DataFrame =
    el.join(el.groupBy("h").agg(count(lit(1)).as("df")), "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ot"))

  /** Shared per-doc df-ordered element-array base over the full
    * `documents` table: computed and cached once per (session, dir) and
    * reused by x_setsim_join AND x_containment_join (their thresholds
    * differ, but the df dictionary and the per-doc re-sort — the two
    * wide stages — do not).
    */
  private val orderedBases = new SessionMemo[DataFrame]

  def orderedBase(s: SparkSession, dir: String): DataFrame =
    orderedBases(s, dir) {
      orderedSets(elements(MinHashLSH.wordSetsBase(s, dir))).cache()
    }

  /** PREFIX elements of a df-ordered base: the first L − ⌈t·L⌉ + 1 of
    * each set, with ⌈t·L⌉ = (num·L + den − 1) div den — the rarest
    * ~(1−t) fraction, the only elements that need indexing for
    * threshold num/den (Jaccard or containment alike). Emits
    * (doc_id, h, p, c) with p the element's 1-based position in the
    * df-ordered set and c = |set| — the metadata PPJoin's length and
    * positional filters consume at candidate-join time.
    */
  private def prefixesFromOrdered(ord: DataFrame, num: Int, den: Int): DataFrame =
    ord.select(col("doc_id"), size(col("ot")).cast("long").as("c"),
        posexplode(expr(s"""slice(transform(ot, x -> x.h), 1,
               size(ot) - (($num * size(ot) + ${den - 1}) div $den) + 1)""")))
      .select(col("doc_id"), col("col").as("h"),
        (col("pos") + lit(1)).cast("long").as("p"), col("c"))

  /** FULL element stream of a df-ordered base with the same positional
    * metadata — the probing side of the containment join, which must
    * index every element (containment puts no lower bound on how deep
    * in B's frequency order the shared elements sit).
    */
  private def orderedElements(ord: DataFrame): DataFrame =
    ord.select(col("doc_id"), size(col("ot")).cast("long").as("c"),
        posexplode(expr("transform(ot, x -> x.h)")))
      .select(col("doc_id"), col("col").as("h"),
        (col("pos") + lit(1)).cast("long").as("p"), col("c"))

  private def prefixes(el: DataFrame, num: Int, den: Int): DataFrame =
    prefixesFromOrdered(orderedSets(el), num, den)

  /** PPJoin candidate pairs (a < b) for Jaccard ≥ num/den: prefix match
    * plus the LENGTH filter —
    * J ≥ t forces den·min(ca,cb) ≥ num·max(ca,cb) — and the POSITIONAL
    * filter — overlap ≤ 1 + min(ca−pa, cb−pb) for the pair's FIRST
    * shared element in global df-order, which must reach
    * α = ⌈num·(ca+cb)/(num+den)⌉. Both are NECESSARY conditions, so
    * filtering keeps exactness: the first shared element lies in both
    * prefixes (if it didn't, fewer than ⌈t·L⌉ ≤ α shared elements could
    * remain past the prefix) and its row satisfies the bound, so every
    * true pair survives the OR-over-matching-rows semantics of the
    * distinct.
    */
  private def candidatePairs(pre: DataFrame, num: Int, den: Int): DataFrame = {
    val cond = col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
      lit(den) * col("a.c") >= lit(num) * col("b.c") &&
      lit(den) * col("b.c") >= lit(num) * col("a.c") &&
      lit(num + den) * (lit(1L) +
        least(col("a.c") - col("a.p"), col("b.c") - col("b.p"))) >=
        lit(num) * (col("a.c") + col("b.c"))
    pre.as("a").join(pre.as("b"), cond)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** All pairs (a < b) with Jaccard(set a, set b) ≥ num/den — exact,
    * via prefix-filtered candidates + merge-scan verification. `sets`
    * is (doc_id, hs sorted-distinct long array, c = |hs|), the
    * MinHashLSH.wordSets shape.
    */
  def similarPairs(sets: DataFrame, num: Int, den: Int): DataFrame =
    similarFromPrefixes(sets, prefixes(elements(sets), num, den), num, den)

  private def similarFromPrefixes(sets: DataFrame, pre: DataFrame,
      num: Int, den: Int): DataFrame = {
    MinHashLSH.setOverlap(candidatePairs(pre, num, den), sets)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        col("inter").cast("long").as("inter"), col("ca"), col("cb"))
      .filter(lit(den) * col("inter") >= lit(num) * (col("ca") + col("cb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("ca") + col("cb") - col("inter")).cast("long").as("uni"))
  }

  /** Containment threshold 4/5 as an integer rational. */
  val C_NUM = 4
  val C_DEN = 5

  /** All ordered pairs (a ≠ b) with containment |A∩B| / |A| ≥ num/den —
    * "document a is mostly inside document b": the asymmetric variant
    * that catches quotes, boilerplate inclusion, and subset documents
    * that symmetric Jaccard misses (a short doc inside a long one has
    * tiny Jaccard but containment ≈ 1). Prefix filtering adapts: the
    * CONTAINED side indexes its rarest |A| − ⌈t·|A|⌉ + 1 elements (if
    * |A∩B| ≥ α, at most α−1 of A's elements lie past its prefix, so
    * one shared element is in the prefix), while the CONTAINING side
    * must index every element — containment puts no lower bound on how
    * deep in B's frequency order the shared elements sit. Candidate
    * volume is still governed by the A-prefix: an element only joins if
    * it is among SOMEBODY's rarest fraction, so corpus-wide boilerplate
    * (in every full set, in nobody's prefix) never generates a pair.
    */
  def containedPairs(sets: DataFrame, num: Int, den: Int): DataFrame = {
    val ord = orderedSets(elements(sets))
    containedFromPrefixes(sets, prefixesFromOrdered(ord, num, den), ord,
      num, den)
  }

  /** PPJoin candidates for containment |A∩B|/|A| ≥ num/den: A-prefix ×
    * B-full-set match plus the LENGTH filter —
    * overlap ≤ |B| must reach α = ⌈num·ca/den⌉, so den·cb ≥ num·ca —
    * and the POSITIONAL filter — 1 + min(ca−pa, cb−pb) ≥ α, i.e.
    * den·(1 + min) ≥ num·ca. Necessary conditions again: the first
    * shared element in global df-order sits in A's prefix (α here IS
    * ⌈t·ca⌉, the exact bound the prefix length is built from) and
    * trivially in B's full stream, and its row passes the bound.
    */
  private def containmentCandidates(pre: DataFrame, el: DataFrame, num: Int,
      den: Int): DataFrame = {
    val cond = col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id") &&
      lit(den) * col("b.c") >= lit(num) * col("a.c") &&
      lit(den) * (lit(1L) +
        least(col("a.c") - col("a.p"), col("b.c") - col("b.p"))) >=
        lit(num) * col("a.c")
    pre.as("a").join(el.as("b"), cond)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  private def containedFromPrefixes(sets: DataFrame, pre: DataFrame,
      ord: DataFrame, num: Int, den: Int): DataFrame = {
    MinHashLSH.setOverlap(
        containmentCandidates(pre, orderedElements(ord), num, den), sets)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        col("inter").cast("long").as("inter"), col("ca"))
      .filter(lit(den) * col("inter") >= lit(num) * col("ca"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("ca").cast("long").as("ca"))
  }

  /** X — containment self-join over `documents` at |A∩B|/|A| ≥ 4/5.
    * Brute-force oracle (shared-shingle counts, both directions).
    */
  val xContainmentJoin = Q(
    "x_containment_join",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
              WHERE len(t) >= 3),
       card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
       inter AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS i
                 FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id != y.doc_id
                 GROUP BY 1, 2)
       SELECT a_id AS doc_a, b_id AS doc_b, CAST(i AS BIGINT) AS inter,
              CAST(ca.c AS BIGINT) AS ca
       FROM inter JOIN card ca ON ca.doc_id = a_id
       WHERE $C_DEN * i >= $C_NUM * ca.c
       ORDER BY doc_a, doc_b""") { (s, dir) =>
    val sets = MinHashLSH.wordSetsBase(s, dir)
    val ord = orderedBase(s, dir)
    containedFromPrefixes(sets,
        prefixesFromOrdered(ord, C_NUM, C_DEN), ord, C_NUM, C_DEN)
      .orderBy("doc_a", "doc_b")
  }

  /** X — exact word-shingle similarity self-join over `documents` at
    * Jaccard ≥ 3/5. The oracle is the definitionally-correct brute
    * force (shared-shingle pair counts, q33's spelling with an integer
    * threshold); the engine answers it with prefix filtering —
    * identical rows, exact by construction.
    */
  val xSetSimJoin = Q(
    "x_setsim_join",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 1))) AS i)
              WHERE len(t) >= 3),
       card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
       inter AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS i
                 FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                 GROUP BY 1, 2)
       SELECT a_id AS doc_a, b_id AS doc_b, CAST(i AS BIGINT) AS inter,
              CAST(ca.c + cb.c - i AS BIGINT) AS uni
       FROM inter
       JOIN card ca ON ca.doc_id = a_id
       JOIN card cb ON cb.doc_id = b_id
       WHERE $T_DEN * i >= $T_NUM * (ca.c + cb.c - i)
       ORDER BY doc_a, doc_b""") { (s, dir) =>
    val sets = MinHashLSH.wordSetsBase(s, dir)
    similarFromPrefixes(sets,
        prefixesFromOrdered(orderedBase(s, dir), T_NUM, T_DEN), T_NUM, T_DEN)
      .orderBy("doc_a", "doc_b")
  }

  val all: Seq[Q] = Seq(xSetSimJoin, xContainmentJoin)
}
