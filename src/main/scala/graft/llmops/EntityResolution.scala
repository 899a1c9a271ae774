package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}

/** Entity resolution — the MDM/record-linkage pipeline (Fellegi-Sunter
  * shape): BLOCK candidate records cheaply, MATCH within blocks with a
  * string-similarity scorer, CLUSTER matches into entity identities:
  *
  *   1. block   — records grouped by a cheap stable key (first name
  *                char here); pairs exist only WITHIN a block — the ER
  *                equivalent of the LSH band bucket, and the only thing
  *                standing between a billion records and n² scoring
  *   2. match   — Jaro-Winkler (the native codegen'd expression
  *                x_jaro_winkler ships) as a 1e6 fixed-point integer,
  *                thresholded at JW_TH
  *   3. cluster — connected components over match edges (the
  *                DedupFamilies machinery: driver union-find under the
  *                bounded threshold, pointer-jumping above); entity id
  *                = min member key, the survivor rule
  *
  * The fixture synthesizes the dirty input deterministically (the
  * x_url_canon discipline): every 3 consecutive customers are one true
  * entity whose 20-char name appears clean, with a mid-string deletion,
  * and with a transposition. Measured separation at sf0.01: in-cluster
  * JW ≥ 0.948, cross-entity ≤ 0.794 within blocks — threshold 0.93
  * sits in a ±0.018 dead zone (and the raw values are margin-audited).
  *
  * Scale posture: pair volume is Σ_blocks |block|² — controlled by the
  * blocking key's selectivity exactly like LSH bucket caps; scoring is
  * per-pair codegen'd expression work; clustering state is bounded by
  * MATCH edges (a sliver of records), never the corpus.
  */
object EntityResolution {

  val JW_TH = 930000L // round(1e6 · 0.93)
  val SIM_SCALE = 1000000L

  /** (k, name) — the synthesized dirty records. */
  def records(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .withColumn("b",
        substring(md5(expr("cast(c_custkey div 3 as string)")), 1, 20))
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 3 === 0, col("b"))
          .when(col("c_custkey") % 3 === 1,
            concat(substring(col("b"), 1, 10), expr("substring(b, 12)")))
          .otherwise(concat(substring(col("b"), 1, 11),
            substring(col("b"), 13, 1), substring(col("b"), 12, 1),
            expr("substring(b, 14)")))
          .as("name"))

  /** Match pairs (a, b, sim_fix) within blocks, thresholded. */
  def matchPairs(recs: DataFrame): DataFrame = {
    val l = recs.select(col("k").as("a"), col("name").as("an"),
      substring(col("name"), 1, 1).as("blk"))
    val r = recs.select(col("k").as("b"), col("name").as("bn"),
      substring(col("name"), 1, 1).as("blk"))
    l.join(r, Seq("blk")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(graft.functions.JaroWinkler.sim(col("an"), col("bn")) *
          SIM_SCALE).cast("long").as("sim_fix"))
      .filter(col("sim_fix") >= JW_TH)
  }

  private def nameSql(alias: String): String =
    s"""CASE $alias.k % 3
        WHEN 0 THEN $alias.b
        WHEN 1 THEN substr($alias.b, 1, 10) || substr($alias.b, 12)
        ELSE substr($alias.b, 1, 11) || substr($alias.b, 13, 1) ||
             substr($alias.b, 12, 1) || substr($alias.b, 14) END"""

  val xEntityResolution = Q(
    "x_entity_resolution",
    s"""WITH RECURSIVE
       e AS (SELECT c_custkey AS k,
               substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 1, 20) AS b
             FROM customer),
       n AS (SELECT e.k, ${nameSql("e")} AS name FROM e),
       p AS (SELECT x.k AS a, y.k AS b
             FROM n x JOIN n y
               ON substr(x.name, 1, 1) = substr(y.name, 1, 1) AND x.k < y.k
             WHERE CAST(round($SIM_SCALE * jaro_winkler_similarity(x.name, y.name)) AS BIGINT) >= $JW_TH),
       edges AS (SELECT a AS src, b AS dst FROM p
                 UNION ALL SELECT b, a FROM p),
       r(id, label) AS (SELECT src, src FROM edges
                        UNION
                        SELECT ed.dst, r.label FROM edges ed JOIN r ON ed.src = r.id),
       ent AS (SELECT id, min(label) AS entity FROM r GROUP BY id),
       asg AS (SELECT n.k, coalesce(ent.entity, n.k) AS entity
               FROM n LEFT JOIN ent ON ent.id = n.k),
       sz AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_members
              FROM asg GROUP BY entity)
       SELECT asg.k AS custkey, asg.entity AS entity, sz.n_members,
              asg.k = asg.entity AS is_canonical
       FROM asg JOIN sz ON asg.entity = sz.entity
       ORDER BY custkey""") { (s, dir) =>
    val recs = records(s, dir)
    val labels = DedupFamilies.components(matchPairs(recs)
      .select(col("a"), col("b")))
    val asg = recs.join(labels, recs("k") === labels("id"), "left")
      .select(col("k"), coalesce(col("label"), col("k")).as("entity"))
    val sz = asg.groupBy(col("entity")).agg(count(lit(1)).as("n_members"))
    asg.join(sz, "entity")
      .select(col("k").as("custkey"), col("entity"), col("n_members"),
        (col("k") === col("entity")).as("is_canonical"))
      .orderBy("custkey")
  }

  /** X — edit-distance-1 fuzzy join with PROVABLY EXHAUSTIVE blocking
    * — the scale counterpart to x_entity_resolution's heuristic
    * first-char block. Completeness argument for distance ≤ 1 with
    * 2-char block keys: a single edit at position p ≥ 3 leaves the
    * first TWO characters intact (prefix block); an edit at p ≤ 2
    * shifts/substitutes only the head, so the last two characters
    * survive whenever both strings have length ≥ 4 (suffix block);
    * strings of length ≤ 3 get an explicit short branch (empty at
    * scale, present for the proof). The length band
    * |len(a) − len(b)| ≤ 1 is a further valid filter.
    *
    * Key width is a measured choice: 1-char keys put every
    * first-char-corrupted variant in ONE block — at sf0.1 a 5,000-word
    * 'z' block costs 12.5M of the arm's 14M pairs and 16.4 s;
    * 2-char keys split it 16 ways (~1M total candidates, ~1.5 s) while
    * the proof above keeps the join exhaustive.
    *
    * The ORACLE IS THE BRUTE FORCE: DuckDB scores every vocabulary
    * pair (no blocks, no bands) — so a hash match doesn't just check
    * arithmetic, it PROVES the blocked plan loses no pair on this
    * corpus. The fixture synthesizes a dirty vocabulary the ER way
    * (x_entity_resolution's records discipline): per entity, a clean
    * 8-char key, a first-char corruption (only the suffix block can
    * catch it) and a last-char deletion (only the prefix block can) —
    * both block arms are therefore load-bearing, not decorative.
    *
    * Scale posture: two equi-joins keyed on 2-char block keys with the
    * length-band residual (never a cartesian), pair volume Σ|block|²
    * exactly like LSH buckets; levenshtein runs per-candidate only.
    * The brute-force arm exists only in the oracle.
    */
  val xFuzzyJoin = Q(
    "x_fuzzy_join",
    """WITH v AS (SELECT DISTINCT
             CASE c_custkey % 3
               WHEN 0 THEN substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 1, 8)
               WHEN 1 THEN 'z' || substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 2, 7)
               ELSE substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 1, 7)
             END AS w
           FROM customer)
       SELECT a.w AS a, b.w AS b
       FROM v a JOIN v b ON a.w < b.w
       WHERE levenshtein(a.w, b.w) <= 1
       ORDER BY a, b""") { (s, dir) =>
    fuzzyPairs(dirtyVocab(T(s, dir, "customer"))).orderBy("a", "b")
  }

  /** The dirty fixture vocabulary from a customer frame: per entity a
    * clean 8-char key, a first-char corruption, a last-char deletion.
    */
  private[graft] def dirtyVocab(customer: DataFrame): DataFrame = {
    val base = md5(expr("cast(c_custkey div 3 as string)"))
    customer.select(
      when(col("c_custkey") % 3 === 0, substring(base, 1, 8))
        .when(col("c_custkey") % 3 === 1,
          concat(lit("z"), substring(base, 2, 7)))
        .otherwise(substring(base, 1, 7)).as("w"))
      .distinct()
  }

  /** The exhaustively-blocked d≤1 join over a vocabulary column `w`
    * (see xFuzzyJoin's completeness proof). Exposed for the specs.
    */
  private[graft] def fuzzyPairs(v: DataFrame): DataFrame = {
    def arm(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val l = v.select(col("w").as("a"), key(col("w")).as("blk"))
      val r = v.select(col("w").as("b"), key(col("w")).as("blk"))
      l.join(r, "blk").filter(col("a") < col("b") &&
        abs(length(col("a")) - length(col("b"))) <= 1)
        .select("a", "b")
    }
    val prefixArm = arm(w => substring(w, 1, 2))
    val suffixArm = arm(w => substring(w, -2, 2))
    // length-<=3 strings evade the 2-char arms; empty on this fixture but
    // the completeness proof requires the branch to exist
    val shorts = v.filter(length(col("w")) <= 3)
    val shortArm = shorts.select(col("w").as("a"))
      .crossJoin(broadcast(shorts.select(col("w").as("b"))))
      .filter(col("a") < col("b"))
    prefixArm.unionByName(suffixArm).unionByName(shortArm)
      .distinct()
      .filter(levenshtein(col("a"), col("b")) <= 1)
  }

  /** The ≤2-deletion neighborhood of a word column, as a pure-builtin
    * SQL expression (codegen'd end to end): the word itself, every
    * 1-deletion variant, and every 2-deletion variant, distinct. Guards
    * keep `sequence` ascending (Spark's sequence(1, 0) DESCENDS).
    */
  private[graft] def delNbrSql(w: String): String =
    s"""array_distinct(concat(
        array($w),
        if(length($w) >= 1,
          transform(sequence(1, length($w)), i ->
            concat(substr($w, 1, i - 1), substr($w, i + 1, length($w)))),
          array()),
        if(length($w) >= 2,
          flatten(transform(sequence(1, length($w) - 1), i ->
            transform(sequence(i + 1, length($w)), j ->
              concat(substr($w, 1, i - 1), substr($w, i + 1, j - i - 1),
                     substr($w, j + 1, length($w)))))),
          array())))"""

  /** The exhaustively-blocked d≤2 join over a vocabulary column `w` —
    * SymSpell-style deletion-neighborhood blocking (see xFuzzyJoin2's
    * completeness proof). Exposed for the specs.
    */
  private[graft] def fuzzyPairs2(v: DataFrame): DataFrame = {
    val nb = v.select(col("w"), explode(expr(delNbrSql("w"))).as("k"))
    val l = nb.select(col("w").as("a"), col("k"))
    val r = nb.select(col("w").as("b"), col("k"))
    l.join(r, "k")
      .filter(col("a") < col("b") &&
        abs(length(col("a")) - length(col("b"))) <= 2)
      .select("a", "b").distinct()
      .withColumn("d", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("d") <= 2)
  }

  /** X — edit-distance-2 fuzzy join, the d≤2 generalization of
    * xFuzzyJoin via SymSpell deletion-neighborhood blocking (Garbe's
    * symmetric-delete scheme; also the FastSS recipe, Bocek et al.
    * 2007): block key = every string reachable by deleting ≤2
    * characters.
    *
    * Completeness proof (the deletion cover): take any pair with
    * lev(a, b) = d ≤ 2 and an optimal alignment. Every aligned edit
    * touches at most one position of a and one of b — a substitution
    * consumes one character of each, an insertion one character of b
    * only, a deletion one character of a only. Removing exactly those
    * ≤d touched characters from each side leaves the alignment's
    * common subsequence — the SAME string from both sides. So
    * del≤2(a) ∩ del≤2(b) ≠ ∅ for every true pair: the equi-join on
    * neighborhood keys is a provably exhaustive candidate generator,
    * and the per-candidate levenshtein verify makes it exact (false
    * candidates cost work, never correctness — the x_bloom_dedup
    * posture). |len(a) − len(b)| ≤ 2 is a further valid residual.
    *
    * vs the 2-char-prefix/suffix blocking of xFuzzyJoin: that proof is
    * d≤1-specific (one edit spares one END of the string; two edits
    * can hit both ends). The deletion neighborhood generalizes at a
    * key-volume cost of 1 + L + C(L,2) keys per word (≈37 for L=8)
    * instead of 2 — the classic SymSpell trade: key volume is
    * per-WORD-linear-ish and bucket sizes stay hash-small, so pair
    * volume is Σ|bucket|² over near-unique keys, never vocab².
    *
    * THE ORACLE IS THE BRUTE FORCE over every vocabulary pair, so the
    * hash match re-proves the cover theorem on this corpus. Same dirty
    * fixture as xFuzzyJoin — at d≤2 it additionally pairs each
    * entity's first-char corruption with its last-char deletion
    * (substitute head + delete tail = 2 edits) and surfaces the
    * md5-coincidence d=2 pairs across entities.
    *
    * Scale posture: one explode (≤37 keys/word), one equi-join, one
    * distinct, verify per candidate. At web-scale vocabularies brute
    * force is vocab² and does not exist; the neighborhood join's cost
    * tracks the TRUE pair density (SCALE-FUZZY2 measures blocked wall
    * vs the quadratic brute at 1×/2×/4× vocabulary).
    */
  val xFuzzyJoin2 = Q(
    "x_fuzzy_join2",
    """WITH v AS (SELECT DISTINCT
             CASE c_custkey % 3
               WHEN 0 THEN substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 1, 8)
               WHEN 1 THEN 'z' || substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 2, 7)
               ELSE substr(md5(CAST(c_custkey // 3 AS VARCHAR)), 1, 7)
             END AS w
           FROM customer)
       SELECT a.w AS a, b.w AS b,
              CAST(levenshtein(a.w, b.w) AS BIGINT) AS d
       FROM v a JOIN v b ON a.w < b.w
       WHERE levenshtein(a.w, b.w) <= 2
       ORDER BY a, b""") { (s, dir) =>
    fuzzyPairs2(dirtyVocab(T(s, dir, "customer"))).orderBy("a", "b")
  }

  val all: Seq[Q] = Seq(xEntityResolution, xFuzzyJoin, xFuzzyJoin2)
}
