package graft.llmops

import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}

/** Dataset-governance audits — the release checks a training-data
  * pipeline runs before a corpus (or an annotation batch, or a model's
  * filter scores) ships:
  *
  *  - x_k_anonymity: re-identification risk over quasi-identifier
  *    tuples (the k-anonymity audit from Sweeney's model) — every QI
  *    group's population plus its k-threshold flags.
  *  - x_kappa_agreement: Cohen's kappa between two annotators over the
  *    same items — the standard chance-corrected agreement score used
  *    to qualify labeling pipelines before their labels train filters.
  *  - x_ece_calibration: expected calibration error of a confidence-
  *    scored binary predictor, equal-width bins — the audit that says
  *    whether a quality-filter's scores can be thresholded as
  *    probabilities.
  *
  * Cross-engine exactness: all three are PURE INTEGER from end to end —
  * counts, cross-multiplied rationals, and 1e6 fixed-point via integer
  * division (both engines truncate toward zero; kappa's possibly-
  * negative numerator is sign-split so the spelling never divides a
  * negative). No floats, no rounding margins to audit.
  *
  * Scale posture: each is one narrow projection of `documents` into a
  * single hash aggregation whose group domain is bounded (QI tuples:
  * |lang|·|source|·len-buckets; kappa: one row; ECE: ≤10 bins) — the
  * map-side-combine shape that holds at 100 TB. Zero windows over the
  * corpus, zero driver state.
  */
object Governance {

  /** Quasi-identifier length-bucket width (chars). */
  val QI_BUCKET = 64L

  /** X — k-anonymity audit: group documents by the quasi-identifier
    * tuple (lang, source, coarse length bucket) and flag every group
    * below the k=5 and k=20 thresholds. A group of size 1 is a direct
    * re-identification; the audit output is the table a release
    * reviewer reads (and the suppression set is exactly the rows in
    * flagged groups).
    */
  val xKAnonymity = Q(
    "x_k_anonymity",
    s"""WITH g AS (SELECT lang, source, n_chars // $QI_BUCKET AS len_bucket,
             CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2, 3)
       SELECT lang, source, len_bucket, n,
              (n >= 5) AS k5_anon, (n >= 20) AS k20_anon
       FROM g ORDER BY lang, source, len_bucket""") { (s, dir) =>
    T(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr(s"n_chars div $QI_BUCKET").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), col("len_bucket"), col("n"),
        (col("n") >= 5).as("k5_anon"), (col("n") >= 20).as("k20_anon"))
      .orderBy("lang", "source", "len_bucket")
  }

  /** X — Cohen's kappa between two deterministic "annotators" labeling
    * every document for keep/drop: annotator 1 rules on raw length
    * (n_chars ≥ 300), annotator 2 on whitespace token count (≥ 50).
    * Correlated-but-not-identical rules give a meaningful mid-range
    * kappa rather than a degenerate 0 or 1.
    *
    * Exact integer form: with confusion cells n11/n10/n01/n00 and
    * N = Σ, po·N = n11+n00 and pe·N² = (n11+n10)(n11+n01) +
    * (n01+n00)(n10+n00), so
    *   kappa = (N·(n11+n00) − pe·N²) / (N² − pe·N²)
    * is an exact integer rational; kappa_fix is its sign-split 1e6
    * fixed-point quotient. A degenerate split (every doc on the same
    * side of both rules) makes kappa_den = 0; kappa_fix then reports 0,
    * matching the zero-denominator convention of x_class_metrics /
    * x_ece_calibration.
    */
  val xKappaAgreement = Q(
    "x_kappa_agreement",
    """WITH t AS (SELECT (n_chars >= 300) AS a1,
             (len(string_split(text, ' ')) >= 50) AS a2 FROM documents),
       c AS (SELECT
               CAST(sum(CASE WHEN a1 AND a2 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(sum(CASE WHEN a1 AND NOT a2 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(sum(CASE WHEN NOT a1 AND a2 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(sum(CASE WHEN NOT a1 AND NOT a2 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
               CAST(count(*) AS BIGINT) AS n FROM t),
       k AS (SELECT n11, n10, n01, n00, n,
               n * (n11 + n00) - ((n11 + n10) * (n11 + n01) +
                                  (n01 + n00) * (n10 + n00)) AS kappa_num,
               n * n - ((n11 + n10) * (n11 + n01) +
                        (n01 + n00) * (n10 + n00)) AS kappa_den
             FROM c)
       SELECT n11, n10, n01, n00, n, kappa_num, kappa_den,
              CASE WHEN kappa_den = 0 THEN 0
                   WHEN kappa_num < 0
                   THEN -((1000000 * -kappa_num) // kappa_den)
                   ELSE (1000000 * kappa_num) // kappa_den END AS kappa_fix
       FROM k""") { (s, dir) =>
    val t = T(s, dir, "documents").select(
      (col("n_chars") >= 300).as("a1"),
      (size(split(col("text"), " ")) >= 50).as("a2"))
    val c = t.agg(
      sum(when(col("a1") && col("a2"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("a1") && !col("a2"), 1L).otherwise(0L)).as("n10"),
      sum(when(!col("a1") && col("a2"), 1L).otherwise(0L)).as("n01"),
      sum(when(!col("a1") && !col("a2"), 1L).otherwise(0L)).as("n00"),
      count(lit(1)).as("n"))
    val pe = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))
    val k = c.select(col("n11"), col("n10"), col("n01"), col("n00"), col("n"),
      (col("n") * (col("n11") + col("n00")) - pe).as("kappa_num"),
      (col("n") * col("n") - pe).as("kappa_den"))
    k.select(col("n11"), col("n10"), col("n01"), col("n00"), col("n"),
      col("kappa_num"), col("kappa_den"),
      when(col("kappa_den") === 0, lit(0L))
        .when(col("kappa_num") < 0,
          -expr("(1000000 * -kappa_num) div kappa_den"))
        .otherwise(expr("(1000000 * kappa_num) div kappa_den"))
        .as("kappa_fix"))
  }

  /** X — expected calibration error: the predictor scores every doc
    * with an integer milli-confidence conf = 1000·n_chars / (n_chars +
    * 300) (monotone in length, range ≈ (0, 1000)) that it is "long
    * form" (truth: whitespace token count ≥ 50); bins are equal-width
    * deciles of conf. Per-bin gap and the total ECE are exact integers:
    * (n_b/N)·|acc_b − conf̄_b| = |1000·pos_b − Σconf_b| / (1000·N), so
    *   ECE·1e6 = 1e6·Σ_b gap_num_b // (1000·N).
    */
  val xEceCalibration = Q(
    "x_ece_calibration",
    """WITH t AS (SELECT (1000 * n_chars) // (n_chars + 300) AS conf,
             CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS y
           FROM documents),
       b AS (SELECT conf // 100 AS bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos,
               CAST(sum(conf) AS BIGINT) AS conf_sum
             FROM t GROUP BY 1),
       g AS (SELECT bin, n, pos, conf_sum,
               abs(1000 * pos - conf_sum) AS gap_num FROM b),
       tot AS (SELECT CAST(sum(gap_num) AS BIGINT) AS gsum,
                      CAST(sum(n) AS BIGINT) AS nt FROM g)
       SELECT bin, n, pos, conf_sum, gap_num,
              (1000000 * gsum) // (1000 * nt) AS ece_fix
       FROM g, tot ORDER BY bin""") { (s, dir) =>
    val t = T(s, dir, "documents").select(
      expr("(1000 * n_chars) div (n_chars + 300)").as("conf"),
      when(size(split(col("text"), " ")) >= 50, 1L).otherwise(0L).as("y"))
    val g = t.groupBy(expr("conf div 100").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(col("conf")).as("conf_sum"))
      .withColumn("gap_num", abs(lit(1000) * col("pos") - col("conf_sum")))
    val tot = g.agg(sum("gap_num").as("gsum"), sum("n").as("nt"))
    g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("pos"), col("conf_sum"),
        col("gap_num"),
        expr("(1000000 * gsum) div (1000 * nt)").as("ece_fix"))
      .orderBy("bin")
  }

  /** X — l-diversity audit, the k-anonymity companion (Machanavajjhala
    * et al.): a QI group can be k-anonymous yet leak the sensitive
    * attribute if every member shares it. Here the QI is
    * (source, coarse length bucket) and the sensitive attribute is
    * `lang`; per group we report the population, the number of DISTINCT
    * sensitive values, and the largest single value's share, with the
    * two standard release flags — distinct l-diversity (≥ 3 values) and
    * a bounded-majority check (top value ≤ half the group, i.e. no
    * sensitive value is a majority).
    *
    * Pure integer: counts and an integer comparison (top·2 ≤ n) — no
    * division anywhere. Scale posture: two chained hash aggs whose
    * group domains are bounded (|source|·len-buckets·|lang|, then
    * |source|·len-buckets) — map-side combine all the way; no windows,
    * no driver state.
    */
  val xLDiversity = Q(
    "x_l_diversity",
    s"""WITH g AS (SELECT source, n_chars // $QI_BUCKET AS len_bucket, lang,
             CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2, 3),
       q AS (SELECT source, len_bucket,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS distinct_langs,
               CAST(max(n) AS BIGINT) AS top_lang_n
             FROM g GROUP BY 1, 2)
       SELECT source, len_bucket, n, distinct_langs, top_lang_n,
              (distinct_langs >= 3) AS l3_diverse,
              (top_lang_n * 2 <= n) AS majority_bounded
       FROM q ORDER BY source, len_bucket""") { (s, dir) =>
    T(s, dir, "documents")
      .groupBy(col("source"), expr(s"n_chars div $QI_BUCKET").as("len_bucket"),
        col("lang"))
      .agg(count(lit(1)).as("ln"))
      .groupBy("source", "len_bucket")
      .agg(sum(col("ln")).as("n"), count(lit(1)).as("distinct_langs"),
        max(col("ln")).as("top_lang_n"))
      .select(col("source"), col("len_bucket"), col("n"),
        col("distinct_langs"), col("top_lang_n"),
        (col("distinct_langs") >= 3).as("l3_diverse"),
        (col("top_lang_n") * 2 <= col("n")).as("majority_bounded"))
      .orderBy("source", "len_bucket")
  }

  /** X — t-closeness audit (Li–Li–Venkatasubramanian), the third leg of
    * the k-anonymity / l-diversity release triad: a QI group passes only
    * if its SENSITIVE-ATTRIBUTE DISTRIBUTION stays close to the global
    * one (l-diversity counts values; t-closeness bounds the whole
    * distribution, catching skew attacks where a group is diverse but
    * 90% one value). QI = (source, coarse length bucket), sensitive =
    * lang (categorical → the distance is total variation, ½·L1).
    *
    * Pure integer: with N docs total, n_g in the group, N_v global and
    * n_gv in-group counts of value v,
    *   t · 2·N·n_g = Σ_v |N·n_gv − n_g·N_v|
    * so t_fix = 1e6·Σ|…| // (2·N·n_g) and the release flag t ≤ 0.2 is
    * the cross-multiplied comparison 5·Σ|…| ≤ 2·N·n_g — no division
    * until the final fixed-point readout, no floats anywhere. The
    * N·n_gv / n_g·N_v products multiply two corpus-sized counts, so —
    * the e3bebc2 Mann-Whitney/Zipf discipline — every product runs in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): headroom to N ≈ 10¹⁶
    * docs for the term and Σ (vs int64's overflow at N ≈ 3·10⁹), with
    * only the final BIGINT readouts assuming the per-group EMD numerator
    * fits 9.2·10¹⁸ — true whenever N·n_g does, i.e. N ≲ 3·10⁹ for the
    * raw emd_num/emd_den columns while the t_fix ratio and the flag stay
    * exact far beyond.
    *
    * Scale posture: two bounded hash aggs (QI groups, QI×lang cells), a
    * broadcast of the |lang|-row global distribution and the 1-row
    * total, and a QI×lang expansion whose size is |groups|·|langs| —
    * audit-table-sized, never corpus-sized. Absent (group, v) cells
    * enter via the left join's coalesce(n_gv, 0), which the TV distance
    * requires.
    */
  val xTCloseness = Q(
    "x_t_closeness",
    s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       gdist AS (SELECT lang, CAST(count(*) AS BIGINT) AS nv
                FROM documents GROUP BY 1),
       grp AS (SELECT source, n_chars // $QI_BUCKET AS len_bucket,
                 CAST(count(*) AS BIGINT) AS ng
               FROM documents GROUP BY 1, 2),
       gl AS (SELECT source, n_chars // $QI_BUCKET AS len_bucket, lang,
                CAST(count(*) AS BIGINT) AS ngv
              FROM documents GROUP BY 1, 2, 3),
       d AS (SELECT g.source, g.len_bucket, g.ng, t.n,
               abs(CAST(t.n AS HUGEINT) * coalesce(x.ngv, 0)
                   - CAST(g.ng AS HUGEINT) * v.nv) AS term
             FROM grp g CROSS JOIN gdist v CROSS JOIN tot t
             LEFT JOIN gl x ON x.source = g.source
               AND x.len_bucket = g.len_bucket AND x.lang = v.lang)
       SELECT source, len_bucket, ng AS n,
              CAST(sum(term) AS BIGINT) AS emd_num,
              CAST(CAST(2 AS HUGEINT) * max(n) * ng AS BIGINT) AS emd_den,
              CAST((CAST(1000000 AS HUGEINT) * sum(term))
                   // (CAST(2 AS HUGEINT) * max(n) * ng) AS BIGINT)
                AS t_fix,
              (CAST(5 AS HUGEINT) * sum(term)
                 <= CAST(2 AS HUGEINT) * max(n) * ng) AS t02_close
       FROM d GROUP BY source, len_bucket, ng
       ORDER BY source, len_bucket""") { (s, dir) =>
    import org.apache.spark.sql.functions.broadcast
    val docs = T(s, dir, "documents")
    val bucket = expr(s"n_chars div $QI_BUCKET").as("len_bucket")
    val tot = docs.agg(count(lit(1)).as("n"))
    val glob = docs.groupBy("lang").agg(count(lit(1)).as("nv"))
    val grp = docs.groupBy(col("source"), bucket)
      .agg(count(lit(1)).as("ng"))
    val gl = docs.groupBy(col("source"), bucket, col("lang"))
      .agg(count(lit(1)).as("ngv"))
    grp.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
      .join(gl, Seq("source", "len_bucket", "lang"), "left")
      .select(col("source"), col("len_bucket"), col("ng"), col("n"),
        abs(col("n").cast("decimal(38,0)") * coalesce(col("ngv"), lit(0L)) -
          col("ng").cast("decimal(38,0)") * col("nv")).as("term"))
      .groupBy("source", "len_bucket", "ng")
      .agg(sum(col("term")).as("emd_numw"), max(col("n")).as("nn"))
      .select(col("source"), col("len_bucket"), col("ng").as("n"),
        col("emd_numw").cast("long").as("emd_num"),
        expr("CAST(CAST(2 AS DECIMAL(38,0)) * nn * ng AS BIGINT)")
          .as("emd_den"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * emd_numw)
                DIV (CAST(2 AS DECIMAL(38,0)) * nn * ng) AS BIGINT)""")
          .as("t_fix"),
        expr("""CAST(5 AS DECIMAL(38,0)) * emd_numw
                <= CAST(2 AS DECIMAL(38,0)) * nn * ng""").as("t02_close"))
      .orderBy("source", "len_bucket")
  }

  /** Per-release privacy cost and the advanced-composition constants
    * (ε = 0.01, δ' = 1e-6). The two transcendentals are MODEL-SIZED
    * literals (ln(1/δ'), e^ε − 1) interpolated into both plans at full
    * shortest-roundtrip precision, so both engines parse the identical
    * IEEE double; everything per-row is +/×/sqrt — all correctly rounded
    * per IEEE-754, hence bit-identical cross-engine — then ONE audited
    * rounding to micro units (family "dp-advanced").
    */
  val DP_EPS = 0.01
  val DP_LN_INV_DELTA: Double = math.log(1e6)
  val DP_EGROW: Double = math.expm1(DP_EPS)

  /** X — differential-privacy budget accounting: per user, treat each
    * active day as one ε = 0.01 release against that user's data and
    * report the cumulative privacy spend under BASIC composition
    * (ε_tot = k·ε, exact integer micro) vs ADVANCED composition
    * (Dwork–Rothblum–Vadhan: √(2k·ln(1/δ'))·ε + k·ε(e^ε − 1)), plus
    * which bound is tighter — the ledger a privacy-aware release
    * pipeline keeps next to k-anonymity/l-diversity. The fixture's
    * active-day counts straddle the crossover (k ≈ 28 at ε = 0.01,
    * δ' = 1e-6), so the `advanced_tighter` flag genuinely varies at
    * oracle scale.
    *
    * Scale posture: one (user, day)-distinct reduction then a per-user
    * count — two map-side-combined hash aggs; the budget arithmetic is a
    * projection. Bounded to user_id < 60 for a stable report size.
    */
  val xDpBudget = Q(
    "x_dp_budget",
    s"""WITH k AS (SELECT user_id,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS k
           FROM events WHERE user_id < 60 GROUP BY 1),
       b AS (SELECT user_id, k,
               10000 * k AS basic_micro,
               CAST(round(1000000 * (sqrt(2.0 * k * $DP_LN_INV_DELTA) * $DP_EPS
                 + k * $DP_EPS * $DP_EGROW)) AS BIGINT) AS advanced_micro
             FROM k)
       SELECT user_id, k, basic_micro, advanced_micro,
              (advanced_micro < basic_micro) AS advanced_tighter
       FROM b ORDER BY user_id""") { (s, dir) =>
    T(s, dir, "events")
      .filter(col("user_id") < 60)
      .groupBy("user_id")
      .agg(countDistinct(col("ts").cast("date")).as("k"))
      .select(col("user_id"), col("k"),
        (lit(10000L) * col("k")).as("basic_micro"),
        expr(s"""CAST(round(1000000 * (sqrt(2.0 * k * $DP_LN_INV_DELTA) * $DP_EPS
                 + k * $DP_EPS * $DP_EGROW)) AS BIGINT)""").as("advanced_micro"))
      .withColumn("advanced_tighter",
        col("advanced_micro") < col("basic_micro"))
      .orderBy("user_id")
  }

  /** X — Gini concentration of the corpus across sources: how unequal
    * is the token distribution over the source dimension — the
    * concentration number a dataset card quotes ("is this corpus 90%
    * one crawl?"). Computed by the sorted-cumulative formula
    *   G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)
    * with xᵢ ascending, i the 1-based rank (ties broken by source name —
    * any tiebreak yields the same G because equal values commute in the
    * weighted sum). Pure integers end to end; ppm by one division.
    *
    * Scale posture: one hash agg to per-source token counts, a rank
    * window over the bounded source dimension, a 1-row re-agg.
    */
  val xGiniConcentration = Q(
    "x_gini_concentration",
    """WITH s AS (SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
         FROM documents GROUP BY 1),
       r AS (SELECT t, CAST(row_number() OVER (ORDER BY t, source) AS BIGINT) AS i
             FROM s),
       g AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS total,
               CAST(sum(i * t) AS BIGINT) AS wsum FROM r)
       SELECT n AS n_sources, total AS total_tokens,
              2 * wsum - (n + 1) * total AS g_num,
              n * total AS g_den,
              (1000000 * (2 * wsum - (n + 1) * total)) // (n * total) AS gini_ppm
       FROM g""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val src = T(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("t"))
    src.withColumn("i",
        row_number().over(Window.orderBy("t", "source")).cast("long"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("total"),
        sum(col("i") * col("t")).as("wsum"))
      .select(col("n").as("n_sources"), col("total").as("total_tokens"),
        (lit(2) * col("wsum") - (col("n") + 1) * col("total")).as("g_num"),
        (col("n") * col("total")).as("g_den"),
        expr("(1000000 * (2 * wsum - (n + 1) * total)) div (n * total)")
          .as("gini_ppm"))
  }

  /** X — corpus coverage curve: sources ranked by token volume with the
    * cumulative share at each depth — the "top-3 crawls are 40% of the
    * corpus" line on a dataset card, the rank-resolved companion to
    * [[xGiniConcentration]]'s single number. Pure integers: cumulative
    * sums over the bounded source dimension, shares as ppm by one
    * division per row.
    */
  val xCoverageCurve = Q(
    "x_coverage_curve",
    """WITH s AS (SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
         FROM documents GROUP BY 1),
       tot AS (SELECT CAST(sum(t) AS BIGINT) AS total FROM s),
       r AS (SELECT source, t,
               CAST(row_number() OVER (ORDER BY t DESC, source) AS BIGINT) AS k,
               CAST(sum(t) OVER (ORDER BY t DESC, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM s)
       SELECT k, source, t AS tokens, cum AS cum_tokens,
              (1000000 * cum) // total AS cum_share_ppm
       FROM r, tot ORDER BY k""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val src = T(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("t"))
    val tot = src.agg(sum(col("t")).as("total"))
    val w = Window.orderBy(col("t").desc, col("source"))
    src
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("t")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("source"), col("t").as("tokens"),
        col("cum").as("cum_tokens"),
        expr("(1000000 * cum) div total").as("cum_share_ppm"))
      .orderBy("k")
  }

  /** X — Brier score of the same confidence/outcome stream the ECE
    * audit bins ([[xEceCalibration]]): the proper scoring rule
    * companion — ECE measures bin-wise calibration, Brier the overall
    * squared-error quality of the probabilities, with the climatology
    * reference BS_ref = p̄(1−p̄) and a skill verdict (a forecaster must
    * beat always-predict-the-base-rate).
    *
    * Exact integers: conf is the ECE chain's milli-probability, so
    * Brier·10⁶ = Σ(conf − 1000y)² div n and
    * ref·10⁶ = 10⁶·pos·(n−pos) div n² — no rounding, no doubles.
    *
    * Scale posture: one map-side-combined corpus agg; the score is a
    * 1-row projection.
    */
  val xBrierScore = Q(
    "x_brier_score",
    """WITH t AS (SELECT (1000 * n_chars) // (n_chars + 300) AS conf,
             CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS y
           FROM documents),
       a AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos,
               CAST(sum((conf - 1000 * y) * (conf - 1000 * y)) AS BIGINT) AS sq
             FROM t)
       SELECT n, pos, sq,
              sq // n AS brier_micro,
              (1000000 * pos * (n - pos)) // (n * n) AS ref_micro,
              (sq // n < (1000000 * pos * (n - pos)) // (n * n)) AS skillful
       FROM a""") { (s, dir) =>
    T(s, dir, "documents")
      .select(expr("(1000 * n_chars) div (n_chars + 300)").as("conf"),
        when(size(split(col("text"), " ")) >= 50, 1L).otherwise(0L).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum((col("conf") - lit(1000) * col("y")) *
          (col("conf") - lit(1000) * col("y"))).as("sq"))
      .select(col("n"), col("pos"), col("sq"),
        expr("sq div n").as("brier_micro"),
        expr("(1000000 * pos * (n - pos)) div (n * n)").as("ref_micro"))
      .withColumn("skillful", col("brier_micro") < col("ref_micro"))
  }

  /** Erasure slice cap (the x_compaction_plan discipline: the op grades
    * rewrite mechanics, which are SF-invariant).
    */
  val FORGET_SLICE = 10000L

  /** X — right-to-be-forgotten erasure audit (the GDPR/CCPA deletion a
    * lake must prove, not just perform): users on the tombstone list
    * (user_id % 37 = 0 — the deterministic stand-in for a deletion
    * queue) are erased from a REAL store by an anti-join rewrite, and
    * the graded audit re-reads the rewritten store to report, per event
    * type: rows before, rows after, rows erased, and — the compliance
    * fact — the MEASURED count of tombstoned rows still present
    * (`leftover`, must be 0). The oracle derives every number
    * arithmetically from the raw slice, so an incomplete erasure, an
    * over-delete, or a count drift all land in the hash.
    *
    * Scale posture: erasure is one anti-join rewrite (broadcast the
    * tombstone list; at billions of tombstones, a bloom-filter
    * pre-pass — x_bloom_join's shape — then the exact anti-join);
    * the audit is two scans of the store.
    */
  val xForgetUser = Q(
    "x_forget_user",
    s"""WITH t AS (SELECT event_type, user_id FROM events
              WHERE event_id < $FORGET_SLICE),
       a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS rows_before,
               CAST(sum(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS rows_erased
             FROM t GROUP BY 1)
       SELECT event_type, rows_before,
              rows_before - rows_erased AS rows_after, rows_erased,
              CAST(0 AS BIGINT) AS leftover
       FROM a ORDER BY event_type""") { (s, dir) =>
    val store = s"${Scratch.fresh("graft_forget")}/events"
    T(s, dir, "events")
      .filter(col("event_id") < FORGET_SLICE)
      .select(col("event_type"), col("user_id"), col("event_id"))
      .write.mode("overwrite").parquet(store)
    val before = s.read.parquet(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("rows_before"),
        sum(when(col("user_id") % 37 === 0, 1L).otherwise(0L))
          .as("rows_erased"))
    // the erasure rewrite: anti-filter into a new generation
    s.read.parquet(store).filter(col("user_id") % 37 =!= 0)
      .write.mode("overwrite").parquet(s"$store.v2")
    val after = s.read.parquet(s"$store.v2")
      .groupBy("event_type")
      .agg(count(lit(1)).as("rows_after"),
        sum(when(col("user_id") % 37 === 0, 1L).otherwise(0L))
          .as("leftover"))
    // LEFT join from `before`: an event_type whose rows were ALL
    // tombstoned has no v2 group at all — it must still report
    // rows_after = 0 (the compliance fact), not vanish from the audit.
    before.join(after, Seq("event_type"), "left")
      .select(col("event_type"), col("rows_before"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        col("rows_erased"),
        coalesce(col("leftover"), lit(0L)).as("leftover"))
      .orderBy("event_type")
  }

  /** Benford first-digit expectations, ppm (margin family "benford-log"). */
  val BENFORD_PPM: IndexedSeq[Long] =
    (1 to 9).map(d => math.round(1e6 * math.log10(1.0 + 1.0 / d)))
  /** χ²₈ critical value at 0.05, micro units (declared constant). */
  val BENFORD_CRIT_MICRO = 15507000L

  /** X — Benford's-law first-digit audit over order totals: the
    * fraud/synthetic-data screen (naturally occurring multiplicative
    * amounts follow P(d) = log10(1+1/d); uniform or fabricated amounts
    * don't). Per digit: observed count, expected ppm, and the exact
    * χ² contribution; the verdict compares the χ² statistic to the
    * 15.507 critical value — on THIS lake's uniform synthetic prices
    * the audit correctly screams (the spec asserts the flag and that
    * digits 5–9 are genuinely depressed).
    *
    * Exactness: the nine log10 expectations are 1e6 fixed points
    * (model-sized); each χ² term is the pure-integer
    * (1e6·obs − N·p_fix)² // (N·p_fix) with the square carried in
    * DECIMAL(38,0)/HUGEINT (the x_ab_chisq discipline — the square
    * passes int64 at sf0.1). One hash agg to the 9-digit domain.
    */
  val xBenford = Q(
    "x_benford", {
      val expCase = BENFORD_PPM.zipWithIndex
        .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
      s"""WITH v AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS BIGINT) AS d
           FROM orders WHERE o_totalprice >= 1),
       o AS (SELECT d, CAST(count(*) AS BIGINT) AS obs FROM v GROUP BY 1),
       g AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS d),
       t AS (SELECT g.d, coalesce(o.obs, 0) AS obs,
               CAST(CASE g.d $expCase END AS BIGINT) AS exp_ppm
             FROM g LEFT JOIN o ON g.d = o.d),
       n AS (SELECT CAST(sum(obs) AS BIGINT) AS nn FROM t),
       c AS (SELECT t.d, t.obs, t.exp_ppm,
               CAST((CAST(1000000 * t.obs - n.nn * t.exp_ppm AS HUGEINT)
                     * CAST(1000000 * t.obs - n.nn * t.exp_ppm AS HUGEINT))
                 // (n.nn * t.exp_ppm) AS BIGINT) AS chi2_term_micro
             FROM t, n),
       s AS (SELECT CAST(sum(chi2_term_micro) AS BIGINT) AS chi2_micro FROM c)
       SELECT c.d, c.obs, c.exp_ppm, c.chi2_term_micro,
              s.chi2_micro, (s.chi2_micro > $BENFORD_CRIT_MICRO) AS deviates
       FROM c, s ORDER BY c.d"""
    }) { (s, dir) =>
    val expCase = BENFORD_PPM.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN ${p}L" }.mkString(" ")
    val o = T(s, dir, "orders")
      .filter(col("o_totalprice") >= 1)
      .select(expr("""CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        AS STRING), 1, 1) AS BIGINT)""").as("d"))
      .groupBy("d").agg(count(lit(1)).as("obs"))
    val t = s.range(1, 10).select(col("id").as("d"))
      .join(o, Seq("d"), "left")
      .select(col("d"), coalesce(col("obs"), lit(0L)).as("obs"),
        expr(s"CAST(CASE d $expCase END AS BIGINT)").as("exp_ppm"))
    val n = t.agg(sum(col("obs")).as("nn"))
    val c = t.crossJoin(broadcast(n))
      .select(col("d"), col("obs"), col("exp_ppm"),
        expr("""CAST((CAST(1000000 * obs - nn * exp_ppm AS DECIMAL(38,0))
                * CAST(1000000 * obs - nn * exp_ppm AS DECIMAL(38,0)))
                DIV (nn * exp_ppm) AS BIGINT)""").as("chi2_term_micro"))
    val tot = c.agg(sum(col("chi2_term_micro")).as("chi2_micro"))
    c.crossJoin(broadcast(tot))
      .select(col("d"), col("obs"), col("exp_ppm"), col("chi2_term_micro"),
        col("chi2_micro"),
        (col("chi2_micro") > BENFORD_CRIT_MICRO).as("deviates"))
      .orderBy("d")
  }

  /** PII pattern classes (backslash-free regex: identical parse in Java
    * regex and RE2, so no cross-engine escaping hazard).
    */
  val PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PII_PHONE = "555-[0-9]{4}"
  val PII_IP = "10[.]0[.][0-9]{1,3}[.][0-9]{1,3}"

  /** X — PII scan + scrub audit: the detect/count/redact/verify pass
    * every corpus pipeline runs before release (the multi-class
    * generalization of x_redact's single regexp). The fixture corpus is
    * synthetic and PII-free, so PII is PLANTED deterministically from
    * doc_id (the dirtyVocab discipline): every document gets an email,
    * every third a phone, every 3k+1st an IPv4 — both engines construct
    * the identical dirty text, so the hash grades detection and
    * scrubbing, not the plant. Per source: docs, per-class match counts,
    * and the compliance fact — class-wise re-scan of the SCRUBBED text
    * finds ZERO leftovers (the x_forget_user zero-leftover shape, at
    * pattern rather than row granularity).
    *
    * Scale posture: pure codegen'd map work (concat, three
    * regexp_count, three regexp_replace, three re-counts) + one hash agg
    * to the |source| domain — a free rider on any corpus scan, no
    * shuffle beyond the card.
    */
  val xPiiScan = Q(
    "x_pii_scan",
    s"""WITH dirty AS (SELECT doc_id, source,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 3 = 1
                      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                           || '.' || CAST((doc_id // 256) % 256 AS VARCHAR)
                      ELSE '' END AS t
       FROM documents),
       hits AS (SELECT source,
         CAST(len(regexp_extract_all(t, '$PII_EMAIL')) AS BIGINT) AS emails,
         CAST(len(regexp_extract_all(t, '$PII_PHONE')) AS BIGINT) AS phones,
         CAST(len(regexp_extract_all(t, '$PII_IP')) AS BIGINT) AS ips,
         regexp_replace(regexp_replace(regexp_replace(t,
           '$PII_EMAIL', '[EMAIL]', 'g'),
           '$PII_PHONE', '[PHONE]', 'g'),
           '$PII_IP', '[IP]', 'g') AS scrubbed
       FROM dirty)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(emails) AS BIGINT) AS emails,
              CAST(sum(phones) AS BIGINT) AS phones,
              CAST(sum(ips) AS BIGINT) AS ips,
              CAST(sum(len(regexp_extract_all(scrubbed, '$PII_EMAIL'))
                     + len(regexp_extract_all(scrubbed, '$PII_PHONE'))
                     + len(regexp_extract_all(scrubbed, '$PII_IP')))
                AS BIGINT) AS leftover
       FROM hits GROUP BY source ORDER BY source""") { (s, dir) =>
    val dirty = T(s, dir, "documents").select(col("doc_id"), col("source"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 1,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (expr("doc_id div 256") % 256).cast("string")))
          .otherwise(lit(""))).as("t"))
    val hits = dirty.select(col("source"),
      expr(s"regexp_count(t, '$PII_EMAIL')").cast("long").as("emails"),
      expr(s"regexp_count(t, '$PII_PHONE')").cast("long").as("phones"),
      expr(s"regexp_count(t, '$PII_IP')").cast("long").as("ips"),
      regexp_replace(regexp_replace(regexp_replace(col("t"),
        PII_EMAIL, "[EMAIL]"),
        PII_PHONE, "[PHONE]"),
        PII_IP, "[IP]").as("scrubbed"))
    hits.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("emails")).as("emails"),
        sum(col("phones")).as("phones"),
        sum(col("ips")).as("ips"),
        sum(expr(s"regexp_count(scrubbed, '$PII_EMAIL')").cast("long") +
          expr(s"regexp_count(scrubbed, '$PII_PHONE')").cast("long") +
          expr(s"regexp_count(scrubbed, '$PII_IP')").cast("long"))
          .as("leftover"))
      .orderBy("source")
  }

  /** Trailing-ones count of the low 8 bits of `x` — Geom(1/2) truncated
    * at 8, from pure integer bit tests. ONE expression string both
    * engines evaluate verbatim (the corrSql discipline): no ln, no
    * float, no RNG.
    */
  private[graft] def trailingOnes(x: String): String =
    s"""CASE WHEN ($x & 1) = 0 THEN 0
        WHEN ($x & 3) = 1 THEN 1
        WHEN ($x & 7) = 3 THEN 2
        WHEN ($x & 15) = 7 THEN 3
        WHEN ($x & 31) = 15 THEN 4
        WHEN ($x & 63) = 31 THEN 5
        WHEN ($x & 127) = 63 THEN 6
        WHEN ($x & 255) = 127 THEN 7
        ELSE 8 END"""

  /** X — differentially-private count release via the (truncated)
    * geometric mechanism (Ghosh–Roughgarden–Sundararajan: the discrete
    * analogue of Laplace, and THE mechanism for integer counts): each
    * per-group count is released as true_n + (G₁ − G₂) with G₁, G₂ iid
    * Geom(1/2), giving ε = ln 2 ≈ 0.693 at sensitivity 1 (one event
    * moves one group count by one). x_dp_budget does the ACCOUNTING
    * (how much ε a workload spends); this is the mechanism that spends
    * it — together they are the governance pair a data-release pipeline
    * actually runs.
    *
    * Determinism without losing the mechanism's meaning: the noise
    * draws are md5-derived bits of (salt ‖ group key) — a keyed PRF, so
    * the noise is cryptographically pseudorandom across groups yet
    * bit-reproducible by both engines (and by an auditor re-running the
    * release: reproducible DP noise from a secret-keyed PRF is standard
    * practice precisely for this audit reason). The two geometrics use
    * disjoint bit ranges of the same hash. Truncation at 8 (tail mass
    * 2⁻⁸ per side) is the documented truncated-geometric variant; the
    * released columns expose both draws so the oracle recomputes the
    * mechanism, not just the sum.
    *
    * Scale posture: one map-side-combined count per group + a
    * group-domain-sized projection for the noise — the release costs
    * what the non-private count costs.
    */
  val xDpRelease = Q(
    "x_dp_release", {
      val h = "('0x' || substr(md5('dp-release-v1:' || event_type), 1, 10))::BIGINT"
      s"""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
             FROM events GROUP BY 1),
         n AS (SELECT event_type, true_n,
                 CAST(${trailingOnes(h)} AS BIGINT) AS g1,
                 CAST(${trailingOnes(s"($h >> 8)")} AS BIGINT) AS g2
               FROM g)
         SELECT event_type, true_n, g1, g2, g1 - g2 AS noise,
                true_n + g1 - g2 AS noisy_n,
                CAST(693 AS BIGINT) AS eps_milli
         FROM n ORDER BY event_type"""
    }) { (s, dir) =>
    val h = "cast(conv(substring(md5(concat('dp-release-v1:', event_type)), 1, 10), 16, 10) as bigint)"
    T(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("true_n"))
      .withColumn("g1", expr(s"CAST(${trailingOnes(h)} AS BIGINT)"))
      .withColumn("g2", expr(s"CAST(${trailingOnes(s"($h >> 8)")} AS BIGINT)"))
      .select(col("event_type"), col("true_n"), col("g1"), col("g2"),
        (col("g1") - col("g2")).as("noise"),
        (col("true_n") + col("g1") - col("g2")).as("noisy_n"),
        lit(693L).as("eps_milli"))
      .orderBy("event_type")
  }

  val all: Seq[Q] =
    Seq(xKAnonymity, xKappaAgreement, xEceCalibration, xLDiversity,
      xTCloseness, xDpBudget, xGiniConcentration, xCoverageCurve, xBrierScore,
      xForgetUser, xBenford, xPiiScan, xDpRelease)
}
