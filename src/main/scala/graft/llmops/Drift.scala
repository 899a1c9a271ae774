package graft.llmops

import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}

/** Dataset drift monitoring — the QA gate a production corpus pipeline
  * runs on every ingest batch: has the incoming data's distribution
  * moved against the standing reference?
  *
  * x_psi_drift computes the Population Stability Index over the
  * document token-length distribution between the standing corpus
  * (below the 80% id watermark — the reference slice every incremental
  * operator in this suite uses) and the new batch (above it):
  *
  *   PSI = Σ_bins (p_b − q_b) · ln(p_b / q_b)
  *
  * with add-one smoothing over the occupied bins (a bin empty on one
  * side must not produce ±∞). PSI < 0.1 is the usual "no action"
  * threshold, 0.1–0.25 "investigate", > 0.25 "shift".
  *
  * Cross-engine float discipline (the x_dsir_weights pattern): ln runs
  * once per OCCUPIED BIN (≤ ~40 values), immediately rounded to a 1e6
  * fixed-point integer w_b; the graded per-bin contribution is then the
  * exact integer ((a_b+1)·(B+K) − (b_b+1)·(A+K)) · w_b — the (p − q)
  * factor multiplied through by the positive denominators, which
  * preserves sign and order-independence without ever comparing floats.
  * (A, B = slice totals; K = occupied-bin count; the true PSI is the
  * contribution sum divided by (A+K)(B+K)·1e6 — monotone rescaling, so
  * thresholding works on the integer directly.)
  *
  * Scale posture: two filtered aggregations on the bin key (≤ dozens of
  * groups) over one narrow projection of the corpus; the bin table is
  * broadcast-sized; zero windows, zero driver state beyond the 1-row
  * totals frame.
  */
object Drift {

  /** Token-count bin width (data-independent fixed grid). */
  val PSI_BIN = 16L
  val PSI_SCALE = 1000000L

  val xPsiDrift = Q(
    "x_psi_drift",
    s"""WITH t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) // $PSI_BIN AS bin,
           doc_id <= (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) FROM documents) AS ref
         FROM documents),
       h AS (SELECT bin,
               CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS b
             FROM t GROUP BY bin),
       tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
                      CAST(count(*) AS BIGINT) AS k FROM h)
       SELECT bin, a AS n_ref, b AS n_new,
              CAST(round($PSI_SCALE * ln((CAST(a + 1 AS DOUBLE) / (ta + k)) /
                                         (CAST(b + 1 AS DOUBLE) / (tb + k)))) AS BIGINT) AS w_fix,
              CAST(((a + 1) * (tb + k) - (b + 1) * (ta + k)) *
                   CAST(round($PSI_SCALE * ln((CAST(a + 1 AS DOUBLE) / (ta + k)) /
                                              (CAST(b + 1 AS DOUBLE) / (tb + k)))) AS BIGINT) AS BIGINT) AS contrib_fix
       FROM h, tot ORDER BY bin""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val cut = Incremental.cutoffValue(docs)
    val t = docs.select(
      TextStats.regexTokenCount.as("n_tok"),
      (col("doc_id") <= cut).as("ref"))
      .select(expr(s"n_tok div $PSI_BIN").as("bin"), col("ref"))
    val h = t.groupBy("bin").agg(
      sum(when(col("ref"), 1L).otherwise(0L)).as("a"),
      sum(when(col("ref"), 0L).otherwise(1L)).as("b"))
    val tot = h.agg(sum("a").as("ta"), sum("b").as("tb"),
      count(lit(1)).as("k"))
    val w = round(lit(PSI_SCALE.toDouble) *
      log(((col("a") + 1).cast("double") / (col("ta") + col("k"))) /
          ((col("b") + 1).cast("double") / (col("tb") + col("k")))))
      .cast("long")
    h.crossJoin(broadcast(tot))
      .select(col("bin"), col("a").as("n_ref"), col("b").as("n_new"),
        w.as("w_fix"),
        (((col("a") + 1) * (col("tb") + col("k")) -
          (col("b") + 1) * (col("ta") + col("k"))) * w).as("contrib_fix"))
      .orderBy("bin")
  }

  /** X — exact two-sample Kolmogorov–Smirnov statistic over the same
    * split and measure as x_psi_drift: the UNBINNED drift test (PSI is
    * a binned score with smoothing; KS is the max CDF gap, sensitive to
    * any distributional shift regardless of binning).
    *
    *   D = max_x |F_ref(x) − F_new(x)|
    *
    * Cross-engine exactness is total, no fixed-point rounding needed:
    * with A = |ref|, B = |new|, the CDF gap at x is the exact integer
    * |ca(x)·B − cb(x)·A| (cross-multiplied through the denominators),
    * so D, its argmax (ties to the smallest x), and the scaled
    * 1e6·D_num // (A·B) are pure integer arithmetic.
    *
    * Scale posture: one narrow aggregation to the VALUE-DOMAIN-sized
    * (v, a, b) histogram, then a window over that domain (dozens of
    * rows — the x_rfm_scaled acceptance class, never a corpus window)
    * and a 1-row TakeOrdered.
    */
  val xKsDrift = Q(
    "x_ks_drift",
    s"""WITH t AS (SELECT
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS v,
           doc_id <= (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) FROM documents) AS ref
         FROM documents),
       h AS (SELECT v,
               CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS b
             FROM t GROUP BY v),
       c AS (SELECT v, CAST(sum(a) OVER (ORDER BY v) AS BIGINT) AS ca,
                     CAST(sum(b) OVER (ORDER BY v) AS BIGINT) AS cb FROM h),
       tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb FROM h)
       SELECT v AS arg_x, abs(ca * tb - cb * ta) AS d_num,
              ta AS n_ref, tb AS n_new,
              (1000000 * abs(ca * tb - cb * ta)) // (ta * tb) AS ks_fix
       FROM c, tot ORDER BY d_num DESC, arg_x LIMIT 1""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents")
    val cut = Incremental.cutoffValue(docs)
    val h = docs.select(
        TextStats.regexTokenCount.as("v"),
        (col("doc_id") <= cut).as("ref"))
      .groupBy("v").agg(
        sum(when(col("ref"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ref"), 0L).otherwise(1L)).as("b"))
    val c = h.select(col("v"),
      sum(col("a")).over(Window.orderBy("v")).as("ca"),
      sum(col("b")).over(Window.orderBy("v")).as("cb"))
    val tot = h.agg(sum("a").as("ta"), sum("b").as("tb"))
    c.crossJoin(broadcast(tot))
      .select(col("v").as("arg_x"),
        abs(col("ca") * col("tb") - col("cb") * col("ta")).as("d_num"),
        col("ta").as("n_ref"), col("tb").as("n_new"),
        expr("(1000000 * abs(ca * tb - cb * ta)) div (ta * tb)").as("ks_fix"))
      .orderBy(col("d_num").desc, col("arg_x"))
      .limit(1)
  }

  /** X — Mann–Whitney U rank-sum test on the same ref/new split as
    * x_ks_drift, over document character lengths: the nonparametric
    * "did the location of the distribution shift" companion to KS's
    * max-gap statistic. Ties use midranks.
    *
    * Exactness — everything rides the DOUBLED rank: for a value v with
    * c occurrences and cum_less smaller rows, 2·midrank = 2·cum_less +
    * c + 1 (always an integer), so 2R_ref and U2 = 2U = 2R_ref −
    * n_ref(n_ref+1) are exact BIGINTs. The normal-approximation verdict
    * |z| > 1.96 is cross-multiplied to integers:
    *   z² > 1.96² ⇔ (2U − n₁n₂)²·3·10⁴ > 38416·n₁n₂·(N+1)
    * (σ² = n₁n₂(N+1)/12 without tie correction — documented choice; the
    * tie-corrected variance is smaller, so TRUE here is conservative in
    * only one direction and the flag is still a pure integer fact).
    * The squared term grows as N⁴, so the whole comparison runs in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the x_ab_chisq
    * discipline — good to |u2 − n₁n₂| ≈ 7·10¹⁶ for the flag (the
    * squared term ×3·10⁴ must fit HUGEINT ≈ 1.7·10³⁸) and ≈ 2·10¹⁶ for
    * z2_ratio_milli (the extra ×1000), i.e. corpora of ~2–3·10⁸ docs.
    * The graded z² readout is the BOUNDED quotient
    * z2_ratio_milli = 1000·z2_num DIV z2_den ≈ 260·z² ≤ O(N) rather
    * than the raw N⁴ products, so the output schema stays BIGINT.
    *
    * Scale posture: one hash agg to the bounded VALUE domain (distinct
    * lengths), a running-sum window over that domain, 1-row broadcasts —
    * the x_ks_drift shape exactly.
    */
  val xMannWhitney = Q(
    "x_mannwhitney",
    """WITH t AS (SELECT n_chars AS v,
           doc_id <= (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) FROM documents) AS ref
         FROM documents),
       h AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cr
             FROM t GROUP BY v),
       w AS (SELECT v, c, cr,
               CAST(coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_less FROM h),
       r AS (SELECT CAST(sum(cr * (2 * cum_less + c + 1)) AS BIGINT) AS r2,
               CAST(sum(cr) AS BIGINT) AS n1,
               CAST(sum(c - cr) AS BIGINT) AS n2 FROM w),
       u AS (SELECT n1, n2, r2 - n1 * (n1 + 1) AS u2 FROM r)
       SELECT n1 AS n_ref, n2 AS n_new, u2,
              CAST((1000 * CAST(u2 - n1 * n2 AS HUGEINT)
                    * CAST(u2 - n1 * n2 AS HUGEINT) * 30000)
                // (38416::HUGEINT * n1 * n2 * (n1 + n2 + 1))
                AS BIGINT) AS z2_ratio_milli,
              (CAST(u2 - n1 * n2 AS HUGEINT)
                 * CAST(u2 - n1 * n2 AS HUGEINT) * 30000
                > 38416::HUGEINT * n1 * n2 * (n1 + n2 + 1)) AS significant
       FROM u""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents")
    val cut = Incremental.cutoffValue(docs)
    val h = docs.select(col("n_chars").as("v"),
        (col("doc_id") <= cut).as("ref"))
      .groupBy("v").agg(count(lit(1)).as("c"),
        sum(when(col("ref"), 1L).otherwise(0L)).as("cr"))
    val w = h.withColumn("cum_less",
      coalesce(sum(col("c")).over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    w.agg(
        sum(col("cr") * (lit(2) * col("cum_less") + col("c") + 1)).as("r2"),
        sum(col("cr")).as("n1"),
        sum(col("c") - col("cr")).as("n2"))
      .select(col("n1").as("n_ref"), col("n2").as("n_new"),
        (col("r2") - col("n1") * (col("n1") + 1)).as("u2"),
        col("n1"), col("n2"))
      .select(col("n_ref"), col("n_new"), col("u2"),
        expr("""CAST((1000 * CAST(u2 - n1 * n2 AS DECIMAL(38,0))
                      * CAST(u2 - n1 * n2 AS DECIMAL(38,0)) * 30000)
                  DIV (CAST(38416 AS DECIMAL(38,0)) * n1 * n2 * (n1 + n2 + 1))
                  AS BIGINT)""").as("z2_ratio_milli"),
        expr("""CAST(u2 - n1 * n2 AS DECIMAL(38,0))
                  * CAST(u2 - n1 * n2 AS DECIMAL(38,0)) * 30000
                > CAST(38416 AS DECIMAL(38,0)) * n1 * n2 * (n1 + n2 + 1)""")
          .as("significant"))
  }

  val all: Seq[Q] = Seq(xPsiDrift, xKsDrift, xMannWhitney)
}
