package graft.llmops

import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}

/** Model-evaluation estimators a training pipeline runs over generated
  * samples — combinatorial and order-statistic, so both are EXACT
  * integer arithmetic end to end (no Monte Carlo, no floats):
  *
  *  - x_pass_at_k: the unbiased pass@k estimator (Chen et al., the
  *    Codex paper): with n samples per problem and c correct,
  *    pass@k = 1 − C(n−c,k)/C(n,k). The binomial ratio telescopes to
  *    Π_{i=0}^{k−1}(n−c−i)/(n−i), so the ppm readout is one exact
  *    integer product ratio — carried in DECIMAL(38,0)/HUGEINT
  *    (n=100, k=10 → products ≈ 10²⁶, past int64).
  *  - x_conformal_interval: split-conformal calibration (Vovk; the
  *    distribution-free coverage recipe): the q̂ = ⌈(1−α)(n+1)⌉-th
  *    smallest calibration residual is an exact integer ORDER
  *    STATISTIC, and test-set coverage is a count — both engines agree
  *    bit-for-bit with zero rounding contract.
  *
  * Scale posture:
  *  - pass@k caps samples at SAMPLE_CAP per problem via a per-problem
  *    rank (partitioned window, bounded frames) — the real-world shape:
  *    eval harnesses draw a fixed sample budget per problem, so the
  *    combinatorics stay bounded no matter the event volume behind
  *    them.
  *  - conformal selects the order statistic from a VALUE-DOMAIN
  *    histogram (hash agg to distinct residuals + a running-sum window
  *    over that bounded domain), never a corpus-wide sort — the
  *    x_mannwhitney / x_ks_drift discipline.
  */
object Evals {

  /** Samples per problem (the eval harness's fixed draw budget). */
  val SAMPLE_CAP = 100
  /** "Correct" threshold on the sample's score. */
  val PASS_VALUE = 90.0

  /** Π_{i=0}^{k-1} (base − i), first factor cast so the whole product
    * accumulates in the wide type (DECIMAL(38,0) on Spark, HUGEINT on
    * DuckDB).
    */
  private def fallingProd(base: String, k: Int, wide: String): String =
    (0 until k).map {
      case 0 => s"CAST($base AS $wide)"
      case i => s"($base - $i)"
    }.mkString(" * ")

  private def passSql(k: Int, wide: String): String =
    s"""CASE WHEN n < $k THEN CAST(NULL AS BIGINT)
        WHEN n - c < $k THEN 1000000
        ELSE 1000000 - CAST((1000000 * ${fallingProd("n - c", k, wide)})
          // (${fallingProd("n", k, wide)}) AS BIGINT) END"""

  private[graft] def passSpark(k: Int): String =
    s"""CASE WHEN n < $k THEN CAST(NULL AS BIGINT)
        WHEN n - c < $k THEN 1000000L
        ELSE 1000000L - CAST((1000000 * ${fallingProd("n - c", k, "DECIMAL(38,0)")})
          DIV (${fallingProd("n", k, "DECIMAL(38,0)")}) AS BIGINT) END"""

  /** X — unbiased pass@k per problem (problem = event_type, sample =
    * event, correct = value > PASS_VALUE), over the first SAMPLE_CAP
    * samples per problem in event_id order. pass@1 = c/n directly;
    * pass@5 / pass@10 via the telescoped product ratio. If fewer than k
    * incorrect samples exist (but n ≥ k) the estimator is exactly 1
    * (C(n−c,k) = 0). Under-sampled problems (n < k) report NULL — the
    * estimator is undefined there (C(n,k) = 0 makes it 0/0), and
    * reporting 1.0 would score a problem with zero passing samples as
    * perfectly solved.
    */
  val xPassAtK = Q(
    "x_pass_at_k",
    s"""WITH e AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY event_id) AS rn
           FROM events),
       s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value > $PASS_VALUE THEN 1 ELSE 0 END)
                 AS BIGINT) AS c
             FROM e WHERE rn <= $SAMPLE_CAP GROUP BY 1)
       SELECT event_type, n, c,
              (1000000 * c) // n AS pass1_ppm,
              ${passSql(5, "HUGEINT")} AS pass5_ppm,
              ${passSql(10, "HUGEINT")} AS pass10_ppm
       FROM s ORDER BY event_type""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    T(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("event_id")))
      .filter(col("rn") <= SAMPLE_CAP)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > PASS_VALUE, 1L).otherwise(0L)).as("c"))
      .select(col("event_type"), col("n"), col("c"),
        expr("(1000000 * c) div n").as("pass1_ppm"),
        expr(passSpark(5)).as("pass5_ppm"),
        expr(passSpark(10)).as("pass10_ppm"))
      .orderBy("event_type")
  }

  /** Conformal miscoverage α = 0.1 (the 90% interval). */
  val CONF_ALPHA_NUM = 9L // (1-α) as 9/10

  /** X — split-conformal interval calibration: the predictor
    * n̂_chars = 6·n_tokens is scored on the even-doc_id calibration
    * half; q̂ is the ⌈0.9·(n_cal+1)⌉-th smallest |residual| (exact
    * integer order statistic via the value-domain histogram), and the
    * odd-doc_id test half reports empirical coverage of the interval
    * n̂ ± q̂ — the distribution-free ~90% guarantee, audited exactly.
    */
  val xConformal = Q(
    "x_conformal_interval",
    s"""WITH r AS (SELECT doc_id,
             abs(n_chars - 6 * CAST(len(string_split(text, ' ')) AS BIGINT))
               AS res,
             doc_id % 2 = 0 AS cal FROM documents),
       mm AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
                ((count(*) + 1) * $CONF_ALPHA_NUM + 9) // 10 AS rank_m
              FROM r WHERE cal),
       h AS (SELECT res, CAST(count(*) AS BIGINT) AS c
             FROM r WHERE cal GROUP BY 1),
       w AS (SELECT res, CAST(sum(c) OVER (ORDER BY res) AS BIGINT) AS cum
             FROM h),
       q AS (SELECT min(res) AS q_hat FROM w, mm WHERE cum >= rank_m),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN res <= q_hat THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_cov
             FROM r, q WHERE NOT cal)
       SELECT mm.n_cal, CAST(mm.rank_m AS BIGINT) AS rank_m, q.q_hat,
              t.n_test, t.n_cov,
              (1000000 * t.n_cov) // t.n_test AS coverage_ppm,
              (10 * t.n_cov >= $CONF_ALPHA_NUM * t.n_test) AS covered_90
       FROM mm, q, t""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val r = T(s, dir, "documents").select(col("doc_id"),
      abs(col("n_chars") -
        lit(6L) * size(split(col("text"), " ")).cast("long")).as("res"),
      (col("doc_id") % 2 === 0).as("cal"))
    val mm = r.filter(col("cal"))
      .agg(count(lit(1)).as("n_cal"),
        expr(s"((count(1) + 1) * $CONF_ALPHA_NUM + 9) div 10").as("rank_m"))
    val w = r.filter(col("cal")).groupBy("res").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy("res")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val q = w.crossJoin(broadcast(mm))
      .filter(col("cum") >= col("rank_m"))
      .agg(min(col("res")).as("q_hat"))
    val t = r.filter(!col("cal")).crossJoin(broadcast(q))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("res") <= col("q_hat"), 1L).otherwise(0L)).as("n_cov"))
    mm.crossJoin(broadcast(q)).crossJoin(broadcast(t))
      .select(col("n_cal"), col("rank_m"), col("q_hat"),
        col("n_test"), col("n_cov"),
        expr("(1000000 * n_cov) div n_test").as("coverage_ppm"),
        (lit(10L) * col("n_cov") >= lit(CONF_ALPHA_NUM) * col("n_test"))
          .as("covered_90"))
  }

  /** Hex-prefix boundaries splitting md5 space into 5 ~even folds. */
  private val FOLD_CUTS = Seq("33", "66", "99", "cc")

  /** X — deterministic k-fold cross-validation report: every document
    * is assigned one of 5 folds by its md5 prefix (the hash-split
    * discipline — stable under corpus growth and reshuffling, unlike
    * row-number folds), and the length-rule classifier (n_chars ≥ 300
    * predicting token count ≥ 50 — x_kappa_agreement's annotator pair)
    * is scored per fold: confusion cells and exact-integer accuracy.
    * The per-fold spread IS the report — a rule whose accuracy swings
    * across folds is overfit to corpus structure.
    *
    * Pure integer end to end. Scale: one projection into a 5-group
    * hash agg; fold assignment is a string compare on an md5 prefix.
    */
  val xCrossvalFolds = Q(
    "x_crossval_folds",
    s"""WITH t AS (SELECT
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '${FOLD_CUTS(0)}' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '${FOLD_CUTS(1)}' THEN 1
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '${FOLD_CUTS(2)}' THEN 2
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '${FOLD_CUTS(3)}' THEN 3
                  ELSE 4 END AS fold,
             (n_chars >= 300) AS pred,
             (len(string_split(text, ' ')) >= 50) AS y
           FROM documents)
       SELECT CAST(fold AS BIGINT) AS fold, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(sum(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn,
              (1000000 * CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END)
                 AS BIGINT)) // count(*) AS acc_ppm
       FROM t GROUP BY fold ORDER BY fold""") { (s, dir) =>
    val pfx = substring(md5(col("doc_id").cast("string")), 1, 2)
    T(s, dir, "documents")
      .select(
        when(pfx < FOLD_CUTS(0), 0L).when(pfx < FOLD_CUTS(1), 1L)
          .when(pfx < FOLD_CUTS(2), 2L).when(pfx < FOLD_CUTS(3), 3L)
          .otherwise(4L).as("fold"),
        (col("n_chars") >= 300).as("pred"),
        (size(split(col("text"), " ")) >= 50).as("y"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("y"), 1L).otherwise(0L)).as("tn"))
      .select(col("fold"), col("n"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        expr("(1000000 * (tp + tn)) div n").as("acc_ppm"))
      .orderBy("fold")
  }

  /** Bootstrap replicates. */
  val BOOT_B = 20

  /** X — deterministic multiplicity bootstrap of the mean document
    * length: the SCALE-CORRECT bootstrap (Poisson/multinomial
    * bootstrap family — Kleiner et al.'s observation that resampling
    * indices can't exist at 100 TB, but per-row multiplicities can):
    * each (doc, replicate) draws a multiplicity m ∈ {0, 1, 2} with
    * DYADIC probabilities ¼/½/¼ (mean 1, variance ½ ≈ Poisson(1)'s
    * resampling noise) from one md5 hex digit, so the whole bootstrap
    * is ONE corpus pass with B conditional aggregates — no explode, no
    * RNG state, exactly replayable on both engines.
    *
    * Output: per replicate the effective count and the exact
    * fixed-point mean, plus the 80% percentile interval (order
    * statistics 2 and 19 of the 20 replicate means — B-bounded
    * arithmetic). Pure integers end to end.
    */
  val xDyadicBootstrap = Q(
    "x_dyadic_bootstrap", {
      val reps = (0 until BOOT_B).map { b =>
        s"""SELECT CAST($b AS BIGINT) AS rep,
            CAST(sum(m_$b) AS BIGINT) AS n_eff,
            (1000 * CAST(sum(m_$b * n_chars) AS BIGINT))
              // CAST(sum(m_$b) AS BIGINT) AS mean_milli
            FROM t"""
      }.mkString("\n         UNION ALL ")
      val ms = (0 until BOOT_B).map { b =>
        s"""CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':$b'), 1, 1) < '4'
                 THEN 0
                 WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':$b'), 1, 1) < 'c'
                 THEN 1 ELSE 2 END AS m_$b"""
      }.mkString(",\n             ")
      s"""WITH t AS (SELECT n_chars,
             $ms
           FROM documents),
       r AS ($reps),
       ci AS (SELECT
                (SELECT mean_milli FROM
                  (SELECT mean_milli, row_number() OVER (ORDER BY mean_milli)
                     AS rk FROM r) WHERE rk = 2) AS ci_lo_milli,
                (SELECT mean_milli FROM
                  (SELECT mean_milli, row_number() OVER (ORDER BY mean_milli)
                     AS rk FROM r) WHERE rk = ${BOOT_B - 1}) AS ci_hi_milli)
       SELECT rep, n_eff, mean_milli, ci_lo_milli, ci_hi_milli
       FROM r, ci ORDER BY rep"""
    }) { (s, dir) =>
    val docs = T(s, dir, "documents")
    val pfx = (b: Int) =>
      substring(md5(concat(col("doc_id").cast("string"), lit(s":$b"))), 1, 1)
    val withM = docs.select(col("n_chars") +:
      (0 until BOOT_B).map(b =>
        when(pfx(b) < "4", 0L).when(pfx(b) < "c", 1L).otherwise(2L)
          .as(s"m_$b")): _*)
    // ONE pass: B (n_eff, weighted-sum) aggregate pairs
    val aggs = (0 until BOOT_B).flatMap(b => Seq(
      sum(col(s"m_$b")).as(s"ne_$b"),
      sum(col(s"m_$b") * col("n_chars")).as(s"ws_$b")))
    val one = withM.agg(aggs.head, aggs.tail: _*)
    // reshape the 1×2B row into B rows (driver-free, the x_profile shape)
    val reps = (0 until BOOT_B).map(b => struct(
      lit(b.toLong).as("rep"), col(s"ne_$b").as("n_eff"),
      expr(s"(1000 * ws_$b) div ne_$b").as("mean_milli")))
    val r = one.select(explode(array(reps: _*)).as("e"))
      .select(col("e.rep").as("rep"), col("e.n_eff").as("n_eff"),
        col("e.mean_milli").as("mean_milli"))
    val ci = r.agg(sort_array(collect_list(col("mean_milli"))).as("ms"))
      .select(element_at(col("ms"), 2).as("ci_lo_milli"),
        element_at(col("ms"), BOOT_B - 1).as("ci_hi_milli"))
    r.crossJoin(broadcast(ci)).orderBy("rep")
  }

  /** Sign-flip vectors for the paired permutation test. */
  val PERM_K = 512

  /** X — the paired sign-flip permutation test (Fisher's randomization
    * test on paired differences): the standard significance check for
    * "model A beats model B on the SAME eval items", stronger than the
    * unpaired Mann-Whitney (x_mannwhitney) because pairing removes
    * item difficulty as a variance source — the test every eval harness
    * should run before a leaderboard claim. Under H₀ (no difference)
    * each item's difference d_i is symmetric around 0, so every sign
    * assignment is equally likely; the p-value is the fraction of sign
    * vectors whose |Σ sᵢdᵢ| reaches the observed |Σ dᵢ|.
    *
    * Determinism: the PERM_K sign vectors come from md5 bits of
    * (item ‖ vector-index) — a fixed, auditable Monte-Carlo subset of
    * the 2ⁿ sign space (the standard practice; exhaustive enumeration
    * is infeasible past n≈30), identical in both engines; all sums are
    * exact BIGINTs and the p-value is an integer ppm floor-div. The
    * paired scores are two cheap text metrics of the same document
    * (word count vs n_chars/6 — a calibrated words-per-char yardstick),
    * so d_i is genuinely signed and item-paired.
    *
    * Scale posture: one narrow pass computes d_i; the permutation sweep
    * is a flat items × PERM_K expansion feeding ONE hash agg keyed by
    * the vector index (map-side combined; PERM_K groups of state).
    * Nothing quadratic, no driver loops — at 10⁹ items you shrink
    * PERM_K or pre-aggregate d by stratum, both plan-shape-preserving.
    */
  val xPairedPermutation = Q(
    "x_paired_permutation",
    s"""WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) - n_chars // 6 AS d
           FROM documents),
       t AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
               CAST(count(*) AS BIGINT) AS n_items FROM d),
       ks AS (SELECT CAST(unnest(generate_series(0, ${PERM_K - 1})) AS BIGINT)
                AS k),
       s AS (SELECT k, CAST(sum(CASE WHEN (('0x' ||
                substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                  CAST(k AS VARCHAR)), 1, 1))::BIGINT & 1) = 1
                THEN d ELSE -d END) AS BIGINT) AS stat
             FROM d CROSS JOIN ks GROUP BY k),
       e AS (SELECT CAST(sum(CASE WHEN abs(stat) >= abs(t.t_obs)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
             FROM s, t)
       SELECT t.n_items, t.t_obs, CAST($PERM_K AS BIGINT) AS n_perms,
              e.n_extreme, (1000000 * e.n_extreme) // $PERM_K AS p_ppm
       FROM t, e""") { (s, dir) =>
    val d = T(s, dir, "documents").select(col("doc_id"),
      (size(split(col("text"), " ")).cast("long") -
        expr("n_chars div 6")).as("d"))
    val t = d.agg(sum(col("d")).as("t_obs"), count(lit(1)).as("n_items"))
    val ks = s.range(PERM_K).select(col("id").as("k"))
    val stats = d.crossJoin(ks)
      .select(col("k"), when(expr(
          """(cast(conv(substring(md5(concat(cast(doc_id as string), ':',
             cast(k as string))), 1, 1), 16, 10) as bigint) & 1) = 1"""),
        col("d")).otherwise(-col("d")).as("sd"))
      .groupBy("k").agg(sum(col("sd")).as("stat"))
    val e = stats.crossJoin(broadcast(t.select(col("t_obs").as("t0"))))
      .agg(sum(when(abs(col("stat")) >= abs(col("t0")), 1L).otherwise(0L))
        .as("n_extreme"))
    t.crossJoin(e)
      .select(col("n_items"), col("t_obs"),
        lit(PERM_K.toLong).as("n_perms"), col("n_extreme"),
        expr(s"(1000000 * n_extreme) div $PERM_K").as("p_ppm"))
  }

  val all: Seq[Q] = Seq(xPassAtK, xConformal, xCrossvalFolds,
    xDyadicBootstrap, xPairedPermutation)
}
