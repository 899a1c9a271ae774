package graft.llmops

import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}

/** KMV (k-minimum-values) distinct sketch with set-operation estimates —
  * the mergeable cardinality sketch a 100 TB pipeline keeps per shard to
  * answer "how many distinct shingles, and how much do two slices
  * overlap?" without a global distinct. The sketch of a union is the
  * k smallest of the merged sketches; intersection cardinality comes
  * from the inclusion fraction inside the union sketch (Beyer et al.,
  * "On synopses for distinct-value estimation under multiset
  * operations", SIGMOD'07).
  *
  * Estimator (1-based k, hash domain M = 16^12): if a set has n ≤ k
  * distinct hashes the sketch IS the set (exact); otherwise
  *   est = (k−1)·M / h_k   (h_k = k-th smallest hash)
  * and est_inter = c·est_union / k where c counts union-sketch members
  * present in both sides.
  *
  * Cross-engine exactness is TOTAL, not a bound-flag: the hash is the
  * first 12 hex chars of md5 (portable), all estimator arithmetic is
  * integer division, so DuckDB replicates every output cell — unlike
  * x_count_min's hardcoded within-bound flag, this oracle recomputes
  * the estimates themselves. The spec separately gates estimator error
  * against the exact cardinalities.
  *
  * Scale posture: one shingle explode → hash-distinct aggregation with
  * per-side membership flags (map-side combine on the hash key), then
  * three TakeOrdered(k) heads — bounded k=256 driver state, the same
  * acceptance class as IVF centroids. No corpus window, no full sort.
  */
object Kmv {

  /** Sketch size. */
  val K = 256L

  /** Hash domain: 12 hex chars = 16^12. */
  val M = 281474976710656L

  /** (K−1)·M, the estimator numerator, precomputed so both engines see
    * one BIGINT literal (DuckDB would widen the product to HUGEINT). */
  val EST_NUM: Long = (K - 1) * M

  val xKmvDistinct = Q(
    "x_kmv_distinct",
    s"""WITH w AS (SELECT doc_id % 2 = 0 AS even, string_split(text, ' ') AS t
             FROM documents),
       sh AS (SELECT even, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
              FROM w, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
              WHERE len(t) >= 3),
       hs AS (SELECT ('0x' || substr(md5(g), 1, 12))::BIGINT AS h,
                max(CASE WHEN even THEN 1 ELSE 0 END) AS in_a,
                max(CASE WHEN even THEN 0 ELSE 1 END) AS in_b
              FROM sh GROUP BY 1),
       na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hs WHERE in_a = 1),
       nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hs WHERE in_b = 1),
       nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hs),
       ka AS (SELECT CAST(max(h) AS BIGINT) AS hk FROM
              (SELECT h FROM hs WHERE in_a = 1 ORDER BY h LIMIT $K)),
       kb AS (SELECT CAST(max(h) AS BIGINT) AS hk FROM
              (SELECT h FROM hs WHERE in_b = 1 ORDER BY h LIMIT $K)),
       ku AS (SELECT CAST(max(h) AS BIGINT) AS hk,
                CAST(sum(in_a * in_b) AS BIGINT) AS c FROM
              (SELECT h, in_a, in_b FROM hs ORDER BY h LIMIT $K)),
       ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter
              FROM hs WHERE in_a = 1 AND in_b = 1),
       est AS (SELECT
           CASE WHEN na.n <= $K THEN na.n
                ELSE $EST_NUM // ka.hk END AS est_a,
           CASE WHEN nb.n <= $K THEN nb.n
                ELSE $EST_NUM // kb.hk END AS est_b,
           CASE WHEN nu.n <= $K THEN nu.n
                ELSE $EST_NUM // ku.hk END AS est_union,
           ku.c AS c, nu.n <= $K AS u_exact, ex.exact_inter AS exact_inter
         FROM na, nb, nu, ka, kb, ku, ex)
       SELECT $K AS k, est_a, est_b, est_union,
              CASE WHEN u_exact THEN c
                   ELSE (c * est_union) // $K END AS est_inter,
              exact_inter
       FROM est""") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val sh = docs
      .select((col("doc_id") % 2 === 0).as("even"),
        split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("even"), explode(expr(
        """transform(sequence(1, size(t) - 2),
           i -> concat(element_at(t, i), ' ', element_at(t, i + 1),
                       ' ', element_at(t, i + 2)))""")).as("g"))
    val hs = sh
      .select(col("even"),
        expr("cast(conv(substring(md5(g), 1, 12), 16, 10) as bigint)").as("h"))
      .groupBy("h")
      .agg(max(when(col("even"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("even"), 0L).otherwise(1L)).as("in_b"))
      .cache()
    // CacheBin discipline: consecutive invocations over DIFFERENT
    // corpora (lake dirs) must not stack cache generations;
    // same-plan re-invocations share one entry (bench warm-rep shape)
    graft.core.CacheBin.swap("kmv.hs", hs)
    def kth(df: org.apache.spark.sql.DataFrame, name: String) =
      df.orderBy("h").limit(K.toInt).agg(max("h").as(name))
    val na = hs.filter(col("in_a") === 1)
    val nb = hs.filter(col("in_b") === 1)
    val counts = hs.agg(
      sum(col("in_a")).as("na"), sum(col("in_b")).as("nb"),
      count(lit(1)).as("nu"),
      sum(col("in_a") * col("in_b")).as("exact_inter"))
    val ku = hs.orderBy("h").limit(K.toInt)
      .agg(max("h").as("hku"), sum(col("in_a") * col("in_b")).as("c"))
    val one = counts
      .crossJoin(broadcast(kth(na, "hka")))
      .crossJoin(broadcast(kth(nb, "hkb")))
      .crossJoin(broadcast(ku))
    def est(n: String, hk: String) =
      when(col(n) <= K, col(n))
        .otherwise(expr(s"($EST_NUM div $hk)"))
    one.select(lit(K).as("k"),
        est("na", "hka").as("est_a"),
        est("nb", "hkb").as("est_b"),
        est("nu", "hku").as("est_union"),
        col("c"), (col("nu") <= K).as("u_exact"), col("exact_inter"))
      .select(col("k"), col("est_a"), col("est_b"), col("est_union"),
        when(col("u_exact"), col("c"))
          .otherwise(expr(s"(c * est_union) div $K")).as("est_inter"),
        col("exact_inter"))
  }

  // ---------------------------------------------------------------------
  // x_hll_custom — register-exact HyperLogLog
  // ---------------------------------------------------------------------

  /** HLL precision: p = 6 → m = 64 registers. Small by production
    * standards (±13% typical error) but the full algorithm; the register
    * array stays a visible 64-row group domain instead of an opaque blob.
    */
  val HLL_P = 6
  val HLL_M = 1L << HLL_P

  /** 2^(60−p) = 2^54: the register index is the top p bits of a 60-bit
    * (15 hex chars) md5 prefix; the remaining 54 bits feed the rank. */
  val HLL_W = 18014398509481984L

  /** 2^55: ranks live in [1, 55] (54 payload bits + 1), so Σ 2^(55−M_j)
    * over 64 registers is an exact BIGINT ≤ 2^61 — the harmonic-mean
    * denominator scaled to integers. An EMPTY register has M = 0 and
    * contributes a full 2^55. */
  val HLL_Z1 = 36028797018963968L

  /** α_64 · m² · 2^55 · 10^6-cancel, as one exact integer numerator:
    * est_raw = round-free integer division ANUM div (Z55 · 10^6) where
    * ANUM = round(10^6·α_64) · m² · 2^55. α is a model-sized constant
    * rounded ONCE (margin trivially safe: 0.72134/1.01686 lands nowhere
    * near a half at 1e6 scale); everything downstream is exact. */
  val HLL_ALPHA_FIX: Long = math.round(1e6 * 0.7213 / (1.0 + 1.079 / 64.0))
  val HLL_ANUM: BigInt = BigInt(HLL_ALPHA_FIX) * 4096 * BigInt(HLL_Z1)

  /** Linear-counting table: round(10^6·ln(m/V)) for V = 1..63 empty
    * registers — 63 model-sized constants computed once driver-side and
    * embedded as the SAME literals in both engines' plans, the
    * x_dsir_weights fixed-point discipline (margin audited as family
    * "hll-lin-table"). */
  val HLL_LN_TABLE: IndexedSeq[Long] =
    (1 to 63).map(v => math.round(1e6 * math.log(64.0 / v)))

  /** Linear-counting switchover: raw estimate ≤ 5/2·m. */
  val HLL_LC_CUT = 160L

  /** X — HyperLogLog from first principles, register-exact across
    * engines: per nation, estimate the distinct customer count from a
    * 64-register sketch and report it against the exact count. Unlike
    * q07_approx_hll (Spark's built-in approx_count_distinct, gated by a
    * derived within-5% fact because its hash is engine-private), every
    * intermediate here is portable: the hash is a 60-bit md5 prefix,
    * registers are MAX aggregates over (group, j), the harmonic mean is
    * the exact integer Z55 = Σ 2^(55−M_j), and both the raw estimator
    * α·m²/Z and the small-range linear-counting branch m·ln(m/V) are
    * integer arithmetic over literals shared by both plans — DuckDB
    * recomputes every cell, estimate included. The fixture crosses the
    * branch boundary across scale factors (≈60 customers/nation at
    * sf0.01 → linear counting; ≈600 at sf0.1 → raw), so both branches
    * are gate-covered.
    *
    * Scale posture: one (group, register) hash agg with map-side MAX
    * combine — 64·|groups| rows out of the corpus scan, then a
    * |groups|-sized re-agg; mergeable by construction (MAX commutes), no
    * driver state, no window. This is the distributed shape HLL exists
    * for: the register frame IS the sketch, OR-able across shards like
    * x_bitmap_distinct's bitsets but in 64 rows instead of max_id/8
    * bytes.
    */
  val xHllCustom = Q(
    "x_hll_custom",
    s"""WITH h AS (SELECT c_nationkey AS nat,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM customer),
       r AS (SELECT nat, h // $HLL_W AS j,
               CASE WHEN h % $HLL_W = 0 THEN 55
                    ELSE 55 - length(bin(h % $HLL_W)) END AS m
             FROM h),
       reg AS (SELECT nat, j, CAST(max(m) AS BIGINT) AS mj FROM r GROUP BY 1, 2),
       z AS (SELECT nat, CAST(count(*) AS BIGINT) AS present,
               CAST(sum(1::BIGINT << CAST(55 - mj AS INTEGER)) AS BIGINT) AS zp
             FROM reg GROUP BY 1),
       e AS (SELECT nat, $HLL_M - present AS v,
               zp + ($HLL_M - present) * $HLL_Z1 AS z55 FROM z),
       est AS (SELECT nat, v, z55,
           CAST('$HLL_ANUM'::HUGEINT // (z55::HUGEINT * 1000000) AS BIGINT)
             AS est_raw
         FROM e),
       fin AS (SELECT nat, v, z55, est_raw,
           CASE WHEN v > 0 AND est_raw <= $HLL_LC_CUT
                THEN ($HLL_M * ([${HLL_LN_TABLE.mkString(", ")}])[v]) // 1000000
                ELSE est_raw END AS est
         FROM est),
       ex AS (SELECT c_nationkey AS nat,
                CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_exact
              FROM customer GROUP BY 1)
       SELECT nat AS nationkey, n_exact, v AS v_empty, z55, est_raw, est,
              (abs(est - n_exact) * 1000000) // n_exact AS err_ppm
       FROM fin JOIN ex USING (nat) ORDER BY nationkey""") { (s, dir) =>
    val reg = T(s, dir, "customer")
      .select(col("c_nationkey").as("nat"),
        expr("cast(conv(substring(md5(cast(c_custkey as string)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .select(col("nat"), expr(s"h div $HLL_W").as("j"),
        expr(s"""CASE WHEN h % $HLL_W = 0 THEN 55
                 ELSE 55 - length(bin(h % $HLL_W)) END""").as("m"))
      .groupBy("nat", "j").agg(max(col("m")).cast("long").as("mj"))
    val z = reg.groupBy("nat")
      .agg(count(lit(1)).as("present"),
        sum(expr("shiftleft(cast(1 as bigint), cast(55 - mj as int))")).as("zp"))
      .select(col("nat"), (lit(HLL_M) - col("present")).as("v"),
        (col("zp") + (lit(HLL_M) - col("present")) * HLL_Z1).as("z55"))
    val est = z.withColumn("est_raw", expr(
      s"""CAST(CAST('$HLL_ANUM' AS DECIMAL(38,0))
          DIV (CAST(z55 AS DECIMAL(38,0)) * 1000000) AS BIGINT)"""))
    val fin = est.withColumn("est",
      when(col("v") > 0 && col("est_raw") <= HLL_LC_CUT,
        expr(s"""($HLL_M * element_at(
                   array(${HLL_LN_TABLE.mkString("L, ")}L),
                   cast(v as int))) div 1000000"""))
        .otherwise(col("est_raw")))
    val ex = T(s, dir, "customer")
      .groupBy(col("c_nationkey").as("nat"))
      .agg(countDistinct(col("c_custkey")).as("n_exact"))
    fin.join(ex, "nat")
      .select(col("nat").as("nationkey"), col("n_exact"),
        col("v").as("v_empty"), col("z55"), col("est_raw"), col("est"),
        expr("(abs(est - n_exact) * 1000000) div n_exact").as("err_ppm"))
      .orderBy("nationkey")
  }

  val all: Seq[Q] = Seq(xKmvDistinct, xHllCustom)
}
