package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, Tables => T}

/** Round-5 time-series coverage: linear gap interpolation, missing-bucket
  * detection (calendar anti-join + island compression), and the
  * cumulative-distinct rollup a usage dashboard needs.
  *
  * Scale posture: interpolation and island detection are one window pass
  * each over the series key (the shuffle is the partition key, nothing
  * more); gap detection explodes a bounded calendar (hours between a
  * key's min and max — time is the one dimension that does NOT grow with
  * corpus size) and anti-joins it against the observed buckets on the
  * same key, so the only shuffles are the per-key aggregations. The one
  * global window (cumulative distinct users over days) is over the date
  * dimension — bounded at any corpus scale — and is fed by a per-day
  * pre-aggregation, never by raw events.
  */
object Timeseries {

  /** Library form: fill nulls in `valueCol` by linear interpolation
    * against a numeric `orderCol` within each `partCol` series; boundary
    * nulls take the nearest non-null neighbor (backfill at the head,
    * forward-fill at the tail). Two running windows over the same
    * partitioning: the previous neighbour is the last non-null in
    * ascending order, the next one the last non-null in DESCENDING
    * order. Both frames are unbounded-preceding, so each is one pass;
    * the oracle's `first_value` over `CURRENT ROW AND UNBOUNDED
    * FOLLOWING` gives the same next neighbour, but Spark re-aggregates
    * that frame's whole tail per row (O(n²) per series).
    *
    * Determinism contract: the interpolation arithmetic is written in
    * the exact same IEEE order as the oracle SQL (`prev + (next - prev)
    * * ((k - pk) / (nk - pk))`, long-to-double division), so results are
    * bit-identical cross-engine with no rounding needed.
    */
  def interpolateLinear(df: DataFrame, partCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val wFwd = Window.partitionBy(col(partCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBwd = Window.partitionBy(col(partCol)).orderBy(col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = col(orderCol)
    df.withColumn("__prev_v", last(col(valueCol), ignoreNulls = true).over(wFwd))
      .withColumn("__prev_k",
        last(when(col(valueCol).isNotNull, k), ignoreNulls = true).over(wFwd))
      .withColumn("__next_v", last(col(valueCol), ignoreNulls = true).over(wBwd))
      .withColumn("__next_k",
        last(when(col(valueCol).isNotNull, k), ignoreNulls = true).over(wBwd))
      .withColumn(valueCol,
        when(col(valueCol).isNotNull, col(valueCol))
          .when(col("__prev_v").isNull, col("__next_v"))
          .when(col("__next_v").isNull, col("__prev_v"))
          .otherwise(col("__prev_v") + (col("__next_v") - col("__prev_v")) *
            ((k - col("__prev_k")) / (col("__next_k") - col("__prev_k")))))
      .drop("__prev_v", "__prev_k", "__next_v", "__next_k")
  }

  /** X — linear interpolation of a gapped series: null out every 7th
    * order's price, then reconstruct it from the nearest non-null
    * neighbors within the priority series. The shape every sensor /
    * metrics pipeline needs after x_resample's bucketing.
    */
  val xInterpolate = Q(
    "x_interpolate",
    """WITH s AS (SELECT o_orderpriority, o_orderkey,
              CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS price
            FROM orders),
       f AS (SELECT o_orderpriority, o_orderkey, price,
              last_value(price IGNORE NULLS) OVER
                (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
              last_value(CASE WHEN price IS NOT NULL THEN o_orderkey END IGNORE NULLS) OVER
                (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_k,
              first_value(price IGNORE NULLS) OVER
                (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
              first_value(CASE WHEN price IS NOT NULL THEN o_orderkey END IGNORE NULLS) OVER
                (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_k
             FROM s)
       SELECT o_orderpriority, o_orderkey,
              CASE WHEN price IS NOT NULL THEN price
                   WHEN prev_v IS NULL THEN next_v
                   WHEN next_v IS NULL THEN prev_v
                   ELSE prev_v + (next_v - prev_v) *
                        ((o_orderkey - prev_k) / (next_k - prev_k)) END AS price,
              (price IS NULL) AS was_gap
       FROM f
       ORDER BY o_orderpriority, o_orderkey""") { (s, dir) =>
    val gapped = T(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("price"))
    interpolateLinear(gapped, "o_orderpriority", "o_orderkey", "price")
      .withColumn("was_gap", col("o_orderkey") % 7 === 0)
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** X — missing-bucket detection with island compression: per user,
    * the hours between their first and last event with no activity,
    * compressed into consecutive runs (the classic gaps-and-islands
    * `bucket_index - row_number` trick). Reports per user: total missing
    * hours, number of distinct gaps, and the longest gap. Users with
    * full coverage have no missing rows and drop out (same on both
    * engines).
    */
  val xGapDetect = Q(
    "x_gap_detect",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       ev AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM e),
       span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY user_id),
       allh AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                FROM span),
       miss AS (SELECT a.user_id, a.h FROM allh a
                WHERE NOT EXISTS (SELECT 1 FROM ev
                                  WHERE ev.user_id = a.user_id AND ev.h = a.h)),
       isl AS (SELECT user_id, h,
                epoch_us(h) // 3600000000 -
                  row_number() OVER (PARTITION BY user_id ORDER BY h) AS grp
               FROM miss),
       g AS (SELECT user_id, grp, count(*) AS c FROM isl GROUP BY user_id, grp)
       SELECT user_id, CAST(sum(c) AS BIGINT) AS n_missing,
              count(*) AS n_gaps, max(c) AS max_gap
       FROM g GROUP BY user_id
       ORDER BY user_id""") { (s, dir) =>
    val ev = T(s, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .distinct()
    val span = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val allh = span.select(col("user_id"),
      explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val miss = allh.join(ev, Seq("user_id", "h"), "left_anti")
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
    miss
      .withColumn("grp", expr("unix_micros(h) div 3600000000") -
        row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_missing"), count(lit(1)).as("n_gaps"),
        max(col("c")).as("max_gap"))
      .orderBy("user_id")
  }

  /** X — daily active users + cumulative distinct users: DAU is a plain
    * per-day distinct agg; the cumulative series uses the first-seen
    * trick (min day per user, then a running sum of new users over the
    * date dimension) instead of a `count(DISTINCT) OVER` rescan — the
    * running window is over DAYS (bounded forever), never over raw
    * events, so the single-partition final window is a non-issue at any
    * corpus size.
    */
  val xWindowDistinct = Q(
    "x_window_distinct",
    """WITH e AS (SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS d
                  FROM events),
       dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM e GROUP BY d),
       f AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY user_id),
       nu AS (SELECT d0 AS d, count(*) AS nu FROM f GROUP BY d0)
       SELECT dau.d, dau.dau,
              CAST(sum(coalesce(nu.nu, 0)) OVER
                (ORDER BY dau.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
       FROM dau LEFT JOIN nu ON dau.d = nu.d
       ORDER BY dau.d""") { (s, dir) =>
    val byDay = T(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
    val dau = byDay.groupBy(col("d")).agg(countDistinct(col("user_id")).as("dau"))
    val nu = byDay.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      .groupBy(col("d0").as("d")).agg(count(lit(1)).as("nu"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(nu, Seq("d"), "left")
      .select(col("d"), col("dau"),
        sum(coalesce(col("nu"), lit(0L))).over(w).as("cum_users"))
      .orderBy("d")
  }

  /** X — rolling median (7-event window) of each user's spend: the
    * robust-smoothing primitive a metrics pipeline uses where a rolling
    * mean would chase outliers. EXACT discrete median — the
    * ceil(n/2)-th smallest cents value in the frame, never an
    * interpolated float — so both engines pick the identical element
    * (DuckDB's `quantile_disc(0.5)` selects the same index; verified
    * n∈{3,4} and windowed). One window pass per user; the frame is
    * rows-bounded (7), so the sort-per-frame cost is O(1) per row and
    * the shuffle key is the series key — the same posture as
    * x_interpolate.
    */
  val xRollingMedian = Q(
    "x_rolling_median",
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
       SELECT user_id, event_id,
              quantile_disc(cents, 0.5) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_cents
       FROM e ORDER BY user_id, event_id""") { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
      .select(col("user_id"), col("event_id"),
        expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))").as("med_cents"))
      .orderBy("user_id", "event_id")
  }

  /** X — period-over-period growth (the MoM revenue report): monthly
    * revenue in exact integer cents (graft.core.Exact decimal sums ×
    * 100), month-over-month delta as a sign-split 1e6 fixed-point
    * quotient. The lag window runs over the MONTH domain (~dozens of
    * rows — the x_ks_drift acceptance class, never a corpus window);
    * the heavy work is one month-keyed hash agg with map-side combine.
    */
  val xPopGrowth = Q(
    "x_pop_growth",
    """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_cents
           FROM orders GROUP BY 1),
       g AS (SELECT month, rev_cents,
               lag(rev_cents) OVER (ORDER BY month) AS prev_cents FROM m)
       SELECT month, rev_cents, prev_cents,
              CASE WHEN rev_cents - prev_cents < 0
                   THEN -((1000000 * (prev_cents - rev_cents)) // prev_cents)
                   ELSE (1000000 * (rev_cents - prev_cents)) // prev_cents END
                AS growth_fix
       FROM g WHERE prev_cents IS NOT NULL ORDER BY month""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val m = T(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg((sum(graft.core.Exact.dec(col("o_totalprice"))) * 100)
        .cast("long").as("rev_cents"))
    m.withColumn("prev_cents",
        lag(col("rev_cents"), 1).over(Window.orderBy("month")))
      .filter(col("prev_cents").isNotNull)
      .select(col("month"), col("rev_cents"), col("prev_cents"),
        when(col("rev_cents") - col("prev_cents") < 0,
          -expr("(1000000 * (prev_cents - rev_cents)) div prev_cents"))
          .otherwise(
            expr("(1000000 * (rev_cents - prev_cents)) div prev_cents"))
          .as("growth_fix"))
      .orderBy("month")
  }

  /** X — percent-of-parent / percent-of-total rollup (the drill-down
    * revenue report): nation revenue as a share of its region and of
    * the whole, all in exact integer cents with 1e6 integer-quotient
    * shares. One dimension-join agg (customers/nations/regions are the
    * broadcast side), then 25-row arithmetic.
    */
  val xPctOfParent = Q(
    "x_pct_of_parent",
    """WITH rev AS (SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           GROUP BY 1, 2),
       reg AS (SELECT region, CAST(sum(cents) AS BIGINT) AS r_cents
               FROM rev GROUP BY 1),
       tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t_cents FROM rev)
       SELECT region, nation, cents, r_cents,
              (1000000 * cents) // r_cents AS pct_parent_fix,
              (1000000 * cents) // t_cents AS pct_total_fix
       FROM rev JOIN reg USING (region), tot
       ORDER BY region, nation""") { (s, dir) =>
    val rev = T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg((sum(graft.core.Exact.dec(col("o_totalprice"))) * 100)
        .cast("long").as("cents"))
    val reg = rev.groupBy("region").agg(sum("cents").as("r_cents"))
    val tot = rev.agg(sum("cents").as("t_cents"))
    rev.join(broadcast(reg), "region").crossJoin(broadcast(tot))
      .select(col("region"), col("nation"), col("cents"), col("r_cents"),
        expr("(1000000 * cents) div r_cents").as("pct_parent_fix"),
        expr("(1000000 * cents) div t_cents").as("pct_total_fix"))
      .orderBy("region", "nation")
  }

  /** X — CUSUM changepoint detection on the daily order-count series:
    * the classic single-changepoint statistic is the maximum absolute
    * deviation of the cumulative sum from its expected straight line,
    * argmax_t |S_t − t·μ|. Cross-multiplied to pure integers:
    * dev_num_t = |T·S_t − t·S_T| (T days, S_T total rows), so no mean
    * is ever divided. The flagged day is the max-deviation day,
    * earliest-first on ties.
    *
    * Scale posture: raw rows reduce in a (date)-keyed hash agg FIRST —
    * the windows (running sum, global argmax rank) run over the bounded
    * date dimension (~2.4k rows regardless of corpus size), the same
    * contract as x_window_distinct. One shuffle on day, two tiny window
    * passes, a broadcast of the 1-row total.
    */
  val xChangepoint = Q(
    "x_changepoint",
    """WITH d AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
       c AS (SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(sum(y) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM d),
       tot AS (SELECT CAST(max(t) AS BIGINT) AS tt,
                      CAST(sum(y) AS BIGINT) AS st FROM c),
       dev AS (SELECT day, y, t, cum,
                 abs(tt * cum - t * st) AS dev_num FROM c, tot),
       r AS (SELECT *, row_number() OVER (ORDER BY dev_num DESC, t ASC) AS rn
             FROM dev)
       SELECT day, y, t, cum, dev_num, (rn = 1) AS is_changepoint
       FROM r ORDER BY day""") { (s, dir) =>
    val d = T(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("y"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = d.withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("cum", sum(col("y")).over(wCum))
    val tot = c.agg(max(col("t")).as("tt"), sum(col("y")).as("st"))
    val dev = c.crossJoin(broadcast(tot))
      .withColumn("dev_num", abs(col("tt") * col("cum") - col("t") * col("st")))
    dev.withColumn("rn",
        row_number().over(Window.orderBy(col("dev_num").desc, col("t").asc)))
      .select(col("day"), col("y"), col("t"), col("cum"), col("dev_num"),
        (col("rn") === 1).as("is_changepoint"))
      .orderBy("day")
  }

  /** X — robust outlier detection via median absolute deviation (MAD),
    * the standard-deviation-free anomaly flag (robust statistics: a few
    * extreme days cannot drag the threshold the way they drag a mean/σ
    * z-score). A day is anomalous when |y − median| > 3·MAD.
    *
    * Exactness — the DOUBLE-MEDIAN trick: a median of an even-count
    * integer set is a half-integer, so every quantity is carried at 2×
    * scale: med2 = y_lo + y_hi (the two middle order statistics), the
    * deviations d = |2y − med2| (= 2·|y − med|), mad4 = d_lo + d_hi
    * (= 4·MAD), and the flag 2·d > 3·mad4 is the exact integer spelling
    * of |y − median| > 3·MAD. Both engines pick the same order
    * statistics because the rank order (value, day) is total.
    *
    * Scale posture: raw rows reduce to the bounded date dimension FIRST
    * (one hash agg); the two rank windows run over ~2.4k rows regardless
    * of corpus size — the x_window_distinct contract.
    */
  val xAnomalyMad = Q(
    "x_anomaly_mad",
    """WITH d AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       r AS (SELECT day, y,
               CAST(row_number() OVER (ORDER BY y, day) AS BIGINT) AS rk
             FROM d),
       m AS (SELECT CAST(max(CASE WHEN rk = (n + 1) // 2 THEN y END)
                  + max(CASE WHEN rk = n // 2 + 1 THEN y END) AS BIGINT)
               AS med2 FROM r, n),
       dev AS (SELECT day, y, abs(2 * y - med2) AS d2, med2 FROM r, m),
       r2 AS (SELECT day, y, d2, med2,
                CAST(row_number() OVER (ORDER BY d2, day) AS BIGINT) AS rk
              FROM dev),
       m2 AS (SELECT CAST(max(CASE WHEN rk = (n + 1) // 2 THEN d2 END)
                   + max(CASE WHEN rk = n // 2 + 1 THEN d2 END) AS BIGINT)
                AS mad4 FROM r2, n)
       SELECT day, y, d2, med2, mad4, (2 * d2 > 3 * mad4) AS is_outlier
       FROM r2, m2 ORDER BY day""") { (s, dir) =>
    val d = T(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("y"))
    val nF = d.agg(count(lit(1)).as("n"))
    def med2Of(r: org.apache.spark.sql.DataFrame, c: String, as: String) =
      r.crossJoin(broadcast(nF)).agg(
        (max(when(col("rk") === expr("(n + 1) div 2"), col(c))) +
          max(when(col("rk") === expr("n div 2 + 1"), col(c)))).as(as))
    val r = d.withColumn("rk",
      row_number().over(Window.orderBy("y", "day")).cast("long"))
    val dev = r.crossJoin(broadcast(med2Of(r, "y", "med2")))
      .select(col("day"), col("y"),
        abs(lit(2) * col("y") - col("med2")).as("d2"), col("med2"))
    val r2 = dev.withColumn("rk",
      row_number().over(Window.orderBy("d2", "day")).cast("long"))
    r2.crossJoin(broadcast(med2Of(r2, "d2", "mad4")))
      .select(col("day"), col("y"), col("d2"), col("med2"), col("mad4"),
        (lit(2) * col("d2") > lit(3) * col("mad4")).as("is_outlier"))
      .orderBy("day")
  }

  /** X — day-of-week seasonal decomposition: the weekday profile of the
    * daily order-count series and the top-5 deseasonalized anomalies
    * (days most unlike their own weekday). The weekday index is the
    * engine-neutral epoch-day mod 7 (Spark and DuckDB disagree on
    * dayofweek numbering, so neither's is used).
    *
    * Exactness: the residual y − mean(dow) is carried cross-multiplied
    * as resid_num = y·cnt_dow − sum_dow (exact), and the reported
    * milli-residual divides once with the sign-split div/floor guard
    * (x_readability pattern). The anomaly rank orders by
    * (|resid_milli| desc, day) — a total order over integers.
    *
    * Scale posture: corpus → bounded date dim (one hash agg), a 7-row
    * profile re-agg broadcast back, one rank window over ~2.4k rows.
    */
  val xSeasonalDow = Q(
    "x_seasonal_dow",
    """WITH d AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
       dw AS (SELECT day, y,
                CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7
                  AS BIGINT) AS dow FROM d),
       p AS (SELECT dow, CAST(count(*) AS BIGINT) AS dow_days,
               CAST(sum(y) AS BIGINT) AS dow_sum FROM dw GROUP BY 1),
       j AS (SELECT day, y, dw.dow, dow_days,
               y * dow_days - dow_sum AS rn FROM dw JOIN p ON dw.dow = p.dow),
       f AS (SELECT day, y, dow,
               CASE WHEN rn >= 0 THEN (1000 * rn) // dow_days
                    ELSE -((1000 * (-rn)) // dow_days) END AS resid_milli
             FROM j),
       g AS (SELECT *, row_number() OVER
               (ORDER BY abs(resid_milli) DESC, day) AS rk FROM f)
       SELECT day, y, dow, resid_milli, (rk <= 5) AS is_anomaly
       FROM g ORDER BY day""") { (s, dir) =>
    val d = T(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow",
        expr("CAST(datediff(CAST(day AS DATE), DATE '1970-01-01') % 7 AS BIGINT)"))
    val p = d.groupBy("dow")
      .agg(count(lit(1)).as("dow_days"), sum(col("y")).as("dow_sum"))
    val f = d.join(broadcast(p), "dow")
      .withColumn("rn", col("y") * col("dow_days") - col("dow_sum"))
      .select(col("day"), col("y"), col("dow"),
        expr("""CASE WHEN rn >= 0 THEN (1000 * rn) div dow_days
                ELSE -((1000 * (-rn)) div dow_days) END""").as("resid_milli"))
    f.withColumn("rk", row_number().over(
        Window.orderBy(abs(col("resid_milli")).desc, col("day"))))
      .select(col("day"), col("y"), col("dow"), col("resid_milli"),
        (col("rk") <= 5).as("is_anomaly"))
      .orderBy("day")
  }

  /** Rolling-correlation window length (days). */
  val CORR_WIN = 7

  /** The Pearson correlation of the exact integer regression sums,
    * written as ONE expression string both engines evaluate verbatim:
    * corr = cov / sqrt(vx·vy) where cov = n·Σxy − ΣxΣy and
    * vx/vy = n·Σx² − (Σx)² are EXACT BIGINTs from the rolling frames,
    * so the only doubles are one product, one sqrt, one division — all
    * IEEE-correctly-rounded in identical order — and the single
    * rounding to micro units is margin-audited (family "rolling-corr").
    */
  private val corrSql =
    """CASE WHEN vx = 0 OR vy = 0 THEN NULL
       ELSE CAST(round(1000000 * (CAST(cov AS DOUBLE)
              / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)))) AS BIGINT)
       END"""

  /** X — 7-day rolling correlation between the click and view daily
    * series: the co-movement monitor (campaign attribution, metric
    * coupling, leading-indicator checks). Windows shorter than
    * CORR_WIN days are suppressed (NULL corr) rather than reported on
    * partial data; zero-variance windows likewise.
    *
    * Scale posture: the corpus reduces to (day × 2 types) in one hash
    * agg; every rolling frame runs over the bounded date dimension.
    */
  val xRollingCorr = Q(
    "x_rolling_corr",
    s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
       w AS (SELECT day, x, y,
               CAST(count(*) OVER r AS BIGINT) AS n,
               CAST(sum(x) OVER r AS BIGINT) AS sx,
               CAST(sum(y) OVER r AS BIGINT) AS sy,
               CAST(sum(x * y) OVER r AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER r AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER r AS BIGINT) AS syy
             FROM d WINDOW r AS (ORDER BY day
               ROWS BETWEEN ${CORR_WIN - 1} PRECEDING AND CURRENT ROW)),
       c AS (SELECT day, x, y, n,
               n * sxy - sx * sy AS cov,
               n * sxx - sx * sx AS vx,
               n * syy - sy * sy AS vy FROM w)
       SELECT day, x, y, cov, vx, vy,
              CASE WHEN n < $CORR_WIN THEN NULL ELSE $corrSql END AS corr_micro
       FROM c ORDER BY day""") { (s, dir) =>
    val d = T(s, dir, "events")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
    val r = Window.orderBy("day").rowsBetween(-(CORR_WIN - 1), Window.currentRow)
    d.select(col("day"), col("x"), col("y"),
        count(lit(1)).over(r).as("n"),
        sum(col("x")).over(r).as("sx"), sum(col("y")).over(r).as("sy"),
        sum(col("x") * col("y")).over(r).as("sxy"),
        sum(col("x") * col("x")).over(r).as("sxx"),
        sum(col("y") * col("y")).over(r).as("syy"))
      .select(col("day"), col("x"), col("y"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vy"))
      .select(col("day"), col("x"), col("y"), col("cov"), col("vx"), col("vy"),
        when(col("n") < CORR_WIN, lit(null).cast("long"))
          .otherwise(expr(corrSql)).as("corr_micro"))
      .orderBy("day")
  }

  /** EWMA smoothing constant α = 1/4 and truncation depth. */
  val EWMA_LAGS = 16
  private val EWMA_DEN = 1L << (2 * EWMA_LAGS) // 4^16
  /** w_i = α(1−α)^i = 3^i/4^(i+1), scaled by 4^16: exact integers. */
  private val EWMA_W: IndexedSeq[Long] =
    (0 until EWMA_LAGS).map(i =>
      BigInt(3).pow(i).toLong * (1L << (2 * (EWMA_LAGS - 1 - i))))

  /** X — exponentially weighted moving average of the daily event count
    * per type, with ZERO floats: α = 1/4 makes every weight the exact
    * dyadic-ternary rational 3^i/4^(i+1), so the 16-lag truncated filter
    * is one integer dot product num = Σ x_{t−i}·3^i·4^(15−i) over the
    * per-type window (pre-history reads as 0 — the standard truncated
    * filter; the dropped tail mass is (3/4)^16 ≈ 1%). The milli readout
    * divides by 4^16 through DECIMAL(38,0)/HUGEINT so the product has
    * int64 headroom at any SF.
    *
    * Scale posture: corpus → (type × day) hash agg first (map-side
    * combine), THEN the window runs over the tiny per-type daily series
    * — frames of 16 rows, never corpus-wide.
    */
  val xEwma = Q(
    "x_ewma",
    s"""WITH d AS (SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
       w AS (SELECT event_type, day, x,
               CAST(${(0 until EWMA_LAGS).map(i =>
                 s"coalesce(lag(x, $i) OVER win, 0) * ${EWMA_W(i)}")
                 .mkString(" + ")} AS BIGINT) AS num
             FROM d
             WINDOW win AS (PARTITION BY event_type ORDER BY day))
       SELECT event_type, day, x, num,
              CAST(CAST(num AS HUGEINT) * 1000 // $EWMA_DEN AS BIGINT)
                AS ewma_milli
       FROM w ORDER BY event_type, day""") { (s, dir) =>
    val d = T(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val win = Window.partitionBy("event_type").orderBy("day")
    val num = (0 until EWMA_LAGS).map(i =>
      coalesce(lag(col("x"), i).over(win), lit(0L)) * lit(EWMA_W(i)))
      .reduce(_ + _)
    d.withColumn("num", num)
      .select(col("event_type"), col("day"), col("x"), col("num"),
        expr(s"CAST(CAST(num AS DECIMAL(38,0)) * 1000 DIV $EWMA_DEN AS BIGINT)")
          .as("ewma_milli"))
      .orderBy("event_type", "day")
  }

  /** Max autocorrelation lag (days). */
  val ACF_MAX_LAG = 7

  /** X — the autocorrelation function of the daily event-count series at
    * lags 1..ACF_MAX_LAG: the seasonality detector (a weekly-cycled
    * series spikes at lag 7; a trending one decays slowly) that sits in
    * front of every forecasting/anomaly model choice. Pearson corr of
    * (count(t), count(t+L)) pairs per lag, the direct (non-FFT) estimate
    * on the OVERLAPPING window, i.e. corr is computed over exactly the
    * n−L aligned pairs — the textbook "acf with pairwise-complete"
    * variant, which keeps every statistic a plain aggregate.
    *
    * Determinism: same contract as x_rolling_corr — all sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs of integer
    * day-counts; cov/vx/vy are integer cross-multiplications; the single
    * double division + sqrt is one identically-spelled expression, with
    * one rounding to micro units.
    *
    * Scale posture: the corpus reduces to one row per day in a single
    * hash agg (map-side combined); the lag join runs on the bounded date
    * dimension (time does not grow with corpus size) — 7 lags × days
    * rows, then a 7-group aggregation. No window over raw events.
    */
  val xAutocorr = Q(
    "x_autocorr",
    s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
       lags AS (SELECT CAST(unnest(generate_series(1, $ACF_MAX_LAG)) AS BIGINT) AS lag_d),
       p AS (SELECT lags.lag_d, a.c AS x, b.c AS y
             FROM d a CROSS JOIN lags
             JOIN d b ON b.day = a.day + CAST(lags.lag_d AS INTEGER)),
       w AS (SELECT lag_d, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
             FROM p GROUP BY 1),
       c AS (SELECT lag_d, n,
               n * sxy - sx * sy AS cov,
               n * sxx - sx * sx AS vx,
               n * syy - sy * sy AS vy FROM w)
       SELECT lag_d, n, cov, vx, vy, $corrSql AS acf_micro
       FROM c ORDER BY lag_d""") { (s, dir) =>
    val d = T(s, dir, "events")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("c"))
    val lags = s.range(1, ACF_MAX_LAG + 1).select(col("id").as("lag_d"))
    val p = d.select(col("day"), col("c").as("x"))
      .crossJoin(broadcast(lags))
      .join(d.select(col("day").as("day2"), col("c").as("y")),
        expr("day2 = date_add(day, cast(lag_d as int))"))
    p.groupBy("lag_d")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag_d"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vy"))
      .withColumn("acf_micro", expr(corrSql))
      .orderBy("lag_d")
  }

  val all: Seq[Q] = Seq(xInterpolate, xGapDetect, xWindowDistinct,
    xRollingMedian, xPopGrowth, xPctOfParent, xChangepoint, xAnomalyMad,
    xSeasonalDow, xRollingCorr, xEwma, xAutocorr)
}
