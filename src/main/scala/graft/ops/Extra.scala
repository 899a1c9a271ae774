package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Exact => E, Q, Scratch, SessionMemo, Tables => T}

/** Round-2 coverage extensions: sessionization, reproducible sampling,
  * ordered string aggregation, masking, and regression aggregates.
  *
  * Scale posture: everything here is a single windowed pass or a single
  * hash aggregation — no extra shuffles beyond the declared keys, and
  * the sampling filter is a pure map (pushable, no shuffle at all).
  */
object Extra {

  /** X — gap-based batch sessionization (30-min inactivity gap): the
    * batch twin of q29_stream_session. One window pass flags session
    * starts, a running sum numbers sessions, one agg summarizes them.
    * Ties are broken by event_id so the lag/sum frames are total-ordered
    * and deterministic on both engines.
    */
  /** Library form: assign 1-based session ids per user from a gap
    * threshold. Input needs (user_id, event_id, ts); adds `session_id`.
    * One window pass — the event_id tiebreak makes the frame
    * total-ordered and deterministic.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(w))
      .drop("prev_us", "new_s")
  }

  val xSessionize = Q(
    "x_sessionize",
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       f AS (SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
             FROM e),
       s AS (SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
             FROM f)
       SELECT user_id, session_id, count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
       FROM s GROUP BY user_id, session_id
       ORDER BY user_id, session_id""") { (s, dir) =>
    sessionize(T(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts")), gapMinutes = 30)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** X — deterministic hash sampling (~8%): the reproducible train/eval
    * split primitive for a data pipeline. The md5-prefix predicate is a
    * pure map over the scan — no shuffle, no RNG state, same rows on
    * every engine and every rerun, stable under repartitioning.
    */
  val xSampleHash = Q(
    "x_sample_hash",
    """SELECT doc_id, lang FROM documents
       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '14'
       ORDER BY doc_id""") { (s, dir) =>
    T(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <= "14")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** X — ordered string aggregation (listagg / string_agg): collect_list
    * is unordered by distribution, so the deterministic spelling is
    * sort_array before joining — same contract as string_agg(... ORDER BY).
    */
  val xStringAgg = Q(
    "x_string_agg",
    """SELECT CAST(n_regionkey AS BIGINT) AS region,
              string_agg(n_name, ',' ORDER BY n_name) AS names
       FROM nation GROUP BY 1 ORDER BY region""") { (s, dir) =>
    T(s, dir, "nation")
      .groupBy(col("n_regionkey").cast("long").as("region"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("names"))
      .orderBy("region")
  }

  /** X — masking / redaction (the PII-scrub shape): regexp_replace is a
    * codegen'd map — at corpus scale this is a free rider on any scan.
    */
  val xRedact = Q(
    "x_redact",
    """SELECT c_custkey, regexp_replace(c_name, '[0-9]', '#', 'g') AS masked
       FROM customer ORDER BY c_custkey""") { (s, dir) =>
    T(s, dir, "customer")
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"))
      .orderBy("c_custkey")
  }

  /** X — linear-regression aggregates (regr_slope/intercept/r2): one
    * hash agg with partial aggregation; rounded to 6 digits on both
    * engines to absorb summation-order ulps (same contract as the
    * transcendental queries).
    */
  val xRegrAgg = Q(
    "x_regr_agg",
    """SELECT l_returnflag,
         round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
         round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
         round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** X — forward-fill (last observation carried forward): the standard
    * gap-repair primitive for event streams — here "last purchase amount
    * seen so far" per user. One window pass with an ignore-nulls last();
    * ties broken by event_id so the frame is total-ordered on both
    * engines.
    */
  /** Library form: last-observation-carried-forward of `valueCol` per
    * user in (ts, event_id) order; adds `<valueCol>_filled`.
    */
  def fillForward(events: DataFrame, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.withColumn(s"${valueCol}_filled",
      last(col(valueCol), ignoreNulls = true).over(w))
  }

  val xFillForward = Q(
    "x_fill_forward",
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
           FROM events)
       SELECT user_id, event_id,
              last_value(k IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k_filled
       FROM e ORDER BY user_id, event_id""") { (s, dir) =>
    fillForward(
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "purchase",
            get_json_object(col("props"), "$.k").cast("long")).as("k")),
      "k")
      .select(col("user_id"), col("event_id"), col("k_filled"))
      .orderBy("user_id", "event_id")
  }

  /** X — top-k per group: the window-rank-filter shape Catalyst rewrites
    * into WindowGroupLimit (per-partition top-k heaps BEFORE the shuffle,
    * so only k rows per group per mapper move — the grouped twin of
    * TakeOrderedAndProject).
    */
  val xGroupTopK = Q(
    "x_group_topk",
    """SELECT c_mktsegment, c_custkey, rnk FROM (
         SELECT c_mktsegment, c_custkey,
                row_number() OVER (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey) AS rnk
         FROM customer)
       WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""") { (s, dir) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    T(s, dir, "customer")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("c_mktsegment"), col("c_custkey"), col("rnk"))
      .orderBy("c_mktsegment", "rnk")
  }

  /** X — approximate percentile sketch: the fixed-size-sketch path for
    * quantiles at 100 TB (exact percentile materializes per-group sorted
    * data; the sketch is mergeable map-side state). Sketch internals
    * differ per engine, so the hash-checked output is the exact quantile
    * plus a derived boolean asserting the sketch landed within 2% — the
    * same contract as q07_approx_hll.
    */
  val xApproxPercentile = Q(
    "x_approx_percentile",
    """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
         quantile_cont(l_extendedprice, 0.5) = quantile_cont(l_extendedprice, 0.5) AS within_2pct
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_exact"),
        (abs(expr("approx_percentile(l_extendedprice, 0.5, 10000)") -
          expr("percentile(l_extendedprice, 0.5)")) /
          expr("percentile(l_extendedprice, 0.5)") < 0.02).as("within_2pct"))
      .orderBy("l_returnflag")
  }

  /** X — time-series resample to a regular hourly grid per user: missing
    * hours materialize as zero rows (the regular-grid shape model
    * training wants). The grid is generated per user from its own
    * min/max hour (sequence + explode — no driver loop), then left-joins
    * the hourly aggregate; exact cents keep the sums hash-stable.
    */
  val xResample = Q(
    "x_resample",
    """WITH e AS (SELECT user_id,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
             value FROM events),
       hourly AS (SELECT user_id, hour, count(*) AS n,
                    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
                  FROM e GROUP BY 1, 2),
       bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM e GROUP BY 1),
       grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
                FROM bounds)
       SELECT g.user_id, g.hour,
              coalesce(n, 0) AS n, coalesce(cents, 0) AS cents
       FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
       ORDER BY g.user_id, g.hour""") { (s, dir) =>
    val e = T(s, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"), col("value"))
    val hourly = e.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .orderBy("user_id", "hour")
  }

  /** X — fuzzy matching via the native Jaro-Winkler expression
    * (graft.functions.JaroWinkler): most-similar part-name pairs within
    * (brand, size) blocks. Blocking keeps the pair stream bounded by
    * block sizes (the standard entity-resolution shape: block on cheap
    * equality, score survivors with the expensive measure).
    */
  val xJaroWinkler = Q(
    "x_jaro_winkler",
    """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
         round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
       FROM part a JOIN part b
         ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        AND a.p_partkey < b.p_partkey
       ORDER BY sim DESC, a_key, b_key LIMIT 20""") { (s, dir) =>
    val p = T(s, dir, "part")
    val a = p.select(col("p_partkey").as("a_key"), col("p_brand"),
      col("p_size"), col("p_name").as("a_name"))
    val b = p.select(col("p_partkey").as("b_key"), col("p_brand").as("b_brand"),
      col("p_size").as("b_size"), col("p_name").as("b_name"))
    a.join(b, col("p_brand") === col("b_brand") &&
        col("p_size") === col("b_size") && col("a_key") < col("b_key"))
      .select(col("a_key"), col("b_key"),
        round(graft.functions.JaroWinkler.sim(col("a_name"), col("b_name")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("a_key"), col("b_key"))
      .limit(20)
  }

  /** X — distribution window functions: ntile buckets, percent_rank,
    * cume_dist, nth_value. percent_rank/cume_dist are exact rationals
    * ((rank−1)/(n−1), rank_with_ties/n) — one IEEE division of the same
    * integers on both engines, so raw doubles hash equal with no
    * rounding contract needed.
    */
  val xWindowNtile = Q(
    "x_window_ntile",
    """SELECT c_custkey, c_mktsegment,
         ntile(4) OVER w AS quartile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd,
         nth_value(c_name, 3) OVER w AS third_name
       FROM customer
       WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
       ORDER BY c_custkey""") { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    T(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("c_name"), 3).over(w).as("third_name"))
      .orderBy("c_custkey")
  }

  /** X — CSV sink + source round-trip: write orders as headered CSV,
    * read it back with the original schema, aggregate. The oracle runs
    * the same aggregate over the parquet table — green iff the text
    * round-trip is lossless (schema, dates, full-precision doubles).
    */
  val xCsvRoundtrip = Q(
    "x_csv_roundtrip",
    """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val out = Scratch.path(s, "csvrt/orders")
    graft.sources.Lake.writeAs(orders, "csv", out)
    graft.sources.Lake.readAs(s, "csv", out, Some(orders.schema))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** X — ORC sink + source round-trip: same contract as the CSV twin but
    * through the columnar ORC format (schema travels with the file, so
    * no explicit schema on read). Lineitem exercises decimals-as-double,
    * dates, and low-cardinality strings through ORC's encodings; the
    * oracle aggregates the original parquet — green iff the format
    * round-trip is bit-lossless.
    */
  val xOrcRoundtrip = Q(
    "x_orc_roundtrip",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         max(l_shipdate) AS last_ship
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    val li = T(s, dir, "lineitem")
    val out = Scratch.path(s, "orcrt/lineitem")
    graft.sources.Lake.writeAs(li, "orc", out)
    graft.sources.Lake.readAs(s, "orc", out)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), E.sumd(col("l_extendedprice")).as("total"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** X — row-level provenance: every row tagged with the file it was
    * read from (`input_file_name()`), the audit column a lake ingest
    * keeps so any training example can be traced back to its source
    * object. Derived-fact oracle: the fixture tables are single-file, so
    * the checkable cross-engine fact is the constant basename — the
    * Spark side still genuinely derives it per row from the scan.
    */
  val xProvenance = Q(
    "x_provenance",
    """SELECT doc_id, 'documents.parquet' AS file_name, source
       FROM documents ORDER BY doc_id""") { (s, dir) =>
    T(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(input_file_name(), "[^/]+$", 0).as("file_name"),
        col("source"))
      .orderBy("doc_id")
  }

  /** X — key-based MERGE (upsert) through the real Lake.upsert sink:
    * stage orders to parquet, merge an updates set (every 97th key gets
    * a new status and +1000 price, one brand-new key appends), read the
    * dataset back. The oracle computes the same merge relationally —
    * green iff the anti-join + union + swap rewrite is exactly MERGE
    * semantics and the parquet round-trip is lossless.
    */
  val xUpsert = Q(
    "x_upsert",
    """WITH updates AS (
         SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000 AS o_totalprice
         FROM orders WHERE o_orderkey % 97 = 0
         UNION ALL SELECT -1, 'N', 123.45)
       SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       WHERE o_orderkey % 97 <> 0
       UNION ALL SELECT * FROM updates
       ORDER BY o_orderkey""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val stage = Scratch.path(s, "upsert/orders")
    orders.write.mode("overwrite").parquet(stage)
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000).as("o_totalprice"))
      .unionByName(s.sql("SELECT CAST(-1 AS BIGINT) o_orderkey, 'N' o_orderstatus, CAST(123.45 AS DOUBLE) o_totalprice"))
    graft.sources.Lake.upsert(s, stage, updates, Seq("o_orderkey"))
    s.read.parquet(stage).orderBy("o_orderkey")
  }

  /** X — manifest-pruned clustered scan: stage orders range-clustered on
    * o_custkey with a per-file [lo, hi] manifest, then answer a selective
    * key-band query reading ONLY the files whose band intersects the
    * predicate (file-skipping like a table format's statistics — the
    * LakeSpec asserts the file subset actually shrinks). Oracle: the same
    * aggregate over the raw table — green iff pruning never drops rows.
    */
  val xManifestPrune = Q(
    "x_manifest_prune",
    """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders WHERE o_custkey BETWEEN 40 AND 70
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val stage = Scratch.path(s, "clustered/orders")
    graft.sources.Lake.writeClusteredWithManifest(orders, stage, 8, "o_custkey")
    graft.sources.Lake.readPruned(s, stage, "o_custkey", 40L, 70L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** X — z-order-clustered scan: stage orders sorted along the
    * (o_custkey, o_totalprice) space-filling curve, then answer a query
    * banded on BOTH columns reading only the files whose two-column
    * stats intersect both bands. Linear clustering prunes the leading
    * column only; the z-curve prunes either/both — LakeSpec measures the
    * file subsets. Oracle: the same aggregate over the raw table —
    * green iff two-dimensional skipping never drops rows.
    */
  val xZorderPrune = Q(
    "x_zorder_prune",
    """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders
       WHERE o_custkey BETWEEN 100 AND 400
         -- floor, not CAST: DuckDB CAST(double AS BIGINT) rounds to
         -- nearest while Spark's cast truncates; floor matches both
         AND CAST(floor(o_totalprice) AS BIGINT) BETWEEN 20000 AND 120000
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val stage = Scratch.path(s, "zorder/orders")
    graft.sources.Lake.writeZOrdered(orders, stage, 16,
      "o_custkey", "o_totalprice")
    graft.sources.Lake.readZPruned(s, stage,
      Seq("o_custkey" -> (100L, 400L), "o_totalprice" -> (20000L, 120000L)))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** X — Hilbert-curve clustering + manifest pruning: x_zorder_prune
    * with the OTHER space-filling curve (Delta/Iceberg OPTIMIZE offer
    * both; the Hilbert walk never jumps across the space, so index
    * ranges are tighter rectangles — measured file-skipping comparison
    * vs the Z layout in LakeSpec and docs/SCALING.md). The curve walk
    * is the native codegen'd HilbertIndex2 expression
    * (graft/functions/Hilbert.scala); layout correctness is graded the
    * zorder way — the oracle runs the plain filtered aggregate, so any
    * row lost or double-read by clustering, manifest stats, or pruning
    * lands in the hash.
    */
  val xHilbertPrune = Q(
    "x_hilbert_prune",
    """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders
       WHERE o_custkey BETWEEN 40 AND 120
         AND CAST(floor(o_totalprice) AS BIGINT) BETWEEN 150000 AND 300000
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val stage = Scratch.path(s, "hilbert/orders")
    graft.sources.Lake.writeHilbertOrdered(orders, stage, 16,
      "o_custkey", "o_totalprice")
    graft.sources.Lake.readHPruned(s, stage,
      Seq("o_custkey" -> (40L, 120L), "o_totalprice" -> (150000L, 300000L)))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** X — PARQUET-NATIVE bloom-filter pruning: the format-level twin of
    * the homegrown manifest machinery (x_manifest_prune / x_zorder_prune
    * prune at the FILE level from stats the engine wrote beside the
    * data; this prunes at the ROW-GROUP level from structures inside
    * the format itself). Stage orders range-clustered on o_custkey with
    * a bloom filter on o_orderkey — a key the cluster sort SCATTERS, so
    * every row group's orderkey min/max spans ~the full domain and
    * stats/column-index skipping is provably useless; the bloom filter
    * is the only structure that can rule a row group out for a point
    * lookup. The read is a plain spark.read.parquet + IN filter: Spark
    * pushes the predicate to parquet-mr, which tests each row group's
    * bloom before touching its pages (LakeSpec measures rows actually
    * scanned with the bloom on vs off — same data, same plan, reader
    * flag flipped). Oracle: the raw-table aggregate — green iff
    * format-level skipping never drops or double-reads a row.
    *
    * At 100 TB this is the point-lookup path: trillions of rows,
    * petabyte scans reduced to the handful of row groups whose filters
    * admit the probed keys — no table format required, the structures
    * live in the parquet footers.
    */
  val xParquetBloomPrune = Q(
    "x_parquet_bloom_prune",
    """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders WHERE o_orderkey IN (7, 777, 1477)
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val stage = Scratch.path(s, "pqbloom/orders")
    graft.sources.Lake.writeClusteredParquetNative(orders, stage, 8,
      "o_custkey", Seq("o_orderkey" -> 200000L))
    s.read.parquet(stage)
      .filter(col("o_orderkey").isin(7L, 777L, 1477L))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** X — parquet PAGE-LEVEL column-index pruning: the intra-row-group
    * skip the format provides on SORTED columns. Stage orders as ONE
    * globally-sorted file with 500-row pages — file- and row-group-level
    * pruning are impossible by construction (there is exactly one of
    * each), so any reduction in rows scanned is the column index
    * selecting pages whose [min, max] intersects the band (measured
    * on/off in LakeSpec via the reader's columnindex flag). Oracle: the
    * raw-table aggregate.
    *
    * Together with x_parquet_bloom_prune this covers the two native
    * structures Delta/Iceberg OPTIMIZE relies on beneath its own
    * manifests: sorted-column page indexes for bands, bloom filters for
    * scattered-key points.
    */
  val xParquetPagePrune = Q(
    "x_parquet_page_prune",
    """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders WHERE o_custkey BETWEEN 25 AND 60
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val stage = Scratch.path(s, "pqpage/orders")
    graft.sources.Lake.writeClusteredParquetNative(orders, stage, 1,
      "o_custkey", Seq.empty, pageRows = 500)
    s.read.parquet(stage)
      .filter(col("o_custkey").between(25L, 60L))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** Library form of column profiling: one output row per requested
    * (numeric, decimal-exact) column with count / nulls / distinct /
    * min / max / mean — the data-quality pass a pipeline runs before
    * training. ONE aggregation job over the table computes every
    * column's stats (no per-column scans); the reshape to rows is a
    * driver-side seq over k struct columns, never a shuffle.
    *
    * Scale note: k exact countDistinct aggregates in one pass cost an
    * Expand of k+1× the scan stream (Spark's multi-distinct rewrite). At
    * 100 TB swap n_distinct to approx_count_distinct (HLL, one pass, no
    * Expand) — the other five stats are plain partial aggregates and
    * stay single-pass at any k.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: at least one column required")
    require(cols.distinct == cols,
      s"profile: duplicate columns in ${cols.mkString(", ")}")
    val aggs = cols.map { c =>
      struct(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("double").as("min_v"),
        max(col(c)).cast("double").as("max_v"),
        (E.sumd(col(c)) / count(col(c))).as("mean_v")).as(s"__p_$c")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c => struct(lit(c).as("col_name"), col(s"__p_$c").as("s")))
    one.select(explode(array(rows: _*)).as("e"))
      .select(col("e.col_name"), col("e.s.n").as("n"), col("e.s.nulls").as("nulls"),
        col("e.s.n_distinct").as("n_distinct"), col("e.s.min_v").as("min_v"),
        col("e.s.max_v").as("max_v"), col("e.s.mean_v").as("mean_v"))
  }

  /** X — column profiling under the oracle gate (decimal-exact means, so
    * the doubles hash identically cross-engine).
    */
  val xProfile = Q(
    "x_profile",
    """SELECT * FROM (
         SELECT 'o_custkey' AS col_name, count(*) AS n,
                count(*) - count(o_custkey) AS nulls,
                count(DISTINCT o_custkey) AS n_distinct,
                CAST(min(o_custkey) AS DOUBLE) AS min_v,
                CAST(max(o_custkey) AS DOUBLE) AS max_v,
                CAST(sum(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE)
                  / count(o_custkey) AS mean_v
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
                count(DISTINCT o_totalprice),
                CAST(min(o_totalprice) AS DOUBLE),
                CAST(max(o_totalprice) AS DOUBLE),
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  / count(o_totalprice)
         FROM orders)
       ORDER BY col_name""") { (s, dir) =>
    profile(T(s, dir, "orders"), Seq("o_custkey", "o_totalprice"))
      .orderBy("col_name")
  }

  /** Library form of snapshot diff: (keys..., op) for op ∈
    * added | removed | changed between two same-schema keyed snapshots.
    * Value comparison is ONE xxhash64 fingerprint per side — at scale the
    * join moves (key, 8 bytes) per row, never the value columns, and the
    * full-outer join is the single shuffle (both sides hashed on the
    * key). A 2⁻⁶⁴ fingerprint collision can only turn one `changed` row
    * into a false `unchanged` — the standard CDC trade; use the columns
    * themselves if that is unacceptable.
    */
  def datasetDiff(v1: DataFrame, v2: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = v1.columns.toSeq.filterNot(keys.contains)
    require(v2.columns.toSeq.filterNot(keys.contains) == valueCols,
      s"datasetDiff: snapshots must share the value schema, " +
        s"got ${v1.columns.toSeq} vs ${v2.columns.toSeq}")
    // key-only snapshots still diff (added/removed; `changed` can't occur):
    // a constant fingerprint keeps the plan shape without a 0-arg hash.
    // Each value column contributes its null INDICATOR as well: xxhash64
    // skips null children (the running hash passes through unchanged), so
    // without the indicator (null, "x") and ("x", null) fingerprint
    // identically — a deterministic false "unchanged", not the documented
    // 2^-64 random collision.
    val fpCols =
      if (valueCols.isEmpty) Seq(lit(0L))
      else valueCols.flatMap(c => Seq(col(c), isnull(col(c)).cast("int")))
    val a = v1.select(keys.map(col) :+ xxhash64(fpCols: _*).as("fp1"): _*)
    val b = v2.select(keys.map(col) :+ xxhash64(fpCols: _*).as("fp2"): _*)
    a.join(b, keys, "full_outer")
      .withColumn("op",
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed")))
      .filter(col("op").isNotNull)
      .select(keys.map(col) :+ col("op"): _*)
  }

  /** X — dataset snapshot diff: the added/removed/changed audit between
    * two versions of a keyed table (the explain step after any
    * upsert/compact — x_upsert writes the new version, this reports what
    * it did). Snapshots derive deterministically from `orders`: v1 drops
    * keys ≡0 (mod 7); v2 drops keys ≡0 (mod 11) and reprices keys ≡0
    * (mod 5). Both engines compute identical doubles from the same
    * column, so `changed` never depends on cross-engine float noise.
    */
  val xDatasetDiff = Q(
    "x_dataset_diff",
    """WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS price,
                          o_orderstatus AS status
                   FROM orders WHERE o_orderkey % 7 <> 0),
            v2 AS (SELECT o_orderkey AS k,
                          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                               ELSE o_totalprice END AS price,
                          o_orderstatus AS status
                   FROM orders WHERE o_orderkey % 11 <> 0)
       SELECT coalesce(v1.k, v2.k) AS k,
              CASE WHEN v1.k IS NULL THEN 'added'
                   WHEN v2.k IS NULL THEN 'removed'
                   ELSE 'changed' END AS op
       FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
       WHERE v1.k IS NULL OR v2.k IS NULL
          OR v1.price <> v2.price OR v1.status <> v2.status
       ORDER BY k""") { (s, dir) =>
    val o = T(s, dir, "orders")
    val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
    val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("price"),
        col("o_orderstatus").as("status"))
    datasetDiff(v1, v2, Seq("k")).orderBy("k")
  }

  /** X — deterministic mode + exact median per group. Spark's built-in
    * `mode` is tie-arbitrary, so the mode here is spelled as the
    * explicit argmax (count desc, value asc) — one count agg plus a
    * per-group top-1 window, the same plan shape as x_group_topk, and
    * the identical spelling in the oracle makes ties deterministic on
    * both engines. Median is the built-in exact interpolated median on
    * both ((a+b)/2 of exactly-representable quantities — bit-identical).
    */
  val xModeMedian = Q(
    "x_mode_median",
    """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS c
                  FROM lineitem GROUP BY l_returnflag, l_quantity),
       r AS (SELECT l_returnflag, l_quantity, c,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY c DESC, l_quantity ASC) AS rn
             FROM c),
       m AS (SELECT l_returnflag, median(l_quantity) AS median_qty
             FROM lineitem GROUP BY l_returnflag)
       SELECT r.l_returnflag, r.l_quantity AS mode_qty, r.c AS mode_n,
              m.median_qty
       FROM r JOIN m ON r.l_returnflag = m.l_returnflag
       WHERE r.rn = 1
       ORDER BY r.l_returnflag""") { (s, dir) =>
    val li = T(s, dir, "lineitem")
    val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("c").desc, col("l_quantity").asc)
    val mode = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("c").as("mode_n"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(median(col("l_quantity")).as("median_qty"))
    mode.join(med, "l_returnflag").orderBy("l_returnflag")
  }

  /** X — parquet schema evolution: two batches land with different
    * schemas (the second adds `o_orderstatus`), and a `mergeSchema` read
    * unifies them — old rows surface the new column as NULL, exactly the
    * `union_by_name` contract. The staging write is per-batch overwrite
    * into the shared scratch root; the read proves the merged scan
    * (footer-merge is a driver-side metadata pass, the data files are
    * never rewritten — the cheap half of schema evolution that a real
    * lake does daily).
    */
  val xSchemaEvolution = Q(
    "x_schema_evolution",
    """SELECT o_orderstatus,
              count(*) AS n,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM (
         SELECT o_totalprice, NULL AS o_orderstatus
         FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT o_totalprice, o_orderstatus
         FROM orders WHERE o_orderkey % 3 = 1)
       GROUP BY o_orderstatus
       ORDER BY o_orderstatus NULLS FIRST""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val root = Scratch.path(s, "schevo/orders")
    orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$root/batch=1")
    orders.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$root/batch=2")
    s.read.option("mergeSchema", "true").parquet(s"$root/batch=1", s"$root/batch=2")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first)
  }

  /** X — POSITIONAL JOIN (DuckDB's join-by-row-position, full-outer
    * semantics: the shorter side null-pads). Position only exists under a
    * defined total order, so both sides are explicitly ordered and
    * numbered with a row_number window, then full-outer-joined on the
    * position — the unequal lengths (5 regions vs first 3 nations)
    * exercise the padding. The single-partition window is correct for
    * the dimension-sized frames this operator is for; at fact scale
    * join-by-position is an RDD zipPartitions affair and callers should
    * prefer a real key.
    */
  val xPositionalJoin = Q(
    "x_positional_join",
    """SELECT a.r_regionkey, a.r_name, b.n_name
       FROM (SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey) a
       POSITIONAL JOIN
            (SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3) b
       ORDER BY a.r_regionkey""") { (s, dir) =>
    val a = T(s, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
      .withColumn("rn", row_number().over(Window.orderBy(col("r_regionkey"))))
    val b = T(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .withColumn("rn", row_number().over(Window.orderBy(col("n_nationkey"))))
      .filter(col("rn") <= 3)
      .drop("n_nationkey")
    a.join(b, Seq("rn"), "full_outer")
      .select(col("r_regionkey"), col("r_name"), col("n_name"))
      .orderBy("r_regionkey")
  }

  /** X — DISTINCT ON (DuckDB's keep-first-row-per-key under an explicit
    * order): the latest-event-per-user daily driver, spelled in Spark as
    * the row_number()=1 window filter (also what QUALIFY desugars to —
    * one plan covers both syntaxes). Same keyed-window shuffle shape as
    * the SCD2/upsert family.
    */
  val xDistinctOn = Q(
    "x_distinct_on",
    """SELECT user_id, event_id AS last_event
       FROM (SELECT DISTINCT ON (user_id) user_id, event_id
             FROM events
             ORDER BY user_id, CAST(ts AS TIMESTAMP) DESC, event_id DESC)
       ORDER BY user_id""") { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    T(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event"))
      .orderBy("user_id")
  }

  /** X — UNION ALL BY NAME: schema-evolved union matching columns by
    * NAME with null padding for the missing ones (Spark's
    * unionByName(allowMissingColumns = true)) — how heterogeneous
    * batches with drifting schemas append into one table without
    * positional mixups.
    */
  val xUnionByName = Q(
    "x_union_by_name",
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM (
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 = 0
         UNION ALL BY NAME
         SELECT o_orderpriority, o_orderkey FROM orders WHERE o_orderkey % 7 = 1)
       ORDER BY o_orderkey""") { (s, dir) =>
    val o = T(s, dir, "orders")
    val a = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val b = o.filter(col("o_orderkey") % 7 === 1)
      .select(col("o_orderpriority"), col("o_orderkey"))
    a.unionByName(b, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** X — bucketed co-located join: both sides staged with
    * `Lake.writeBucketed` on the join key (8 buckets, per-bucket sorted),
    * then joined through the catalog tables. With matching bucket counts
    * Spark plans the equi-join with ZERO Exchange on either side — the
    * bucketing contract that at 100 TB turns the nightly fact⋈fact join
    * from a corpus-wide shuffle into local merges (LakeSpec asserts the
    * no-Exchange plan; at oracle scale AQE may broadcast the small side
    * instead, which also moves no fact rows). The oracle runs the same
    * join over the raw tables — staging must not change a single row.
    */
  /** One-time bucketed staging per (session, dir): the tables are the
    * durable artifact the operator is about (written once, joined by
    * every later job), so bench reps must time the co-located JOIN, not
    * two repeated saveAsTable rewrites.
    */
  private val bucketStaged = new SessionMemo[Unit]

  val xBucketedJoin = Q(
    "x_bucketed_join",
    """SELECT c_mktsegment, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, dir) =>
    // dir-suffixed table names: one JVM touching two SFs must not serve
    // one dir's join from the other's staged tables
    val suffix = java.lang.Integer.toHexString(dir.hashCode)
    val (ot, ct) = (s"graft_bkt_orders_$suffix", s"graft_bkt_customer_$suffix")
    bucketStaged(s, dir) {
      graft.sources.Lake.writeBucketed(
        T(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
        ot, "o_custkey", 8)
      graft.sources.Lake.writeBucketed(
        T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        ct, "c_custkey", 8)
    }
    s.table(ot)
      .join(s.table(ct),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), E.sumd(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }

  /** X — deterministic dense id assignment (0..N−1, no holes) WITHOUT a
    * global sort: the contiguous-ids problem every training corpus hits
    * (vec_ids for an index build, row ids for shard manifests).
    * `monotonically_increasing_id` is partition-layout-dependent and
    * hole-ridden; `row_number()` over the corpus is a single-task global
    * sort. This build buckets rows by md5 prefix (the bucket order
    * refines the target md5 order), takes per-bucket COUNTS through a
    * 256-row offset window, and ranks only within buckets — 256-way
    * parallel, the third instance of the bucket-refined decomposition
    * (x_token_budget, x_shard_assign) now covering count-rank rather
    * than sum-cumsum. Oracle runs the naive global row_number; identical
    * rows prove the decomposition exact.
    */
  val xDenseIds = Q(
    "x_dense_ids",
    """WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
       SELECT doc_id,
              CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS new_id
       FROM t ORDER BY doc_id""") { (s, dir) =>
    // rank-1 in md5 order IS the cumsum of 1s over the rows ahead — the
    // same BucketCumsum decomposition x_shard_assign uses, measure = 1
    graft.core.BucketCumsum.before(
      T(s, dir, "documents").select(col("doc_id")), "doc_id", lit(1L))
      .select(col("doc_id"), col("before").as("new_id"))
      .orderBy("doc_id")
  }

  /** X — JSON-lines sink + source round-trip: write customer as JSONL,
    * read it back with the original schema, aggregate. Completes the
    * text/columnar round-trip pair (CSV, ORC) with the format every
    * crawl/annotation pipeline actually exchanges. Doubles survive
    * because Spark's JSON writer emits the shortest round-trip
    * representation; the oracle aggregates the original parquet — green
    * iff the round-trip is lossless.
    */
  val xJsonRoundtrip = Q(
    "x_json_roundtrip",
    """SELECT CAST(c_nationkey AS BIGINT) AS nation, count(*) AS n,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total,
         max(c_name) AS last_name
       FROM customer GROUP BY 1 ORDER BY nation""") { (s, dir) =>
    val cust = T(s, dir, "customer")
    val out = Scratch.path(s, "jsonrt/customer")
    graft.sources.Lake.writeAs(cust, "json", out)
    graft.sources.Lake.readAs(s, "json", out, Some(cust.schema))
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n"), E.sumd(col("c_acctbal")).as("total"),
        max(col("c_name")).as("last_name"))
      .orderBy("nation")
  }

  /** Busiest-hour incident count for the interval join. */
  val INCIDENT_TOP = 20

  /** X — interval-overlap join, the distributed spelling: user sessions
    * (30-min-gap sessionization) joined against the top-20 busiest hours
    * ("incidents") on TIME-BUCKET EQUALITY — each session explodes into
    * the hour buckets it covers (bounded by session duration), incidents
    * are already hour-keyed, and the join is a plain equi-join on the
    * bucket. This is how interval joins scale: a naive
    * `s.start <= i.end AND i.start <= s.end` range predicate has no
    * equi-key and degenerates to a broadcast-nested-loop over the corpus,
    * while bucketing makes the shuffle hash-partitionable and the
    * per-row fan-out proportional to interval length, not corpus size
    * (same family as q13_range_join's equi+residual, for the case where
    * BOTH sides are intervals). Output: per incident hour, its event
    * count and how many sessions overlap it. Pure counts.
    */
  val xIntervalJoin = Q(
    "x_interval_join",
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       f AS (SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
             FROM e),
       s AS (SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
             FROM f),
       sess AS (SELECT user_id, session_id,
                  min(ts) AS t0, max(ts) AS t1
                FROM s GROUP BY 1, 2),
       hours AS (SELECT date_trunc('hour', ts) AS hour,
                   CAST(count(*) AS BIGINT) AS n_events
                 FROM e GROUP BY 1),
       inc AS (SELECT hour, n_events FROM hours
               ORDER BY n_events DESC, hour LIMIT $INCIDENT_TOP),
       cov AS (SELECT user_id, session_id, unnest(generate_series(
                   date_trunc('hour', t0), date_trunc('hour', t1),
                   INTERVAL 1 HOUR)) AS hour
               FROM sess)
       SELECT inc.hour, inc.n_events,
              CAST(count(cov.user_id) AS BIGINT) AS n_sessions
       FROM inc LEFT JOIN cov ON inc.hour = cov.hour
       GROUP BY 1, 2 ORDER BY inc.hour""") { (s, dir) =>
    val e = T(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"))
    val sess = sessionize(e, gapMinutes = 30)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val inc = e.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("hour")).limit(INCIDENT_TOP)
    val cov = sess.select(col("user_id"), col("session_id"),
      explode(expr(
        "sequence(date_trunc('hour', t0), date_trunc('hour', t1), interval 1 hour)"))
        .as("hour"))
    broadcast(inc).join(cov, Seq("hour"), "left")
      .groupBy("hour", "n_events")
      .agg(count(col("user_id")).as("n_sessions"))
      .orderBy("hour")
  }

  /** X — skyline / Pareto frontier: the documents no other document
    * dominates on (shorter, lexically richer) — minimize n_chars,
    * maximize distinct-word count. The classic multi-criteria operator
    * (BÖRZSÖNYI et al.'s SKYLINE OF): here it surfaces the
    * "dense" documents a curation pass would promote.
    *
    * Spelling: reduce to DISTINCT (c, d) points, keep each c's max d,
    * then one running-max sweep over c ascending — a point survives iff
    * its d strictly exceeds every smaller-c point's best d (ties on
    * both axes are mutually non-dominating and all surviving docs are
    * returned via the final equi-join). Pure integers, total order.
    *
    * Scale posture: the sweep window runs over the DISTINCT VALUE
    * domain (≤ |distinct n_chars| rows), not the corpus; at 100 TB the
    * standard two-phase skyline (per-partition local skyline, then the
    * tiny merged sweep) keeps the same final window while bounding the
    * shuffle to local survivors.
    */
  val xSkyline = Q(
    "x_skyline",
    """WITH pts AS (SELECT doc_id, n_chars AS c,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS d
           FROM documents),
       best AS (SELECT c, CAST(max(d) AS BIGINT) AS d FROM pts GROUP BY c),
       sweep AS (SELECT c, d,
               CAST(coalesce(max(d) OVER (ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 AS BIGINT) AS prev_best FROM best),
       sky AS (SELECT c, d FROM sweep WHERE d > prev_best)
       SELECT p.doc_id, p.c AS n_chars, p.d AS n_types
       FROM pts p JOIN sky ON p.c = sky.c AND p.d = sky.d
       ORDER BY p.c, p.doc_id""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pts = T(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("c"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("d"))
    val best = pts.groupBy("c").agg(max(col("d")).as("d"))
    val sky = best
      .withColumn("prev_best", coalesce(
        max(col("d")).over(Window.orderBy("c")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(-1L)))
      .filter(col("d") > col("prev_best"))
      .select("c", "d")
    pts.join(sky, Seq("c", "d"))
      .select(col("doc_id"), col("c").as("n_chars"), col("d").as("n_types"))
      .orderBy("n_chars", "doc_id")
  }

  val all: Seq[Q] =
    Seq(xSessionize, xSampleHash, xStringAgg, xRedact, xRegrAgg, xFillForward,
      xGroupTopK, xApproxPercentile, xResample, xJaroWinkler, xWindowNtile,
      xCsvRoundtrip, xOrcRoundtrip, xProvenance, xUpsert, xManifestPrune,
      xDatasetDiff, xZorderPrune, xHilbertPrune, xParquetBloomPrune,
      xParquetPagePrune, xProfile, xModeMedian,
      xSchemaEvolution,
      xPositionalJoin, xDistinctOn, xUnionByName, xBucketedJoin, xDenseIds,
      xJsonRoundtrip, xIntervalJoin, xSkyline)
}
