package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The inventory bench: every registered query timed through
  * [[Profile.Recorder]] (built, then materialised in full through the
  * noop sink), one JSON line per full sweep appended to
  * bench_history.jsonl and compared against earlier lines of the same SF
  * and harness.
  */
object Bench {
  /** Queries whose hot path runs a custom codegen'd Catalyst expression
    * (ArrayDotProduct / SortedLongArrayIntersect). Janino compilation of
    * generated code happens on first execution (~5-7 s once per JVM) and
    * must not be charged to the first timed rep.
    */
  private val codegenWarmup = Seq("q34_vector_topk", "x_char_ngram_jaccard")

  /** Canary gate: the box enters multi-minute slow phases where EVERY
    * query on every engine runs ~2x while all three loadavg samples read
    * idle — loadavg alone cannot flag them. Two cheap control queries are
    * therefore timed immediately BEFORE and AFTER the sweep, each against
    * a band derived from this SF's own clean history ([[canaryBands]]).
    * `canary_in_band=false` in the artifact means "this capture ran in a
    * degraded window — don't trust its totals or flags for the record";
    * null means no clean reference line exists yet, and the raw
    * canary_entry_s/canary_exit_s times are still recorded.
    */
  private[graft] val canaries: Seq[String] = Seq("q01_clean", "q05_tpch_q1")

  /** The timing harness, tagged on every history line: each rep builds
    * the query and materialises every row and column through the noop
    * sink. Untagged lines were timed by `count()`, which lets Catalyst
    * prune columns and drop sorts, so the gates never compare against
    * them.
    */
  private[graft] val harness = "noop"

  def main(args: Array[String]): Unit = {
    // entry loadavg, read BEFORE the session/warm-up exists: the only
    // sample that measures the BOX rather than the bench itself (any
    // later 1-min loadavg includes our own local[N] saturation)
    val loadEntry = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val lines = historyLines()
    val hist = history(sfDir, lines)
    val spark = Sessions.local()
    Profile.warm(spark, sfDir)
    val rec = new Profile.Recorder(spark)
    val queries = SparkEntry.queries
    // the one timed call: build, then materialise through the noop sink
    def time(name: String): Profile.Record =
      rec.run(name)(queries(name)(spark, sfDir))
    def wall(r: Profile.Record): Double = if (r.error.isEmpty) r.wallS else -1.0
    // compile the custom-expression codegen paths before timing starts;
    // the canary queries warm too — the ENTRY canary probe must measure
    // the box, not this JVM's first-execution codegen of q01/q05
    (codegenWarmup ++ canaries).filter(queries.contains).foreach(time)
    // min of N reps per query: single-machine timings here vary ±50%
    // run-to-run; the min is the stable estimate of the data-path cost
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // canary probe: min of 2 reps on each control query, warm session
    def canaryProbe(): Seq[(String, Double)] =
      canaries.map(name => name -> (1 to 2).map(_ => wall(time(name))).min)
    val canaryEntry = canaryProbe()
    // comma-separated name-prefix filter for quick iteration on a subset;
    // filtered runs never overwrite the full-run history
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val errors = mutable.ArrayBuffer.empty[String]
    // 1-min loadavg at sweep start/end too: the box gets EXTERNAL load
    // spikes that double-to-quadruple timings, and without the record the
    // permanent bench artifact can't distinguish a spike from a
    // regression. These two samples INCLUDE the bench's own load — they
    // contextualize the sweep; only loadEntry judges the box.
    val loadStart = loadavg()
    // per query: the first rep's wall and the min-wall successful rep
    val records = mutable.Map.empty[String, (Double, Profile.Record)]
    // Queries whose build wrote files in any sweep rep (commit/merge/
    // replay sequences, staged layouts, format round-trips, checkpointed
    // replays with store appends, persisted index builds), while the
    // DuckDB oracle is a no-write recompute: their wall contains write
    // I/O by design, so a cross-engine ratio on them measures that
    // asymmetry, not the engine. Tagged `class: "store_rw"` in the
    // artifact so a flag ships its explanation.
    val storeRw = mutable.Set.empty[String]
    val results = queries.keys.toSeq.sorted
      .filter(name => only.forall(_.exists(name.startsWith)))
      .map { name =>
        // Sub-second queries get up to 2 extra reps: on a shared box a
        // single descheduling blip doubles a 0.15 s measurement and
        // min-of-2 still keeps the blip one run in four. Heavy queries
        // keep the configured rep count.
        val runs = mutable.ArrayBuffer.empty[Profile.Record]
        def ok = runs.forall(_.error.isEmpty)
        while (runs.length < reps ||
            (ok && runs.length < reps + 2 && runs.map(_.wallS).min < 0.5)) {
          val r = time(name)
          r.error.foreach(e => System.err.println(s"BENCH ERROR $name: $e"))
          runs += r
        }
        if (runs.exists(_.outputBytes > 0)) storeRw += name
        // a crashed query must not deflate the total: report it as -1
        if (!ok) { errors += name; name -> -1.0 }
        else {
          val best = runs.minBy(_.wallS)
          records(name) = (runs.head.wallS, best)
          name -> best.wallS
        }
      }
    // regression check vs the previous bench run at the same SF, if any
    val prev = previousBench(hist)
    val flagged = results.collect {
      case (n, t) if prev.get(n).exists(p => isRegression(t, p)) => n
    }
    // Confirmation rep: an external load spike on this box inflates a
    // contiguous alphabetical block of queries 3-15x. Re-measure each
    // flagged query once, after the full sweep, and keep the better time
    // — a real regression reproduces, a spike doesn't.
    val (confirmedTimes, regressions) = confirmRegressions(
      flagged, results.toMap, prev,
      name => {
        val r = time(name)
        records.get(name).foreach { case (first, best) =>
          if (r.error.isEmpty && r.wallS < best.wallS) records(name) = (first, r)
        }
        wall(r)
      })
    val dismissed = flagged.filterNot(regressions.contains)
    if (dismissed.nonEmpty)
      System.err.println(s"BENCH SPIKE DISMISSED (confirmation rep reverted): ${dismissed.mkString(",")}")
    val results2 = results.map { case (n, t) => n -> confirmedTimes.getOrElse(n, t) }
    val vsPrev = results2.flatMap { case (name, t) =>
      prev.get(name).collect { case p if p > 0 && t > 0 =>
        name -> BigDecimal(t / p).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      }
    }
    regressions.foreach(n => System.err.println(s"BENCH REGRESSION >2x vs prev round (survived confirmation rep): $n"))
    val canaryExit = canaryProbe()
    rec.close()
    val clean = cleanRuns(hist, 3)
    val canaryOk = for {
      entry <- inBand(canaryBands(clean.map(_.canaryEntry)), canaryEntry.toMap)
      exit <- inBand(canaryBands(clean.map(_.canaryExit)), canaryExit.toMap)
    } yield entry && exit
    if (canaryOk.contains(false))
      System.err.println(s"BENCH CANARY OUT OF BAND (degraded window; totals/flags unreliable): entry=$canaryEntry exit=$canaryExit")
    // mid-sweep contamination verdict: the entry/exit canary bounds the
    // sweep but is blind to load that starts AND ends between the probes.
    // Score every query's time against the min of the last 3 CLEAN
    // same-SF runs and take the max windowed-median ratio over the
    // alphabetical sweep order — an external spike inflates a contiguous
    // block, which no per-query confirmation rep (run under the same
    // load) can clear.
    val sweepDev = sweepDeviation(results2.sortBy(_._1), clean.map(_.queries))
    val sweepInBand: Option[Boolean] = sweepDev.map { case (_, _, maxWin) =>
      maxWin <= sweepBandMax &&
        canaryOk.forall(identity) && loadEntry <= 1.5
    }
    if (sweepInBand.contains(false))
      System.err.println(s"BENCH SWEEP OUT OF BAND (deviation vs clean band; adjudicate before trusting): $sweepDev")
    val loadEnd = loadavg()
    val qs = secs(results2)
    // Only the LAST 2000 chars of stdout are kept by the run record, and
    // the full per-query map is ~4 KB: the stdout line carries the total
    // plus a headline subset that fits the window; the complete
    // per-query map goes to stderr and bench_history.jsonl.
    val headQs = secs(results2.filter { case (k, _) => headlineNames(k) })
    val errs = strs(errors.toSeq)
    val dism = strs(dismissed)
    // pre-annotate every FLAGGED query with its class so the artifact
    // explains its own flags; kept to the flagged set on stdout, with the
    // full class map on the history line below
    def classes(names: Seq[String]): String =
      obj(names.filter(storeRw.contains).map(_ -> "\"store_rw\""))
    val flagClasses = classes((regressions ++ dismissed).distinct)
    val loads = Seq(loadEntry, loadStart, loadEnd).map(fmt).mkString("[", ",", "]")
    val canaryJson = s""""canary_entry_s":${secs(canaryEntry)},"canary_exit_s":${secs(canaryExit)},"canary_in_band":${json(canaryOk)}"""
    val sweepJson = sweepDev match {
      case Some((n, med, maxWin)) =>
        s""""sweep_dev":${obj(Seq("n_scored" -> n.toString, "median" -> fmt(med), "max_window_median" -> fmt(maxWin), "band_max" -> sweepBandMax.toString))},"sweep_in_band":${json(sweepInBand)}"""
      case None =>
        s""""sweep_dev":null,"sweep_in_band":null"""
    }
    // sustained external load inflates every timing AND survives the
    // confirmation rep (which runs under the same load) — mark the run so
    // the permanent record says "don't trust regressions/totals here" in
    // its own words. Judged on the ENTRY sample only: start/end loadavg
    // include the bench's own local[N] saturation and would flag every
    // run. Known blind spots: external load STARTING after entry is
    // missed (the [entry,start,end] triple is the record for a reader to
    // judge), and a bench launched <2 min after another saturating JVM
    // exits reads that JVM's decaying load and flags a clean run.
    val loadHigh = loadEntry > 1.5
    val total = results2.map(_._2).filter(_ > 0).sum
    System.err.println(s"""BENCH FULL {"queries":$qs,"vs_prev":${obj(vsPrev)}}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results2.size},"queries":$headQs,"errors":$errs,"regressions":${strs(regressions)},"flag_classes":$flagClasses,"spikes_dismissed":$dism,"loadavg":$loads,"load_high":$loadHigh,$canaryJson,$sweepJson,"sf":"$sfDir"}""")
    // persist this run APPEND-ONLY: one JSONL line per full run, so every
    // run's per-query numbers stay auditable on disk
    if (only.isEmpty) try {
      val w = new java.io.FileWriter(historyFile, true) // append
      try {
        val recs = obj(results2.flatMap { case (n, _) =>
          records.get(n).map { case (first, r) => n -> recordJson(first, r) }
        })
        w.write(s"""{"run":${lines.count(_.trim.nonEmpty) + 1},"sf":"$sfDir","harness":"$harness","loadavg":$loads,"load_high":$loadHigh,$canaryJson,$sweepJson,"spikes_dismissed":$dism,"classes":${classes(results2.map(_._1))},"queries":$qs,"records":$recs}""" + "\n")
      }
      finally w.close()
    } catch { case _: Exception => } // read-only checkout: skip, don't fail
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Re-measure each flagged query once and keep the better (smaller)
    * valid time; a flag that no longer trips [[isRegression]] against the
    * same previous-run time was an external load spike, not a code change,
    * and is dropped. Pure apart from the injected `remeasure` so the spike
    * scenario is unit-testable (BenchGateSpec).
    *
    * @return (updated per-query times, flags that survived confirmation)
    */
  def confirmRegressions(
      flagged: Seq[String],
      times: Map[String, Double],
      prev: Map[String, Double],
      remeasure: String => Double): (Map[String, Double], Seq[String]) = {
    val updated = flagged.foldLeft(times) { (ts, name) =>
      val t2 = remeasure(name)
      if (t2 > 0 && (ts(name) <= 0 || t2 < ts(name))) ts.updated(name, t2) else ts
    }
    val survived = flagged.filter(n =>
      prev.get(n).exists(p => isRegression(updated(n), p)))
    (updated, survived)
  }

  /** Mid-sweep contamination gate threshold: the max windowed-median
    * ratio a sweep may show against the clean band. Calibrated on runs
    * 78-86: genuinely clean sweeps read ≤1.22 (runs 82/84), the two
    * canary-flagged driver records read 1.44/1.75 (runs 85/81), and the
    * two sweeps that needed adjudication read 1.55/2.15 (runs 80/83 — 83's
    * deviation was real code regressions, which is exactly the "adjudicate
    * before trusting" semantics the flag carries).
    */
  private[graft] val sweepBandMax = 1.4

  /** Per-query deviation of this sweep vs the min of the last clean runs:
    * (n scored, global median ratio, max median over sweep-order windows
    * of 40). Queries are scored only when both sides are valid and at
    * least one is ≥0.15 s (below that, box noise alone exceeds any
    * threshold). None when no clean reference run exists. Pure —
    * unit-tested in BenchGateSpec.
    */
  def sweepDeviation(
      resultsSorted: Seq[(String, Double)],
      refs: Seq[Map[String, Double]],
      window: Int = 40): Option[(Int, Double, Double)] = {
    if (refs.isEmpty) return None
    val ratios = resultsSorted.flatMap { case (name, cur) =>
      val ref = refs.flatMap(_.get(name)).filter(_ > 0).minOption
      ref.collect { case r if cur > 0 && math.max(cur, r) >= 0.15 => cur / r }
    }
    if (ratios.isEmpty) return None
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val w = math.min(window, ratios.size)
    val maxWin = (0 to ratios.size - w)
      .map(i => median(ratios.slice(i, i + w))).max
    Some((ratios.size, median(ratios), maxWin))
  }

  /** One bench_history.jsonl line as the gates read it. `loadEntry` is
    * the leading element of the recorded loadavg triple (NaN if absent);
    * `records` maps a query to its per-query record ([[recordJson]]).
    */
  private[graft] final case class Run(
      sf: String, harness: Option[String], loadEntry: Double,
      canaryInBand: Option[Boolean], sweepInBand: Option[Boolean],
      canaryEntry: Map[String, Double], canaryExit: Map[String, Double],
      queries: Map[String, Double],
      records: Map[String, Map[String, Double]]) {

    /** Entry loadavg ≤ 1.5 and neither the canary nor the sweep flag
      * false (null — no reference yet — does not disqualify a line).
      */
    def clean: Boolean = loadEntry <= 1.5 &&
      !canaryInBand.contains(false) && !sweepInBand.contains(false)
  }

  private val mapper = new ObjectMapper()

  /** Parse one history line; None for a blank or malformed line. */
  private[graft] def parseRun(line: String): Option[Run] = {
    val n = try mapper.readTree(line) catch { case _: Exception => null }
    Option(n).filter(_.isObject).map { n =>
      def entries(node: JsonNode): Seq[(String, JsonNode)] =
        node.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
      def nums(node: JsonNode): Map[String, Double] =
        entries(node).collect { case (k, v) if v.isNumber => k -> v.asDouble }.toMap
      def flag(f: String): Option[Boolean] =
        Option(n.get(f)).filter(_.isBoolean).map(_.asBoolean)
      val load = n.path("loadavg").path(0)
      Run(n.path("sf").asText(""), Option(n.get("harness")).map(_.asText),
        if (load.isNumber) load.asDouble else Double.NaN,
        flag("canary_in_band"), flag("sweep_in_band"),
        nums(n.path("canary_entry_s")), nums(n.path("canary_exit_s")),
        nums(n.path("queries")),
        entries(n.path("records")).map { case (q, r) => q -> nums(r) }.toMap)
    }
  }

  /** The lines of `sfDir` timed by this bench's [[harness]], newest
    * first; every gate reads history through this one parse.
    */
  private[graft] def history(sfDir: String, lines: Seq[String]): Seq[Run] =
    lines.reverse.flatMap(parseRun)
      .filter(r => r.sf == sfDir && r.harness.contains(harness))

  /** Previous per-query seconds: the newest run in `hist` (cross-SF and
    * cross-harness ratios are meaningless, so [[history]] excludes them).
    */
  private[graft] def previousBench(hist: Seq[Run]): Map[String, Double] =
    hist.headOption.map(_.queries).getOrElse(Map.empty)

  /** The newest `n` clean runs in `hist`. */
  private[graft] def cleanRuns(hist: Seq[Run], n: Int): Seq[Run] =
    hist.filter(_.clean).take(n)

  /** Per canary, 1.5x its fastest valid time over `probes`, one probe's
    * times from each clean run; a canary never validly timed gets no
    * band. Entry and exit each get their own band: the exit probe runs on
    * a JVM the whole sweep has warmed and reads about half the entry
    * probe's time, so one band from both would fail most clean entries.
    */
  private[graft] def canaryBands(probes: Seq[Map[String, Double]]): Map[String, Double] =
    canaries.flatMap { name =>
      probes.flatMap(_.get(name)).filter(_ > 0).minOption.map(name -> 1.5 * _)
    }.toMap

  /** Every canary's probe time valid and within its band; None when a
    * canary has no band.
    */
  private[graft] def inBand(bands: Map[String, Double],
      probe: Map[String, Double]): Option[Boolean] =
    if (!canaries.forall(bands.contains)) None
    else Some(canaries.forall(name =>
      probe.get(name).exists(t => t > 0 && t <= bands(name))))

  /** 1-minute loadavg from /proc/loadavg, or -1 where unreadable. */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Material-regression gate (unit-tested in BenchGateSpec):
    *   - big mover: >2x AND now >0.5 s AND >1 s absolute slowdown, OR
    *   - steep mover: >2.5x AND now above the ~0.3 s local job floor —
    *     catches a 0.35 s -> 1.05 s creep that the absolute gate misses
    *     (round-3's q19_union), while queries ON the floor stay exempt
    *     (box noise alone exceeds 2x down there).
    */
  def isRegression(cur: Double, prevT: Double): Boolean =
    cur > 0 && prevT > 0 && (
      (cur / prevT > 2.0 && cur > 0.5 && cur - prevT > 1.0) ||
        (cur / prevT > 2.5 && cur > 0.3))

  /** Queries surfaced on the stdout JSON line (the driver keeps only the
    * last 2000 chars of output): the flagship relational set, the
    * streaming twins, and every historically-expensive or judge-tracked
    * entry. Everything else still counts toward "value" and is persisted
    * in full to bench_history.jsonl.
    */
  private val headlineNames: Set[String] = Set(
    "q01_clean", "q02_daily_agg", "q05_tpch_q1", "q10_tpch_q3",
    "q13_range_join", "q18_topk", "q28_stream_tumbling",
    "q30_stream_stream_join", "q33_minhash_neardup", "q34_vector_topk",
    "x_char_ngram_jaccard", "x_embed_nn", "x_embed_neardup", "x_ann_ivf",
    "x_dedup_families", "x_incremental_neardup", "x_curation_pipeline",
    "x_full_curation",
    "x_zorder_prune", "x_profile",
    "x_bigram_lm", "x_lm_crossppl", "x_quality_classifier",
    "x_bpe_tokenize", "x_embed_cluster",
    "x_pagerank", "x_pmi_terms", "x_common_neighbors", "x_bm25",
    "x_setsim_join")

  private val historyFile = "bench_history.jsonl"

  private def historyLines(): Seq[String] = {
    val f = new java.io.File(historyFile)
    if (!f.exists()) Nil
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toList finally src.close()
    }
  }

  /** One query's record on the history line, from its min-wall rep plus
    * the first rep's wall (which keeps the one-time first-execution
    * cost the min hides).
    */
  private[graft] def recordJson(firstWallS: Double, r: Profile.Record): String =
    obj(Seq(
      "first_s" -> fmt(firstWallS), "build_s" -> fmt(r.buildS),
      "plan_s" -> fmt(r.planS), "exec_s" -> fmt(r.execS),
      "jobs" -> r.jobs.size.toString, "tasks" -> r.tasks.toString,
      "cpu_s" -> fmt(r.cpuS),
      "shuffle_read_bytes" -> r.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> r.shuffleWriteBytes.toString,
      "spill_bytes" -> r.spillBytes.toString))

  /** A JSON object over already-rendered values: every map Bench emits. */
  private[graft] def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def secs(kvs: Seq[(String, Double)]): String =
    obj(kvs.map { case (k, v) => k -> fmt(v) })

  private def strs(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def json(b: Option[Boolean]): String = b.map(_.toString).getOrElse("null")

  private def fmt(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
