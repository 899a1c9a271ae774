package graft

object Bench {
  /** Queries whose hot path runs a custom codegen'd Catalyst expression
    * (ArrayDotProduct / SortedLongArrayIntersect). Janino compilation of
    * generated code happens on first execution (~5-7 s once per JVM) and
    * must not be charged to the first timed rep.
    */
  private val codegenWarmup = Seq("q34_vector_topk", "x_char_ngram_jaccard")

  /** Canary gate (round-14 capture discipline, baked in per verdict-r14
    * ask 2): the box enters multi-minute slow phases where EVERY query on
    * every engine runs ~2x while all three loadavg samples read idle and
    * /proc/stat steal is 0.0 — loadavg alone cannot flag them. Two cheap
    * control queries are therefore timed immediately BEFORE and AFTER the
    * sweep; the bands below are ~1.5x their idle sf0.1/32cpu ceilings
    * (q01_clean 0.11-0.14 s, q05_tpch_q1 0.25-0.31 s across rounds 13-14).
    * `canary_in_band=false` in the artifact means "this capture ran in a
    * degraded window — don't trust its totals or flags for the record";
    * it pre-flags a contaminated BENCH_rNN.json instead of requiring a
    * post-hoc adjudication every round (r13 landed at loadavg 3.34, r14
    * at 7.42). Bands are calibrated at sf0.1 / 32 cpus and the VERDICT
    * is only applied at that calibrated SF dir (round-15 advice: a
    * legitimate capture at a larger SF or smaller box would trip the
    * one-sided gate and permanently brand a clean run untrustworthy);
    * other SF dirs still emit the raw canary_entry_s/canary_exit_s
    * times, with canary_in_band null.
    */
  private[graft] val canaryBands: Seq[(String, Double)] =
    Seq("q01_clean" -> 0.20, "q05_tpch_q1" -> 0.40)

  /** The SF dir the canary bands were calibrated against. */
  private[graft] val canaryCalibratedSf = "/root/testdata/sf0.1"

  /** Queries whose build performs REAL store writes in-query — multi-
    * generation commit/merge/replay sequences, staged prune layouts,
    * format round-trips, streaming checkpoint replays, persisted index
    * builds — while the DuckDB oracle is a no-write arithmetic recompute.
    * Their wall contains write+commit I/O BY DESIGN, so a cross-engine
    * ratio on them measures the asymmetry, not the engine; every round's
    * BENCH_COMPARISON re-derives this list in prose when the driver flags
    * one. Tagging them in the artifact (`class: "store_rw"`) ships the
    * explanation with the flag. Membership = every Q whose build writes
    * a store (audited sweep, round 14; new store-writing queries must be
    * added here — BenchClassSpec cross-checks the list against the
    * registry).
    */
  private[graft] val storeRwClass: Set[String] = Set(
    // sources/: versioned-lake maintenance + commit protocol
    "x_catalog_txn", "x_lake_branch", "x_equality_deletes", "x_wap_publish",
    "x_orphan_gc", "x_incremental_stats", "x_concurrent_commit",
    "x_compact_commit_race", "x_compaction_plan", "x_optimize_pipeline",
    "x_time_travel", "x_vacuum_audit",
    // pipeline/: medallion maintenance
    "x_gold_incremental", "x_gold_retraction", "x_malformed_audit",
    "x_quarantine_replay", "x_schema_drift", "x_mv_join_refresh",
    // streaming/: checkpointed replays with store appends
    "x_stream_upsert", "x_stream_trending", "x_stream_late",
    "x_stream_curation", "x_stream_additive_mv",
    // ops/: format round-trips, staged prune layouts, bucketed tables
    "x_csv_roundtrip", "x_orc_roundtrip", "x_json_roundtrip", "x_upsert",
    "x_manifest_prune", "x_zorder_prune", "x_hilbert_prune",
    "x_parquet_bloom_prune", "x_parquet_page_prune", "x_schema_evolution",
    "x_bucketed_join", "x_observe_metrics",
    // llmops/: persisted-index builds and incremental appends
    "x_ivfpq_search", "x_ivfpq_incremental", "x_semdedup_incremental",
    "x_incremental_curation", "x_cdc_incremental", "x_forget_user")

  def main(args: Array[String]): Unit = {
    // entry loadavg, read BEFORE the session/warm-up exists: the only
    // sample that measures the BOX rather than the bench itself (any
    // later 1-min loadavg includes our own local[N] saturation)
    val loadEntry = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // warm the session once (JIT, codegen cache, FS/footer caches) so the
    // first timed query isn't charged session startup
    // through the Tables loader, not a raw read: events.parquet is
    // TIMESTAMP(NANOS) and a raw vectorized read fails the task (so the
    // events footer/JIT warm-up silently never happened before)
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables(spark, sfDir, t).count()
      catch { case scala.util.control.NonFatal(_) => }
    }
    // compile the custom-expression codegen paths before timing starts;
    // the canary queries warm too — the ENTRY canary probe must measure
    // the box, not this JVM's first-execution codegen of q01/q05 (run 78
    // measured the unwarmed entry canary 2.5-3x its in-band ceiling in a
    // window the external gate had just cleared)
    (codegenWarmup ++ canaryBands.map(_._1)).foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
    // min of N reps per query: single-machine timings here vary ±50%
    // run-to-run; the min is the stable estimate of the data-path cost
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // canary probe: min of 2 reps on each control query, warm session
    def canaryProbe(): Seq[(String, Double)] = canaryBands.map { case (name, _) =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => }
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }
    val canaryEntry = canaryProbe()
    // comma-separated name-prefix filter for quick iteration on a subset;
    // filtered runs never overwrite the full-run history
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // 1-min loadavg at sweep start/end too: the box gets EXTERNAL load
    // spikes that double-to-quadruple timings, and without the record the
    // permanent bench artifact can't distinguish a spike from a
    // regression (round 5's record overstated the total 1.6x). These two
    // samples INCLUDE the bench's own load (warm-up/sweep saturate the
    // JVM) — they contextualize the sweep; only loadEntry judges the box.
    val loadStart = loadavg()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, fn) =>
      var ok = true
      // Sub-second queries get up to 2 extra reps: on a shared box a
      // single descheduling blip doubles a 0.15 s measurement and
      // min-of-2 still keeps the blip one run in four — exactly the
      // noise the round-4 driver run flagged as eight false
      // "regressions". Extra reps cost ~0.15 s each on the queries that
      // get them; heavy queries keep the configured rep count.
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (times.length < reps ||
          (ok && times.length < reps + 2 && times.min < 0.5)) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case scala.util.control.NonFatal(e) => ok = false; System.err.println(s"BENCH ERROR $name: ${e.getMessage}") }
        times += (System.nanoTime() - t0) / 1e9
      }
      if (!ok) errors += name
      // a crashed query must not deflate the total: report it as -1
      name -> (if (ok) times.min else -1.0)
    }
    // regression check vs the previous bench run at the same SF, if any
    val prev = previousBench(sfDir)
    val flagged = results.collect {
      case (n, t) if prev.get(n).exists(p => isRegression(t, p)) => n
    }
    // Confirmation rep: an external load spike on this box inflates a
    // contiguous alphabetical block of queries 3-15x (round-5's driver run
    // flagged 18 phantom regressions that way). Re-measure each flagged
    // query once, after the full sweep, and keep the better time — a real
    // regression reproduces, a spike doesn't.
    val (confirmedTimes, regressions) = confirmRegressions(
      flagged, results.toMap, prev,
      name => {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        // NonFatal only: an OOM/fatal JVM error must abort the sweep, not
        // be recorded as a quiet -1 on a possibly-broken JVM
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case scala.util.control.NonFatal(_) => -1.0 }
      })
    val dismissed = flagged.filterNot(regressions.contains)
    if (dismissed.nonEmpty)
      System.err.println(s"BENCH SPIKE DISMISSED (confirmation rep reverted): ${dismissed.mkString(",")}")
    val results2 = results.map { case (n, t) => n -> confirmedTimes.getOrElse(n, t) }
    val vsPrev = results2.flatMap { case (name, t) =>
      prev.get(name).collect { case p if p > 0 && t > 0 =>
        name -> BigDecimal(t / p).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    regressions.foreach(n => System.err.println(s"BENCH REGRESSION >2x vs prev round (survived confirmation rep): $n"))
    val canaryExit = canaryProbe()
    // verdict only at the calibrated SF (null elsewhere — raw probe
    // times still recorded for the reader). Paths are NORMALIZED before
    // comparing (round-16 advice): a trailing slash, relative spelling or
    // symlink of the calibrated dir must not silently disable the gate
    // exactly where it applies.
    def normPath(p: String): String =
      try java.nio.file.Paths.get(p).toRealPath().toString
      catch { case _: Exception =>
        java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString }
    val canaryInBand: Option[Boolean] =
      if (normPath(sfDir) != normPath(canaryCalibratedSf)) None
      else Some(canaryBands.forall { case (name, bar) =>
        canaryEntry.exists { case (n, t) => n == name && t > 0 && t <= bar } &&
          canaryExit.exists { case (n, t) => n == name && t > 0 && t <= bar }
      })
    if (canaryInBand.contains(false))
      System.err.println(s"BENCH CANARY OUT OF BAND (degraded window; totals/flags unreliable): entry=$canaryEntry exit=$canaryExit")
    // mid-sweep contamination verdict (round-16 verdict ask 2): the
    // entry/exit canary bounds the sweep but is blind to load that starts
    // AND ends between the probes (runs 80/81/85 precedent). Score every
    // query's time against the min of the last 3 CLEAN same-SF runs and
    // take the max windowed-median ratio over the alphabetical sweep
    // order — an external spike inflates a contiguous block, which no
    // per-query confirmation rep (run under the same load) can clear.
    val sweepDev = sweepDeviation(results2.sortBy(_._1), cleanRuns(sfDir, 3))
    val sweepInBand: Option[Boolean] = sweepDev.map { case (_, _, maxWin) =>
      maxWin <= sweepBandMax &&
        canaryInBand.forall(identity) && loadEntry <= 1.5
    }
    if (sweepInBand.contains(false))
      System.err.println(s"BENCH SWEEP OUT OF BAND (deviation vs clean band; adjudicate before trusting): $sweepDev")
    val loadEnd = loadavg()
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results2.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // The driver captures only the LAST 2000 chars of stdout; a 144-query
    // map is ~4 KB, so printing it inline guarantees the driver's parse
    // fails (BENCH_r01..r04 all have "parsed": null). The stdout line
    // carries the total plus a headline subset that fits the window; the
    // complete per-query map goes to stderr and bench_history.jsonl.
    val headQs = results2.filter { case (k, _) => headline(k) }
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val vp = vsPrev.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map(e => s"\"$e\"").mkString("[", ",", "]")
    val regs = regressions.map(r => s"\"$r\"").mkString("[", ",", "]")
    val dism = dismissed.map(r => s"\"$r\"").mkString("[", ",", "]")
    // pre-annotate every FLAGGED query with its class so the artifact
    // explains its own flags (verdict-r13 ask 6); kept to the flagged set
    // on stdout — the driver stores only the last 2000 chars — with the
    // full class map on the history line below
    val flagClasses = (regressions ++ dismissed).distinct
      .filter(storeRwClass.contains)
      .map(n => s"\"$n\":\"store_rw\"").mkString("{", ",", "}")
    val loads = s"[${fmt(loadEntry)},${fmt(loadStart)},${fmt(loadEnd)}]"
    def canaryJson(c: Seq[(String, Double)]): String =
      c.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val canaries = s""""canary_entry_s":${canaryJson(canaryEntry)},"canary_exit_s":${canaryJson(canaryExit)},"canary_in_band":${canaryInBand.map(_.toString).getOrElse("null")}"""
    val sweepJson = sweepDev match {
      case Some((n, med, maxWin)) =>
        s""""sweep_dev":{"n_scored":$n,"median":${fmt(med)},"max_window_median":${fmt(maxWin)},"band_max":$sweepBandMax},"sweep_in_band":${sweepInBand.map(_.toString).getOrElse("null")}"""
      case None =>
        s""""sweep_dev":null,"sweep_in_band":null"""
    }
    // per-phase walls recorded by composite builds (index build vs
    // search pricing — PhaseTiming scaladoc); small by construction
    val phases = graft.core.PhaseTiming.snapshot().toSeq.sortBy(_._1)
      .map { case (q, ps) =>
        s"\"" + q + "\":" + ps.toSeq.sortBy(_._1)
          .map { case (p, (lo, hi)) =>
            s"""\"$p\":{\"min\":${fmt(lo)},\"max\":${fmt(hi)}}""" }
          .mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    // sustained external load inflates every timing AND survives the
    // confirmation rep (which runs under the same load) — mark the run so
    // the permanent record says "don't trust regressions/totals here" in
    // its own words. Judged on the ENTRY sample only: start/end loadavg
    // include the bench's own local[N] saturation and would flag every
    // run (run 16 proved it: normal timings, self-load 2.8). Known blind
    // spots, accepted because loadavg cannot separate self from external
    // load mid-sweep: external load STARTING after entry is missed (the
    // [entry,start,end] triple is the record for a reader to judge), and
    // a bench launched <2 min after another saturating JVM exits reads
    // that JVM's decaying load and flags a clean run — conservative.
    val loadHigh = loadEntry > 1.5
    val total = results2.map(_._2).filter(_ > 0) match {
      case s if s.nonEmpty => s.sum
      case _ => 0.0
    }
    System.err.println(s"""BENCH FULL {"queries":$qs,"vs_prev":$vp}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results2.size},"queries":$headQs,"errors":$errs,"regressions":$regs,"flag_classes":$flagClasses,"spikes_dismissed":$dism,"loadavg":$loads,"load_high":$loadHigh,$canaries,$sweepJson,"phase_s":$phases,"sf":"$sfDir"}""")
    // persist this run APPEND-ONLY: one JSONL line per full run, so every
    // round's per-query numbers stay auditable on disk (the pre-round-4
    // overwrite destroyed round N-1's numbers each run; the driver's
    // truncated tail capture was the only — lossy — record)
    if (only.isEmpty) try {
      val w = new java.io.FileWriter(historyFile, true) // append
      try {
        val allClasses = results2.collect {
          case (n, _) if storeRwClass.contains(n) => s"\"$n\":\"store_rw\""
        }.mkString("{", ",", "}")
        w.write(s"""{"run":${runCount() + 1},"sf":"$sfDir","loadavg":$loads,"load_high":$loadHigh,$canaries,$sweepJson,"phase_s":$phases,"spikes_dismissed":$dism,"classes":$allClasses,"queries":$qs}""" + "\n")
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
      val ref = refs.flatMap(_.get(name)).filter(_ > 0) match {
        case s if s.nonEmpty => Some(s.min)
        case _ => None
      }
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

  /** Per-query times of the last `n` CLEAN full runs at `sfDir` from
    * bench_history.jsonl: canary in band, entry loadavg ≤ 1.5 (the
    * leading element of the recorded loadavg triple), sweep flag (when
    * present on the line) not false.
    */
  private def cleanRuns(sfDir: String, n: Int): Seq[Map[String, Double]] = {
    val f = new java.io.File(historyFile)
    if (!f.exists()) return Seq.empty
    def parse(text: String): Option[Map[String, Double]] = {
      val sfOk = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(text)
        .exists(_.group(1) == sfDir)
      val canaryOk = "\"canary_in_band\"\\s*:\\s*true".r
        .findFirstIn(text).isDefined
      val sweepOk = "\"sweep_in_band\"\\s*:\\s*false".r
        .findFirstIn(text).isEmpty
      val loadOk = "\"loadavg\"\\s*:\\s*\\[\\s*(-?[0-9.]+)".r
        .findFirstMatchIn(text).exists(_.group(1).toDouble <= 1.5)
      if (!sfOk || !canaryOk || !sweepOk || !loadOk) None
      else Some {
        val inner = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(text)
          .map(_.group(1)).getOrElse("")
        "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r.findAllMatchIn(inner)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    scala.io.Source.fromFile(f).getLines().toSeq.reverse
      .flatMap(parse).take(n)
  }

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

  private def headline(name: String): Boolean = headlineNames.contains(name)

  private val historyFile = "bench_history.jsonl"
  private val legacyHistoryFile = "bench_history.json"

  private def runCount(): Int = {
    val f = new java.io.File(historyFile)
    if (!f.exists()) 0
    else scala.io.Source.fromFile(f).getLines().count(_.trim.nonEmpty)
  }

  /** Previous per-query seconds: the LAST line of bench_history.jsonl
    * recorded at the same SF dir (cross-SF ratios are meaningless);
    * falls back to the pre-round-4 single-object bench_history.json.
    * Regex parse keeps this dependency-free.
    */
  private def previousBench(sfDir: String): Map[String, Double] = {
    def parse(text: String): Option[Map[String, Double]] = {
      val sfOk = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(text)
        .exists(_.group(1) == sfDir)
      if (!sfOk) None
      else Some {
        val inner = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(text)
          .map(_.group(1)).getOrElse("")
        "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r.findAllMatchIn(inner)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val f = new java.io.File(historyFile)
    val fromJsonl =
      if (!f.exists()) None
      else scala.io.Source.fromFile(f).getLines().toSeq.reverse
        .flatMap(parse).headOption
    fromJsonl.orElse {
      val legacy = new java.io.File(legacyHistoryFile)
      if (!legacy.exists()) None
      else parse(scala.io.Source.fromFile(legacy).mkString)
    }.getOrElse(Map.empty)
  }
}
