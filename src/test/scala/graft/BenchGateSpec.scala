package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate is pure arithmetic — test the exact
  * boundaries that bit in rounds 2-3: sub-second noise must NOT flag,
  * a 3x creep on a 0.4 s query MUST (round-3's q19_union slipped under
  * the old absolute-only gate).
  */
class BenchGateSpec extends AnyFunSuite {

  test("big mover: >2x with >1s absolute slowdown flags") {
    assert(Bench.isRegression(cur = 3.4, prevT = 1.3))
  }

  test("steep mover: 3x slowdown on a 0.4s query flags despite <1s absolute") {
    assert(Bench.isRegression(cur = 0.4, prevT = 0.13))
    assert(Bench.isRegression(cur = 1.05, prevT = 0.36)) // round-3 q19_union
  }

  test("sub-floor noise is exempt: 3x on a 0.25s query does not flag") {
    assert(!Bench.isRegression(cur = 0.25, prevT = 0.08))
  }

  test("mild growth does not flag") {
    assert(!Bench.isRegression(cur = 2.0, prevT = 1.2)) // 1.67x
    assert(!Bench.isRegression(cur = 0.9, prevT = 0.45)) // 2x exactly, not >2.5x, <1s abs
  }

  test("crashed (-1) and missing (0) timings never flag") {
    assert(!Bench.isRegression(cur = -1.0, prevT = 1.0))
    assert(!Bench.isRegression(cur = 1.0, prevT = -1.0))
    assert(!Bench.isRegression(cur = 0.0, prevT = 0.0))
  }

  // --- confirmation rep: a transient load spike must not reach the record ---

  test("transient 5x spike is dismissed by the confirmation rep") {
    // round-5 shape: prev 1.3 s, spiked sweep measured 6.5 s, but the
    // confirmation rep at normal load reverts to ~prev
    val (times, survived) = Bench.confirmRegressions(
      flagged = Seq("q_spiked"),
      times = Map("q_spiked" -> 6.5, "q_ok" -> 0.2),
      prev = Map("q_spiked" -> 1.3, "q_ok" -> 0.2),
      remeasure = _ => 1.35)
    assert(survived.isEmpty)
    assert(times("q_spiked") === 1.35) // record keeps the idle-load time
    assert(times("q_ok") === 0.2)     // unflagged queries untouched
  }

  test("a real regression survives the confirmation rep") {
    val (times, survived) = Bench.confirmRegressions(
      flagged = Seq("q_slow"),
      times = Map("q_slow" -> 6.5),
      prev = Map("q_slow" -> 1.3),
      remeasure = _ => 6.2) // reproduces: genuinely slower code
    assert(survived === Seq("q_slow"))
    assert(times("q_slow") === 6.2)
  }

  test("confirmation rep never replaces a time with a worse or crashed one") {
    val (times, survived) = Bench.confirmRegressions(
      flagged = Seq("q_a", "q_b"),
      times = Map("q_a" -> 3.4, "q_b" -> 3.4),
      prev = Map("q_a" -> 1.3, "q_b" -> 1.3),
      remeasure = n => if (n == "q_a") 9.9 else -1.0)
    assert(times("q_a") === 3.4) // worse rep ignored
    assert(times("q_b") === 3.4) // crashed rep ignored
    assert(survived === Seq("q_a", "q_b")) // both still flagged
  }

  // --- sweep deviation: mid-sweep contamination the entry/exit canary
  //     misses (round-16 verdict ask 2) ---

  private def mkRun(n: Int, sec: Int => Double): Seq[(String, Double)] =
    (0 until n).map(i => f"q$i%03d" -> sec(i))

  test("sweep deviation: clean sweep matches the clean band") {
    val ref = mkRun(100, _ => 0.5).toMap
    val cur = mkRun(100, i => 0.5 * (if (i % 2 == 0) 1.1 else 0.95))
    val Some((n, med, maxWin)) = Bench.sweepDeviation(cur, Seq(ref))
    assert(n === 100)
    assert(med < Bench.sweepBandMax && maxWin < Bench.sweepBandMax)
  }

  test("sweep deviation: a contiguous 2x block trips the windowed median") {
    // the run-85 shape: external load inflates one alphabetical block
    val ref = mkRun(100, _ => 0.5).toMap
    val cur = mkRun(100, i => if (i >= 20 && i < 65) 1.0 else 0.5)
    val Some((_, med, maxWin)) = Bench.sweepDeviation(cur, Seq(ref))
    assert(maxWin > Bench.sweepBandMax, s"window median $maxWin must flag")
    assert(med < Bench.sweepBandMax, "the global median alone misses it")
  }

  test("sweep deviation: scattered single-query regressions do not trip it") {
    val ref = mkRun(100, _ => 0.5).toMap
    val cur = mkRun(100, i => if (i % 10 == 0) 1.5 else 0.5)
    val Some((_, _, maxWin)) = Bench.sweepDeviation(cur, Seq(ref))
    assert(maxWin < Bench.sweepBandMax)
  }

  test("sweep deviation: sub-floor queries and crashes are not scored") {
    val ref = Map("q_a" -> 0.05, "q_b" -> 0.5, "q_c" -> 0.5)
    val cur = Seq("q_a" -> 0.14, "q_b" -> -1.0, "q_c" -> 0.5)
    val Some((n, _, _)) = Bench.sweepDeviation(cur, Seq(ref))
    assert(n === 1) // only q_c: q_a both sides <0.15, q_b crashed
  }

  test("sweep deviation: no clean reference runs -> None") {
    assert(Bench.sweepDeviation(mkRun(10, _ => 0.5), Seq.empty) === None)
  }

  // --- history: one parse, filtered by SF, harness and cleanliness ---

  private val sf = "/lake/sf0.1"

  /** A history line as Bench writes it, reduced to the fields the gates
    * read; each canary probe's q05 time is twice its q01 time.
    */
  private def line(q: Double, harness: Option[String] = Some("noop"),
      load: Double = 0.5, canary: String = "null", sweep: String = "null",
      entry: Double = 0.10, exit: Double = 0.12, sfDir: String = sf,
      records: String = "{}"): String = {
    def probe(t: Double) = Bench.obj(Seq(
      "q01_clean" -> t.toString, "q05_tpch_q1" -> (2 * t).toString))
    Bench.obj(Seq("run" -> "1", "sf" -> s"\"$sfDir\"") ++
      harness.map(h => "harness" -> s"\"$h\"") ++ Seq(
        "loadavg" -> s"[$load,3.0,3.0]",
        "canary_entry_s" -> probe(entry), "canary_exit_s" -> probe(exit),
        "canary_in_band" -> canary, "sweep_in_band" -> sweep,
        "queries" -> Bench.obj(Seq("q01_clean" -> q.toString)),
        "records" -> records))
  }

  private def q01(runs: Seq[Bench.Run]): Seq[Double] =
    runs.map(_.queries("q01_clean"))

  test("history: count-timed and other-SF lines are ignored by previousBench and cleanRuns") {
    val lines = Seq(
      line(1.0),                  // noop-timed, oldest
      line(9.0, harness = None),  // count-timed, newer
      line(5.0, sfDir = "/lake/sf1"))
    val hist = Bench.history(sf, lines)
    assert(q01(hist) == Seq(1.0))
    assert(Bench.previousBench(hist) == Map("q01_clean" -> 1.0))
    assert(q01(Bench.cleanRuns(hist, 3)) == Seq(1.0))
    // with only count-timed history there is nothing to compare against
    val countOnly = Bench.history(sf, lines.drop(1))
    assert(Bench.previousBench(countOnly).isEmpty)
    assert(Bench.cleanRuns(countOnly, 3).isEmpty)
  }

  test("clean runs: newest first, skipping loaded and flagged lines") {
    val hist = Bench.history(sf, Seq(
      line(1.0),                                  // clean, oldest
      line(2.0, canary = "true", sweep = "true"), // clean
      line(3.0, load = 2.5),                      // loaded box
      line(4.0, canary = "false"),                // degraded canary
      line(5.0, sweep = "false"),                 // contaminated sweep
      "not json",
      line(6.0)))                                 // clean: no reference yet
    assert(q01(hist) == Seq(6.0, 5.0, 4.0, 3.0, 2.0, 1.0))
    assert(Bench.previousBench(hist)("q01_clean") == 6.0)
    assert(q01(Bench.cleanRuns(hist, 3)) == Seq(6.0, 2.0, 1.0))
    assert(q01(Bench.cleanRuns(hist, 2)) == Seq(6.0, 2.0))
  }

  test("canary bands: 1.5x the fastest clean probe, per probe; null verdict without a reference") {
    val clean = Bench.cleanRuns(Bench.history(sf, Seq(
      line(1.0, entry = 0.10, exit = 0.06),
      line(1.0, entry = 0.12, exit = 0.05),
      line(1.0, entry = 0.01, exit = 0.01, load = 4.0))), 3) // loaded: not a reference
    val entryBands = Bench.canaryBands(clean.map(_.canaryEntry))
    val exitBands = Bench.canaryBands(clean.map(_.canaryExit))
    assert(entryBands.keySet == Bench.canaries.toSet)
    assert(math.abs(entryBands("q01_clean") - 0.15) < 1e-9)
    assert(math.abs(entryBands("q05_tpch_q1") - 0.30) < 1e-9)
    assert(math.abs(exitBands("q01_clean") - 0.075) < 1e-9)
    // derived from sub-second control queries, the bands stay in the
    // sub-second control range
    (entryBands.values ++ exitBands.values).foreach(b => assert(b > 0 && b < 2.0))
    val probe = Map("q01_clean" -> 0.14, "q05_tpch_q1" -> 0.2)
    assert(Bench.inBand(entryBands, probe) === Some(true))
    assert(Bench.inBand(exitBands, probe) === Some(false))
    assert(Bench.inBand(entryBands, probe.updated("q05_tpch_q1", 0.31)) === Some(false))
    assert(Bench.inBand(entryBands, probe.updated("q01_clean", -1.0)) === Some(false))
    // no clean same-harness line: no band, no verdict
    assert(Bench.canaryBands(Seq.empty).isEmpty)
    assert(Bench.inBand(Map.empty, probe) === None)
    assert(Bench.inBand(entryBands - "q05_tpch_q1", probe) === None)
    // a crashed (-1) reference probe gives no band
    val crashed = Bench.history(sf, Seq(line(1.0, entry = -1.0, exit = -1.0)))
    assert(Bench.canaryBands(crashed.map(_.canaryEntry)).isEmpty)
  }

  test("the per-query record survives a round trip through the history parser") {
    val r = Profile.Record("x_q", wallS = 0.9, buildS = 0.1, planS = 0.2,
      execS = 0.6, jobs = Seq(Profile.Job(1, "a", 0.3), Profile.Job(2, "b", 0.2)),
      tasks = 12, runS = 1.0, cpuS = 0.75, shuffleReadBytes = 1024,
      shuffleWriteBytes = 2048, spillBytes = 0, nodes = Set.empty,
      inputRows = Map.empty, error = None)
    val text = line(0.9, records = Bench.obj(Seq("x_q" -> Bench.recordJson(1.5, r))))
    val Some(run) = Bench.parseRun(text)
    assert(run.queries == Map("q01_clean" -> 0.9))
    assert(run.records == Map("x_q" -> Map(
      "first_s" -> 1.5, "build_s" -> 0.1, "plan_s" -> 0.2, "exec_s" -> 0.6,
      "jobs" -> 2.0, "tasks" -> 12.0, "cpu_s" -> 0.75,
      "shuffle_read_bytes" -> 1024.0, "shuffle_write_bytes" -> 2048.0,
      "spill_bytes" -> 0.0)))
    assert(run.harness.contains(Bench.harness) && run.clean)
  }
}
