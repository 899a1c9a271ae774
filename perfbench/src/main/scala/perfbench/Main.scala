package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.pipeline.{Ingester, LakeConfig, Medallion}

/** One JVM of a benchmark run, started by run.py.
  *
  * It builds the session, makes the workload's first call, then
  * measures for `--seconds`: it runs whole passes of the workload with
  * tracing off, as many as fit in that time and at least one. With
  * `--trace 1` it then runs a traced pass, reports the per-layer counters of
  * that pass, and repeats the untraced pass so the tracing overhead can be
  * read off.
  * Everything goes through the program's public entry points; the result is
  * one JSON file that run.py reads.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt("mode") == "oracle") {
      // the oracle SQL of the listed queries; needs no session
      val names = opt("queries").split(",").toSet
      Files.writeString(Paths.get(opt("out")),
        Json(graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
      return
    }
    val out = mutable.LinkedHashMap[String, Any]()
    val calls = new Calls(opt("run-id"))
    val spark = calls("Sessions", "local")(graft.Sessions.local(opt("cores")))
      .getOrElse(sys.error("Sessions.local() failed"))
    // measured from the launcher's clock reading just before it spawned us
    out("setup_s") = (System.currentTimeMillis() - opt("t0-ms").toLong) / 1e3
    try {
      val workload: Workload = opt("workload") match {
        case "inventory_slice" => new Slice(spark, calls, opt)
        case "cron_hourly" | "backfill_day" => new Pipeline(spark, calls, opt)
        case other => sys.error(s"unknown workload $other")
      }
      val t0 = System.nanoTime()
      workload.firstOp()
      out("first_op_s") = (System.nanoTime() - t0) / 1e9
      workload.warmUp()
      val budgetS = opt("seconds").toDouble
      val timed = mutable.ArrayBuffer.empty[Map[String, Any]]
      val tTimed = System.nanoTime()
      def elapsedS = (System.nanoTime() - tTimed) / 1e9
      // another pass only if one more as long as the mean so far still fits
      while (timed.isEmpty || elapsedS / timed.size * (timed.size + 1) <= budgetS)
        timed += workload.pass(s"timed${timed.size + 1}", None)
      out("timed") = timed
      if (opt.getOrElse("trace", "0") == "1") {
        val tracer = new Tracer(spark, calls)
        tracer.attach()
        val summary = workload.pass("traced", Some(tracer))
        tracer.detach()
        out("traced") = summary
        // the same pass untraced again, as warm as the traced one: the
        // tracing overhead is the difference between the two
        out("untraced_again") = workload.pass("untraced_again", None)
        val (gcS, heapMb) = Tracer.jvm()
        out("layers") = mutable.LinkedHashMap(workload.layers(tracer) ++ Seq(
          "Sessions.build_s" -> calls.spans.find(_.layer == "Sessions").map(_.wallS),
          "jvm.gc_s" -> gcS,
          "jvm.heap_peak_mb" -> heapMb): _*)
      }
    } finally {
      out("calls") = calls.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "run" -> s.runId, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "ok" -> s.ok, "error" -> s.error))
      Files.writeString(Paths.get(opt("out")), Json(out))
      spark.stop()
    }
  }
}

/** What a workload does in one JVM. */
trait Workload {
  /** The first call in a fresh JVM. */
  def firstOp(): Unit

  /** Untimed work between the first call and the timed passes. */
  def warmUp(): Unit = ()

  /** One pass; returns its label, wall time and per-call results. */
  def pass(label: String, tracer: Option[Tracer]): Map[String, Any]

  /** Per-layer counters of the traced pass. */
  def layers(tracer: Tracer): Seq[(String, Any)]
}

/** One bronze hour, as run.py's generator listed it. */
final case class Hour(day: String, hour: Int, file: String, lines: Long) {
  def at: LocalDateTime = LocalDateTime.parse(f"${day}T$hour%02d:00:00")
}

/** The medallion pipeline, as the hourly and nightly crons drive it:
  * per hour ingest then serialise, per day aggregate; `backfill_day` then
  * runs the streaming twin over the same bronze files.
  */
final class Pipeline(spark: SparkSession, calls: Calls, opt: Map[String, String])
    extends Workload {
  private val work = Paths.get(opt("work"))
  private val hours = Files.readAllLines(work.resolve("hours.tsv")).asScala.toSeq
    .map(_.split('\t')).map(a => Hour(a(0), a(1).toInt, a(2), a(3).toLong))
  private val streaming = opt("workload") == "backfill_day"
  private def lake(root: Path) = LakeConfig(root.resolve("bronze").toString,
    root.resolve("silver").toString, root.resolve("gold").toString)
  private def passRoot(label: String) = work.resolve(s"lake-$label")
  private val sinks = mutable.Map.empty[(String, String, String), String]

  // hour 0 is pre-landed in a lake of its own, so the JVM's first call is
  // that hour's silver job
  def firstOp(): Unit = {
    val h = hours.head
    calls("Medallion.serialise", h.file) {
      new Medallion(spark, lake(work.resolve("lake0"))).serialiseRawData(h.at)
    }
  }

  def pass(label: String, tracer: Option[Tracer]): Map[String, Any] = {
    val root = passRoot(label)
    val cfg = lake(root)
    val feed = new Feed(work.resolve("src"))
    val t0 = System.nanoTime()
    val passSpan = calls("harness", label) {
      val ingester = new Ingester(cfg, sourceBaseUrl = feed.baseUrl)
      val medallion = new Medallion(spark, cfg)
      def call(layer: String, key: String)(body: => String): Unit =
        calls(layer, key)(body).foreach(sink => sinks((root.toString, layer, key)) = sink)
      hours.zipWithIndex.foreach { case (h, i) =>
        call("Ingester", h.file)(ingester.ingestHourlyGharchive(h.at))
        call("Medallion.serialise", h.file)(medallion.serialiseRawData(h.at))
        val lastOfDay = i == hours.size - 1 || hours(i + 1).day != h.day
        if (lastOfDay)
          call("Medallion.aggregate", h.day)(
            medallion.aggregateSilverData(LocalDateTime.parse(s"${h.day}T00:00:00")))
      }
      if (streaming) {
        val twin = new Medallion(spark, cfg.copy(
          silverRoot = root.resolve("stream_silver").toString,
          goldRoot = root.resolve("stream_gold").toString))
        call("Medallion.stream_silver", "all")(
          twin.serialiseRawDataStreaming(root.resolve("ckpt_silver").toString))
        call("Medallion.stream_gold", "all")(
          twin.aggregateGoldStreaming(root.resolve("ckpt_gold").toString))
      }
    }
    val passS = (System.nanoTime() - t0) / 1e9
    feed.close()
    tracer.foreach(_.drain())
    Map("label" -> label, "pass_s" -> passS, "ok" -> passSpan.isDefined,
      "span" -> calls.spans.last.id, "sinks" -> sinks.collect { case ((r, layer, key), s) if r == root.toString =>
        s"$layer/$key" -> s })
  }

  def layers(t: Tracer): Seq[(String, Any)] = {
    val root = passRoot("traced").toString
    val pass = calls.tracedPass
    def of(layer: String) = pass.filter(_.layer == layer)
    def busy(sp: Seq[Span]) = sp.map(_.wallS).sum
    def sinkOf(layer: String, key: String) = sinks.get((root, layer, key))
    def partFiles(dir: String): Long =
      if (!Files.isDirectory(Paths.get(dir))) 0L
      else Files.list(Paths.get(dir)).iterator.asScala
        .count(p => p.getFileName.toString.endsWith(".parquet")).toLong
    val ing = of("Ingester")
    val ser = of("Medallion.serialise")
    val agg = of("Medallion.aggregate")
    val ss = of("Medallion.stream_silver")
    val sg = of("Medallion.stream_gold")
    val lines = hours.map(_.lines).sum
    val serRows = t.sum(ser)(_.rowsOut)
    // daily inputs: every part file under the day's hourly silver sinks
    val aggInputs = agg.map { s =>
      ser.filter(_.name.startsWith(s.name)).flatMap(h => sinkOf("Medallion.serialise", h.name))
        .map(partFiles).sum
    }.sum
    Seq(
      "Ingester.busy_s" -> busy(ing),
      "Ingester.calls" -> ing.size,
      "Ingester.bytes" -> ing.flatMap(s => sinkOf("Ingester", s.name))
        .map(p => Files.size(Paths.get(p))).sum,
      "Ingester.failed" -> ing.count(!_.ok),
      "Medallion.serialise.busy_s" -> busy(ser),
      "Medallion.serialise.driver_s" -> ser.map(t.driverS).sum,
      "Medallion.serialise.jobs" -> t.sum(ser)(_.jobs),
      "Medallion.serialise.stages" -> t.sum(ser)(_.stages),
      "Medallion.serialise.tasks" -> t.sum(ser)(_.tasks),
      "Medallion.serialise.exec_run_s" -> t.sum(ser)(_.execRunMs) / 1e3,
      "Medallion.serialise.exec_cpu_s" -> t.sum(ser)(_.execCpuNs) / 1e9,
      "Medallion.serialise.input_bytes" -> t.sum(ser)(_.inputBytes),
      "Medallion.serialise.rows_out" -> serRows,
      "Medallion.serialise.bytes_out" -> t.sum(ser)(_.bytesOut),
      "Medallion.serialise.files_out" -> ser.flatMap(s => sinkOf("Medallion.serialise", s.name))
        .map(partFiles).sum,
      "Medallion.serialise.keep_ratio" -> (if (lines > 0) serRows.toDouble / lines else 0.0),
      "Medallion.aggregate.busy_s" -> busy(agg),
      "Medallion.aggregate.driver_s" -> agg.map(t.driverS).sum,
      "Medallion.aggregate.jobs" -> t.sum(agg)(_.jobs),
      "Medallion.aggregate.tasks" -> t.sum(agg)(_.tasks),
      "Medallion.aggregate.exec_cpu_s" -> t.sum(agg)(_.execCpuNs) / 1e9,
      "Medallion.aggregate.input_files" -> aggInputs,
      "Medallion.aggregate.shuffle_write_bytes" -> t.sum(agg)(_.shuffleWrite),
      "Medallion.aggregate.shuffle_read_bytes" -> t.sum(agg)(_.shuffleRead),
      "Medallion.aggregate.spill_bytes" -> t.sum(agg)(_.spill),
      "Medallion.aggregate.rows_out" -> t.sum(agg)(_.rowsOut),
      "Medallion.stream_silver.busy_s" -> busy(ss),
      "Medallion.stream_silver.batches" -> t.sum(ss)(_.batches),
      "Medallion.stream_silver.tasks" -> t.sum(ss)(_.tasks),
      "Medallion.stream_silver.exec_cpu_s" -> t.sum(ss)(_.execCpuNs) / 1e9,
      "Medallion.stream_silver.rows_in" -> t.sum(ss)(_.rowsIn),
      "Medallion.stream_silver.add_batch_s" -> t.sum(ss)(_.addBatchMs) / 1e3,
      "Medallion.stream_silver.wal_commit_s" -> t.sum(ss)(_.walCommitMs) / 1e3,
      "Medallion.stream_silver.query_planning_s" -> t.sum(ss)(_.planningMs) / 1e3,
      "Medallion.stream_gold.busy_s" -> busy(sg),
      "Medallion.stream_gold.batches" -> t.sum(sg)(_.batches),
      "Medallion.stream_gold.state_rows" -> t.sum(sg)(_.stateRows),
      "Medallion.stream_gold.state_mem_bytes" -> t.sum(sg)(_.stateMemBytes),
      "Medallion.stream_gold.shuffle_write_bytes" -> t.sum(sg)(_.shuffleWrite))
  }
}

/** A read-heavy slice of the query inventory on a parquet lake. Each call
  * is `SparkEntry.queries(name)` built and materialised in full through the
  * `noop` sink.
  */
final class Slice(spark: SparkSession, calls: Calls, opt: Map[String, String])
    extends Workload {
  private val sf = opt("sf")
  private val names = opt("queries").split(",").toSeq
  private val queries = graft.SparkEntry.queries
  // registry module of a query: the package of the object that defines it
  private def module(name: String): String =
    queries(name).getClass.getName.split('.').lift(1).getOrElse("other")
  private val buildS = mutable.Map.empty[(String, Int), Double]

  private def run(name: String): Unit =
    calls(module(name), name) {
      val t0 = System.nanoTime()
      val df = queries(name)(spark, sf)
      buildS((name, calls.current)) = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
    }

  def firstOp(): Unit = run(names.head)

  def pass(label: String, tracer: Option[Tracer]): Map[String, Any] = {
    val order = opt("order").split(",").toSeq
    val t0 = System.nanoTime()
    val ok = calls("harness", label) {
      order.foreach(run)
    }.isDefined
    val passS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.drain())
    Map("label" -> label, "pass_s" -> passS, "ok" -> ok, "span" -> calls.spans.last.id)
  }

  /** Every slice query once, its full result written as parquet for the
    * oracle check. */
  override def warmUp(): Unit = {
    val dir = Paths.get(opt("work")).resolve("check")
    names.foreach { n =>
      calls("check", n)(queries(n)(spark, sf).write.mode("overwrite")
        .parquet(dir.resolve(n).toString))
    }
  }

  def layers(t: Tracer): Seq[(String, Any)] = {
    val pass = calls.tracedPass
    val perModule = Seq("ops", "llmops", "pipeline").flatMap { m =>
      val sp = pass.filter(_.layer == m)
      val build = sp.map(s => buildS.getOrElse((s.name, s.id), 0.0)).sum
      Seq(
        s"$m.busy_s" -> sp.map(_.wallS).sum,
        s"$m.build_s" -> build,
        s"$m.plan_s" -> t.sum(sp)(_.planMs) / 1e3,
        s"$m.exec_s" -> (sp.map(_.wallS).sum - build),
        s"$m.jobs" -> t.sum(sp)(_.jobs),
        s"$m.tasks" -> t.sum(sp)(_.tasks),
        s"$m.exec_cpu_s" -> t.sum(sp)(_.execCpuNs) / 1e9,
        s"$m.shuffle_write_bytes" -> t.sum(sp)(_.shuffleWrite),
        s"$m.spill_bytes" -> t.sum(sp)(_.spill))
    }
    val perQuery = names.map(n => s"query.$n.s" -> pass.find(_.name == n).map(_.wallS))
    perModule ++ perQuery
  }
}
