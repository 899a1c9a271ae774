package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One public call: its layer ("Medallion.serialise", "ops", ...), a name,
  * wall-clock bounds, the enclosing span and the run it belongs to. */
final case class Span(
    id: Int,
    parent: Int,
    runId: String,
    layer: String,
    name: String,
    startMs: Long,
    endMs: Long,
    wallS: Double,
    ok: Boolean,
    error: String)

/** Counters the listeners collect for one span. */
final class SpanStats {
  var jobs, stages, tasks, batches = 0L
  var execRunMs, execCpuNs, inputBytes, rowsOut, bytesOut = 0L
  var shuffleWrite, shuffleRead, spill, rowsIn = 0L
  var addBatchMs, walCommitMs, planningMs, planMs = 0L
  var stateRows, stateMemBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder. Every public call the harness makes goes through
  * [[apply]], which times it. When tracing is on, the span id is also set
  * as a Spark local property, so the listeners below can charge every job,
  * stage and task (streaming ones included: the stream thread inherits the
  * property) to the call that caused it.
  */
final class Calls(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  @volatile var current = 0
  private var nextId = 1
  var spark: Option[SparkSession] = None

  def apply[T](layer: String, name: String)(body: => T): Option[T] = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    current = id
    spark.foreach(_.sparkContext.setLocalProperty(Calls.Key, id.toString))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Left(e)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val err = result.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    spans.synchronized {
      spans += Span(id, parent, runId, layer, name, startMs, System.currentTimeMillis(),
        wall, result.isRight, err.map(_.take(300)).getOrElse(""))
      stack = stack.tail
      current = stack.head
    }
    spark.foreach(_.sparkContext.setLocalProperty(Calls.Key,
      if (current == 0) null else current.toString))
    err.foreach(e => System.err.println(s"[perfbench] $layer $name failed: $e"))
    result.toOption
  }

  /** The calls made directly inside the traced pass. */
  def tracedPass: Seq[Span] =
    spans.find(s => s.layer == "harness" && s.name == "traced")
      .map(p => spans.filter(_.parent == p.id).toSeq).getOrElse(Nil)
}

object Calls { val Key = "perfbench.span" }

/** The benchmark's own listeners: a SparkListener for jobs, stages and
  * tasks, a StreamingQueryListener for micro-batch progress and a
  * QueryExecutionListener for planning time. Attached only in traced runs.
  */
final class Tracer(spark: SparkSession, calls: Calls) {
  private val stats = new ConcurrentHashMap[Int, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val querySpan = new ConcurrentHashMap[java.util.UUID, Int]()

  def of(span: Int): SpanStats = stats.computeIfAbsent(span, _ => new SpanStats)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Calls.Key)))
        .map(_.toInt).getOrElse(0)
      val span = spanAt(e.time, prop)
      jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      of(span).synchronized { of(span).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
        val s = of(span)
        s.synchronized { s.jobIntervals += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
      s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = of(stageSpan.getOrDefault(e.stageId, 0))
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.execRunMs += m.executorRunTime
          s.execCpuNs += m.executorCpuTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.rowsOut += m.outputMetrics.recordsWritten
          s.bytesOut += m.outputMetrics.bytesWritten
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streams = new StreamingQueryListener {
    // called synchronously inside start(), on the thread that made the call
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      querySpan.put(e.id, calls.current)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val s = of(querySpan.getOrDefault(p.id, 0))
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      s.synchronized {
        s.batches += 1
        s.rowsIn += p.numInputRows
        s.addBatchMs += d("addBatch")
        s.walCommitMs += d("walCommit")
        s.planningMs += d("queryPlanning")
        p.stateOperators.headOption.foreach { op =>
          s.stateRows = op.numRowsTotal
          s.stateMemBytes = math.max(s.stateMemBytes, op.memoryUsedBytes)
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The span an event at time `t` belongs to. Calls never overlap, so the
    * innermost finished span around `t` is it; if none is, the event came
    * from the call still open. The local property `prop` alone is not
    * enough: pooled threads (core.Par) keep the property of the call that
    * created them.
    */
  private def spanAt(t: Long, prop: Int): Int = calls.spans.synchronized {
    val closed = calls.spans.filter(sp => sp.startMs <= t && t <= sp.endMs)
    if (closed.nonEmpty) closed.maxBy(sp => (sp.startMs, sp.id)).id
    else if (prop != 0 && !calls.spans.exists(_.id == prop)) prop
    else calls.current
  }

  // planning time of every query execution, charged to the span that was
  // open when its analysis started
  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val s = of(spanAt(phases.map(_.startTimeMs).min, 0))
        s.synchronized { s.planMs += phases.map(p => p.endTimeMs - p.startTimeMs).sum }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    spark.listenerManager.register(planning)
    calls.spark = Some(spark)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(planning)
    calls.spark = None
  }

  /** Seconds of the span's wall time not covered by any of its jobs. */
  def driverS(sp: Span): Double = {
    // length of the union of the job intervals: walk them by start time and
    // add only the part of each that reaches past everything before it
    val (covered, _) = of(sp.id).jobIntervals.toSeq.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        (sum + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
      }
    math.max(0.0, sp.wallS - covered / 1e3)
  }

  def sum(spans: Seq[Span])(f: SpanStats => Long): Long = spans.map(sp => f(of(sp.id))).sum
}

object Tracer {
  /** JVM-wide GC seconds and peak heap MB since the JVM started. */
  def jvm(): (Double, Double) = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    (gc, heap / 1048576.0)
  }
}
