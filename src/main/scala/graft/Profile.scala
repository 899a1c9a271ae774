package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.util.QueryExecutionListener

/** The repo's one measurement tool: a [[Profile.Recorder]] attaches one
  * SparkListener and one QueryExecutionListener to a session and returns,
  * per labelled run, where the wall went — the driver's build / plan /
  * exec split, every job with the call site that launched it, the task
  * counters (run and CPU time, shuffle bytes, spill) and a census of the
  * plan nodes that mark a shape that will not scale. Usage:
  *
  *   sbt "runMain graft.Profile <sfDir> <name> [<name> ...]"
  *
  * Each query runs twice: rep 1 shows the cold first-execution costs a
  * min-of-reps wall hides, rep 2 the warm rep. [[graft.Bench]] times
  * every rep of its sweep through the same recorder.
  */
object Profile {

  /** Plan shapes whose presence in any execution of a run is recorded,
    * each load-independent evidence of a plan that may not survive
    * growth: a cross product, a nested-loop join, a sort-based aggregate
    * and a single-partition stage (a shuffle to one partition, a window
    * with no partition key). For the last two the record keeps the input
    * rows, which tell a stage that grows with the data from a
    * result-bounded one (a global count's partials).
    */
  val TrackedNodes: Seq[String] = Seq("CartesianProduct",
    "BroadcastNestedLoopJoin", "SortAggregate", "SinglePartitionExchange",
    "UnpartitionedWindow")

  /** The tracked shapes of an executed plan (subqueries and adaptive
    * stages included); a single-partition stage's input rows are the
    * numOutputRows of the nearest node below it that counts rows.
    */
  private object Shapes extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[(String, Option[Long])] =
      collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          ("SinglePartitionExchange", rowsInto(e))
        case w: WindowExec if w.partitionSpec.isEmpty =>
          ("UnpartitionedWindow", rowsInto(w))
        case p if TrackedNodes.contains(p.nodeName) => (p.nodeName, None)
      }

    private def rowsInto(p: SparkPlan): Option[Long] = allChildren(p) match {
      case Seq(c) => c.metrics.get("numOutputRows").map(_.value).orElse(rowsInto(c))
      case _ => None
    }
  }

  /** One Spark job: its id, the call site that launched it, its wall. */
  final case class Job(id: Int, site: String, wallS: Double)

  /** One labelled run. `wallS = buildS + planS + execS`: build is the
    * builder call (DataFrame construction plus any eager action it runs,
    * less that action's Catalyst time), plan is the Catalyst time
    * (analysis, optimization, planning) summed over every execution in
    * the run, exec is the noop sink's wall less its own Catalyst time.
    * Run and CPU seconds are summed over tasks; `inputRows` is the most
    * any instance of a tracked single-partition shape took in.
    */
  final case class Record(
      label: String,
      wallS: Double, buildS: Double, planS: Double, execS: Double,
      jobs: Seq[Job], tasks: Long, runS: Double, cpuS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      nodes: Set[String], inputRows: Map[String, Long],
      error: Option[String]) {

    def show: String = {
      val head = f"== $label wall=$wallS%.3f s (build=$buildS%.3f " +
        f"plan=$planS%.3f exec=$execS%.3f) jobs=${jobs.size} tasks=$tasks " +
        f"run=$runS%.3f s cpu=$cpuS%.3f s shuffle r/w=$shuffleReadBytes/" +
        s"$shuffleWriteBytes B spill=$spillBytes B nodes=" +
        (if (nodes.isEmpty) "-" else nodes.toSeq.sorted.map(n =>
          inputRows.get(n).fold(n)(rows => s"$n(in=$rows)")).mkString(","))
      val lines = error.map(e => s"  ERROR $e").toSeq ++
        jobs.map(j => f"  job${j.id}%5d ${j.wallS}%8.3f s  ${j.site}")
      (head +: lines).mkString("\n")
    }
  }

  /** Materialise every row and column of `df` without collecting it. */
  def materialise(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Read every table of the lake once (JIT, file-listing and footer
    * caches) so the first timed run is not charged for it. Through the
    * Tables loader, not a raw read: events.parquet may be
    * TIMESTAMP(NANOS), which a raw vectorized read fails on.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    graft.core.Tables.names.foreach { t =>
      try materialise(graft.core.Tables(spark, sfDir, t))
      catch { case scala.util.control.NonFatal(_) => }
    }

  /** Records labelled runs on `spark`, one at a time. Listener events are
    * delivered asynchronously, so each run drains the bus before it opens
    * and before it closes: every event a run causes is charged to it, and
    * none to the run after it.
    */
  final class Recorder(spark: SparkSession) {
    private final class Acc {
      val execSite = mutable.Map.empty[String, String]
      val jobStart = mutable.LinkedHashMap.empty[Int, (String, Long)]
      val jobs = mutable.ArrayBuffer.empty[Job]
      var tasks, runMs, cpuNs, shRead, shWrite, spill, planMs = 0L
      val nodes = mutable.Set.empty[String]
      val inputRows = mutable.Map.empty[String, Long]
    }
    // the open run's counters; null between runs, when events are dropped
    @volatile private var acc: Acc = null

    private def open(f: Acc => Any): Unit = {
      val a = acc
      if (a != null) a.synchronized { f(a); () }
    }

    private val jobs = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          open(_.execSite(s.executionId.toString) = s.description)
        case _ =>
      }
      // a job an adaptive query stage submits from Spark's own thread pool
      // carries the pool's call site; the SQL execution it belongs to
      // carries the site of the action that started it
      override def onJobStart(e: SparkListenerJobStart): Unit = open { a =>
        val props = Option(e.properties)
        val site = props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(a.execSite.get)
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")
        a.jobStart(e.jobId) = (site, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = open { a =>
        a.jobStart.remove(e.jobId).foreach { case (site, t0) =>
          a.jobs += Job(e.jobId, site, (e.time - t0) / 1e3)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = open { a =>
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    private val executions = new QueryExecutionListener {
      private def census(qe: QueryExecution): Unit = {
        val shapes = Shapes.of(qe.executedPlan)
        val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        open { a =>
          a.planMs += ms
          shapes.foreach { case (n, rows) =>
            a.nodes += n
            rows.foreach(r => a.inputRows(n) = a.inputRows.getOrElse(n, 0L) max r)
          }
        }
      }
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = census(qe)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        census(qe)
    }

    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(executions)

    /** Build the query, then materialise it through the noop sink. A
      * failure is recorded, not thrown.
      */
    def run(label: String)(build: => DataFrame): Record = {
      shims.drainListenerBus(spark)
      val a = new Acc
      acc = a
      val t0 = System.nanoTime()
      var buildNs = 0L
      var buildPlanMs = 0L
      val error =
        try {
          val df = build
          buildNs = System.nanoTime() - t0
          shims.drainListenerBus(spark)
          buildPlanMs = a.synchronized(a.planMs)
          materialise(df)
          None
        } catch {
          case scala.util.control.NonFatal(e) =>
            if (buildNs == 0L) buildNs = System.nanoTime() - t0
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val wallNs = System.nanoTime() - t0
      shims.drainListenerBus(spark)
      acc = null
      a.synchronized {
        val planS = a.planMs / 1e3
        val buildS = math.max(0.0, buildNs / 1e9 - buildPlanMs / 1e3)
        Record(label, wallNs / 1e9, buildS, planS,
          math.max(0.0, wallNs / 1e9 - buildS - planS),
          a.jobs.sortBy(_.id).toSeq, a.tasks, a.runMs / 1e3, a.cpuNs / 1e9,
          a.shRead, a.shWrite, a.spill, a.nodes.toSet, a.inputRows.toMap,
          error)
      }
    }

    /** Detach both listeners. */
    def close(): Unit = {
      shims.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(executions)
    }
  }

  /** Run each named inventory query twice through `rec` on the lake at
    * `sfDir`, printing both records; returns each query's warm (rep 2)
    * record. The growth census (InventoryCensus) shares this loop.
    */
  def reps(rec: Recorder, spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, Record)] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (1 to 2).map { rep =>
        val r = rec.run(s"$name rep $rep")(fn(spark, sfDir))
        println(r.show)
        r
      }.last
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Profile <sfDir> <name> [<name> ...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val spark = Sessions.local()
    warm(spark, sfDir)
    val rec = new Recorder(spark)
    reps(rec, spark, sfDir, args.toSeq.drop(1))
    rec.close()
    spark.stop()
  }
}
