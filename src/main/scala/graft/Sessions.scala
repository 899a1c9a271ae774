package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, the cron mains, the test
  * suites and the dev tools all call it, so every timed or verified run
  * uses the same engine config. UTC-pinned, AQE on, shuffle partitions
  * sized for the local core count instead of the 200 default (the one
  * local-mode knob that matters; on a real cluster this comes from the
  * submitter). Every session it builds, and every `newSession()` of one,
  * carries graft's SQL functions and the as-of join strategy
  * (`graft.functions.GraftExtensions`), and its Hadoop conf selects the
  * fork-free local filesystem (`graft.core.NioLocal`).
  */
object Sessions {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce CACHED plans' output partitions too (off by
      // default): every shared .cache() base here (partEdges, the
      // embeddings base, term-count tables) otherwise pins the full
      // shuffle-partition count forever, and each later scan pays the
      // per-task floor times that count regardless of cached bytes.
      // Scale-adaptive by construction — AQE sizes partitions by bytes,
      // so a 100 TB cached frame keeps its parallelism (measured here:
      // warm partEdges scans 2x faster, degree re-agg 2.2x).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle files on the fastest local scratch (tmpfs when present;
      // see core.Scratch.sparkLocalDir) — transient by definition
      .config("spark.local.dir", graft.core.Scratch.sparkLocalDir)
      .config(graft.core.NioLocal.sparkConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FileStreamSink.hasMetadata stats a single read path for a metadata
    // dir and WARNs, stack trace and all, when a glob path (every silver
    // hour, gold day and blob read) fails that stat: its only warning
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
