package graft.pipeline

import java.time.{LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Streams
import graft.sources.Lake

/** Lake zone roots (bronze/silver/gold). Any Hadoop-FS scheme works —
  * file:// in tests, s3a:// in production (credentials via the standard
  * spark.hadoop.fs.s3a.* session configs; the Spark analog of the
  * reference's SET s3_access_key_id wiring,
  * /root/reference/data_lake_transformer.py:227-237).
  */
final case class LakeConfig(
    bronzeRoot: String,
    silverRoot: String,
    goldRoot: String,
    basePath: String = "gharchive/events")

object LakeConfig {

  /** Fail-fast INI loader for the reference's config.ini shape
    * (/root/reference/config.ini.template:1-10; the reference's
    * silent-None on a missing section is a bug, not a semantic to copy —
    * SURVEY.md §2a R14).
    */
  def fromIni(path: String): LakeConfig = {
    val lines = scala.io.Source.fromFile(path).getLines().map(_.trim).toSeq
    var section = ""
    val kv = scala.collection.mutable.Map[String, String]()
    lines.foreach {
      case l if l.startsWith("[") && l.endsWith("]") =>
        section = l.substring(1, l.length - 1)
      case l if l.contains("=") && !l.startsWith("#") && !l.startsWith(";") =>
        val Array(k, v) = l.split("=", 2)
        kv(s"$section.${k.trim}") = v.trim
      case _ =>
    }
    def need(k: String): String =
      kv.getOrElse(k, sys.error(s"config $path missing required key [$k]"))
    LakeConfig(
      bronzeRoot = s"s3a://${need("datalake.bronze_bucket")}",
      silverRoot = s"s3a://${need("datalake.silver_bucket")}",
      goldRoot = s"s3a://${need("datalake.gold_bucket")}")
  }
}

/** The medallion pipeline: bronze JSON → silver parquet (hourly) → gold
  * parquet (daily). Spark-first equivalents of the reference's serialise /
  * aggregate jobs (/root/reference/data_lake_transformer.py:35-71) — lazy
  * end-to-end: each job is one Catalyst-planned scan→transform→write.
  * Every sink is published through Lake.replace, so a rerun that fails
  * (a truncated bronze file, a corrupt silver file) leaves the previous
  * output in place.
  */
class Medallion(spark: SparkSession, config: LakeConfig) {

  /** Silver job: error-tolerant schema-pinned JSON scan of one bronze hour
    * → clean projection → parquet. DROPMALFORMED ≈ DuckDB's
    * ignore_errors=true (/root/reference/data_lake_transformer.py:81-82).
    */
  def serialiseRawData(processDate: LocalDateTime): String = {
    val source = PathLayout.rawHourlyGlob(config.bronzeRoot, config.basePath, processDate)
    val sink = PathLayout.sinkPath(
      config.silverRoot, config.basePath, "clean", processDate, hasHourlyPartition = true)
    Lake.replace(GhArchive.clean(GhArchive.read(spark, source)), sink)
    sink
  }

  /** Streaming silver: the idiomatic upgrade of the hourly cron
    * (SURVEY.md §7) — a file-source stream over the WHOLE bronze zone
    * replaces per-hour batch scoping. Each new bronze file is discovered
    * incrementally (checkpointed), cleaned, and appended to a silver
    * directory. Streams.drain processes the backlog and stops, so the
    * same job serves both catch-up and scheduled runs; on a cluster the
    * identical code runs with a continuous trigger.
    */
  def serialiseRawDataStreaming(checkpoint: String): String = {
    val source = s"${config.bronzeRoot}/${config.basePath}/*/*/*"
    val sink = s"${config.silverRoot}/${config.basePath}/streaming"
    val raw = spark.readStream
      .schema(GhArchive.rawSchema)
      .option("mode", GhArchive.DropMalformed)
      .json(source)
    Streams.drain(GhArchive.clean(raw).writeStream
      .format("parquet")
      .option("path", sink), checkpoint)
    sink
  }

  /** Streaming gold: daily aggregation over a silver stream in complete
    * mode (no watermark), landed with foreachBatch (parquet sinks can't
    * take aggregate updates directly; foreachBatch is the standard merge
    * pattern). Each trigger's Lake.replace replaces the whole gold dir, so
    * gold is consistent at every trigger; a deployment with huge key
    * spaces would switch to a watermark, update mode and a rewrite of
    * only the touched days (ROADMAP direction 3).
    */
  def aggregateGoldStreaming(checkpoint: String): String = {
    val source = s"${config.silverRoot}/${config.basePath}/streaming"
    val sink = s"${config.goldRoot}/${config.basePath}/streaming"
    val silver = spark.readStream.schema(GhArchive.silverSchema).parquet(source)
    Streams.drain(GhArchive.aggregate(silver).writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Lake.replace(batch, sink)
      }, checkpoint)
    sink
  }

  /** Gold job: daily glob over 24 hourly silver outputs → aggregate →
    * parquet. One shuffle (partial+final hash agg on the group keys).
    */
  def aggregateSilverData(processDate: LocalDateTime): String = {
    val source = PathLayout.silverDailyGlob(config.silverRoot, config.basePath, processDate)
    val sink = PathLayout.sinkPath(
      config.goldRoot, config.basePath, "agg", processDate, hasHourlyPartition = false)
    val silver = spark.read.schema(GhArchive.silverSchema).parquet(source)
    Lake.replace(GhArchive.aggregate(silver), sink)
    sink
  }
}

/** Batch-key computation mirroring the reference cron entry points
  * (scripts/run_*.py:16-19): hourly = previous full hour, daily = previous
  * midnight. An explicit --process-date beats wall-clock for
  * reproducibility; the default preserves reference behavior.
  */
object BatchKeys {
  def previousHour(now: LocalDateTime = LocalDateTime.now(ZoneOffset.UTC)): LocalDateTime =
    now.truncatedTo(ChronoUnit.HOURS).minusHours(1)
  def previousMidnight(now: LocalDateTime = LocalDateTime.now(ZoneOffset.UTC)): LocalDateTime =
    now.truncatedTo(ChronoUnit.DAYS).minusDays(1)

  def parseArg(args: Array[String], default: => LocalDateTime): LocalDateTime =
    args.sliding(2).collectFirst {
      case Array("--process-date", v) => LocalDateTime.parse(v)
    }.getOrElse(default)
}

/** Cron entry points (reference scripts/run_serialise_raw_data.py and
  * run_agg_silver_data.py) — non-zero exit on failure, unlike the
  * reference's swallow-and-log (SURVEY.md §3.1).
  */
object RunSerialise {
  def main(args: Array[String]): Unit = {
    val date = BatchKeys.parseArg(args, BatchKeys.previousHour())
    val sink = WithMedallion(args)(_.serialiseRawData(date))
    println(s"silver written: $sink")
  }
}

object RunAggregate {
  def main(args: Array[String]): Unit = {
    val date = BatchKeys.parseArg(args, BatchKeys.previousMidnight())
    val sink = WithMedallion(args)(_.aggregateSilverData(date))
    println(s"gold written: $sink")
  }
}

private object WithMedallion {
  /** Run one job on the lake the args name. Stops only a session this
    * call created: Sessions.local() is getOrCreate, so under a host JVM
    * that already owns a session (the e2e spec driving the mains
    * in-process) stopping would kill the host's session; as a
    * standalone binary nothing pre-exists and the stop still runs.
    */
  def apply[T](args: Array[String])(job: Medallion => T): T = {
    val preexisting = org.apache.spark.sql.SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = graft.Sessions.local()
    try job(new Medallion(spark, ConfigFromArgs(args)))
    finally if (!preexisting) spark.stop()
  }
}

private object ConfigFromArgs {
  def apply(args: Array[String]): LakeConfig =
    args.sliding(2).collectFirst { case Array("--config", v) => v } match {
      case Some(ini) => LakeConfig.fromIni(ini)
      case None =>
        val root = args.sliding(2).collectFirst { case Array("--lake-root", v) => v }
          .getOrElse(sys.error("pass --config <ini> or --lake-root <path>"))
        LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
    }
}
