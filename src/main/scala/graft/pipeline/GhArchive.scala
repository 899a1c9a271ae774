package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GHArchive event transforms — the reference's entire query surface,
  * re-expressed as lazy DataFrame transforms (no eager CREATE TABLE steps;
  * Catalyst fuses scan→project→write into one stage).
  */
object GhArchive {

  /** Pinned raw-event schema (SURVEY.md §1.3: explicit schema beats
    * per-batch sampling inference for determinism; `id` is Long here to
    * match the reference's unit fixtures — real GHArchive serves digit
    * strings, which this type choice deliberately leaves to config).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("actor", StructType(Seq(
      StructField("id", LongType),
      StructField("login", StringType),
      StructField("display_login", StringType)))),
    StructField("type", StringType),
    StructField("repo", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("url", StringType)))),
    StructField("created_at", StringType)))

  /** Read mode of the production silver path, batch and stream: a
    * malformed line is dropped, as the reference's DuckDB read with
    * ignore_errors=true drops it.
    */
  val DropMalformed = "DROPMALFORMED"

  /** The production read of bronze JSON lines: pinned schema, malformed
    * lines dropped.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(rawSchema).option("mode", DropMalformed).json(path)

  /** The audit twin of [[read]] (PERMISSIVE): the same schema plus
    * `_corrupt_record`, so a malformed line is kept as a row carrying its
    * raw text instead of vanishing. Spark refuses a query whose only
    * reference into the scan is the corrupt-record column unless the
    * parse is cached first.
    */
  def readAudit(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(rawSchema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Silver "clean": 9-column nested-struct projection + rename
    * (/root/reference/data_lake_transformer.py:92-104). Pure Project —
    * shuffle-free, codegen'd, nested-schema pruning reaches the scan.
    * Column order matters (asserted by the reference's own test).
    */
  def clean(raw: DataFrame): DataFrame =
    raw.select(
      col("id").as("event_id"),
      col("actor.id").as("user_id"),
      col("actor.login").as("user_name"),
      col("actor.display_login").as("user_display_name"),
      col("type").as("event_type"),
      col("repo.id").as("repo_id"),
      col("repo.name").as("repo_name"),
      col("repo.url").as("repo_url"),
      col("created_at").as("event_date"))

  /** [[clean]]'s output schema. Silver readers pin it: inferring it from
    * Parquet footers costs a job per read and fails on an empty sink.
    */
  val silverSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, user_id BIGINT, user_name STRING, " +
    "user_display_name STRING, event_type STRING, repo_id BIGINT, " +
    "repo_name STRING, repo_url STRING, event_date STRING")

  /** Gold daily aggregate: GROUP BY ALL + count(*), with the
    * string→timestamp cast happening only here — silver keeps event_date
    * as string, exactly like the reference
    * (/root/reference/data_lake_transformer.py:116-126).
    */
  def aggregate(silver: DataFrame): DataFrame =
    silver.groupBy(
      col("event_type"), col("repo_id"), col("repo_name"), col("repo_url"),
      date_trunc("day", col("event_date").cast("timestamp")).as("event_date"))
      .agg(count(lit(1)).as("event_count"))
}
