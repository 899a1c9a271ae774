package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.core.{Q, Scratch, Tables => T}

/** Parse-health accounting for the error-tolerant JSON ingest (SURVEY.md
  * §2a R3). The silver path maps the reference's `ignore_errors = true`
  * (/root/reference/data_lake_transformer.py:81-82) to DROPMALFORMED —
  * malformed rows VANISH silently, which is the right read semantics and
  * the wrong operational posture: a production ingest gate wants the
  * dropped count (the parse-health analog of x_psi_drift) before a bad
  * upstream deploy silently halves a day's data.
  *
  * The PERMISSIVE + `_corrupt_record` twin (SURVEY.md §1.3) reads the
  * SAME files keeping one row per malformed line with the raw text in
  * the corrupt column, so clean rows and the drop count come out of one
  * scan. The graded query builds a fixture with PLANTED corruption —
  * JSON lines derived from the orders table, truncated mid-object for
  * every key ≡ 0 (mod 37) — so the oracle can price every number
  * arithmetically from the source table without parsing any JSON:
  * n_clean / n_corrupt / the clean-row id sum are all key-modulus
  * facts, and `drop_matches` asserts in-query that the DROPMALFORMED
  * arm's rows are EXACTLY the PERMISSIVE arm's clean rows (count and id
  * sum), tying the audit back to the production read path. `clean_ppm`
  * is the dataset-card line: parse retention in parts per million.
  *
  * Scale posture: both arms are one pass over the text files, all
  * aggregation partial; the fixture write is one narrow projection of
  * orders. A truncated prefix of a JSON object can never re-parse as
  * valid (the closing brace is lost), so the planted corruption is
  * deterministic on both sides.
  */
object ParseAudit {

  /** JSON lines in the GhArchive raw shape derived from orders; with
    * `corrupt` (the default), every key ≡ 0 (mod 37) line is truncated
    * mid-object (malformed); without, every line is valid — the
    * corrected-resend spelling x_quarantine_replay's upstream sends.
    */
  private[pipeline] def jsonLines(orders: DataFrame,
      corrupt: Boolean = true): DataFrame = {
    val line = to_json(struct(
      col("o_orderkey").as("id"),
      struct(
        col("o_custkey").as("id"),
        concat(lit("u"), col("o_custkey")).as("login"),
        concat(lit("U"), col("o_custkey")).as("display_login")).as("actor"),
      col("o_orderstatus").as("type"),
      struct(
        (col("o_orderkey") % 1000).as("id"),
        concat(lit("repo/"), col("o_orderkey") % 1000).as("name"),
        concat(lit("https://example.test/"), col("o_orderkey") % 1000).as("url")).as("repo"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("created_at")))
    if (!corrupt) orders.select(line.as("value"))
    else orders.select(
      when(col("o_orderkey") % 37 === 0,
        substring(line, 1, 40)) // cuts inside the actor struct: never valid
        .otherwise(line).as("value"))
  }

  val xMalformedAudit = Q(
    "x_malformed_audit",
    """SELECT CAST(count(*) FILTER (WHERE o_orderkey % 37 <> 0) AS BIGINT) AS n_clean,
              CAST(count(*) FILTER (WHERE o_orderkey % 37 = 0) AS BIGINT) AS n_corrupt,
              CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 37 <> 0) AS BIGINT) AS sum_clean_ids,
              (1000000 * count(*) FILTER (WHERE o_orderkey % 37 <> 0)) // count(*) AS clean_ppm,
              TRUE AS drop_matches
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val out = Scratch.path(s, "parseaudit/raw")
    jsonLines(orders).write.mode("overwrite").text(out)

    // production arm: the silver path's semantics (rows vanish)
    val dropped = s.read.schema(GhArchive.rawSchema)
      .option("mode", "DROPMALFORMED").json(out)
    val dropAgg = dropped.agg(
      count(lit(1)).as("d_n"), sum(col("id")).as("d_sum"))

    // audit arm: same files, malformed lines kept as _corrupt_record rows.
    // cache() first: Spark disallows queries that filter ONLY on the
    // internal corrupt column of a raw JSON scan (it would need a second
    // parse); the materialized plan lifts the restriction.
    val permSchema = StructType(
      GhArchive.rawSchema.fields :+
        org.apache.spark.sql.types.StructField("_corrupt_record", StringType))
    val perm = s.read.schema(permSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .cache()
    perm.agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("id"))).as("sum_clean_ids"),
        count(lit(1)).as("n_total"))
      .crossJoin(broadcast(dropAgg))
      .select(
        col("n_clean"), col("n_corrupt"), col("sum_clean_ids"),
        expr("(1000000 * n_clean) div n_total").as("clean_ppm"),
        (col("n_clean") === col("d_n") &&
          col("sum_clean_ids") === col("d_sum")).as("drop_matches"))
  }

  /** X — the dead-letter loop closed end to end: malformed lines are
    * QUARANTINED (persisted with the raw text and a reason — the
    * diagnosable artifact x_malformed_audit only counts), the upstream
    * resends corrected lines for exactly the quarantined keys, and the
    * replay lands them in silver IDEMPOTENTLY (left-anti on the event
    * key before append, so the at-least-once resend applied twice adds
    * zero rows — the x_stream_upsert argument at the ingest boundary).
    * Run against real files: fixture text write → DROPMALFORMED silver
    * write → PERMISSIVE quarantine write → corrected-resend text write →
    * replay append → a SECOND replay of the same resend (must add 0).
    * The graded row reads the stores; the oracle prices every count
    * arithmetically from the key modulus, and n_silver_final = the full
    * table count iff no row was lost or doubled anywhere in the loop.
    */
  val xQuarantineReplay = Q(
    "x_quarantine_replay",
    """SELECT CAST(count(*) FILTER (WHERE o_orderkey % 37 <> 0) AS BIGINT) AS n_silver_initial,
              CAST(count(*) FILTER (WHERE o_orderkey % 37 = 0) AS BIGINT) AS n_quarantined,
              CAST(count(*) FILTER (WHERE o_orderkey % 37 = 0) AS BIGINT) AS n_replayed,
              CAST(0 AS BIGINT) AS n_second_replay,
              CAST(count(*) AS BIGINT) AS n_silver_final,
              CAST(sum(o_orderkey) AS BIGINT) AS silver_id_sum
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val raw = Scratch.path(s, "quarantine/raw")
    val silver = Scratch.path(s, "quarantine/silver")
    val quarantine = Scratch.path(s, "quarantine/dead")
    val resend = Scratch.path(s, "quarantine/resend")
    jsonLines(orders).write.mode("overwrite").text(raw)

    // silver (production DROPMALFORMED path), quarantine (PERMISSIVE
    // dead-letter store) and the corrected resend are three independent
    // writes to disjoint paths — overlap them (core.Par, guide §2.6):
    // silver/quarantine re-parse the same raw text, resend reads orders
    val permSchema = StructType(
      GhArchive.rawSchema.fields :+
        org.apache.spark.sql.types.StructField("_corrupt_record", StringType))
    graft.core.Par.run(
      () => s.read.schema(GhArchive.rawSchema)
        .option("mode", "DROPMALFORMED").json(raw)
        .write.mode("overwrite").parquet(silver),
      () => {
        // the cache is LOAD-BEARING, not a perf choice: Spark refuses a
        // query whose only reference into a raw JSON scan is the
        // internal corrupt-record column unless the parse is cached
        val perm = s.read.schema(permSchema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(raw).cache()
        perm.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record").as("raw_line"),
            lit("malformed_json").as("reason"))
          .write.mode("overwrite").parquet(quarantine)
        perm.unpersist(false)
        ()
      },
      // upstream resends CORRECTED lines for the quarantined keys
      // (fixture: the untruncated spelling of every key ≡ 0 mod 37)
      () => jsonLines(orders.filter(col("o_orderkey") % 37 === 0),
        corrupt = false).write.mode("overwrite").text(resend))
    val Seq(nInitial, nQuarantined) = graft.core.Par.run[Long](
      () => s.read.parquet(silver).count(),
      () => s.read.parquet(quarantine).count())

    // replay, idempotently: left-anti on the event key, then append
    def replayOnce(): Long = {
      val fixed = s.read.schema(GhArchive.rawSchema)
        .option("mode", "DROPMALFORMED").json(resend)
      val novel = fixed.join(s.read.parquet(silver).select(col("id")),
        Seq("id"), "left_anti").localCheckpoint()
      val n = novel.count()
      if (n > 0) novel.write.mode("append").parquet(silver)
      n
    }
    val nReplayed = replayOnce()
    val nSecond = replayOnce() // the duplicate delivery: must add zero

    val agg = s.read.parquet(silver)
      .agg(count(lit(1)).as("n_silver_final"),
        sum(col("id")).as("silver_id_sum"))
    agg.select(
      lit(nInitial).as("n_silver_initial"),
      lit(nQuarantined).as("n_quarantined"),
      lit(nReplayed).as("n_replayed"),
      lit(nSecond).as("n_second_replay"),
      col("n_silver_final"), col("silver_id_sum"))
  }

  val all: Seq[Q] = Seq(xMalformedAudit, xQuarantineReplay)
}
