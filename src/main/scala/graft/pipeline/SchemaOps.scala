package graft.pipeline

import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}

/** Schema DRIFT at the ingest boundary: an UNEXPECTED field appears in
  * the raw JSON. The schema-pinned production read (SURVEY.md §2a R3)
  * deliberately ignores it — correct for availability, silent as an
  * operational signal. The drift gate re-scans the raw text with a
  * JSON path probe and counts rows carrying fields the pinned schema
  * doesn't know, so the "upstream started sending something new" alarm
  * fires before a quarter of data has shipped without it. (The sibling
  * event — a KNOWN new column across parquet file generations — is
  * `x_schema_evolution` in ops/Extra.scala: mergeSchema.) The fixture
  * plants the drift with a key-modulus rule, so the oracle prices every
  * count arithmetically from the orders table.
  */
object SchemaOps {

  /** X — schema-drift gate over the raw JSON: every key ≡ 0 (mod 53)
    * line carries an extra `new_field` the pinned schema doesn't know.
    * The production read must NOT break or drop those rows (extra
    * fields are valid JSON — `pinned_reads_all` grades that), and the
    * gate must count them exactly (`get_json_object` path probe over
    * the raw text — one extra narrow scan, codegen'd, only run by the
    * monitoring job).
    */
  val xSchemaDrift = Q(
    "x_schema_drift",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) FILTER (WHERE o_orderkey % 53 = 0) AS BIGINT) AS n_drifted,
              (1000000 * count(*) FILTER (WHERE o_orderkey % 53 = 0)) // count(*)
                AS drift_ppm,
              TRUE AS pinned_reads_all
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
    val raw = Scratch.path(s, "schemadrift/raw")
    val base = ParseAudit.jsonLines(orders, corrupt = false)
    // inject the unexpected field before the closing brace
    base.select(
        when(expr("get_json_object(value, '$.id')").cast("long") % 53 === 0,
          concat(expr("substring(value, 1, length(value) - 1)"),
            lit(",\"new_field\":\"surprise\"}")))
          .otherwise(col("value")).as("value"))
      .write.mode("overwrite").text(raw)

    // production read: pinned schema, drifted rows must all survive
    val pinned = GhArchive.read(s, raw)
    val nPinned = pinned.count()

    // the drift gate: raw-text path probe for fields outside the schema
    val gate = s.read.text(raw)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(expr("get_json_object(value, '$.new_field')").isNotNull,
          1L).otherwise(0L)).as("n_drifted"))
    gate.select(
      col("n_rows"), col("n_drifted"),
      expr("(1000000 * n_drifted) div n_rows").as("drift_ppm"),
      (col("n_rows") === lit(nPinned)).as("pinned_reads_all"))
  }

  val all: Seq[Q] = Seq(xSchemaDrift)
}
