package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // One retry per query: a transient driver-side hiccup (e.g. a glob
    // listing briefly returning empty under concurrent FS churn — observed
    // once against the fixture-blob directory) would otherwise turn a
    // correct query red for the whole round. A retry that also fails is a
    // real failure and is reported as before.
    // comma-separated name-prefix filter for quick iteration on a subset
    // (mirrors SPARK_GRAFT_BENCH_ONLY); the driver runs unfiltered
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      def attempt(): Unit =
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      try attempt()
      catch {
        case e1: Throwable =>
          System.err.println(s"[verify] $name attempt 1 failed " +
            s"(${e1.getMessage}); retrying")
          Thread.sleep(500)
          try attempt()
          catch { case e2: Throwable =>
            System.err.println(s"[verify] $name failed: ${e2.getMessage}")
          }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
