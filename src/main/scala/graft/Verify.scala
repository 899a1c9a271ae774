package graft
import scala.jdk.CollectionConverters._
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
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
