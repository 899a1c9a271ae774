package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe: identify WHICH execution inside a composite build contains
  * a given plan node (env SPARK_GRAFT_ID_NODE, default CartesianProduct)
  * — prints a trimmed plan for each hit so census findings name the
  * exact join instead of a query-level tag.
  * Env: SPARK_GRAFT_ID_QUERY (required), SPARK_GRAFT_ID_SF (default
  * /root/testdata/sf0.1), SPARK_GRAFT_ID_NODE.
  */
object CensusIdProbe {
  def main(args: Array[String]): Unit = {
    val q = sys.env("SPARK_GRAFT_ID_QUERY")
    val sf = sys.env.getOrElse("SPARK_GRAFT_ID_SF", "/root/testdata/sf0.1")
    val node = sys.env.getOrElse("SPARK_GRAFT_ID_NODE", "CartesianProduct")
    val spark = Sessions.local("32")
    var n = 0
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains(node)) {
          n += 1
          println(s"=== HIT $n ($node) ===")
          // print the node line plus context so the join inputs are visible
          val lines = p.linesIterator.toSeq
          val idx = lines.indexWhere(_.contains(node))
          lines.slice(math.max(0, idx - 6), idx + 14).foreach(println)
        }
      }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val rows = SparkEntry.queries(q)(spark, sf).count()
    println(s"done: $q rows=$rows hits=$n")
    spark.stop()
  }
}
