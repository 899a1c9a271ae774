package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to deliver
  * every posted event, so traced counters are complete when they are read.
  * The bus is private to Spark, hence this one-line bridge in its package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
