package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has been
  * delivered, so the per-op stage metrics are complete when an op returns.
  * The listener bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
