package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a pass's trace counters are complete when they are read. The bus
  * is Spark-private; this one call is why the file sits in Spark's
  * package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
