package org.apache.spark

/** Waits until every listener queue has delivered its events, so the
  * tracer can attribute them to the op that just ended. The bus is
  * private to Spark, hence this package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
