package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * bench's listener counters are complete when it reads them. The bus is
  * Spark-internal, hence this one-line bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
