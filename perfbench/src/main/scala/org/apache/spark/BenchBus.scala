package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so per-pass counters read after a pass are complete. The bus is
  * `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
