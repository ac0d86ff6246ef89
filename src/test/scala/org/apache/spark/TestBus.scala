package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a spec's listener counts are complete when it asserts. The bus
  * is `private[spark]`, hence this package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
