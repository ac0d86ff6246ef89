package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Waits until every listener event posted so far has been delivered,
  * so a spec's listener counts are complete when it asserts. The bus
  * is `private[spark]`, hence this package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs `body` starts on this thread, counted under a fresh job
    * group after the listener bus has delivered every event. */
  def jobsOf(sc: SparkContext)(body: => Any): Int = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TestBus.jobsOf")
    try body
    finally {
      sc.clearJobGroup()
      drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
