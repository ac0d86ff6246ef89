package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{IterJobRow, IterStateStore, RelationalTpch}
import graft.sources.Tables

/** Building a query over parquet sources launches no Spark job: the
  * schema comes from a driver-side footer read ([[graft.sources.Parquet]]),
  * not from Spark's one-task inference job per `spark.read.parquet`. */
class ReadJobsSpec extends SparkSpec {

  /** Spark jobs `body` starts on this thread, counted under a fresh job
    * group after the listener bus has delivered every event. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"read-jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ReadJobsSpec")
    try body
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("the job counter sees a job") {
    assert(jobsOf(spark.range(3).collect()) == 1)
  }

  for (q <- Seq("q1_pricing_summary", "q9_product_profit", "q18_large_orders", "q21_waiting_suppliers"))
    test(s"building $q launches no job") {
      assert(jobsOf(RelationalTpch.queries(q)(spark, sfDir)) == 0)
    }

  test("every Tables loader launches no job") {
    val loaders = Seq[(String, () => Any)](
      "region" -> (() => Tables.region(spark, sfDir)), "nation" -> (() => Tables.nation(spark, sfDir)),
      "customer" -> (() => Tables.customer(spark, sfDir)), "supplier" -> (() => Tables.supplier(spark, sfDir)),
      "part" -> (() => Tables.part(spark, sfDir)), "orders" -> (() => Tables.orders(spark, sfDir)),
      "lineitem" -> (() => Tables.lineitem(spark, sfDir)), "events" -> (() => Tables.events(spark, sfDir)),
      "documents" -> (() => Tables.documents(spark, sfDir)),
      "embeddings" -> (() => Tables.embeddings(spark, sfDir)))
    for ((name, load) <- loaders) assert(jobsOf(load()) == 0, name)
  }

  test("loading a saved iterator store runs exactly its collect") {
    val dir = java.nio.file.Files.createTempDirectory("graft-read-jobs").toString
    val store = IterStateStore.parquet(spark, dir)
    store.save(Seq(IterJobRow("j", "paused", 42L, Some(7L), 2L, 0L, 1L, Seq(0L, 10L))))
    var loaded: Option[Seq[IterJobRow]] = None
    assert(jobsOf { loaded = IterStateStore.parquet(spark, dir).load() } == 1)
    assert(loaded.get.map(_.processedCount) == Seq(42L))
  }
}
