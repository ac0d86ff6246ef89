package graft

import org.apache.spark.TestBus
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.util.LongAccumulator

import graft.operators.{AccBatchRow, AccSnapshot, AccStore, BatchAccumulator, FlushRecord, IterJobRow,
  IterStateStore, RelationalTpch, TableIterator}
import graft.sources.Tables

/** Building a query over parquet sources launches no Spark job: the
  * schema comes from a driver-side footer read ([[graft.sources.Parquet]]),
  * not from Spark's one-task inference job per `spark.read.parquet`.
  * Control-plane snapshots are saved and loaded on the driver, and an
  * add's only job is its chunk write. */
class ReadJobsSpec extends SparkSpec {

  private def jobsOf(body: => Any): Int = TestBus.jobsOf(spark.sparkContext)(body)

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

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-read-jobs").toString

  test("loading a saved iterator store launches no job") {
    val dir = tmp()
    val store = IterStateStore.parquet(spark, dir)
    store.save(Seq(IterJobRow("j", "paused", 42L, Some(7L), 2L, 0L, 1L, Seq(0L, 10L), Seq(20L, 42L))))
    var loaded: Option[Seq[IterJobRow]] = None
    assert(jobsOf { loaded = IterStateStore.parquet(spark, dir).load() } == 0)
    assert(loaded.get.map(_.processedCount) == Seq(42L))
  }

  test("saving an iterator store or an accumulator store launches no job") {
    val iter = IterStateStore.parquet(spark, tmp())
    assert(jobsOf(iter.save(Seq(IterJobRow("j", "running", 1L, None, 1L, 0L, 1L, Seq(0L), Seq(1L))))) == 0)
    val acc = AccStore.parquet[Long](spark, tmp())(Encoders.scalaLong)
    val snap = AccSnapshot(Seq(AccBatchRow("b", 0L, "accumulating", 3L, 1L, None, 0L, Seq("chunk-0"), Nil)),
      Nil, Seq(FlushRecord("a", 0L, 5L, 9L, 2L, success = true)), 1L)
    assert(jobsOf(acc.save(snap)) == 0)
    assert(acc.load().contains(snap))
  }

  /** An accumulator over `store` that never flushes on its own. */
  private def accumulator(store: AccStore[Long]) =
    new BatchAccumulator[Long](threshold = 1000, process = _ => (), store = store)

  /** Rows `0 until n` whose every evaluation bumps `evals`. */
  private def counted(n: Long, evals: LongAccumulator): Dataset[Long] = {
    val s = spark; import s.implicits._
    s.range(n).map { x => evals.add(1); x }
  }

  test("an add on a parquet store launches exactly its chunk write") {
    val a = accumulator(AccStore.parquet[Long](spark, tmp())(Encoders.scalaLong))
    val s = spark; import s.implicits._
    assert(jobsOf(a.addItems("b", s.range(7).as[Long])) == 1)
    assert(jobsOf(a.addItems("b", s.range(5).as[Long])) == 1)
    assert(a.getBatchStatus("b").get.itemCount == 12L)
  }

  test("an add evaluates the caller's lineage once") {
    for ((name, store) <- Seq("parquet" -> AccStore.parquet[Long](spark, tmp())(Encoders.scalaLong),
                              "in-memory" -> AccStore.none[Long])) {
      val evals = spark.sparkContext.longAccumulator(s"evals-$name")
      val a = accumulator(store)
      assert(a.addItems("b", counted(9, evals)).itemCount == 9L, name)
      assert(evals.sum == 9L, name)
      assert(a.addItems("b", counted(4, evals)).itemCount == 13L, name)
      assert(evals.sum == 13L, name)
    }
  }

  test("a warm iterator start launches at most two jobs and a step only its process's") {
    val orders = Tables.orders(spark, sfDir)
    val it = new TableIterator(orders, "o_orderkey", 1000, process = _ => (),
      store = IterStateStore.parquet(spark, tmp()))
    it.start("cold")
    assert(jobsOf(it.start("j")) <= 2)
    // 1,500 orders at sf0.001: two chunks, then the completing step
    assert(jobsOf(assert(it.step("j"))) == 0)
    assert(jobsOf(assert(it.step("j"))) == 0)
    assert(jobsOf(assert(!it.step("j"))) == 0)
    assert(it.status("j").get.status == "completed")
  }
}
