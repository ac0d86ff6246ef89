package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{IterStateStore, TableIterator}
import graft.sources.Tables

class IteratorSpec extends SparkSpec {

  private def orders: DataFrame = Tables.orders(spark, sfDir)
  private lazy val total: Long = orders.count()

  test("runAll visits every row exactly once, in cursor order") {
    val seen = collection.mutable.Buffer.empty[Long]
    val completed = collection.mutable.Buffer.empty[String]
    val it = new TableIterator(orders, "o_orderkey", 400,
      process = df => seen += df.count(),
      onComplete = completed += _, clock = () => 7L)
    it.start("job1")
    val st = it.runAll("job1")
    assert(st.status == "completed")
    assert(st.processedCount == total)
    assert(seen.sum == total)
    assert(seen.init.forall(_ == 400L)) // all full except possibly last
    assert(completed.toList == List("job1"))
    assert(st.cursor.contains(orders.agg(org.apache.spark.sql.functions.max("o_orderkey"))
      .head.getLong(0)))
  }

  test("pause stops between batches; resume continues from cursor") {
    val it = new TableIterator(orders, "o_orderkey", 400,
      process = _ => (), clock = () => 7L)
    it.start("j")
    assert(it.step("j"))
    assert(it.step("j"))
    it.pause("j")
    assert(!it.step("j"))
    val paused = it.status("j").get
    assert(paused.status == "paused" && paused.processedCount == 800)
    it.resume("j")
    val done = it.runAll("j")
    assert(done.status == "completed" && done.processedCount == total)
  }

  test("cancel stops the job for good") {
    val it = new TableIterator(orders, "o_orderkey", 400,
      process = _ => (), clock = () => 7L)
    it.start("j")
    it.step("j")
    it.cancel("j")
    val st = it.runAll("j")
    assert(st.status == "cancelled" && st.processedCount == 400)
    it.resume("j") // resume only applies to paused jobs
    assert(it.status("j").get.status == "cancelled")
  }

  test("transient failures retry with exponential backoff then succeed") {
    val sleeps = collection.mutable.Buffer.empty[Long]
    var failures = 2
    val it = new TableIterator(orders, "o_orderkey", 10000,
      process = _ => if (failures > 0) { failures -= 1; throw new RuntimeException("flaky") },
      maxRetries = 3, sleeper = sleeps += _, clock = () => 7L)
    it.start("j")
    val st = it.runAll("j")
    assert(st.status == "completed")
    assert(sleeps.toList == List(1000L, 2000L)) // 1s, 2s backoff
    assert(st.retries == 2)
  }

  test("exhausted retries fail the job; processed count is untouched") {
    val sleeps = collection.mutable.Buffer.empty[Long]
    val it = new TableIterator(orders, "o_orderkey", 10000,
      process = _ => throw new RuntimeException("always"),
      maxRetries = 2, sleeper = sleeps += _, clock = () => 7L)
    it.start("j")
    val st = it.runAll("j")
    assert(st.status == "failed" && st.processedCount == 0)
    assert(sleeps.toList == List(1000L, 2000L))
  }

  test("backoff caps at 30s") {
    val it = new TableIterator(orders, "o_orderkey", 100, process = _ => ())
    assert(it.backoffMs(0) == 1000L)
    assert(it.backoffMs(4) == 16000L)
    assert(it.backoffMs(5) == 30000L)
    assert(it.backoffMs(10) == 30000L)
  }

  test("list shows all jobs with status filter and limit; delete removes") {
    val it = new TableIterator(orders, "o_orderkey", 5000,
      process = _ => (), clock = () => 7L)
    it.start("a"); it.start("b"); it.start("c")
    it.runAll("a")
    val byId = it.list().map(s => s.jobId -> s.status).toMap
    assert(byId == Map("a" -> "completed", "b" -> "pending", "c" -> "pending"))
    assert(it.list(statusFilter = Some("pending")).map(_.jobId) == Seq("b", "c"))
    assert(it.list(statusFilter = Some("completed")).map(_.jobId) == Seq("a"))
    assert(it.list(limit = Some(2)).size == 2)
    it.delete("b"); it.delete("c")
    assert(it.list().map(_.jobId) == Seq("a"))
  }

  test("jobs start pending, run on first step; list filters all five statuses") {
    var fail = false
    val it = new TableIterator(orders, "o_orderkey", 400,
      process = _ => if (fail) throw new RuntimeException("boom"),
      maxRetries = 0, sleeper = _ => (), clock = () => 7L)
    // pending: started, never stepped
    it.start("p")
    assert(it.status("p").get.status == "pending")
    // running: stepped once, more batches remain
    it.start("r"); assert(it.step("r"))
    assert(it.status("r").get.status == "running")
    // paused
    it.start("z"); it.step("z"); it.pause("z")
    // completed
    it.start("c"); it.runAll("c")
    // failed
    it.start("f"); fail = true; it.step("f"); fail = false
    val want = Map("p" -> "pending", "r" -> "running", "z" -> "paused",
      "c" -> "completed", "f" -> "failed")
    assert(it.list().map(s => s.jobId -> s.status).toMap == want)
    want.foreach { case (id, status) =>
      assert(it.list(statusFilter = Some(status)).map(_.jobId) == Seq(id),
        s"filter $status")
    }
    // a pending job can be cancelled but not paused (reference allows
    // pause only from running)
    it.pause("p")
    assert(it.status("p").get.status == "pending")
    it.cancel("p")
    assert(it.status("p").get.status == "cancelled")
  }

  test("delayBetweenBatchesMs throttles between successful batches") {
    val sleeps = collection.mutable.Buffer.empty[Long]
    val it = new TableIterator(orders, "o_orderkey", 400,
      process = _ => (), delayBetweenBatchesMs = 250L,
      sleeper = sleeps += _, clock = () => 7L)
    it.start("j")
    it.step("j"); it.step("j")
    assert(sleeps.toList == List(250L, 250L))
  }

  test("a non-unique key: every row once, at any batch size, across a restart") {
    val s = spark; import s.implicits._
    // l_orderkey repeats 1-7 times per order, so rank multiples of
    // batchSize fall inside runs of equal keys. The rows are held in a
    // local relation: a chunk's collect then runs on the driver, so
    // the ~1,500 chunks of batchSize 2 take seconds, not minutes.
    val keys = Tables.lineitem(spark, sfDir).select($"l_orderkey").as[Long].collect().sorted.toSeq
    val li = keys.toDF("l_orderkey")
    val chunkKeys = (df: DataFrame) => df.collect().map(_.getLong(0)).sorted.toSeq
    val runs = Seq(2L, 3L, 7L, 1000L).map { batch =>
      val chunks = collection.mutable.Buffer.empty[Seq[Long]]
      val it = new TableIterator(li, "l_orderkey", batch, process = chunks += chunkKeys(_), clock = () => 7L)
      it.start("j")
      val st = it.runAll("j")
      assert(st.status == "completed", s"batchSize $batch")
      assert(st.processedCount == keys.size, s"batchSize $batch")
      assert(chunks.map(_.size).sum == keys.size && chunks.map(_.sum).sum == keys.sum, s"batchSize $batch")
      assert(chunks.flatten == keys, s"batchSize $batch: rows out of key order, lost or repeated")
      assert(chunks.sliding(2).forall(p => p.size < 2 || p(0).last < p(1).head),
        s"batchSize $batch: a tie split across chunks")
      batch -> chunks.toList
    }.toMap
    // mid-job restart on the same key: the chunk sequence equals the
    // uninterrupted run's
    val dir = java.nio.file.Files.createTempDirectory("graft-iter-ties").toString
    val resumed = collection.mutable.Buffer.empty[Seq[Long]]
    def make() = new TableIterator(li, "l_orderkey", 7, process = resumed += chunkKeys(_), clock = () => 7L,
      store = IterStateStore.parquet(spark, dir))
    val a = make()
    a.start("j")
    (1 to 5).foreach(_ => assert(a.step("j")))
    val b = make()
    assert(b.status("j") == a.status("j"))
    val done = b.runAll("j")
    assert(done.status == "completed" && done.processedCount == keys.size)
    assert(resumed.toList == runs(7L))
  }

  test("null keys are never processed or counted") {
    val s = spark; import s.implicits._
    val df = (Seq[Option[Long]](None, Some(3L), Some(1L), None, Some(2L), Some(2L), Some(-4L), None))
      .toDF("k")
    val chunks = collection.mutable.Buffer.empty[Seq[Long]]
    val it = new TableIterator(df, "k", 2,
      process = c => chunks += c.select($"k").as[Long].collect().sorted.toSeq, clock = () => 7L)
    it.start("j")
    val st = it.runAll("j")
    assert(st.status == "completed" && st.processedCount == 5L && st.cursor.contains(3L))
    assert(chunks.toList == List(Seq(-4L, 1L), Seq(2L, 2L), Seq(3L)))
  }
}
