package graft

import org.apache.spark.sql.Dataset

import graft.operators.BatchAccumulator

class AccumulatorSpec extends SparkSpec {

  private def acc(sink: collection.mutable.Buffer[Long],
                  failFirst: Int = 0): BatchAccumulator[java.lang.Long] = {
    var failures = failFirst
    new BatchAccumulator[java.lang.Long](
      threshold = 10,
      process = (ds: Dataset[java.lang.Long]) => {
        if (failures > 0) { failures -= 1; throw new RuntimeException("boom") }
        sink += ds.count()
      },
      clock = () => 42L)
  }

  private def items(n: Int): Dataset[java.lang.Long] = {
    val s = spark; import s.implicits._
    s.range(n).map(java.lang.Long.valueOf(_))
  }

  test("accumulates below threshold, auto-flushes at threshold") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink)
    val st1 = a.addItems("b", items(4))
    assert(st1.status == "accumulating" && st1.itemCount == 4 && st1.seq == 0)
    val st2 = a.addItems("b", items(6)) // reaches 10 → immediate flush
    assert(sink.toList == List(10L))
    assert(st2.status == "accumulating" && st2.itemCount == 0 && st2.seq == 1)
    val hist = a.getFlushHistory("b")
    assert(hist.map(h => (h.seq, h.itemCount, h.success)) == Seq((0L, 10L, true)))
  }

  test("manual flush of a partial batch; sequences advance") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink)
    a.addItems("b", items(3))
    assert(a.flush("b"))
    assert(sink.toList == List(3L))
    a.addItems("b", items(2))
    val all = a.getAllBatchesForBaseId("b")
    assert(all.map(b => (b.seq, b.status, b.itemCount)) ==
      Seq((0L, "completed", 3L), (1L, "accumulating", 2L)))
  }

  test("failed flush retains items and records failure") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink, failFirst = 1)
    a.addItems("b", items(5))
    assert(!a.flush("b"))
    assert(sink.isEmpty)
    val st = a.getBatchStatus("b").get
    assert(st.status == "accumulating" && st.itemCount == 5 && st.seq == 0)
    // retry succeeds with the SAME retained items
    assert(a.flush("b"))
    assert(sink.toList == List(5L))
    assert(a.getFlushHistory("b").map(_.success) == Seq(false, true))
  }

  test("flush on empty or unknown batch is a no-op") {
    val a = acc(collection.mutable.Buffer.empty[Long])
    assert(!a.flush("nope"))
  }

  test("interval tick flushes only batches older than the interval") {
    val s = spark; import s.implicits._
    var now = 1000L
    val sink = collection.mutable.Buffer.empty[Long]
    val a = new BatchAccumulator[java.lang.Long](
      threshold = 100, process = ds => sink += ds.count(),
      flushIntervalMs = Some(60000L), clock = () => now)
    a.addItems("old", items(3))
    now = 30000L
    a.addItems("young", items(2))
    now = 70000L                       // old is 69s stale, young 40s
    assert(a.tick() == Seq("old"))
    assert(sink.toList == List(3L))
    assert(a.getBatchStatus("young").get.itemCount == 2)
    now = 95000L                       // now young crosses the interval
    assert(a.tick() == Seq("young"))
    assert(sink.toList == List(3L, 2L))
    assert(a.tick().isEmpty)           // nothing left accumulating
  }

  test("flushing state is observable and mid-flush adds strand into seq+1") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink)
    a.addItems("b", items(5))
    assert(a.beginFlush("b"))
    // flushing is observable, reporting the in-flight snapshot count
    val mid = a.getBatchStatus("b").get
    assert(mid.status == "flushing" && mid.itemCount == 5 && mid.seq == 0)
    // adds during the flush are stranded for the next sequence
    a.addItems("b", items(3))
    assert(a.getBatchStatus("b").get.status == "flushing")
    assert(a.getAllBatchesForBaseId("b").map(b => (b.seq, b.status, b.itemCount)) ==
      Seq((0L, "flushing", 5L), (1L, "accumulating", 3L)))
    // a second flush can't start while one is in flight
    assert(!a.beginFlush("b"))
    assert(a.completeFlush("b"))
    assert(sink.toList == List(5L)) // stranded items were NOT in the flush
    assert(a.getAllBatchesForBaseId("b").map(b => (b.seq, b.status, b.itemCount)) ==
      Seq((0L, "completed", 5L), (1L, "accumulating", 3L)))
    // the stranded items flush as their own sequence
    assert(a.flush("b"))
    assert(sink.toList == List(5L, 3L))
    assert(a.getFlushHistory("b").map(h => (h.seq, h.itemCount)) ==
      Seq((0L, 5L), (1L, 3L)))
  }

  test("stranded items already past the threshold flush immediately on completion") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink)
    a.addItems("b", items(4))
    assert(a.beginFlush("b"))
    a.addItems("b", items(11)) // stranded AND >= threshold(10)
    assert(sink.isEmpty)       // but nothing flushes mid-flush
    assert(a.completeFlush("b"))
    // completion rolled seq+1 over and flushed it straight away
    assert(sink.toList == List(4L, 11L))
    assert(a.getFlushHistory("b").map(h => (h.seq, h.itemCount, h.success)) ==
      Seq((0L, 4L, true), (1L, 11L, true)))
  }

  test("failed flush reverts to accumulating and retains snapshot plus stranded adds") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink, failFirst = 1)
    a.addItems("b", items(5))
    assert(a.beginFlush("b"))
    a.addItems("b", items(2)) // stranded while the failing flush runs
    assert(!a.completeFlush("b"))
    assert(sink.isEmpty)
    // revert: same sequence, accumulating, ALL 7 items retained
    val st = a.getBatchStatus("b").get
    assert(st.status == "accumulating" && st.seq == 0 && st.itemCount == 7)
    // retry processes everything exactly once
    assert(a.flush("b"))
    assert(sink.toList == List(7L))
    assert(a.getFlushHistory("b").map(h => (h.itemCount, h.success)) ==
      Seq((5L, false), (7L, true)))
  }

  test("deleteBatch drops state and history") {
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink)
    a.addItems("b", items(12)) // auto-flush at 10 (12 ≥ threshold)
    a.deleteBatch("b")
    assert(a.getBatchStatus("b").isEmpty)
    assert(a.getFlushHistory("b").isEmpty)
    assert(a.getAllBatchesForBaseId("b").isEmpty)
  }

  test("an add on the in-memory store counts exactly and never waits on its observation") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sink = collection.mutable.Buffer.empty[Long]
    val a = acc(sink) // AccStore.none: the chunk write runs nothing
    val statuses = Await.result(Future {
      Seq(a.addItems("b", items(4)), a.addItems("b", items(3)), a.addItems("b", items(5)))
    }, 2.minutes)
    assert(statuses.map(s => (s.seq, s.itemCount)) == Seq((0L, 4L), (0L, 7L), (1L, 0L)))
    // the third add crossed the threshold (12 ≥ 10) and flushed all 12
    assert(sink.toList == List(12L))
    assert(a.getFlushHistory("b").map(h => (h.seq, h.itemCount, h.success)) == Seq((0L, 12L, true)))
  }
}
