package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.operators.{AccStore, BatchAccumulator, IterStateStore, TableIterator}
import graft.sources.Tables

/** Durable control-plane state (VERDICT r5 #4): the reference
  * persists batches/jobs in Convex tables (schema.ts:1-72), so
  * pause/resume survives a process restart. These specs run half a
  * job, DISCARD the API object, reconstruct it from storage alone,
  * and resume to a bit-identical result. */
class DurableControlPlaneSpec extends SparkSpec {

  private def orders: DataFrame = Tables.orders(spark, sfDir)
  private lazy val total: Long = orders.count()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Per-chunk fingerprint: (count, sum of keys) — order-sensitive
    * concatenation across chunks is the bit-identity yardstick. */
  private def chunkSig(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)), sum(col("o_orderkey"))).head
    (r.getLong(0), r.getLong(1))
  }

  test("TableIterator resumes from persisted cursor after a driver restart") {
    // ground truth: one uninterrupted run
    val fullChunks = collection.mutable.Buffer.empty[(Long, Long)]
    val base = new TableIterator(orders, "o_orderkey", 400,
      process = df => fullChunks += chunkSig(df), clock = () => 7L)
    base.start("j")
    base.runAll("j")

    val dir = tmp("graft-iter-state")
    val chunks = collection.mutable.Buffer.empty[(Long, Long)]
    val a = new TableIterator(orders, "o_orderkey", 400,
      process = df => chunks += chunkSig(df), clock = () => 7L,
      store = IterStateStore.parquet(spark, dir))
    a.start("j")
    a.step("j"); a.step("j"); a.step("j")
    val half = a.status("j").get
    assert(half.batchesDone == 3 && half.processedCount == 1200)
    // `a` is now discarded — a NEW iterator over the same store must
    // see the cursor, counts and status from storage alone
    val b = new TableIterator(orders, "o_orderkey", 400,
      process = df => chunks += chunkSig(df), clock = () => 7L,
      store = IterStateStore.parquet(spark, dir))
    val resumed = b.status("j").get
    assert(resumed.status == "running")
    assert(resumed.cursor == half.cursor)
    assert(resumed.processedCount == 1200 && resumed.batchesDone == 3)
    val done = b.runAll("j")
    assert(done.status == "completed" && done.processedCount == total)
    // bit-identical: the chunk sequence across the restart equals the
    // uninterrupted run's
    assert(chunks.toList == fullChunks.toList)
  }

  test("TableIterator persists pause/cancel/failed states across restart") {
    val dir = tmp("graft-iter-state")
    def make() = new TableIterator(orders, "o_orderkey", 400,
      process = _ => (), clock = () => 7L,
      store = IterStateStore.parquet(spark, dir))
    val a = make()
    a.start("p"); a.step("p"); a.pause("p")
    a.start("c"); a.cancel("c")
    val b = make()
    assert(b.status("p").get.status == "paused")
    assert(b.status("c").get.status == "cancelled")
    assert(!b.step("p")) // paused jobs stay paused across restarts
    b.resume("p")
    assert(b.runAll("p").status == "completed")
    // a third generation sees the completion
    assert(make().status("p").get.status == "completed")
  }

  private def items(lo: Long, hi: Long): Dataset[java.lang.Long] = {
    val s = spark; import s.implicits._
    s.range(lo, hi).map(java.lang.Long.valueOf(_))
  }

  private def accStore(dir: String): AccStore[java.lang.Long] =
    AccStore.parquet[java.lang.Long](spark, dir)(org.apache.spark.sql.Encoders.LONG)

  test("BatchAccumulator resumes buffers, seq and history after a driver restart") {
    val dir = tmp("graft-acc-state")
    val flushed = collection.mutable.Buffer.empty[Set[Long]]
    def make() = new BatchAccumulator[java.lang.Long](
      threshold = 1000, // manual flushes only
      process = ds => flushed += ds.collect().map(Long.unbox).toSet,
      clock = () => 7L, store = accStore(dir))

    val a = make()
    a.addItems("b", items(0, 10))
    a.addItems("b", items(10, 25))
    a.flush("b") // seq 0 completes: {0..24}
    a.addItems("b", items(25, 30))
    assert(a.getBatchStatus("b").get.itemCount == 5)

    // restart: buffers, sequence number, completed list and history
    // all come back from storage
    val b = make()
    val st = b.getBatchStatus("b").get
    assert(st.seq == 1 && st.status == "accumulating" && st.itemCount == 5)
    assert(b.getFlushHistory("b").map(h => (h.seq, h.itemCount, h.success)) ==
      Seq((0L, 25L, true)))
    assert(b.getAllBatchesForBaseId("b").map(s => (s.seq, s.status, s.itemCount)) ==
      Seq((0L, "completed", 25L), (1L, "accumulating", 5L)))
    b.addItems("b", items(30, 33))
    b.flush("b")
    // both flushes processed exactly the items added — across the
    // restart boundary, no loss, no duplication
    assert(flushed.toList == List((0L until 25L).toSet, (25L until 33L).toSet))
  }

  test("BatchAccumulator recovers an interrupted flush by the failed-flush revert") {
    val dir = tmp("graft-acc-state")
    val flushed = collection.mutable.Buffer.empty[Set[Long]]
    def make() = new BatchAccumulator[java.lang.Long](
      threshold = 1000,
      process = ds => flushed += ds.collect().map(Long.unbox).toSet,
      clock = () => 7L, store = accStore(dir))

    val a = make()
    a.addItems("b", items(0, 20))
    assert(a.beginFlush("b")) // snapshot taken, persisted as `flushing`
    a.addItems("b", items(20, 24)) // stranded adds
    // driver dies here: completeFlush never runs. Recovery = the
    // failed-flush revert — snapshot AND stranded adds retained,
    // status back to accumulating (lib.ts:699-716 semantics).
    val b = make()
    val st = b.getBatchStatus("b").get
    assert(st.status == "accumulating" && st.itemCount == 24 && st.seq == 0)
    b.flush("b")
    assert(flushed.toList == List((0L until 24L).toSet))
    assert(b.getFlushHistory("b").map(h => (h.seq, h.itemCount, h.success)) ==
      Seq((0L, 24L, true)))
  }

  /** Delegating store with injectable crash points — the spec's stand-in
    * for a driver dying inside a specific transition window. */
  private class CrashableStore(real: AccStore[java.lang.Long])
      extends AccStore[java.lang.Long] {
    var dieOnDelete = false
    var dieOnSave = false
    /** Throw instead of making the store call with this index. */
    var dieAt = -1
    /** The API method in progress, recorded with each store call. */
    var api = ""
    val calls = collection.mutable.Buffer.empty[(String, String)]
    private def call[A](name: String, die: Boolean)(body: => A): A = {
      calls += ((api, name))
      if (die || calls.size - 1 == dieAt) throw new RuntimeException(s"died before $name")
      body
    }
    def writeChunk(h: String, items: Dataset[java.lang.Long]): Dataset[java.lang.Long] =
      call("writeChunk", die = false)(real.writeChunk(h, items))
    def readChunk(h: String): Dataset[java.lang.Long] = real.readChunk(h)
    def deleteChunks(hs: Seq[String]): Unit = call("deleteChunks", dieOnDelete)(real.deleteChunks(hs))
    def save(s: graft.operators.AccSnapshot): Unit = call("save", dieOnSave)(real.save(s))
    def load(): Option[graft.operators.AccSnapshot] = real.load()
  }

  test("a crash at any store call of an add, a flush or a deleteBatch loses no item and buffers none twice") {
    // One script reaches every store call addItems, beginFlush,
    // completeFlush and deleteBatch make: a manual flush of `a` with a
    // stranded add, a threshold flush of `a` inside addItems, and the
    // deletion of `b`. Each case dies at one call, then restarts. Every
    // item of an add that returned must come back processed or
    // buffered (at-least-once), unless its batch was being deleted.
    /** Runs the script dying at store call `dieAt` (-1: never), restarts,
      * and returns the store calls made and what the restart got wrong. */
    def crashAt(dieAt: Int): (Seq[(String, String)], Option[String]) = {
      val dir = tmp("graft-acc-crashpoint")
      val processed, buffered, acked = collection.mutable.Buffer.empty[Long]
      val store = new CrashableStore(accStore(dir))
      store.dieAt = dieAt
      val a = new BatchAccumulator[java.lang.Long](threshold = 20,
        process = ds => processed ++= ds.collect().map(Long.unbox),
        clock = () => 7L, store = store)
      def op(name: String)(body: => Any): Unit = { store.api = name; body }
      def add(id: String, lo: Long, hi: Long): Unit =
        op("addItems") { a.addItems(id, items(lo, hi)); acked ++= (lo until hi) }
      val died = scala.util.Try {
        add("a", 0, 10)
        add("b", 10, 14)
        op("beginFlush")(a.beginFlush("a"))
        add("a", 14, 20)
        op("completeFlush")(a.completeFlush("a"))
        add("a", 20, 40)
        op("deleteBatch")(a.deleteBatch("b"))
      }.isFailure
      val deleted = if (store.api == "deleteBatch") (10L until 14L).toSet else Set.empty[Long]
      val problem = scala.util.Try {
        val b = new BatchAccumulator[java.lang.Long](threshold = 1000,
          process = ds => buffered ++= ds.collect().map(Long.unbox),
          clock = () => 7L, store = accStore(dir))
        val counted = Seq("a", "b").flatMap(b.getBatchStatus)
          .filter(_.status == "accumulating").map(_.itemCount).sum
        Seq("a", "b").foreach(b.flush)
        counted
      } match {
        case scala.util.Failure(e) => Some(s"restart threw $e")
        case scala.util.Success(counted) =>
          val missing = acked.toSet -- deleted -- processed -- buffered
          if (died != (dieAt >= 0)) Some(s"died=$died")
          else if (missing.nonEmpty) Some(s"lost ${missing.toSeq.sorted}")
          else if (buffered.distinct.size != buffered.size) Some(s"buffered twice: ${buffered.sorted}")
          else if (counted != buffered.size) Some(s"status counts $counted, buffers ${buffered.size}")
          else None
      }
      (store.calls.toSeq, problem)
    }
    val (calls, clean) = crashAt(-1)
    assert(clean.isEmpty, clean)
    val expected = Set("addItems" -> "writeChunk", "addItems" -> "save", "addItems" -> "deleteChunks",
      "beginFlush" -> "save", "completeFlush" -> "save", "completeFlush" -> "deleteChunks",
      "deleteBatch" -> "save", "deleteBatch" -> "deleteChunks")
    assert(expected.subsetOf(calls.toSet), calls)
    val failures = calls.indices.flatMap { i =>
      crashAt(i)._2.map(p => s"crash before call $i ${calls(i)}: $p")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("concurrent addItems to one batchId lose no add, and a restart sees the same state") {
    val dir = tmp("graft-acc-concurrent")
    val flushed = collection.mutable.Buffer.empty[Long]
    def make() = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = ds => flushed ++= ds.collect().map(Long.unbox),
      clock = () => 7L, store = accStore(dir))
    val a = make()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val adds = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 3).foreach { k =>
            val lo = (t * 3 + k) * 10L
            a.addItems("b", items(lo, lo + 10))
          }
        })
      }
      adds.foreach(_.get())
    } finally pool.shutdown()
    assert(a.getBatchStatus("b").get.itemCount == 120)
    val b = make()
    assert(b.getAllBatchesForBaseId("b") == a.getAllBatchesForBaseId("b"))
    assert(b.flush("b") && flushed.sorted == (0L until 120L))
  }

  test("crash between post-flush checkpoint and chunk GC: snapshot stays recoverable") {
    // the ordering invariant under test: completeFlush persists the
    // reference-free snapshot BEFORE deleting in-flight chunks, so
    // dying in between orphans files but never leaves a persisted row
    // pointing at deleted chunks (which load-on-construct could not
    // recover from)
    val dir = tmp("graft-acc-midgc")
    val flushed = collection.mutable.Buffer.empty[Set[Long]]
    def proc(ds: Dataset[java.lang.Long]): Unit =
      flushed += ds.collect().map(Long.unbox).toSet
    val crashing = new CrashableStore(accStore(dir))
    val a = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = proc, clock = () => 7L, store = crashing)
    a.addItems("b", items(0, 20))
    assert(a.beginFlush("b"))
    a.addItems("b", items(20, 24)) // stranded during the flush
    crashing.dieOnDelete = true
    intercept[RuntimeException] { a.completeFlush("b") }
    assert(flushed.toList == List((0L until 20L).toSet)) // process ran once
    // restart on the intact store: seq advanced, only the stranded
    // adds buffered, history records the success — nothing re-offered
    val b = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = proc, clock = () => 7L, store = accStore(dir))
    val st = b.getBatchStatus("b").get
    assert(st.seq == 1 && st.status == "accumulating" && st.itemCount == 4, st)
    assert(b.getFlushHistory("b").map(h => (h.seq, h.itemCount, h.success)) ==
      Seq((0L, 20L, true)))
    b.flush("b")
    // each item processed exactly once across the crash boundary
    assert(flushed.toList == List((0L until 20L).toSet, (20L until 24L).toSet))
  }

  test("crash after process but before the post-flush checkpoint: at-least-once re-offer") {
    // dies one window earlier: process() side effects landed but the
    // completed transition never persisted. Recovery takes the
    // failed-flush revert — snapshot + stranded adds re-offered
    // EXACTLY ONCE into the reverted buffer (no duplication in state),
    // and the re-flush re-processes them: the documented
    // at-least-once contract of any side-effecting flush
    val dir = tmp("graft-acc-midckpt")
    val flushed = collection.mutable.Buffer.empty[Set[Long]]
    def proc(ds: Dataset[java.lang.Long]): Unit =
      flushed += ds.collect().map(Long.unbox).toSet
    val crashing = new CrashableStore(accStore(dir))
    val a = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = proc, clock = () => 7L, store = crashing)
    a.addItems("b", items(0, 20))
    assert(a.beginFlush("b"))
    a.addItems("b", items(20, 24))
    crashing.dieOnSave = true
    intercept[RuntimeException] { a.completeFlush("b") }
    assert(flushed.toList == List((0L until 20L).toSet))
    val b = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = proc, clock = () => 7L, store = accStore(dir))
    val st = b.getBatchStatus("b").get
    // reverted, not completed: every item back exactly once (24, not
    // 44 — the snapshot was re-offered once, not re-appended twice)
    assert(st.seq == 0 && st.status == "accumulating" && st.itemCount == 24, st)
    b.flush("b")
    assert(flushed.toList ==
      List((0L until 20L).toSet, (0L until 24L).toSet))
  }

  private class CrashingIterStore(real: IterStateStore) extends IterStateStore {
    @volatile var crashNextSave = false
    def save(rows: Seq[graft.operators.IterJobRow]): Unit = {
      if (crashNextSave) {
        crashNextSave = false
        throw new RuntimeException("injected crash before cursor checkpoint")
      }
      real.save(rows)
    }
    def load(): Option[Seq[graft.operators.IterJobRow]] = real.load()
  }

  test("crash between batch completion and cursor checkpoint: resume re-offers exactly the uncheckpointed batch") {
    val dir = tmp("graft-iter-midcrash")
    val chunks = collection.mutable.Buffer.empty[(Long, Long)]
    val store = new CrashingIterStore(IterStateStore.parquet(spark, dir))
    val a = new TableIterator(orders, "o_orderkey", 400,
      process = df => chunks += chunkSig(df), clock = () => 7L, store = store)
    a.start("j"); a.step("j"); a.step("j")
    val committed = a.status("j").get
    assert(committed.batchesDone == 2)
    // batch 3's process() completes, then the machine dies before
    // the cursor checkpoint lands
    store.crashNextSave = true
    intercept[RuntimeException] { a.step("j") }
    assert(chunks.size == 3, "the batch WAS processed before the crash")
    // a fresh iterator over the same store sees only the committed
    // cursor — and must re-offer batch 3 first (at-least-once; a gap
    // here would silently drop 400 rows)
    val resumedChunks = collection.mutable.Buffer.empty[(Long, Long)]
    val b = new TableIterator(orders, "o_orderkey", 400,
      process = df => resumedChunks += chunkSig(df), clock = () => 7L,
      store = IterStateStore.parquet(spark, dir))
    val resumed = b.status("j").get
    assert(resumed.cursor == committed.cursor && resumed.batchesDone == 2,
      "the uncheckpointed batch must not appear in resumed state")
    assert(b.runAll("j").status == "completed")
    assert(resumedChunks.head == chunks(2),
      "first resumed chunk must BE the uncheckpointed batch")
    // committed prefix + resumed tail == one uninterrupted run
    val full = collection.mutable.Buffer.empty[(Long, Long)]
    val c = new TableIterator(orders, "o_orderkey", 400,
      process = df => full += chunkSig(df), clock = () => 7L)
    c.start("j"); c.runAll("j")
    assert((chunks.take(2) ++ resumedChunks).toList == full.toList)
  }

  test("a corrupt iterator checkpoint fails loudly instead of restarting from cursor 0") {
    val s = spark
    val dir = tmp("graft-iter-corrupt")
    val store = IterStateStore.parquet(s, dir)
    store.save(Seq(graft.operators.IterJobRow(
      "j", "paused", 42L, Some(7L), 2L, 0L, 1L, Seq(0L, 10L))))
    assert(store.load().get.head.processedCount == 42L)
    // corrupt the snapshot in place: the next load must THROW — a
    // swallowed error here silently re-runs a multi-hour job's side
    // effects from zero
    newestGeneration(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(p => Files.write(p.toPath, Array[Byte](1, 2, 3)))
    intercept[Exception] { store.load() }
  }

  /** The highest committed `gen-<n>` directory of a snapshot store. */
  private def newestGeneration(dir: String): java.io.File =
    new java.io.File(dir).listFiles().filter(_.getName.matches("gen-\\d+"))
      .maxBy(_.getName.stripPrefix("gen-").toLong)

  test("a save interrupted before its rename leaves the previous generation loadable") {
    val dir = tmp("graft-acc-torn")
    val store = accStore(dir)
    val row = graft.operators.AccBatchRow(
      "b", 3L, "accumulating", 2L, 7L, None, 0L, Seq("chunk-4"), Nil)
    store.save(graft.operators.AccSnapshot(Seq(row), Seq.empty, Seq.empty, 5L))
    // the driver dies inside the next save, before its rename: the
    // write left a partial gen-<n+1>.tmp with a garbage part file and
    // the writer's _temporary/
    val control = new java.io.File(s"$dir/control")
    val n = newestGeneration(control.getPath).getName.stripPrefix("gen-").toLong
    val partial = new java.io.File(control, s"gen-${n + 1}.tmp")
    assert(new java.io.File(partial, "_temporary/0").mkdirs())
    Files.write(new java.io.File(partial, "part-00000.snappy.parquet").toPath, Array[Byte](1, 2, 3))
    val snap = store.load().get
    assert(snap.nextChunk == 5L && snap.batches == Seq(row), snap)
    // the next save commits over the leftover and sweeps both
    store.save(graft.operators.AccSnapshot(Seq.empty, Seq.empty, Seq.empty, 6L))
    assert(store.load().get.nextChunk == 6L)
    assert(control.list().filter(_.startsWith("gen-")).toSeq == Seq(s"gen-${n + 1}"))
  }

  test("writeBucketedOnce rebuilds when the same table is asked for a DIFFERENT dataset") {
    val s = spark; import s.implicits._
    val t = "graft_spec_memo_tbl"
    graft.sources.Sinks.writeBucketedOnce("dsA", t, Seq("k"), 2)(
      Seq((1L, "a")).toDF("k", "v"))
    graft.sources.Sinks.writeBucketedOnce("dsB", t, Seq("k"), 2)(
      Seq((2L, "b")).toDF("k", "v"))
    // the per-(table, dataset) memo marked dsA built; asking for dsA
    // again must REBUILD, not silently serve dsB's rows
    graft.sources.Sinks.writeBucketedOnce("dsA", t, Seq("k"), 2)(
      Seq((1L, "a")).toDF("k", "v"))
    val rows = s.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a")), s"table must hold dsA's build: $rows")
  }

  test("BatchAccumulator deleteBatch drops persisted state too") {
    val dir = tmp("graft-acc-state")
    def make() = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = _ => (), clock = () => 7L, store = accStore(dir))
    val a = make()
    a.addItems("x", items(0, 5))
    a.deleteBatch("x")
    val b = make()
    assert(b.getBatchStatus("x").isEmpty)
    assert(b.getAllBatchesForBaseId("x").isEmpty)
  }
}
