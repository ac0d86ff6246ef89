package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.{AccSnapshot, AccStore, BatchAccumulator, IterJobRow, IterStateStore,
  TableIterator}
import graft.sources.Tables

/** The durable driver API: a seeded sequence of `addItems` calls over
  * eight batchIds on a parquet store, with manual flushes and status
  * reads between them, a restart over the same store, then a
  * `TableIterator` over `lineitem` with a pause, a resume and a
  * mid-job restart. One caller, closed loop; every call is timed. */
object ControlPlane {
  val BatchIds = 8
  val Threshold = 1000L

  /** Sizes of one op sequence: `adds` addItems calls (a manual flush
    * after every third) and an iterator run of `steps` batches. */
  final case class Shape(adds: Int, steps: Int)
  /** The op sequence of the cold pass does not depend on the seed. */
  val ColdSeed = 0L

  /** Per-call store timings, kept by the wrappers below. */
  final class StoreTimes {
    val save, chunkWrite, load, iterSave = mutable.ArrayBuffer.empty[Double]
    var calls = 0
  }

  /** An [[AccStore]] that times each call into the wrapped store. */
  final class TimedAccStore[T](inner: AccStore[T], tracer: Tracer, t: StoreTimes) extends AccStore[T] {
    private def tm[A](name: String, into: Option[mutable.ArrayBuffer[Double]])(body: => A): A = {
      val (r, s) = tracer.timed("store", name)(body)
      t.calls += 1
      into.foreach(_ += s)
      r
    }
    def writeChunk(handle: String, items: Dataset[T]): Dataset[T] =
      tm("acc.writeChunk", Some(t.chunkWrite))(inner.writeChunk(handle, items))
    def readChunk(handle: String): Dataset[T] = tm("acc.readChunk", None)(inner.readChunk(handle))
    def deleteChunks(handles: Seq[String]): Unit = tm("acc.deleteChunks", None)(inner.deleteChunks(handles))
    def save(snap: AccSnapshot): Unit = tm("acc.save", Some(t.save))(inner.save(snap))
    def load(): Option[AccSnapshot] = tm("acc.load", Some(t.load))(inner.load())
  }

  /** An [[IterStateStore]] that times each call into the wrapped store. */
  final class TimedIterStore(inner: IterStateStore, tracer: Tracer, t: StoreTimes) extends IterStateStore {
    def save(rows: Seq[IterJobRow]): Unit = {
      val (_, s) = tracer.timed("store", "iter.save")(inner.save(rows))
      t.calls += 1; t.iterSave += s
    }
    def load(): Option[Seq[IterJobRow]] = {
      val (r, s) = tracer.timed("store", "iter.load")(inner.load())
      t.calls += 1; t.load += s
      r
    }
  }

  /** Timings and checks of one op sequence. */
  final class SeqOut {
    val adds, flushes, steps, process = mutable.ArrayBuffer.empty[Double]
    var iterStartS, recoverS, iterRows, iterS, apiS, wallS = 0.0
    var addJobs, stepJobs = 0
    var historyRows = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var ops = 0
    val times = new StoreTimes
    /** Checks that run Spark jobs, run after the sequence is timed. */
    val deferred = mutable.ArrayBuffer.empty[() => Unit]
    def guarded(what: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable => ops += 1; failures += s"$what threw: ${Main.brief(e)}" }
    def runChecks(): Unit = deferred.foreach(c => guarded("check")(c()))
  }

  def run(ctx: RunCtx): Result = {
    import ctx.tracer
    val li = Tables.lineitem(ctx.spark, ctx.data)
    val liRow = li.agg(count(lit(1)), sum(col("l_orderkey"))).head()
    val (liCount, liSum) = (liRow.getLong(0), liRow.getLong(1))
    // The cold pass is a short sequence that still reaches every call;
    // a traced run ends with a long one, on one store, for acc.add_growth.
    val (coldShape, shape) = (Shape(adds = 3, steps = 3), Shape(adds = 6, steps = 3))
    val growthShape = Shape(adds = 20, steps = 3)
    val rng = new Random(ctx.seed)
    var dirs = 0
    def sequence(s: Shape, rng: Random): SeqOut = {
      dirs += 1
      val out = new SeqOut
      val (_, wall) = tracer.timed("pass", "sequence") {
        out.guarded("op sequence")(opSequence(ctx, rng, s, s"${ctx.work}/cp-$dirs", li, liCount, liSum, out))
      }
      out.wallS = wall
      out
    }

    tracer.setOn(ctx.trace)
    val cold = sequence(coldShape, new Random(ColdSeed))
    val setupS = ctx.sinceJvmS
    if (ctx.trace) tracer.take()
    cold.runChecks()

    val plain = mutable.ArrayBuffer.empty[SeqOut]
    val traced = mutable.ArrayBuffer.empty[(SeqOut, Counters)]
    val tIdx = mutable.ArrayBuffer.empty[Int]
    val walls = mutable.ArrayBuffer.empty[Double]
    var heapMb = 0.0
    // A traced run alternates untraced and traced sequences and ends on
    // an untraced one, so each traced sequence has one on either side.
    val window = new Window(ctx.seconds, if (ctx.trace) 3 else 1)
    var i = 0
    while (window.more(i) || (ctx.trace && i > 0 && i % 2 == 0)) {
      val tracedSeq = ctx.trace && i % 2 == 1
      tracer.setOn(tracedSeq)
      val o = sequence(shape, rng)
      walls += o.wallS
      if (tracedSeq) { traced += ((o, tracer.take())); tIdx += i } else plain += o
      tracer.setOn(false)
      o.runChecks()
      val mb = ctx.heapLiveMb()
      if (i == 0) heapMb = mb
      println(f"perfbench: sequence $i%d traced=$tracedSeq wall=${o.wallS}%.3f s heap=$mb%.1f MB")
      window.passed(o.wallS)
      i += 1
    }

    // Outside the timed region: one untraced long sequence whose flush
    // history and snapshots grow as its adds go on.
    val growth = if (ctx.trace) Some(sequence(growthShape, rng)) else None
    growth.foreach { g =>
      g.runChecks()
      println(f"perfbench: growth sequence: ${g.adds.size}%d adds, ${g.historyRows}%d flush records, " +
        g.adds.map(a => f"${a * 1e3}%.0f").mkString("adds ms ", " ", ""))
    }

    val all = (cold +: plain.toSeq) ++ traced.map(_._1) ++ growth
    val errors = all.flatMap(_.failures)
    val attempted = all.map(_.ops).sum
    val metrics =
      if (!ctx.trace) Seq(
        "wall_s" -> (Stats.median(plain.map(_.wallS).toSeq), "s"),
        "setup_s" -> (setupS, "s"),
        "heap_live_mb" -> (heapMb, "MB"))
      else {
        val ts = traced.map(_._1).toSeq
        val tc = traced.map(_._2).toSeq
        def med(f: SeqOut => Iterable[Double]) = Stats.median(ts.flatMap(f))
        val tWall = Stats.median(ts.map(_.wallS))
        val nAdds = ts.map(_.adds.size).sum.max(1)
        val nSteps = ts.map(_.steps.size).sum.max(1)
        Layers.fill(Layers.fromCounters(tc, ctx.cores, tWall) ++ Map(
          "session.create_s" -> ctx.sessionS,
          "acc.store_save_ms" -> med(_.times.save) * 1e3,
          "acc.chunk_write_ms" -> med(_.times.chunkWrite) * 1e3,
          "acc.store_calls" -> ts.map(_.times.calls).sum.toDouble / ts.size,
          "acc.jobs_per_add" -> ts.map(_.addJobs).sum.toDouble / nAdds,
          "acc.process_ms" -> med(_.process) * 1e3,
          "acc.history_rows" -> ts.map(_.historyRows).sum.toDouble / ts.size,
          // Quarters, not tenths: a tenth of 20 adds is two samples, and
          // one threshold-flushing add among them doubles their median.
          "acc.add_growth" -> growth.map { g =>
            val k = math.max(1, g.adds.size / 4)
            Stats.median(g.adds.takeRight(k).toSeq) / Stats.median(g.adds.take(k).toSeq)
          }.get,
          "acc.add_p50_ms" -> med(_.adds) * 1e3,
          "acc.flush_p50_ms" -> med(_.flushes) * 1e3,
          "iter.start_s" -> Stats.median(ts.map(_.iterStartS)),
          "iter.step_p50_ms" -> med(_.steps) * 1e3,
          "iter.state_save_ms" -> med(_.times.iterSave) * 1e3,
          "iter.jobs_per_step" -> ts.map(_.stepJobs).sum.toDouble / nSteps,
          "iter.rows_per_s" -> Stats.median(ts.map(o => o.iterRows / o.iterS)),
          "store.load_s" -> Stats.median(ts.map(_.times.load.sum)),
          "store.recover_s" -> Stats.median(ts.map(_.recoverS)),
          "trace.overhead" -> Stats.vsNeighbours(walls, tIdx.toSeq, walls),
          "trace.layer_share" -> Stats.median(ts.map(o => o.apiS / o.wallS))))
      }
    Result(attempted, errors.size, errors, metrics)
  }

  /** One op sequence on a fresh store directory. */
  private def opSequence(ctx: RunCtx, rng: Random, s: Shape, dir: String, li: DataFrame,
      liCount: Long, liSum: Long, out: SeqOut): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tracer = ctx.tracer
    /** One timed API call; counts toward the API share of the wall. */
    def api[A](name: String)(body: => A): (A, Double) = {
      out.ops += 1
      val r = tracer.timed("op", name)(body)
      out.apiS += r._2
      r
    }
    def check(ok: Boolean, what: => String): Unit = if (!ok) out.failures += what

    var processedSum, processedCount = 0L
    val process: Dataset[Long] => Unit = ds => {
      val (row, t) = Main.timeS(ds.agg(sum(col(ds.columns.head)), count(lit(1))).head())
      out.process += t
      processedSum += row.getLong(0); processedCount += row.getLong(1)
    }
    def accOver(): BatchAccumulator[Long] = new BatchAccumulator[Long](Threshold, process,
      store = new TimedAccStore(AccStore.parquet[Long](spark, s"$dir/acc"), tracer, out.times))
    val ids = (0 until BatchIds).map(b => s"batch-$b")

    var (acc, _) = api("acc.construct")(accOver())
    var next, addedSum, addedCount = 0L
    def open(a: BatchAccumulator[Long]) =
      ids.filter(id => a.getBatchStatus(id).exists(b => b.status == "accumulating" && b.itemCount > 0))
    // Even adds go to one hot batch, odd adds each to another batch:
    // with 500-1000 items per add and a threshold of 1000, the hot
    // batch flushes on every second add it gets, whatever the seed.
    val hot +: others = rng.shuffle(ids)
    for (i <- 0 until s.adds) {
      val id = if (i % 2 == 0) hot else others((i / 2) % others.size)
      val n = 500 + rng.nextInt(501)
      val items = spark.range(next, next + n).as[Long]
      addedSum += (next + next + n - 1) * n / 2; addedCount += n; next += n
      val j0 = tracer.jobsSoFar()
      val (_, t) = api("acc.addItems")(acc.addItems(id, items))
      out.adds += t
      out.addJobs += tracer.jobsSoFar() - j0
      val openIds = if (i % 3 == 2) open(acc) else Nil
      if (openIds.nonEmpty) {
        val (flushed, ft) = api("acc.flush")(acc.flush(openIds(rng.nextInt(openIds.size))))
        check(flushed, "a manual flush of an open batch did not flush")
        out.flushes += ft
      }
      if (i % 2 == 1) {
        val rid = ids(rng.nextInt(BatchIds))
        api("acc.getBatchStatus")(acc.getBatchStatus(rid))
        api("acc.getFlushHistory")(acc.getFlushHistory(rid))
      }
    }

    // Restart: a new accumulator over the same store sees the same state.
    def view(a: BatchAccumulator[Long]) =
      ids.map(id => (a.getAllBatchesForBaseId(id), a.getFlushHistory(id)))
    val before = view(acc)
    val (acc2, rs) = api("acc.construct")(accOver())
    out.recoverS += rs
    check(view(acc2) == before, "accumulator state after restart differs from before")
    acc = acc2

    // Exactly once: every added item was processed by a flush or is
    // still buffered in a chunk the persisted snapshot references.
    val history = ids.flatMap(acc.getFlushHistory)
    out.historyRows = history.size
    val (pSum, pCount) = (processedSum, processedCount)
    out.deferred += { () =>
      val raw = AccStore.parquet[Long](spark, s"$dir/acc")
      val handles = raw.load().toSeq.flatMap(_.batches).flatMap(b => b.bufferHandles ++ b.inFlightHandles)
      val (bufSum, bufCount) =
        if (handles.isEmpty) (0L, 0L)
        else {
          val r = handles.map(raw.readChunk).reduce(_ union _).toDF("id")
            .agg(coalesce(sum($"id"), lit(0L)), count(lit(1))).head()
          (r.getLong(0), r.getLong(1))
        }
      check(pSum + bufSum == addedSum && pCount + bufCount == addedCount,
        s"items processed ($pCount, sum $pSum) + buffered ($bufCount, sum $bufSum) " +
          s"!= added ($addedCount, sum $addedSum)")
    }
    check(history.filter(_.success).map(_.itemCount).sum == processedCount,
      s"flush history item counts ${history.map(_.itemCount).sum} != processed $processedCount")

    // Iterator: pause/resume after a third, restart after two thirds.
    var iterSum, iterCount = 0L
    val iterProcess: DataFrame => Unit = chunk => {
      val r = chunk.agg(sum($"l_orderkey"), count(lit(1))).head()
      iterSum += r.getLong(0); iterCount += r.getLong(1)
    }
    val batch = (liCount + s.steps - 1) / s.steps
    def iterOver(): TableIterator = new TableIterator(li, "l_orderkey", batch, iterProcess,
      store = new TimedIterStore(IterStateStore.parquet(spark, s"$dir/iter"), tracer, out.times))
    var (it, _) = api("iter.construct")(iterOver())
    val (_, st) = api("iter.start")(it.start("job"))
    out.iterStartS = st
    var stepS = st
    val third = math.max(1L, s.steps / 3L)
    var more = true
    while (more) {
      val j0 = tracer.jobsSoFar()
      val (ok, t) = api("iter.step")(it.step("job"))
      out.stepJobs += tracer.jobsSoFar() - j0
      stepS += t
      if (ok) out.steps += t
      val done = it.status("job").get.batchesDone
      if (ok && done == third) {
        api("iter.pause")(it.pause("job"))
        check(!it.step("job"), "a paused iterator advanced")
        api("iter.resume")(it.resume("job"))
      }
      if (ok && done == 2 * third) {
        val (it2, rt) = api("iter.construct")(iterOver())
        out.recoverS += rt
        check(it2.status("job") == it.status("job"), "iterator state after restart differs from before")
        it = it2
      }
      more = ok
    }
    val fin = it.status("job").get
    out.iterRows = fin.processedCount.toDouble
    out.iterS = stepS
    check(fin.status == "completed", s"iterator ended ${fin.status}")
    check(fin.processedCount == liCount && iterCount == liCount && iterSum == liSum,
      s"iterator processed ${fin.processedCount} rows (sum $iterSum), lineitem has $liCount (sum $liSum)")
  }
}
