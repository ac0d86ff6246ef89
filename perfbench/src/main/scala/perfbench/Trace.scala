package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed span: one call into a layer. `kind` names the boundary
  * (pass, key, op, build, write, store, job); `parent` is the span
  * that caused it (-1 at the root). Times are nanoseconds since the
  * tracer started. */
final case class Span(id: Int, kind: String, name: String, parent: Int, start: Long, end: Long)

/** What Spark reported for the spans of one pass, read through its
  * public listener hooks. Job counts and output bytes are keyed by the
  * kind of the innermost harness span that started the job. */
final case class Counters(
    jobs: Map[String, Int], outBytes: Map[String, Long],
    stages: Int, tasks: Int, failedTasks: Int,
    taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, peakExecMem: Long,
    stageMaxTaskMs: Long, stageTaskMs: Long,
    analysisNs: Long, optimizationNs: Long, planningNs: Long, plans: Int,
    batches: Int, planMs: Long, addBatchMs: Long, commitMs: Long,
    stateRows: Long, stateMem: Long) {
  def jobsOf(kind: String): Int = jobs.getOrElse(kind, 0)
  def allJobs: Int = jobs.values.sum
}

/** Records spans around the harness's calls into each layer and
  * collects Spark's job, stage, task, planning and streaming-progress
  * events while tracing is on ([[setOn]]). Spans stay in memory until
  * [[spansJson]]. With tracing off, [[timed]] only measures and nothing
  * is registered with Spark. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val kindOf = mutable.Map.empty[Int, String]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var enabled = false

  /** Times `body`; when tracing is on, also records it as a span whose
    * Spark jobs carry its id. Returns the result and seconds taken. */
  def timed[A](kind: String, name: String)(body: => A): (A, Double) = {
    if (!enabled) return Main.timeS(body)
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    lock.synchronized { kindOf(id) = kind }
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val s = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - s) / 1e9)
    } finally {
      val e = System.nanoTime()
      lock.synchronized { spans += Span(id, kind, name, parent, s - t0Ns, e - t0Ns) }
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  // ---- Spark events -------------------------------------------------

  private final class StageAgg {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, shW, shR, spill, peak, out, maxTask = 0L
  }
  private val SpanProp = "perfbench.span"
  private val JobIds = 1 << 30
  private val lock = new Object
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  private var stagesDone = 0
  private var jobsTotal = 0
  private val jobsBy = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var analysis, optimization, planning = 0L
  private var plans = 0
  private var batches = 0
  private var planMs, addBatchMs, commitMs = 0L
  private val lastState = mutable.Map.empty[String, (Long, Long)]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      jobsBy(kindOf.getOrElse(span, "none")) += 1
      jobsTotal += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val span = jobSpan.getOrElse(e.jobId, -1)
      val start = jobStart.getOrElse(e.jobId, e.time)
      spans += Span(JobIds + e.jobId, "job", s"job-${e.jobId}", span,
        (start - t0Ms) * 1000000L, (e.time - t0Ms) * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stagesDone += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.maxTask = math.max(a.maxTask, m.executorRunTime)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
        a.out += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ns(p: String) = ph.get(p).map(_.durationMs * 1000000L).getOrElse(0L)
      lock.synchronized {
        analysis += ns("analysis"); optimization += ns("optimization")
        planning += ns("planning"); plans += 1
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lock.synchronized { plans += 1 }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      lock.synchronized {
        batches += 1
        planMs += d("queryPlanning"); addBatchMs += d("addBatch")
        commitMs += p.stateOperators.map(_.commitTimeMs).sum
        if (p.stateOperators.nonEmpty)
          lastState(p.runId.toString) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  /** Starts or stops delivery of Spark's events to this tracer. */
  def setOn(v: Boolean): Unit = if (v != enabled) {
    enabled = v
    if (v) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
    } else {
      BenchBus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Spark jobs started while tracing was on, over the whole run. */
  def jobsSoFar(): Int = {
    if (enabled) BenchBus.drain(sc)
    lock.synchronized(jobsTotal)
  }

  /** Counters since the previous call, after every pending event has
    * been delivered. */
  def take(): Counters = {
    BenchBus.drain(sc)
    lock.synchronized {
      val byKind = mutable.Map.empty[String, Long].withDefaultValue(0L)
      stageAgg.foreach { case (stage, a) =>
        val span = stageJob.get(stage).flatMap(jobSpan.get).getOrElse(-1)
        byKind(kindOf.getOrElse(span, "none")) += a.out
      }
      val ag = stageAgg.values
      val c = Counters(
        jobsBy.toMap, byKind.toMap, stagesDone, ag.map(_.tasks).sum, ag.map(_.failed).sum,
        ag.map(_.runMs).sum, ag.map(_.cpuNs).sum, ag.map(_.gcMs).sum,
        ag.map(_.shW).sum, ag.map(_.shR).sum, ag.map(_.spill).sum,
        if (ag.isEmpty) 0L else ag.map(_.peak).max,
        ag.map(_.maxTask).sum, ag.map(_.runMs).sum,
        analysis, optimization, planning, plans,
        batches, planMs, addBatchMs, commitMs,
        lastState.values.map(_._1).sum, lastState.values.map(_._2).sum)
      stageAgg.clear(); stageJob.clear(); jobsBy.clear(); jobStart.clear(); jobSpan.clear()
      stagesDone = 0; analysis = 0; optimization = 0; planning = 0; plans = 0
      batches = 0; planMs = 0; addBatchMs = 0; commitMs = 0; lastState.clear()
      c
    }
  }

  /** Self time of each span kind: a span's duration minus the part of
    * it its child spans cover, summed per kind, in seconds. */
  def selfSeconds: Map[String, Double] = lock.synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > reach) { covered += b - a; reach = b }
          else if (b > reach) { covered += b - reach; reach = b }
        }
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** The spans, and the self time of each kind, as JSON. */
  def spansJson: String = {
    val self = selfSeconds.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    val all = lock.synchronized(spans.sortBy(s => (s.start, s.id)).toSeq).map { s =>
      s"""{"id":${s.id},"kind":"${s.kind}","name":${Json.str(s.name)},"parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    s"""{"self_s":${self.mkString("{", ",", "}")},\n"spans":${all.mkString("[\n", ",\n", "\n]")}}\n"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
