package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM: set up a session, run the workload's
  * cold pass, measure warm passes (or op sequences) for `--seconds`,
  * then check the outputs outside the timed region and write the
  * result file that `run.py` reports from.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dataset dir> --work <scratch dir> --cores <n> --out <result.json>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val work = opt("work")
    val seed = opt("seed").toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, sessionS) = timeS {
      GraftSession.tune(SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val run = RunCtx(spark, new Tracer(spark), opt("data"), work, seed, opt("seconds").toDouble,
      opt("trace") == "1", cores, jvmStartMs, sessionS)
    val res = opt("workload") match {
      case "control_plane" => ControlPlane.run(run)
      case w => QueryWorkload.run(run, Keys.of(w))
    }
    Files.writeString(Paths.get(opt("out")), res.json)
    if (run.trace) Files.writeString(Paths.get(s"$work/spans.json"), run.tracer.spansJson)
    spark.stop()
  }

  /** The first two lines of a failure's message. */
  def brief(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" | ")

  def timeS[A](body: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }
}

final case class RunCtx(spark: SparkSession, tracer: Tracer, data: String, work: String,
    seed: Long, seconds: Double, trace: Boolean, cores: Int, jvmStartMs: Long, sessionS: Double) {
  /** Seconds since the JVM started. */
  def sinceJvmS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  /** Heap used after a full GC. A second GC follows a short pause, in
    * which Spark's ContextCleaner drops the broadcast and shuffle blocks
    * the first one found unreachable. */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What one run reports. `metrics` maps a name to (value, unit);
  * `oracleKeys` are the dumped results `run.py` compares with DuckDB. */
final case class Result(attempted: Int, failed: Int, errors: Seq[String],
    metrics: Seq[(String, (Double, String))], oracleKeys: Seq[String] = Nil) {
  def json: String = {
    val m = metrics.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
      s""""oracle_keys":${oracleKeys.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":${m.mkString("{", ",", "}")}}""" + "\n"
  }
}

/** The timed region: whole passes, at least `min`, and another only
  * while it is expected, from the slowest pass so far, to end within
  * `seconds`. */
final class Window(seconds: Double, min: Int) {
  private val start = System.nanoTime()
  private var slowest = 0.0
  def passed(wallS: Double): Unit = slowest = math.max(slowest, wallS)
  def more(done: Int): Boolean =
    done < min || (System.nanoTime() - start) / 1e9 + slowest <= seconds
}

object Stats {
  /** For each traced pass `i`, which has untraced passes `i - 1` and
    * `i + 1` around it: `num(i)` ÷ the mean wall of those two, so a
    * steady warm-up trend cancels. The median over traced passes. */
  def vsNeighbours(walls: Int => Double, traced: Seq[Int], num: Int => Double): Double =
    median(traced.map(i => num(i) / ((walls(i - 1) + walls(i + 1)) / 2)))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** The per-layer metrics every traced run prints, in a fixed order;
  * a layer a workload does not reach reports 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "session.create_s" -> "s",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.plans" -> "count",
    "exec.write_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB", "exec.failed_tasks" -> "count",
    "exec.busy_frac" -> "ratio", "exec.max_task_share" -> "ratio",
    "sources.cold_build_s" -> "s", "sources.cold_jobs" -> "count",
    "sources.stage_write_mb" -> "MB", "sources.reuse_ratio" -> "ratio", "sources.cached_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_mem_mb" -> "MB", "streaming.commit_ms" -> "ms",
    "streaming.plan_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "acc.store_save_ms" -> "ms", "acc.chunk_write_ms" -> "ms", "acc.store_calls" -> "count",
    "acc.jobs_per_add" -> "count", "acc.process_ms" -> "ms", "acc.history_rows" -> "count",
    "acc.add_p50_ms" -> "ms", "acc.add_growth" -> "ratio", "acc.flush_p50_ms" -> "ms",
    "iter.start_s" -> "s", "iter.step_p50_ms" -> "ms", "iter.state_save_ms" -> "ms",
    "iter.jobs_per_step" -> "count", "iter.rows_per_s" -> "1/s",
    "store.load_s" -> "s", "store.recover_s" -> "s",
    "trace.overhead" -> "ratio", "trace.layer_share" -> "ratio")

  def fill(values: Map[String, Double]): Seq[(String, (Double, String))] = {
    val unknown = values.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    units.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** Layer metrics Spark reports for a set of passes, per pass. */
  def fromCounters(cs: Seq[Counters], cores: Int, passWallS: Double): Map[String, Double] = {
    val n = math.max(1, cs.size).toDouble
    def per(f: Counters => Double): Double = cs.map(f).sum / n
    val mb = 1048576.0
    val taskRun = per(_.taskRunMs / 1e3)
    Map(
      "catalyst.analysis_s" -> per(_.analysisNs / 1e9),
      "catalyst.optimization_s" -> per(_.optimizationNs / 1e9),
      "catalyst.planning_s" -> per(_.planningNs / 1e9),
      "catalyst.plans" -> per(_.plans),
      "exec.jobs" -> per(_.allJobs), "exec.stages" -> per(_.stages), "exec.tasks" -> per(_.tasks),
      "exec.task_run_s" -> taskRun, "exec.task_cpu_s" -> per(_.taskCpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1e3),
      "exec.shuffle_write_mb" -> per(_.shuffleWrite / mb), "exec.shuffle_read_mb" -> per(_.shuffleRead / mb),
      "exec.spill_mb" -> per(_.spill / mb),
      "exec.peak_exec_mem_mb" -> (if (cs.isEmpty) 0.0 else cs.map(_.peakExecMem).max / mb),
      "exec.failed_tasks" -> per(_.failedTasks),
      "exec.busy_frac" -> (if (passWallS > 0) taskRun / (cores * passWallS) else 0.0),
      "exec.max_task_share" -> {
        val tot = cs.map(_.stageTaskMs).sum
        if (tot > 0) cs.map(_.stageMaxTaskMs).sum.toDouble / tot else 0.0
      },
      "streaming.batches" -> per(_.batches), "streaming.state_rows" -> per(_.stateRows.toDouble),
      "streaming.state_mem_mb" -> per(_.stateMem / mb), "streaming.commit_ms" -> per(_.commitMs.toDouble),
      "streaming.plan_ms" -> per(_.planMs.toDouble), "streaming.add_batch_ms" -> per(_.addBatchMs.toDouble))
  }
}
