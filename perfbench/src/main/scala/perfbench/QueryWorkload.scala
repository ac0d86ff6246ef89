package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The query keys of each query workload. */
object Keys {
  /** One-shot relational plans: joins, aggregations and anti-joins
    * over the largest tables, so execution does most of the work. */
  val tpch: Seq[String] = Seq(
    "q1_pricing_summary", "q9_product_profit", "q18_large_orders", "q21_waiting_suppliers")
  /** Iterative operators (eager per-round jobs, per-round planning,
    * staged artifacts) and stateful AvailableNow streams (state stores,
    * per-micro-batch planning). */
  val loopsStream: Seq[String] = Seq(
    "graph_pagerank", "stream_sessionize", "stream_attribution_join")

  def of(workload: String): Seq[String] = workload match {
    case "tpch" => tpch
    case "loops_stream" => loopsStream
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
}

/** A query workload: a closed loop of one caller running each key's
  * operator function (the build) and a `noop` write of the frame it
  * returns (the execution), in a seeded order per pass. */
object QueryWorkload {
  private final case class Sample(key: String, buildS: Double, writeS: Double) {
    def totalS: Double = buildS + writeS
  }

  def run(ctx: RunCtx, keys: Seq[String]): Result = {
    import ctx.{spark, tracer}
    val fns = SparkEntry.queries
    val missing = keys.filterNot(fns.contains)
    require(missing.isEmpty, s"keys not in SparkEntry.queries: $missing")
    val rng = new Random(ctx.seed)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    /** One key: build, then execute. None when it threw. */
    def runKey(k: String): Option[Sample] = {
      attempted += 1
      try {
        val (s, _) = tracer.timed("key", k) {
          val (df, b) = tracer.timed("build", k)(fns(k)(spark, ctx.data))
          val (_, w) = tracer.timed("write", k)(df.write.format("noop").mode("overwrite").save())
          Sample(k, b, w)
        }
        Some(s)
      } catch { case e: Throwable =>
        errors += s"$k: ${Main.brief(e)}"
        None
      }
    }
    def pass(order: Seq[String]): (Seq[Sample], Double) =
      tracer.timed("pass", "pass")(order.flatMap(runKey))

    // Set-up: JVM start to the end of the cold pass over this dataset.
    // The cold pass runs the keys in their listed order, whatever the
    // seed, so every run warms the JVM on the same work.
    tracer.setOn(ctx.trace)
    val (cold, _) = pass(keys)
    val setupS = ctx.sinceJvmS
    val coldC = if (ctx.trace) Some(tracer.take()) else None

    // Timed region: whole passes while the next one is expected to end
    // within `seconds`. The first warm pass, the first in a seeded
    // order, is still warming up and is not reported. A traced run then
    // alternates untraced and traced passes, so the overhead of tracing
    // is measured within one JVM; it ends on an untraced pass, so each
    // traced pass has an untraced pass on either side.
    val plain = mutable.ArrayBuffer.empty[(Seq[Sample], Double)]
    val traced = mutable.ArrayBuffer.empty[(Int, Seq[Sample], Counters)]
    val walls = mutable.ArrayBuffer.empty[Double]
    // Live heap after the first reported pass: the same work in every
    // run, since each pass leaves a few MB more behind.
    var heapMb = 0.0
    val window = new Window(ctx.seconds, if (ctx.trace) 4 else 2)
    var i = 0
    while (window.more(i) || (ctx.trace && i % 2 == 1)) {
      val tracedPass = ctx.trace && i > 0 && i % 2 == 0
      tracer.setOn(tracedPass)
      val (ss, wall) = pass(rng.shuffle(keys))
      walls += wall
      if (tracedPass) traced += ((i, ss, tracer.take())) else if (i > 0) plain += ((ss, wall))
      tracer.setOn(false)
      val mb = ctx.heapLiveMb()
      if (i == 1) heapMb = mb
      println(f"perfbench: pass $i%d traced=$tracedPass reported=${i > 0} wall=$wall%.3f s heap=$mb%.1f MB")
      if (i > 0) window.passed(wall)
      i += 1
    }

    // Output checks, outside the timed region: each key's result is
    // dumped for the DuckDB oracle; a key without one must give the
    // same order-independent digest on two evaluations.
    val oracles = SparkEntry.oracleSql
    val out = s"${ctx.work}/results"
    val oracleKeys = keys.filter { k =>
      attempted += 1
      try {
        fns(k)(spark, ctx.data).write.mode("overwrite").parquet(s"$out/$k")
        if (!oracles.contains(k)) {
          val (a, b) = (Digest.of(spark.read.parquet(s"$out/$k")), Digest.of(fns(k)(spark, ctx.data)))
          if (a != b) errors += s"$k: digest differs between evaluations: $a vs $b"
        }
        oracles.contains(k)
      } catch { case e: Throwable =>
        errors += s"$k: ${Main.brief(e)}"
        false
      }
    }
    // Read after the dump: staged-artifact oracles register at dump time.
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracleKeys.map(k => s"${Json.str(k)}: ${Json.str(sql(k))}").mkString("{", ",", "}"))

    val samples = plain.flatMap(_._1).toSeq
    /** A pass of medians: each key's median time, summed. */
    def medianPass(ss: Seq[Sample], f: Sample => Double): Double =
      ss.groupBy(_.key).values.map(g => Stats.median(g.map(f))).sum
    val wallS = medianPass(samples, _.totalS)
    val metrics =
      if (!ctx.trace) Seq(
        "wall_s" -> (wallS, "s"),
        "setup_s" -> (setupS, "s"),
        "heap_live_mb" -> (heapMb, "MB"))
      else {
        val tSamples = traced.flatMap(_._2).toSeq
        val tc = traced.map(_._3).toSeq
        val tIdx = traced.map(_._1).toSeq
        val layerS = traced.map { case (j, ss, _) => j -> ss.map(_.totalS).sum }.toMap
        val tWall = medianPass(tSamples, _.totalS)
        val buildS = medianPass(tSamples, _.buildS)
        val writeS = medianPass(tSamples, _.writeS)
        val warmBuildJobs = tc.map(_.jobsOf("build")).sum.toDouble / tc.size
        val c0 = coldC.get
        Layers.fill(Layers.fromCounters(tc, ctx.cores, tWall) ++ Map(
          "session.create_s" -> ctx.sessionS,
          "operators.build_s" -> buildS,
          "operators.build_jobs" -> warmBuildJobs,
          "exec.write_s" -> writeS,
          "sources.cold_build_s" -> cold.map(_.buildS).sum,
          "sources.cold_jobs" -> c0.jobsOf("build"),
          "sources.stage_write_mb" -> c0.outBytes.getOrElse("build", 0L) / 1048576.0,
          "sources.reuse_ratio" ->
            (if (c0.jobsOf("build") > 0) 1.0 - warmBuildJobs / c0.jobsOf("build") else 0.0),
          "sources.cached_mb" ->
            spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0,
          "trace.overhead" -> Stats.vsNeighbours(walls, tIdx, walls),
          // Against a clock of its own: the untraced passes around each
          // traced one, each timed around the whole pass.
          "trace.layer_share" -> Stats.vsNeighbours(walls, tIdx, layerS)))
      }
    Result(attempted, errors.size, errors.toSeq, metrics, oracleKeys)
  }
}

/** Order-independent digest of a frame: row count and the sum of a
  * 64-bit hash of each row's JSON form. */
object Digest {
  def of(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}
