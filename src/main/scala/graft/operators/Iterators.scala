package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Ranks
import graft.sources.Tables

/** §2.2 Table Iterator — the reference's cursor-paginated table
  * processing (reference: src/component/lib.ts:736-1132) re-expressed
  * Spark-first over `orders` (cursor key = `o_orderkey`, SURVEY §3).
  *
  * The reference walks an index in batches of `batchSize`, remembering
  * the last key as `cursor`. Declaratively that is: global key rank →
  * chunk id → per-chunk aggregates. The rank uses
  * [[graft.functions.Ranks.globalRowNumber]] (range partition +
  * offsets), NOT a single-partition window — at 100 TB the sort is a
  * TeraSort, each later stage data-parallel. Resume-from-cursor is a
  * key-range filter, which Catalyst pushes into the parquet scan —
  * exactly how an index-seek behaves in the reference.
  */
object Iterators {

  /** Reference batchSize (lib.ts:775). 1000 at sf0.01 → 15 batches. */
  val batchSize = 1000L
  /** Fixed resume cursor for the oracle-checked resume query. */
  val resumeCursor = 10000L

  private def chunked(df: DataFrame, key: String): DataFrame = {
    Ranks.globalRowNumber(df.select(col(key)), Seq(col(key)), "rn")
      .withColumn("batch_idx", expr(s"CAST((rn - 1) DIV $batchSize AS BIGINT)"))
      .groupBy(col("batch_idx"))
      .agg(count(lit(1)).as("item_count"),
           min(col(key)).as("start_key"),
           max(col(key)).as("cursor_key"))
  }

  /** Batch assignment (lib.ts:968-1071): deterministic key-ordered
    * chunks; per batch itemCount and cursor (max key). */
  def iterBatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunked(Tables.orders(s, dir), "o_orderkey").orderBy($"batch_idx")
  }

  val iterBatchesSql: String =
    s"""WITH rn AS (
       |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn
       |  FROM orders)
       |SELECT (rn - 1) // $batchSize AS batch_idx, count(*) AS item_count,
       |  min(o_orderkey) AS start_key, max(o_orderkey) AS cursor_key
       |FROM rn GROUP BY 1 ORDER BY batch_idx""".stripMargin

  /** Running processedCount after each batch (updateJobProgress,
    * lib.ts:1073-1087). The chunked result is 1/batchSize of the
    * input — still 10⁸ rows for a 10¹¹-row table at batchSize=1000 —
    * so the cumulative sum uses the distributed two-phase prefix sum
    * ([[Ranks.globalRunningSums]]), never a no-partition window. */
  def iterProgress(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = chunked(Tables.orders(s, dir), "o_orderkey")
    // bucket boundaries from a synthetic batch-id range: batch ids
    // are contiguous 0..n/batchSize by construction, and the row
    // count is a metadata-cheap parquet read — sampling the chunked
    // frame itself would execute the whole upstream rank twice more
    val nBatches = (Tables.orders(s, dir).count() + batchSize - 1) / batchSize
    val boundsFrom = s.range(nBatches).select($"id".as("batch_idx"))
    Ranks.globalRunningSums(b, Seq(col("batch_idx")),
        Seq(col("item_count") -> "processed_count"), boundsFrom = Some(boundsFrom))
      .select($"batch_idx", $"item_count", $"cursor_key", $"processed_count")
      .orderBy($"batch_idx")
  }

  val iterProgressSql: String =
    s"""WITH rn AS (
       |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn
       |  FROM orders),
       |b AS (
       |  SELECT (rn - 1) // $batchSize AS batch_idx, count(*) AS item_count,
       |    max(o_orderkey) AS cursor_key
       |  FROM rn GROUP BY 1)
       |SELECT batch_idx, item_count, cursor_key,
       |  CAST(sum(item_count) OVER (ORDER BY batch_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS processed_count
       |FROM b ORDER BY batch_idx""".stripMargin

  /** Resume-from-cursor (lib.ts:808-833): re-chunk strictly after the
    * stored cursor. The `key > cursor` predicate reaches the scan. */
  def iterResume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunked(Tables.orders(s, dir).filter($"o_orderkey" > resumeCursor), "o_orderkey")
      .orderBy($"batch_idx")
  }

  val iterResumeSql: String =
    s"""WITH rn AS (
       |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn
       |  FROM orders WHERE o_orderkey > $resumeCursor)
       |SELECT (rn - 1) // $batchSize AS batch_idx, count(*) AS item_count,
       |  min(o_orderkey) AS start_key, max(o_orderkey) AS cursor_key
       |FROM rn GROUP BY 1 ORDER BY batch_idx""".stripMargin

  /** listIteratorJobs (lib.ts:889-924): one job per partition key
    * (o_orderstatus) with processedCount, cursor and lastRunAt. */
  def iterJobs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("processed_count"),
           max($"o_orderkey").as("cursor_key"),
           max($"o_orderdate").as("last_run_at"))
      .select($"o_orderstatus".as("job_id"), $"processed_count",
              $"cursor_key", $"last_run_at")
      .orderBy($"job_id")
  }

  val iterJobsSql: String =
    """SELECT o_orderstatus AS job_id, count(*) AS processed_count,
      |  max(o_orderkey) AS cursor_key, max(o_orderdate) AS last_run_at
      |FROM orders GROUP BY 1 ORDER BY job_id""".stripMargin

  // -------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "iter_batches"  -> (iterBatches _),
    "iter_progress" -> (iterProgress _),
    "iter_resume"   -> (iterResume _),
    "iter_jobs"     -> (iterJobs _)
  )

  def oracles: Map[String, String] = Map(
    "iter_batches"  -> iterBatchesSql,
    "iter_progress" -> iterProgressSql,
    "iter_resume"   -> iterResumeSql,
    "iter_jobs"     -> iterJobsSql
  )
}

/** Job snapshot — reference getIteratorStatus (lib.ts:860-887). */
final case class IterJobStatus(
  jobId: String, status: String, processedCount: Long,
  cursor: Option[Long], batchesDone: Long, retries: Long, lastRunAt: Long)

/** §2.2 #12 — the iterator as a Spark driver API (reference client
  * startIterator/pause/resume/cancel/status/list, lib.ts:736-1132).
  *
  * Chunking is by KEY RANGES, fixed at [[start]] by two Spark jobs
  * ([[graft.functions.Ranks.chunkEnds]]): a per-bucket count, then a
  * walk of the sorted buckets that holds a rank multiple of
  * batchSize. Only the O(#chunks) chunk ends reach the driver: each
  * end key with the cumulative row count through it. Batch i is the
  * closed range `key ∈ (end(i-1), end(i)]`. The last end is the max
  * key, so no chunk is open-ended. A chunk ends on the last
  * occurrence of its end key, so it never splits a tie and may hold
  * more than batchSize rows. Each batch is an independent,
  * pushdown-pruned scan, read once by `process`: a step launches no
  * job of its own, and on success takes its processedCount and
  * cursor from the chunk end. The input is read as of `start`. Rows
  * with a null key fall in no chunk and are never counted.
  * Retries use exponential backoff 1s→30s (lib.ts:1018-1049);
  * `sleeper` is injectable for tests.
  *
  * Durability: with a [[IterStateStore.parquet]] `store`, every
  * state transition (start, successful batch, pause/resume/cancel,
  * completion, failure) checkpoints the O(#jobs) control rows, and a
  * new TableIterator over the same store resumes every job from its
  * persisted cursor — parity with the reference's iteratorJobs table
  * (schema.ts:34-55; updateJobProgress lib.ts:1073-1087 commits at
  * the same batch-boundary cadence). The default store keeps the
  * in-memory-only behavior. Every public method that reads or moves a
  * job is `synchronized`, as in [[BatchAccumulator]].
  */
final class TableIterator(
    df: DataFrame,
    keyCol: String,
    batchSize: Long,
    process: DataFrame => Unit,
    maxRetries: Int = 3,
    onComplete: String => Unit = _ => (),
    delayBetweenBatchesMs: Long = 0L,
    sleeper: Long => Unit = Thread.sleep,
    clock: () => Long = () => System.currentTimeMillis(),
    store: IterStateStore = IterStateStore.none) {

  private val jobs = mutable.LinkedHashMap.empty[String, IterJobRow]

  // load-on-construct: resume persisted jobs (cursor, counts, status).
  // A row without one count per chunk end (a generation written before
  // the counts were persisted) cannot resume: fail rather than restart.
  store.load().foreach(_.foreach { r =>
    if (r.ends == null || r.ends.length != r.boundaries.length)
      throw new IllegalStateException(
        s"iterator job ${r.jobId}: checkpoint has ${Option(r.ends).fold(0)(_.length)} chunk " +
          s"counts for ${r.boundaries.length} chunk ends")
    jobs(r.jobId) = r
  })

  private def put(j: IterJobRow): IterJobRow = { jobs(j.jobId) = j; j }
  private def checkpoint(): Unit = store.save(jobs.values.toSeq)
  private def save(j: IterJobRow): Unit = { put(j); checkpoint() }

  /** Backoff for the nth retry: 1s, 2s, 4s, … capped at 30s
    * (lib.ts:1018-1029). */
  def backoffMs(attempt: Int): Long = math.min(1000L << attempt, 30000L)

  /** Registers a job and computes its chunk ends (two Spark jobs, see
    * [[Ranks.chunkEnds]]; O(#chunks) driver memory). The job starts
    * `pending` (reference JobStatus, client/index.ts:9, validator
    * lib.ts:893) — the first [[step]] transitions it to `running`. */
  def start(jobId: String): IterJobStatus = synchronized {
    val ends = Ranks.chunkEnds(df, col(keyCol), batchSize)
    save(IterJobRow(jobId, "pending", 0, None, 0, 0, clock(), ends.map(_._1), ends.map(_._2)))
    status(jobId).get
  }

  /** Processes one batch with retry/backoff. Returns false when the
    * job cannot advance (done, paused, cancelled, failed). A `pending`
    * job transitions to `running` on its first step. The only Spark
    * jobs a step launches are `process`'s own: the chunk's count and
    * cursor were fixed at [[start]]. */
  def step(jobId: String): Boolean = synchronized {
    jobs.get(jobId) match {
      case Some(j0) if j0.status == "pending" || j0.status == "running" =>
        var j = put(j0.copy(status = "running"))
        val done = j.batchesDone.toInt
        if (done >= j.boundaries.length) { complete(j); false }
        else {
          val hi = j.boundaries(done)
          val chunk = df.filter(j.cursor.fold(col(keyCol) <= hi)(c => col(keyCol) > c && col(keyCol) <= hi))
          var attempt = 0
          var ok = false
          while (!ok && attempt <= maxRetries) {
            try { process(chunk); ok = true }
            catch { case _: Exception =>
              if (attempt < maxRetries) {
                sleeper(backoffMs(attempt)); j = put(j.copy(retries = j.retries + 1))
              }
              attempt += 1
            }
          }
          if (!ok) save(j.copy(status = "failed", lastRunAt = clock()))
          else {
            save(j.copy(processedCount = j.ends(done), cursor = Some(hi),
              batchesDone = j.batchesDone + 1, lastRunAt = clock()))
            // throttle between batches (reference delayBetweenBatchesMs,
            // lib.ts — rate-limits the downstream consumer)
            if (delayBetweenBatchesMs > 0) sleeper(delayBetweenBatchesMs)
          }
          ok
        }
      case _ => false
    }
  }

  private def complete(j: IterJobRow): Unit = {
    save(j.copy(status = "completed", lastRunAt = clock())); onComplete(j.jobId)
  }

  /** Runs until completion, pause, cancel, or failure. */
  def runAll(jobId: String): IterJobStatus = synchronized {
    while (step(jobId)) {}
    status(jobId).get
  }

  private def transition(jobId: String, from: Set[String], to: String): Unit =
    jobs.get(jobId).filter(j => from(j.status)).foreach(j => save(j.copy(status = to)))

  def pause(jobId: String): Unit = synchronized { transition(jobId, Set("running"), "paused") }

  def resume(jobId: String): Unit = synchronized { transition(jobId, Set("paused"), "running") }

  def cancel(jobId: String): Unit = synchronized {
    transition(jobId, Set("pending", "running", "paused"), "cancelled")
  }

  def status(jobId: String): Option[IterJobStatus] = synchronized {
    jobs.get(jobId).map(j => IterJobStatus(jobId, j.status, j.processedCount, j.cursor,
      j.batchesDone, j.retries, j.lastRunAt))
  }

  /** listIteratorJobs (lib.ts:889-924): optionally filtered by
    * status, optionally limited. */
  def list(statusFilter: Option[String] = None, limit: Option[Int] = None): Seq[IterJobStatus] =
    synchronized {
      val all = jobs.keys.toSeq.flatMap(status)
      val filtered = statusFilter.fold(all)(f => all.filter(_.status == f))
      limit.fold(filtered)(filtered.take)
    }

  def delete(jobId: String): Unit = synchronized { jobs -= jobId; checkpoint() }
}
