package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    Ranks.globalRowNumber(df.select(col(key)), col(key),
        Ranks.defaultPartitions(df), "rn")
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
    * ([[Ranks.globalRunningSum]]), never a no-partition window. */
  def iterProgress(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = chunked(Tables.orders(s, dir), "o_orderkey")
    // bucket boundaries from a synthetic batch-id range: batch ids
    // are contiguous 0..n/batchSize by construction, and the row
    // count is a metadata-cheap parquet read — sampling the chunked
    // frame itself would execute the whole upstream rank twice more
    val nBatches = (Tables.orders(s, dir).count() + batchSize - 1) / batchSize
    val boundsFrom = s.range(nBatches).select($"id".as("batch_idx"))
    Ranks.globalRunningSum(
        b, Seq(col("batch_idx")), col("item_count"),
        Ranks.defaultPartitions(b), "processed_count", boundsFrom)
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
  * Chunking is by KEY RANGES: boundary keys (every batchSize-th key)
  * are computed once with the distributed global row number and only
  * the O(#chunks) boundaries ever reach the driver. Each batch is
  * then `key ∈ (lo, hi]` — an independent, pushdown-pruned scan, so
  * 1000 executors can each own a chunk with no global coordination.
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

  // load-on-construct: resume persisted jobs (cursor, counts, status)
  store.load().foreach(_.foreach(r => jobs(r.jobId) = r))

  private def put(j: IterJobRow): IterJobRow = { jobs(j.jobId) = j; j }
  private def checkpoint(): Unit = store.save(jobs.values.toSeq)
  private def save(j: IterJobRow): Unit = { put(j); checkpoint() }

  /** Backoff for the nth retry: 1s, 2s, 4s, … capped at 30s
    * (lib.ts:1018-1029). */
  def backoffMs(attempt: Int): Long = math.min(1000L << attempt, 30000L)

  /** Registers a job and computes its chunk boundaries (one Spark
    * job; O(#chunks) driver memory). The job starts `pending`
    * (reference JobStatus, client/index.ts:9, validator lib.ts:893) —
    * the first [[step]] transitions it to `running`. */
  def start(jobId: String): IterJobStatus = synchronized {
    // boundary keys: every batchSize-th key, ascending; the final
    // (partial) chunk is open-ended.
    val bRows = Ranks.globalRowNumber(df.select(col(keyCol)), col(keyCol),
        Ranks.defaultPartitions(df), "rn")
      .filter(col("rn") % batchSize === 0)
      .select(col(keyCol).cast("long"))
      .orderBy(col(keyCol))
      .collect().map(_.getLong(0))
    save(IterJobRow(jobId, "pending", 0, None, 0, 0, clock(), bRows.toSeq))
    status(jobId).get
  }

  private def chunkFilter(j: IterJobRow): Option[Column] = {
    val done = j.batchesDone.toInt
    val lo = j.cursor
    if (done < j.boundaries.length) {
      val hi = j.boundaries(done)
      Some(lo.map(c => col(keyCol) > c && col(keyCol) <= hi)
        .getOrElse(col(keyCol) <= hi))
    } else if (done == j.boundaries.length) {
      // trailing partial chunk past the last boundary (or whole table
      // if it's smaller than one batch)
      Some(lo.map(c => col(keyCol) > c).getOrElse(lit(true)))
    } else None
  }

  /** Processes one batch with retry/backoff. Returns false when the
    * job cannot advance (done, paused, cancelled, failed). A `pending`
    * job transitions to `running` on its first step. */
  def step(jobId: String): Boolean = synchronized {
    jobs.get(jobId) match {
      case Some(j0) if j0.status == "pending" || j0.status == "running" =>
        var j = put(j0.copy(status = "running"))
        chunkFilter(j) match {
          case None => complete(j); false
          case Some(f) =>
            val chunk = df.filter(f)
            // count and cursor in one job, before process: the chunk is
            // an immutable key range, so both equal their post-process
            // values
            val r = chunk.agg(count(lit(1)), max(col(keyCol)).cast("long")).head
            val n = r.getLong(0)
            if (n == 0) { complete(j); false }
            else {
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
                save(j.copy(processedCount = j.processedCount + n, cursor = Some(r.getLong(1)),
                  batchesDone = j.batchesDone + 1, lastRunAt = clock()))
                // throttle between batches (reference delayBetweenBatchesMs,
                // lib.ts — rate-limits the downstream consumer)
                if (delayBetweenBatchesMs > 0) sleeper(delayBetweenBatchesMs)
              }
              ok
            }
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
