package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.classic.GraftPlans
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** §2.1 Batch Accumulator — the reference's batch-collection
  * semantics (reference: src/component/lib.ts:24-730) re-expressed as
  * declarative Spark transforms over the `events` table.
  *
  * Mapping (SURVEY §3): `batchId` := `event_type`, arrival time :=
  * `ts`, item := event row. The reference's three flush triggers
  * become:
  *   - interval timer  → tumbling event-time windows ([[accTimeFlush]])
  *   - size threshold  → arrival-ordered chunks of N ([[accSizeFlush]])
  *   - manual flush    → [[BatchAccumulator.flush]] (driver API)
  * Sequence numbering (`base::0`, `base::1`, … — lib.ts:513-517) maps
  * to a per-batchId `seq`; flush bookkeeping (itemCount, flushedAt,
  * durationMs — lib.ts:599-619) maps to per-batch aggregates.
  *
  * Scale: every query shuffles once on `event_type` (the batch key) —
  * window functions and groupBys share that partitioning; no global
  * sort anywhere. At 100 TB the per-key window ranking is bounded by
  * the largest single batchId, the standard keyed-stream layout.
  */
object Accumulator {

  /** Size-threshold flush boundary (reference immediateFlushThreshold,
    * lib.ts:104-109). 250 at sf0.01 yields ~8 sequences per batchId. */
  val threshold = 250
  /** Interval-timer flush period (reference flushIntervalMs,
    * lib.ts:76-83). */
  val flushIntervalMinutes = 10

  /** Interval-timer flushes: one row per (batchId, tumbling window)
    * with itemCount and window bounds; seq numbers the flushes per
    * batchId in time order. */
  def accTimeFlush(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val flushes = Tables.events(s, dir)
      .groupBy($"event_type", window($"ts", s"$flushIntervalMinutes minutes").as("w"))
      .agg(count(lit(1)).as("item_count"),
           min($"ts").as("first_ts"), max($"ts").as("last_ts"))
    val seqW = Window.partitionBy($"event_type").orderBy($"w.start")
    flushes
      .withColumn("seq", row_number().over(seqW).cast("long") - 1)
      .select($"event_type".as("batch_id"), $"seq",
              $"w.start".as("window_start"), $"w.end".as("window_end"),
              $"item_count", $"first_ts", $"last_ts")
      .orderBy($"batch_id", $"seq")
  }

  val accTimeFlushSql: String =
    s"""WITH flushes AS (
       |  SELECT event_type AS batch_id,
       |    time_bucket(INTERVAL '$flushIntervalMinutes minutes', ts) AS window_start,
       |    count(*) AS item_count, min(ts) AS first_ts, max(ts) AS last_ts
       |  FROM events GROUP BY 1, 2)
       |SELECT batch_id,
       |  row_number() OVER (PARTITION BY batch_id ORDER BY window_start) - 1 AS seq,
       |  window_start,
       |  window_start + INTERVAL '$flushIntervalMinutes minutes' AS window_end,
       |  item_count, first_ts, last_ts
       |FROM flushes
       |ORDER BY batch_id, seq""".stripMargin

  /** Arrival-ordered rows chunked into sequences of [[threshold]] per
    * batchId — the size-trigger semantics, every batch's identity and
    * bounds. Base for status/list/history below.
    *
    * The arrival rank is [[graft.functions.Ranks.perKeyRowNumber]]'s
    * two-phase layout, NOT a per-batchId window: batchIds are
    * low-cardinality "types" by construction, so a window partitioned
    * on event_type alone would hand one hot batchId's entire history
    * to a single task's sort. Range-partitioned on (event_type, ts,
    * event_id), a hot batchId spreads across many partitions and only
    * the per-(key, partition) counts converge. */
  private def sizeBatches(s: SparkSession, dir: String, thresh: Int = threshold): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"ts", $"event_id")
    graft.functions.Ranks.perKeyRowNumber(
        ev, Seq("event_type"), Seq($"ts", $"event_id"), "rn",
        // bucket on (type, ts): the full 3-deep boundary tree is too
        // wide for whole-stage codegen (Ranks bucketPrefix contract)
        bucketPrefix = Seq($"event_type", $"ts"))
      .withColumn("seq", expr(s"CAST((rn - 1) DIV $thresh AS BIGINT)"))
      .groupBy($"event_type", $"seq")
      .agg(count(lit(1)).as("item_count"),
           min($"ts").as("created_at"), max($"ts").as("last_updated_at"))
  }

  /** A batch is `completed` once it reached the threshold (it flushed
    * immediately — lib.ts:104-109); a trailing partial batch is still
    * `accumulating`. */
  private def statusCol = when(col("item_count") >= threshold, "completed")
    .otherwise("accumulating")

  def accSizeFlush(s: SparkSession, dir: String): DataFrame =
    accSizeFlush(s, dir, threshold)

  def accSizeFlush(s: SparkSession, dir: String, thresh: Int): DataFrame = {
    import s.implicits._
    sizeBatches(s, dir, thresh)
      .select(concat($"event_type", lit("::"), $"seq").as("batch_key"),
              $"event_type".as("batch_id"), $"seq",
              $"item_count", $"created_at", $"last_updated_at")
      .orderBy($"batch_id", $"seq")
  }

  private def sizeBatchesSql: String =
    s"""SELECT event_type, (rn - 1) // $threshold AS seq, count(*) AS item_count,
       |    min(ts) AS created_at, max(ts) AS last_updated_at
       |  FROM (SELECT event_type, ts,
       |          row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
       |        FROM events)
       |  GROUP BY 1, 2""".stripMargin

  val accSizeFlushSql: String =
    s"""WITH b AS (
       |  $sizeBatchesSql)
       |SELECT event_type || '::' || seq AS batch_key, event_type AS batch_id,
       |  seq, item_count, created_at, last_updated_at
       |FROM b ORDER BY batch_id, seq""".stripMargin

  /** getBatchStatus (lib.ts:181-244): the active — latest, possibly
    * partial — batch per batchId. */
  def accBatchStatus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val latest = Window.partitionBy($"event_type").orderBy($"seq".desc)
    sizeBatches(s, dir)
      .withColumn("pos", row_number().over(latest))
      .filter($"pos" === 1)
      .select($"event_type".as("batch_id"), $"seq", statusCol.as("status"),
              $"item_count", $"created_at", $"last_updated_at")
      .orderBy($"batch_id")
  }

  val accBatchStatusSql: String =
    s"""WITH b AS (
       |  $sizeBatchesSql)
       |SELECT event_type AS batch_id, seq,
       |  CASE WHEN item_count >= $threshold THEN 'completed'
       |       ELSE 'accumulating' END AS status,
       |  item_count, created_at, last_updated_at
       |FROM b
       |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY seq DESC) = 1
       |ORDER BY batch_id""".stripMargin

  /** getAllBatchesForBaseId (lib.ts:246-279): every sequence with its
    * status and lifecycle timestamps. */
  def accBatchList(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sizeBatches(s, dir)
      .select(concat($"event_type", lit("::"), $"seq").as("batch_key"),
              $"event_type".as("batch_id"), $"seq", statusCol.as("status"),
              $"item_count", $"created_at", $"last_updated_at")
      .orderBy($"batch_id", $"seq")
  }

  val accBatchListSql: String =
    s"""WITH b AS (
       |  $sizeBatchesSql)
       |SELECT event_type || '::' || seq AS batch_key, event_type AS batch_id, seq,
       |  CASE WHEN item_count >= $threshold THEN 'completed'
       |       ELSE 'accumulating' END AS status,
       |  item_count, created_at, last_updated_at
       |FROM b ORDER BY batch_id, seq""".stripMargin

  /** getFlushHistory (lib.ts:281-298, 599-619): completed flushes
    * with itemCount, flushedAt and duration (batch fill time). */
  def accFlushHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sizeBatches(s, dir)
      .filter($"item_count" >= threshold)
      .select(concat($"event_type", lit("::"), $"seq").as("batch_key"),
              $"event_type".as("batch_id"), $"seq", $"item_count",
              $"last_updated_at".as("flushed_at"),
              expr("CAST((unix_micros(last_updated_at) - unix_micros(created_at)) DIV 1000 AS BIGINT)")
                .as("duration_ms"))
      .orderBy($"batch_id", $"seq")
  }

  val accFlushHistorySql: String =
    s"""WITH b AS (
       |  $sizeBatchesSql)
       |SELECT event_type || '::' || seq AS batch_key, event_type AS batch_id,
       |  seq, item_count, last_updated_at AS flushed_at,
       |  (epoch_us(last_updated_at) - epoch_us(created_at)) // 1000 AS duration_ms
       |FROM b WHERE item_count >= $threshold
       |ORDER BY batch_id, seq""".stripMargin

  // -------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "acc_time_flush"    -> (accTimeFlush _),
    "acc_size_flush"    -> (accSizeFlush _),
    "acc_batch_status"  -> (accBatchStatus _),
    "acc_batch_list"    -> (accBatchList _),
    "acc_flush_history" -> (accFlushHistory _)
  )

  def oracles: Map[String, String] = Map(
    "acc_time_flush"    -> accTimeFlushSql,
    "acc_size_flush"    -> accSizeFlushSql,
    "acc_batch_status"  -> accBatchStatusSql,
    "acc_batch_list"    -> accBatchListSql,
    "acc_flush_history" -> accFlushHistorySql
  )
}

/** One completed (or failed) flush — reference flushHistory row
  * (lib.ts:599-619). */
final case class FlushRecord(
  batchId: String, seq: Long, itemCount: Long,
  flushedAt: Long, durationMs: Long, success: Boolean)

/** Current-batch view — reference getBatchStatus (lib.ts:181-244). */
final case class AccBatchStatus(
  batchId: String, seq: Long, status: String, itemCount: Long)

/** §2.1 #6 — the accumulator as a Spark driver API over arbitrary
  * Datasets (reference client, src/client/index.ts).
  *
  * Control flow (sequencing, threshold trigger, failure retention) is
  * genuine driver-side state — O(#batchIds), never per-item; items
  * live exclusively in lazy Dataset lineage and `process` sees one
  * distributed union per flush.
  *
  * Flush is the reference's three-state machine (lib.ts:458-545):
  * `accumulating → flushing → completed`. [[beginFlush]] snapshots the
  * open batch and makes `flushing` observable; items added while a
  * flush is in flight are stranded and roll into sequence+1 on
  * completion (lib.ts:635-664). A failed flush reverts the batch to
  * `accumulating` and retains every item — the snapshot AND the
  * stranded adds (lib.ts:699-716; the reference parks stranded items
  * in a racily-created second accumulating batch, we coalesce them
  * back into the reverted batch so exactly one batch per batchId is
  * ever open). [[flush]] = begin + complete for synchronous callers.
  *
  * Durability: with an [[AccStore.parquet]] `store`, every added
  * chunk persists to parquet (durability REQUIRES materializing the
  * items — lazy lineage dies with the driver; the reference stores
  * items in its batches table for the same reason, lib.ts:24-109) and
  * every state transition checkpoints the O(#batchIds) control rows +
  * flush history. A new BatchAccumulator over the same store resumes
  * with identical buffers, sequence numbers and history; a batch that
  * died mid-flush recovers by the SAME revert path a failed flush
  * takes (lib.ts:699-716) — snapshot and stranded adds both retained,
  * status back to accumulating. The default store keeps the
  * in-memory-only behavior.
  *
  * Every public method is `synchronized`, so concurrent callers see
  * the serializable transitions the reference's mutations give them
  * (an add is never lost to a racing one); `process` runs under that
  * lock.
  */
final class BatchAccumulator[T](
    threshold: Long,
    process: Dataset[T] => Unit,
    flushIntervalMs: Option[Long] = None,
    clock: () => Long = () => System.currentTimeMillis(),
    store: AccStore[T] = AccStore.none[T]) {

  // The persisted rows ARE the state. While a batch is `flushing`,
  // `inFlightHandles`/`inFlightCount` hold the snapshot the running
  // flush processes and `bufferHandles`/`count` the stranded adds.
  private val batches = mutable.Map.empty[String, AccBatchRow]
  /** The frame behind each buffered handle: what `writeChunk` returned
    * or what load-on-construct read back. */
  private val frames = mutable.Map.empty[String, Dataset[T]]
  private val completed = mutable.ArrayBuffer.empty[AccBatchStatus]
  private val history = mutable.ArrayBuffer.empty[FlushRecord]
  private var nextChunk = 0L

  // load-on-construct: rebuild buffers from persisted chunks. A batch
  // persisted as `flushing` was interrupted mid-flush — recover via
  // the failed-flush revert (snapshot + stranded adds retained).
  store.load().foreach { snap =>
    nextChunk = snap.nextChunk
    snap.batches.foreach { b =>
      (b.inFlightHandles ++ b.bufferHandles).foreach(h => frames(h) = store.readChunk(h))
      batches(b.batchId) =
        if (b.status == "flushing") revert(b, Some("recovered: interrupted flush")) else b
    }
    completed ++= snap.completed
    history ++= snap.history
  }

  /** The failed-flush revert (lib.ts:699-716): back to `accumulating`
    * with the snapshot ahead of the stranded adds. */
  private def revert(b: AccBatchRow, err: Option[String]): AccBatchRow =
    b.copy(status = "accumulating", lastError = err,
      count = b.inFlightCount + b.count, inFlightCount = 0L,
      bufferHandles = b.inFlightHandles ++ b.bufferHandles, inFlightHandles = Nil)

  private def checkpoint(): Unit =
    store.save(AccSnapshot(batches.values.toSeq.sortBy(_.batchId),
      completed.toSeq, history.toSeq, nextChunk))

  private def dropChunks(handles: Seq[String]): Unit = {
    frames --= handles
    store.deleteChunks(handles)
  }

  /** Adds items to the batchId's open batch. During a flush the add is
    * stranded: it lands in the buffer that becomes sequence+1 when the
    * flush completes (lib.ts:635-664). Threshold-triggered flushes
    * never fire mid-flush (doFlushTransition's not_accumulating guard,
    * lib.ts:494-498). */
  def addItems(batchId: String, items: Dataset[T]): AccBatchStatus = synchronized {
    // persist the chunk (no-op for the in-memory store) and buffer the
    // READ-BACK frame, so live and recovered runs see identical data by
    // construction and the caller's lineage runs once. The chunk write
    // counts the items on the way; only the in-memory store, which runs
    // nothing, needs a count of its own.
    val handle = s"chunk-$nextChunk"
    nextChunk += 1
    val obs = Observation()
    val persisted = store.writeChunk(handle, items.observe(obs, count(lit(1))))
    val n = GraftPlans.observed(items.sparkSession, obs).fold(persisted.count())(_.getLong(0))
    frames(handle) = persisted
    val b = batches.getOrElse(batchId,
      AccBatchRow(batchId, 0, "accumulating", 0, 0L, None, 0, Nil, Nil))
    batches(batchId) = b.copy(count = b.count + n,
      openedAt = if (b.count == 0) clock() else b.openedAt,
      bufferHandles = b.bufferHandles :+ handle)
    checkpoint()
    if (b.status == "accumulating" && b.count + n >= threshold) flush(batchId)
    getBatchStatus(batchId).get
  }

  /** Interval-timer trigger (reference flushIntervalMs, lib.ts:76-83):
    * flushes every batch whose open batch is older than the interval.
    * Call from the host's scheduler tick; returns flushed batchIds. */
  def tick(): Seq[String] = synchronized {
    flushIntervalMs match {
      case None => Seq.empty
      case Some(interval) =>
        val now = clock()
        batches.values.toSeq.collect {
          case b if b.status == "accumulating" && b.count > 0 &&
            now - b.openedAt >= interval && flush(b.batchId) => b.batchId
        }
    }
  }

  /** `accumulating → flushing` (doFlushTransition, lib.ts:458-545):
    * snapshots the open items for the in-flight flush and leaves the
    * open buffer empty for stranded adds. False if the batch is empty
    * or a flush is already in flight (not_accumulating). */
  def beginFlush(batchId: String): Boolean = synchronized {
    batches.get(batchId) match {
      case Some(b) if b.status == "accumulating" && b.count > 0 =>
        batches(batchId) = b.copy(status = "flushing",
          inFlightCount = b.count, inFlightHandles = b.bufferHandles,
          count = 0L, bufferHandles = Nil)
        checkpoint()
        true
      case _ => false
    }
  }

  /** `flushing → completed | accumulating` (executeFlush +
    * recordFlushResult, lib.ts:546-664): processes the snapshot; on
    * success the stranded adds become sequence+1 (flushing again at
    * once if they already crossed the threshold, lib.ts:648-651); on
    * failure the batch reverts to `accumulating` with the snapshot and
    * the stranded adds both retained. */
  def completeFlush(batchId: String): Boolean = synchronized {
    batches.get(batchId) match {
      case Some(b) if b.status == "flushing" =>
        val ds = b.inFlightHandles.map(frames).reduce(_ unionByName _)
        val t0 = clock()
        val err =
          try { process(ds); None }
          catch { case e: Exception => Some(e.getMessage) }
        val t1 = clock()
        history += FlushRecord(batchId, b.seq, b.inFlightCount, t1, t1 - t0, err.isEmpty)
        if (err.isEmpty) {
          completed += AccBatchStatus(batchId, b.seq, "completed", b.inFlightCount)
          batches(batchId) = AccBatchRow(batchId, b.seq + 1, "accumulating", b.count, t1,
            None, 0L, b.bufferHandles, Nil)
          // Persist the reference-free snapshot BEFORE deleting the chunk
          // files: a crash between the two then only orphans chunks (the
          // documented safe outcome) — the reverse order could persist a
          // snapshot whose handles point at already-deleted files, which
          // load-on-construct cannot recover from.
          checkpoint()
          dropChunks(b.inFlightHandles)
          if (b.count >= threshold) flush(batchId)
        } else {
          batches(batchId) = revert(b, err)
          checkpoint()
        }
        err.isEmpty
      case _ => false
    }
  }

  /** Manual flush (lib.ts:246-279). Returns true iff items were
    * processed successfully; on failure items are retained. */
  def flush(batchId: String): Boolean = synchronized {
    beginFlush(batchId) && completeFlush(batchId)
  }

  /** The open (or in-flight) batch if any, else the latest completed
    * one. A `flushing` status reports the in-flight item count
    * (getBatchStatus, lib.ts:181-244). */
  def getBatchStatus(batchId: String): Option[AccBatchStatus] = synchronized {
    batches.get(batchId).map { b =>
      if (b.status == "flushing") AccBatchStatus(batchId, b.seq, "flushing", b.inFlightCount)
      else AccBatchStatus(batchId, b.seq, "accumulating", b.count)
    }.orElse(completed.filter(_.batchId == batchId).lastOption)
  }

  /** Every sequence: completed flushes, the in-flight/open batch, and
    * — mid-flush — the stranded adds as the upcoming sequence+1
    * accumulating batch (getAllBatchesForBaseId, lib.ts:246-279). */
  def getAllBatchesForBaseId(batchId: String): Seq[AccBatchStatus] = synchronized {
    completed.filter(_.batchId == batchId).toSeq ++ batches.get(batchId).toSeq.flatMap { b =>
      if (b.status == "flushing")
        AccBatchStatus(batchId, b.seq, "flushing", b.inFlightCount) +:
          Option.when(b.count > 0)(AccBatchStatus(batchId, b.seq + 1, "accumulating", b.count)).toSeq
      else Option.when(b.count > 0)(AccBatchStatus(batchId, b.seq, "accumulating", b.count)).toSeq
    }
  }

  def getFlushHistory(batchId: String): Seq[FlushRecord] = synchronized {
    history.filter(_.batchId == batchId).toSeq
  }

  /** Drops the accumulating batch and its history (lib.ts:321-360).
    * Checkpoints before deleting the chunk files, as [[completeFlush]]
    * does: a crash in between only orphans chunks. */
  def deleteBatch(batchId: String): Unit = synchronized {
    val dropped = batches.remove(batchId)
    completed.filterInPlace(_.batchId != batchId)
    history.filterInPlace(_.batchId != batchId)
    checkpoint()
    dropped.foreach(b => dropChunks(b.bufferHandles ++ b.inFlightHandles))
  }
}
