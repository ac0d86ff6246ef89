package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Accumulator
import graft.sources.{Parquet, Sinks}

/** §2.1 #7 — the accumulator's interval-timer flush as Structured
  * Streaming: the real-time analog of the reference's
  * `flushIntervalMs` timer (lib.ts:76-83). Tumbling event-time
  * windows with a watermark bound state: at 100 TB/day the state
  * store holds only open windows per batchId, and late items beyond
  * the watermark are dropped exactly like items arriving after a
  * flush landed in the next sequence.
  */
object StreamAcc {

  /** Streaming source over one test parquet table (schema must be
    * provided explicitly for readStream; reuse the batch schema). The
    * file source requires a directory — test data ships single
    * parquet files, so stage a symlink dir (cheap, no copy; a
    * production deploy points at the landing directory directly). */
  def fileStream(s: SparkSession, dir: String, table: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val path = s"$dir/$table.parquet"
    val streamDir =
      if (Files.isDirectory(Paths.get(path))) path
      else {
        // Key the staging dir by a strong digest of the full path (a
        // 32-bit hashCode can collide across dataset paths) and verify
        // an existing symlink actually points at this dataset,
        // recreating it when it doesn't.
        val d = Paths.get(sys.props("java.io.tmpdir"), "graft-stream", Sinks.pathDigest(path))
        Files.createDirectories(d)
        val target = Paths.get(path)
        val link = d.resolve(s"$table.parquet")
        if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != target)
          Files.delete(link)
        if (!Files.exists(link)) Files.createSymbolicLink(link, target)
        d.toString
      }
    s.readStream.schema(Parquet.read(s, path).schema).parquet(streamDir)
  }

  /** Events stream normalized through the same shared `ts` normalizer
    * as the batch reader ([[graft.sources.Tables.normalizeEventTs]]) —
    * one place handles LONG-nanos / TIMESTAMP_NTZ / TIMESTAMP. */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.normalizeEventTs(fileStream(s, dir, "events"))

  /** Streaming tumbling-window flush: same grouping as the batch
    * [[Accumulator.accTimeFlush]] minus the global seq (assigned at
    * read-out; a streaming sink appends windows as they close). */
  def streamingFlushes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy($"event_type", window($"ts", s"${Accumulator.flushIntervalMinutes} minutes").as("w"))
      .agg(count(lit(1)).as("item_count"),
           min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .select($"event_type".as("batch_id"),
              $"w.start".as("window_start"), $"w.end".as("window_end"),
              $"item_count", $"first_ts", $"last_ts")
  }

  /** Runs the stream to completion over the existing files in
    * complete mode ([[StreamRun]]); returns the flushes. Used by the
    * parity spec and the `stream_acc_time_flush` rows check. */
  def runToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(streamingFlushes(s, dir), OutputMode.Complete)

  /** The PRODUCTION shape of the streaming flush: append output mode
    * with the watermark doing the flushing. Complete mode
    * ([[runToCompletion]]) re-emits every window each trigger and
    * keeps all windows in state — fine for a verify harness, unusable
    * at 100 TB/day. Append emits each window exactly once, when the
    * watermark passes its end (the flush firing); the state store
    * then drops it, so state holds ONLY open windows per batchId —
    * bounded by (batchIds × windows inside the watermark horizon) —
    * and late items beyond the watermark are dropped, the reference's
    * "items after the flush land in the next sequence" boundary made
    * literal. StreamAccSpec proves the bounded-state contract: emitted
    * windows = the batch result MINUS windows the final watermark
    * (max event time − 1 h) hasn't closed. */
  def runAppendToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(streamingFlushes(s, dir), OutputMode.Append)

  /** Driver-contract entry (parity with the batch result is also
    * asserted in StreamAccSpec). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_acc_time_flush" -> (runToCompletion _),
    "stream_acc_flush_closed" -> (runAppendToCompletion _)
  )

  /** DuckDB oracle: with AvailableNow + complete mode the streaming
    * tumbling-window flushes equal the batch grouping — the same SQL
    * as accTimeFlushSql minus the read-out seq column. */
  val streamAccTimeFlushSql: String =
    s"""WITH flushes AS (
       |  SELECT event_type AS batch_id,
       |    time_bucket(INTERVAL '${Accumulator.flushIntervalMinutes} minutes', ts) AS window_start,
       |    count(*) AS item_count, min(ts) AS first_ts, max(ts) AS last_ts
       |  FROM events GROUP BY 1, 2)
       |SELECT batch_id, window_start,
       |  window_start + INTERVAL '${Accumulator.flushIntervalMinutes} minutes' AS window_end,
       |  item_count, first_ts, last_ts
       |FROM flushes
       |ORDER BY batch_id, window_start""".stripMargin

  /** Append-mode oracle: the same flushes restricted to windows the
    * FINAL watermark closed — window_end ≤ max event time − 1 h.
    * Spark tracks event-time stats in milliseconds, so the max is
    * ms-floored before subtracting the delay (a sub-ms tail on the
    * corpus max must not flip a boundary window). Emission at exact
    * equality follows watermark semantics: at watermark = window_end,
    * every future event is ≥ the window's exclusive end, so the
    * window is complete and flushes. */
  val streamAccFlushClosedSql: String =
    s"""WITH flushes AS (
       |  SELECT event_type AS batch_id,
       |    time_bucket(INTERVAL '${Accumulator.flushIntervalMinutes} minutes', ts) AS window_start,
       |    count(*) AS item_count, min(ts) AS first_ts, max(ts) AS last_ts
       |  FROM events GROUP BY 1, 2),
       |wm AS (
       |  SELECT time_bucket(INTERVAL '1 millisecond', max(ts)) - INTERVAL '1 hour' AS w
       |  FROM events)
       |SELECT batch_id, window_start,
       |  window_start + INTERVAL '${Accumulator.flushIntervalMinutes} minutes' AS window_end,
       |  item_count, first_ts, last_ts
       |FROM flushes, wm
       |WHERE window_start + INTERVAL '${Accumulator.flushIntervalMinutes} minutes' <= w
       |ORDER BY batch_id, window_start""".stripMargin

  def oracles: Map[String, String] = Map(
    "stream_acc_time_flush"   -> streamAccTimeFlushSql,
    "stream_acc_flush_closed" -> streamAccFlushClosedSql
  )
}
