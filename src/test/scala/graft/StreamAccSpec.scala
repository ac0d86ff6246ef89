package graft

import graft.operators.Accumulator
import graft.streaming.StreamAcc

class StreamAccSpec extends SparkSpec {

  test("streaming tumbling-window flushes equal the batch accumulator result") {
    val s = spark; import s.implicits._
    val streamed = StreamAcc.runToCompletion(s, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getTimestamp(4), r.getTimestamp(5)))
      .toSet
    val batch = Accumulator.accTimeFlush(s, sfDir)
      .select($"batch_id", $"window_start", $"window_end",
              $"item_count", $"first_ts", $"last_ts")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getTimestamp(4), r.getTimestamp(5)))
      .toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} windows, batch ${batch.size}; " +
        s"only-streamed=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
  }

  test("append mode emits exactly the watermark-closed windows (bounded state)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val emitted = StreamAcc.runAppendToCompletion(s, sfDir)
      .select($"batch_id", $"window_start", $"window_end", $"item_count")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    // final watermark: ms-floored max event time minus the 1 h delay
    val maxMs = graft.sources.Tables.events(s, sfDir)
      .agg(max($"ts")).head.getTimestamp(0).getTime
    val wmUs = (maxMs - 3600L * 1000) * 1000L
    val batch = Accumulator.accTimeFlush(s, sfDir)
      .select($"batch_id", $"window_start", $"window_end", $"item_count")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    val (closed, open) = batch.partition(_._3.getTime * 1000L <= wmUs)
    // bounded state: every closed window flushed exactly once, every
    // still-open window is held in state, not emitted
    assert(open.nonEmpty, "spec needs open windows to distinguish append from complete")
    assert(emitted == closed.toSet,
      s"emitted=${emitted.size} closed=${closed.size}; " +
        s"extra=${(emitted -- closed.toSet).take(3)} missing=${(closed.toSet -- emitted).take(3)}")
  }
}
