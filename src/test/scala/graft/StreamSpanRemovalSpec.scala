package graft

import graft.operators.Dedup
import graft.streaming.StreamOps

/** The streaming span-removal gate (29e''' — `stream_dedup_span`):
  * run to completion it must equal the batch edit exactly, and its
  * cross-SHARD semantics come from the persisted duplicated-window
  * index — a passage planted in two documents living in two different
  * parquet shards (and so possibly two different micro-batches) cuts
  * from BOTH, which a per-batch-only dedup could never guarantee. */
class StreamSpanRemovalSpec extends SparkSpec {

  test("streamed span removal equals the batch edit on the corpus") {
    val streamed = StreamOps.runDedupSpanToCompletion(
        spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val batch = Dedup.dedupSpanRemoval(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(streamed == batch,
      s"stream/batch diverge: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("a passage planted across two shards is cut from both documents") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-span-shards").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    // the planted passage: longer than spanRemovalMinTokens, appears
    // once in each shard — duplicated only ACROSS shards
    val passage = "alpha bravo charlie delta echo foxtrot golf"
    def uniq(tag: String, n: Int) =
      (1 to n).map(i => s"${tag}word$i").mkString(" ")
    // each shard is its own parquet part-file under documents.parquet
    Seq((10L, s"${uniq("a", 8)} $passage ${uniq("b", 8)}", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    Seq((20L, s"${uniq("c", 8)} $passage ${uniq("d", 8)}", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    val rows = StreamOps.runDedupSpanToCompletion(
        spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(rows.keySet == Set(10L, 20L))
    val pTok = passage.split(" ").length.toLong
    rows.foreach { case (id, (nSpans, nCut, clean)) =>
      assert(nSpans == 1L, s"doc $id: expected one cut span, got $nSpans")
      assert(nCut == pTok, s"doc $id: cut $nCut of $pTok passage tokens")
      assert(!clean.contains("charlie"),
        s"doc $id still contains the planted passage: $clean")
      // the unique flanks survive untouched
      assert(clean.split(" ").length == 16, s"doc $id flanks damaged: $clean")
    }
  }
}
