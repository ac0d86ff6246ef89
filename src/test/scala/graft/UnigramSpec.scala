package graft

import graft.operators.Unigram

class UnigramSpec extends SparkSpec {

  private def docsOf(rows: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("a planted frequent substring survives as a multi piece and is actually used") {
    // "zq" dominates the pair statistics: it must seed, survive all
    // prune rounds, and carry usage; a substring that never recurs
    // ("xw" appears once) must prune out of the multi vocabulary
    val docs = docsOf(Seq(
      (0L, ("zqab " * 40).trim),
      (1L, ("zqcd " * 40).trim),
      (2L, "xw " + ("zqef " * 20).trim)))
    val (rows, counts, total) = Unigram.trainOf(docs)
    val byPiece = rows.map(r => r._1 -> r).toMap
    // every corpus character ships as a char piece
    Seq("z", "q", "a", "b", "c", "d", "e", "f", "x", "w").foreach { ch =>
      assert(byPiece.contains(ch), s"char $ch missing from vocab")
      assert(byPiece(ch)._3 == "char")
    }
    // the planted pair survives with usage weight
    val zq = rows.filter(r => r._1.contains("zq") && r._3 == "multi")
    assert(zq.nonEmpty, s"no zq-carrying multi piece survived: $rows")
    assert(zq.map(_._4).sum > 0L, s"zq pieces must be used: $zq")
    // counts are the shipped add-one model: every count = n_uses + 1
    rows.foreach { case (p, _, _, u) => assert(counts(p) == u + 1L) }
    assert(total == counts.values.sum)
    // piece_len counts code points
    rows.foreach { case (p, l, _, _) =>
      assert(l == p.codePointCount(0, p.length).toLong)
    }
  }

  test("training is deterministic under repartitioning") {
    val docs = docsOf(Seq(
      (0L, "alpha beta gamma alpha beta alpha"),
      (1L, "beta gamma delta epsilon alpha"),
      (2L, "gamma gamma alpha zeta")))
    val (r1, c1, t1) = Unigram.trainOf(docs)
    val (r2, c2, t2) = Unigram.trainOf(docs.repartition(7))
    assert(r1 == r2 && c1 == c2 && t1 == t2)
  }

  test("segmentation lexicon: overlong words char-split, every word reassembles exactly") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-uni").toString
    val long = "q" + ("wv" * 10) // 21 chars > uniMaxWordLen
    docsOf(Seq(
      (0L, ("tok " * 30).trim + " " + long),
      (1L, ("token " * 20).trim)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val segs = Unigram.unigramSegsDf(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(segs.map(_._1).toSet == Set("tok", "token", long))
    segs.foreach { case (w, g, n) =>
      val pieces = g.split('').filter(_.nonEmpty)
      assert(pieces.mkString("") == w, s"pieces must reassemble $w: $g")
      assert(pieces.length.toLong == n)
    }
    val overlong = segs.find(_._1 == long).get
    assert(overlong._3 == long.length.toLong,
      s"overlong word must char-split: $overlong")
    // a trained word segments with fewer pieces than characters
    val tok = segs.find(_._1 == "tok").get
    assert(tok._3 < 3L, s"'tok' recurs enough to earn a multi piece: $tok")
  }

  test("vocab sweep: one consistent row per budget over the same word universe") {
    val rows = Unigram.tokenizerVocabSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getDouble(5)))
    assert(rows.map(_._1).toSeq == Unigram.uniVocabBudgets.map(_.toLong))
    // the word universe is budget-independent
    assert(rows.map(_._3).distinct.length == 1, rows.mkString(", "))
    rows.foreach { case (b, nVocab, nWords, nPieces, fert) =>
      // surviving vocab is bounded by alphabet + budget, never empty
      assert(nVocab > 0 && nVocab <= b + 64, s"budget $b: n_vocab $nVocab")
      assert(nPieces >= nWords, s"budget $b: at least one piece per word")
      assert(math.abs(fert - nPieces.toDouble / nWords) < 1e-3)
    }
    // the curve must actually move across the swept range: the
    // starved budget pays more pieces per word than the saturated one
    assert(rows.head._5 >= rows.last._5,
      s"fertility should not rise with budget: ${rows.mkString(", ")}")
  }

  test("streaming encode with an EMPTY lexicon falls back to the trainer's DP and equals the batch encoder") {
    val s = spark; import s.implicits._
    val emptyLex = Seq.empty[(String, String)].toDF("word", "g")
    val streamed = graft.streaming.StreamOps
      .runUnigramEncodeToCompletion(s, sfDir,
        lexOverride = Some(emptyLex))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val batch = Unigram.tokenIdsUnigram(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(streamed.length == batch.length,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
    assert(streamed.toSet == batch.toSet,
      s"fallback DP diverges from the staged lexicon: " +
        s"${(streamed.toSet -- batch.toSet).take(3)} vs ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("fertility table carries both families over the identical word set") {
    val rows = Unigram.tokenizerFertility(spark, sfDir).collect()
      .map(r => (r.getString(7), r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(4), r.getDouble(5)))
    val fams = rows.map(_._1).toSet
    assert(fams == Set("bpe", "unigram"))
    val byKey = rows.groupBy(r => (r._2, r._3))
    byKey.foreach { case (k, rs) =>
      assert(rs.length == 2, s"$k must appear once per family")
      // the word universe is shared, so n_words agree across families
      assert(rs.map(_._4).distinct.length == 1, s"$k n_words diverge: $rs")
      rs.foreach { r =>
        assert(r._5 >= r._4, s"$k ${r._1}: at least one piece per word")
        assert(r._6 >= 1.0, s"$k ${r._1}: fertility below 1: $r")
      }
    }
  }
}
