package graft

import graft.operators.{HybridSearch, Similarity}

/** search_hybrid_rrf (31ad): rank-only fusion invariants that the
  * hash oracle can't express as directly — RRF arithmetic recomputed
  * from the emitted ranks, both modalities actually contributing,
  * self-exclusion, and ranked-list shape. */
class HybridSearchSpec extends SparkSpec {

  private lazy val rows =
    HybridSearch.searchHybridRrf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))

  test("ranked self-free fused lists with both modalities contributing") {
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet.forall(_ < Similarity.nQueries))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= HybridSearch.hybridK)
      // the vector side alone always supplies k candidates
      assert(rs.length >= Similarity.k, s"query $q: only ${rs.length} rows")
      assert(rs.map(_._2).sorted.toList == (1L to rs.length).toList)
      rs.foreach { r => assert(r._3 != q, s"self in results: $r") }
      val rrf = rs.sortBy(_._2).map(_._4)
      assert(rrf.zip(rrf.tail).forall { case (a, b) => a >= b })
    }
    // across the corpus, each side must contribute somewhere
    assert(rows.exists(_._5.nonEmpty), "no text-side contribution")
    assert(rows.exists(_._6.nonEmpty), "no vector-side contribution")
  }

  test("rrf scores are exactly the reciprocal-rank sums of the emitted ranks") {
    rows.foreach { case (q, _, d, rrf, tr, vr) =>
      val expect = tr.map(r => 1.0 / (HybridSearch.rrfK + r)).getOrElse(0.0) +
        vr.map(r => 1.0 / (HybridSearch.rrfK + r)).getOrElse(0.0)
      val quant = math.floor(expect * 1e6 + 0.5) / 1e6
      assert(math.abs(quant - rrf) < 1e-9, s"($q,$d): $quant vs $rrf")
      assert(tr.nonEmpty || vr.nonEmpty, s"($q,$d): fused from nothing")
    }
  }

  test("filtered hybrid returns only the language slice, both modalities contributing") {
    val s = spark; import s.implicits._
    val slice = graft.sources.Tables.documents(s, sfDir)
      .filter($"lang" === HybridSearch.hybridFilterLang)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(slice.nonEmpty)
    val frows = HybridSearch.searchHybridFiltered(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(frows.nonEmpty)
    frows.foreach { case (q, _, d, _, _, _) =>
      assert(slice.contains(d), s"doc $d leaked past the $q filter")
      assert(d != q)
    }
    // ranked lists, k-deep via the vector fallback, monotone rrf
    frows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length >= Similarity.k, s"query $q: only ${rs.length} rows")
      assert(rs.map(_._2).sorted.toList == (1L to rs.length).toList)
      val rrf = rs.sortBy(_._2).map(_._4)
      assert(rrf.zip(rrf.tail).forall { case (a, b) => a >= b })
    }
    // both retrieval sides must place slice members somewhere
    assert(frows.exists(_._5.nonEmpty), "no text-side contribution in-slice")
    assert(frows.exists(_._6.nonEmpty), "no vector-side contribution in-slice")
    // and the unfiltered fusion is NOT a substitute: post-filtering
    // its top-k finds fewer slice docs than the filtered query returns
    val postFiltered = rows.filter(r => slice.contains(r._3))
    assert(postFiltered.length < frows.length,
      s"post-filter kept ${postFiltered.length} vs filtered ${frows.length}")
  }

  test("chunk hybrid: best_chunk_idx is a real corpus_chunk passage of that doc; lists ranked and self-free") {
    val s = spark; import s.implicits._
    val chunks = graft.operators.Pipeline.corpusChunk(s, sfDir)
      .select($"doc_id", $"chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val crows = HybridSearch.searchChunkHybrid(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    assert(crows.nonEmpty)
    crows.foreach { case (q, _, d, bc, _, tr, vr) =>
      assert(d != q, s"self in results: ($q,$d)")
      // text-ranked rows carry the winning passage; vector-only rows
      // carry no passage — exactly one of the two shapes
      assert(bc.nonEmpty == tr.nonEmpty, s"($q,$d): chunk/text mismatch")
      assert(tr.nonEmpty || vr.nonEmpty, s"($q,$d): fused from nothing")
      bc.foreach { c =>
        assert(chunks.contains((d, c)),
          s"($q,$d): best_chunk_idx $c is not a corpus_chunk passage")
      }
    }
    crows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toList == (1L to rs.length).toList, s"query $q ranks")
      val rrf = rs.sortBy(_._2).map(_._5)
      assert(rrf.zip(rrf.tail).forall { case (a, b) => a >= b })
    }
    // the passage side must actually contribute somewhere
    assert(crows.exists(_._4.nonEmpty), "no passage-side contribution")
    assert(crows.exists(_._7.nonEmpty), "no vector-side contribution")
  }

  test("retraction: tombstone probe, compacted probe and the emitted search agree; deleted docs gone") {
    val s = spark; import s.implicits._
    val deleted = graft.sources.Tables.documents(s, sfDir)
      .filter($"doc_id" % HybridSearch.retractMod === HybridSearch.retractRem)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty)
    val res = HybridSearch.bm25Retract(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(res.nonEmpty)
    // a deleted doc is neither a result nor a query
    res.foreach { case (q, _, d, _) =>
      assert(!deleted.contains(d), s"deleted doc $d returned")
      assert(!deleted.contains(q), s"deleted doc $q issued a query")
    }
    // probe-over-compacted (no tombstones left to join) is
    // row-identical to tombstone-at-probe over the live index
    HybridSearch.compactBm25Index(s, sfDir)
    val emptyTomb = Seq.empty[Long].toDF("doc_id")
    val viaCompact = HybridSearch.bm25RetractProbe(s,
        s.table(HybridSearch.bm25CompactTable), emptyTomb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaTomb = HybridSearch.bm25RetractProbe(s,
        s.table(HybridSearch.bm25IndexTable),
        HybridSearch.bm25Tombstones(s, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaCompact == viaTomb,
      s"compacted vs tombstoned probe diverged: ${viaCompact.size}/${viaTomb.size}")
    // posting-SET parity vs an index REBUILT from the retained corpus
    // (same (term, doc) pairs), while the weights differ — the
    // documented stale-statistics delta the periodic rebuild clears
    val retained = graft.sources.Tables.documents(s, sfDir)
      .filter($"doc_id" % HybridSearch.retractMod =!= HybridSearch.retractRem)
    val rebuilt = HybridSearch.bm25PostingsOf(s, retained)
      .select($"term", $"doc_id", $"w")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val compacted = s.table(HybridSearch.bm25CompactTable)
      .select($"term", $"doc_id", $"w")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(compacted.keySet == rebuilt.keySet,
      "compaction must keep exactly the retained corpus's posting set")
    assert(compacted.exists { case (k, w) => math.abs(rebuilt(k) - w) > 1e-9 },
      "expected stale-statistics weight deltas vs the rebuilt index")
  }

  test("context pack: budget-respecting maximal prefix with corpus_chunk-exact passage lengths") {
    val s = spark; import s.implicits._
    import graft.operators.Pipeline
    val fused = HybridSearch.searchChunkHybrid(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3)))
    val packed = HybridSearch.ragContextPack(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(packed.nonEmpty)
    // ground truth passage lengths from the chunking operator itself
    val lens = Pipeline.corpusChunk(s, sfDir)
      .select($"doc_id", $"chunk_idx", $"n_toks").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    packed.foreach { case (_, _, d, c, n, _) =>
      assert(n == lens.getOrElse((d, c), 0L),
        s"passage ($d,$c) length $n disagrees with corpus_chunk")
    }
    val lenOf = fused.map { case (q, r, d, c) =>
      (q, r) -> lens.getOrElse((d, c), 0L) }.toMap
    val packedByQ = packed.groupBy(_._1)
    fused.groupBy(_._1).foreach { case (q, frs) =>
      val admitted = packedByQ.getOrElse(q, Array.empty).sortBy(_._2)
      // admitted rows are a PREFIX of the fused ranking with an exact
      // running sum that respects the budget
      assert(admitted.map(_._2).toList ==
        frs.map(_._2).sorted.take(admitted.length).toList,
        s"query $q: admitted ranks are not a prefix")
      var cum = 0L
      admitted.foreach { r =>
        cum += r._5
        assert(cum == r._6, s"query $q rank ${r._2}: bad running sum")
        assert(cum <= HybridSearch.ctxBudget, s"query $q: budget exceeded")
      }
      // maximality: the first excluded passage would overflow
      if (admitted.length < frs.length) {
        val nextRank = frs.map(_._2).sorted.apply(admitted.length)
        assert(cum + lenOf((q, nextRank)) > HybridSearch.ctxBudget,
          s"query $q: rank $nextRank would have fit but was cut")
      }
    }
    // the budget must actually bite somewhere (else the operator
    // degenerates to the fused ranking and tests nothing)
    assert(packed.length < fused.length, "budget never cut a list")
  }

  test("stream postings ingest: grown-table probe is idempotent across reruns and covers the shard") {
    val s = spark; import s.implicits._
    import graft.operators.Dedup
    val r1 = graft.streaming.StreamOps.runBm25IngestToCompletion(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    // rerun: the base rebuild + exactly-once append must not
    // double-insert the shard
    val r2 = graft.streaming.StreamOps.runBm25IngestToCompletion(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    assert(r1 == r2, "rerunning the ingest gate changed the probe result")
    // the grown table holds postings for BOTH splits
    val grown = s.table(HybridSearch.bm25StreamTable)
      .select($"doc_id").distinct().collect().map(_.getLong(0))
    assert(grown.exists(_ % Dedup.incrementalShardMod == Dedup.incrementalShardRem),
      "no shard postings landed")
    assert(grown.exists(_ % Dedup.incrementalShardMod != Dedup.incrementalShardRem),
      "no corpus postings in the base")
  }

  private def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("mmr: exact agreement with an independent greedy replay") {
    val s = spark; import s.implicits._
    val out = HybridSearch.searchMmr(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // independent replay: fused pool + embeddings, greedy in plain Scala
    val fused = HybridSearch.searchHybridRrf(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val rel: Map[(Long, Long), Double] = fused.groupBy(_._1).flatMap {
      case (q, rs) =>
        val mx = rs.map(_._3).max
        rs.map(t => (q, t._2) -> q6(t._3 / mx))
    }
    val emb = graft.sources.Tables.embeddings(s, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def sim(a: Long, b: Long): Double = (emb.get(a), emb.get(b)) match {
      case (Some(x), Some(y)) if nrm(x) > 0 && nrm(y) > 0 =>
        q6(x.zip(y).map { case (p, r) => p * r }.sum / (nrm(x) * nrm(y)))
      case _ => 0.0
    }
    val lam = HybridSearch.mmrLambda
    val expected = fused.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      val pool = rs.map(_._2).toSet
      var picked = List.empty[(Long, Double)] // (doc, score) in pick order
      var remaining = pool
      while (picked.size < HybridSearch.mmrK && remaining.nonEmpty) {
        val scored = remaining.toSeq.map { d =>
          val ms = if (picked.isEmpty) 0.0
            else picked.map(p => sim(d, p._1)).max
          d -> q6(lam * rel((q, d)) - (1.0 - lam) * ms)
        }
        val (d, sc) = scored.minBy { case (d, sc) => (-sc, d) }
        picked = picked :+ (d -> sc)
        remaining -= d
      }
      picked.zipWithIndex.map { case ((d, sc), i) =>
        (q, d, (i + 1).toLong, rel((q, d)), sc) }
    }.sortBy(t => (t._1, t._3))
    assert(out.length == expected.length)
    out.zip(expected).foreach { case (got, want) =>
      assert(got._1 == want._1 && got._2 == want._2 && got._3 == want._3,
        s"pick mismatch: got $got want $want")
      assert(math.abs(got._4 - want._4) < 1e-9, s"rel drift: $got vs $want")
      assert(math.abs(got._5 - want._5) < 1e-9, s"score drift: $got vs $want")
    }
    // the diversity penalty must actually bite somewhere: some pick's
    // score is strictly below λ·rel (a nonzero max-sim was charged)
    assert(out.exists(r => r._3 > 1 && r._5 < q6(lam * r._4) - 1e-9),
      "no pick ever paid a similarity penalty — pool has no redundancy to diversify")
  }

  test("rm3: interpolation arithmetic, ranked lists, expansion contributes") {
    val s = spark
    val rows = HybridSearch.searchPrfRm3(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val al = HybridSearch.prfAlpha
    rows.foreach { case (q, _, d, score, orig, exp) =>
      assert(d != q, s"self in results: ($q,$d)")
      assert(math.abs(q6(al * orig + (1 - al) * exp) - score) < 1e-9,
        s"($q,$d): score $score is not the α-interpolation of ($orig, $exp)")
      assert(orig >= 0.0 && exp >= 0.0)
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toList == (1L to rs.length).toList)
      val sc = rs.sortBy(_._2).map(_._4)
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b },
        s"query $q: scores not monotone")
    }
    // the expansion side must contribute (feedback docs contain their
    // own vocabulary, so a zero expansion column means the second
    // probe is broken)
    assert(rows.exists(_._6 > 0.0), "expansion never scored anything")
  }

  test("eval report: all four tiers, metrics in range, diversification's price is visible") {
    val rows = HybridSearch.searchEvalReport(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(rows.keySet == Set("hybrid_rrf", "prf_rm3", "mmr", "chunk_hybrid"))
    rows.foreach { case (t, (n, ndcg, mrr, rec)) =>
      assert(n > 0, s"$t: no queries")
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"$t: ndcg $ndcg")
      assert(mrr >= 0.0 && mrr <= 1.0, s"$t: mrr $mrr")
      assert(rec >= 0.0 && rec <= 1.0, s"$t: recall $rec")
    }
    // MMR picks a subset of the hybrid list with a diversity penalty:
    // its pure-relevance metrics cannot EXCEED the list it selects from
    assert(rows("mmr")._4 <= rows("hybrid_rrf")._4 + 1e-9,
      "mmr recalled truth its own candidate pool didn't hold")
    // the hybrid tier must actually find some truth at this SF, or the
    // whole report is vacuous
    assert(rows("hybrid_rrf")._4 > 0.0, "hybrid recall 0 — broken join?")
  }

  test("lifecycle report: four tiers, consistent arithmetic, structural asymmetry") {
    val rows = HybridSearch.indexLifecycleReport(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(rows.keySet ==
      Set("bm25_postings", "ivf_lists", "minhash_bands", "knn_edges"))
    rows.foreach { case (t, (total, dead, live, frac)) =>
      assert(total > 0, s"$t: empty index")
      assert(dead + live == total, s"$t: $dead + $live != $total")
      assert(frac >= 0.0 && frac <= 1.0, s"$t: frac $frac")
      assert(dead > 0, s"$t: the mod-$retractModStr takedown hit nothing")
    }
    // edges die at EITHER endpoint, so the graph tier's dead fraction
    // structurally exceeds the single-id IVF tier's
    assert(rows("knn_edges")._4 > rows("ivf_lists")._4,
      s"knn ${rows("knn_edges")._4} should exceed ivf ${rows("ivf_lists")._4}")
    // band rows are doc-proportional: minhash total = bands x corpus sigs
    val sigs = graft.operators.Dedup.minhashSignatures(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        % graft.operators.Dedup.incrementalShardMod
        =!= graft.operators.Dedup.incrementalShardRem).count()
    assert(rows("minhash_bands")._1 == sigs * graft.operators.Dedup.bands)
  }

  test("lifecycle report over empty indexes counts 0 tombstoned and 0 live entries") {
    val s = spark
    val d = java.nio.file.Files.createTempDirectory("graft-lifecycle-empty").toString
    graft.sources.Tables.documents(s, sfDir).limit(0).write.parquet(s"$d/documents.parquet")
    graft.sources.Tables.embeddings(s, sfDir).limit(0).write.parquet(s"$d/embeddings.parquet")
    val rows = HybridSearch.indexLifecycleReport(s, d).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert((1 to 4).forall(i => !r.isNullAt(i)), s"NULL in $r")
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)) == ((0L, 0L, 0L, 0.0)), s"$r")
    }
  }

  private def retractModStr = HybridSearch.retractMod.toString

  test("rerank: subset of the fused pool, scores recomputed independently, batched forward passes") {
    val s = spark; import s.implicits._
    val fusedSet = rows.map(r => (r._1, r._3)).toSet
    val texts = graft.sources.Tables.documents(s, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def tokset(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).toSet
    val rr = HybridSearch.searchRerank(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rr.nonEmpty)
    rr.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= HybridSearch.rerankK)
      assert(rs.map(_._2).sorted.toList == (1L to rs.length).toList)
    }
    rr.foreach { case (q, _, d, ce, prev) =>
      assert(fusedSet.contains((q, d)),
        s"($q,$d) reranked but never retrieved")
      assert(prev >= 1 && prev <= HybridSearch.hybridK)
      val (qt, dt) = (tokset(texts(q)), tokset(texts(d)))
      val want =
        if (qt.isEmpty || dt.isEmpty) 0.0
        else q6(qt.intersect(dt).size.toDouble /
          math.sqrt(qt.size.toDouble * dt.size.toDouble))
      assert(math.abs(ce - want) < 1e-9, s"($q,$d): ce $ce want $want")
    }
    // the micro-batch contract: every forward pass is <= batchSize,
    // and every partition's batches are full except possibly the last
    val sizes = HybridSearch.rerankBatchSizes(s, sfDir)
    assert(sizes.nonEmpty)
    assert(sizes.forall(_._2 <= HybridSearch.rerankBatchSize))
    sizes.groupBy(_._1).foreach { case (pid, bs) =>
      assert(bs.dropRight(1).forall(_._2 == HybridSearch.rerankBatchSize),
        s"partition $pid: non-final batch underfilled: $bs")
    }
  }

  test("pipeline e2e: funnel monotone, budget respected, top doc is the rerank winner") {
    val s = spark
    val e2e = HybridSearch.ragPipelineE2e(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(e2e.nonEmpty)
    val rerankTop = HybridSearch.searchRerank(s, sfDir).collect()
      .filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    e2e.foreach { case (q, nRet, nRr, nPk, ctx, top) =>
      assert(nRet >= 1 && nRet <= HybridSearch.hybridK)
      assert(nRr <= math.min(HybridSearch.rerankK.toLong, nRet),
        s"query $q: reranked $nRr out of $nRet")
      assert(nPk <= nRr, s"query $q: packed $nPk of $nRr reranked")
      assert(ctx <= HybridSearch.ctxBudget, s"query $q: context $ctx over budget")
      assert((nPk == 0L) == (ctx == 0L))
      assert(rerankTop(q) == top, s"query $q: top doc $top vs ${rerankTop(q)}")
    }
    // at this SF the funnel must actually narrow somewhere, or the
    // report degenerates to three copies of one count
    assert(e2e.exists { case (_, nRet, nRr, _, _, _) => nRr < nRet },
      "rerank cut never narrowed the pool")
  }

  test("takedown stream: full delivery equals batch retraction, and replay is idempotent") {
    val s = spark
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed =
      graft.streaming.StreamOps.runTakedownToCompletion(s, sfDir)
        .collect().map(key).toList
    val batch = HybridSearch.bm25Retract(s, sfDir).collect().map(key).toList
    assert(streamed == batch,
      "a fully-delivered takedown stream must equal the batch retraction")
    // re-delivery of every deletion event must change nothing
    val replayed =
      graft.streaming.StreamOps.runTakedownToCompletion(s, sfDir)
        .collect().map(key).toList
    assert(replayed == streamed, "takedown replay changed the probe")
  }
}
