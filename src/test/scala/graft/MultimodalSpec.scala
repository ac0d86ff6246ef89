package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("manifest carries magic-consistent mime and exact byte sizes") {
    val rows = Multimodal.mmManifest(spark, sfDir).collect()
    assert(rows.length == 500)
    val expectMagic = Map(
      "image/png" -> "89504e47", "image/jpeg" -> "ffd8ffe0", "audio/wav" -> "52494646")
    rows.foreach { r =>
      val (mime, magic) = (r.getString(1), r.getString(2))
      assert(expectMagic(mime) == magic, s"asset ${r.getLong(0)}: $mime vs $magic")
    }
    // typed path: payload bytes start with the magic and match byte_size
    val sizes = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
    Multimodal.assets(spark, sfDir).collect().foreach { a =>
      assert(a.payload.length.toLong == sizes(a.asset_id))
      val head = a.payload.take(4).map("%02x".format(_)).mkString
      assert(expectMagic(a.mime) == head)
    }
  }

  test("metadata-only query does not read the payload column (pruning)") {
    val plan = Multimodal.mmManifest(spark, sfDir)
      .select("asset_id", "mime", "byte_size")
      .queryExecution.executedPlan.toString
    // the parquet scan only needs doc_id + text (payload is derived);
    // the full document text feeds payload, but n_chars/lang/source
    // must be pruned away
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("n_chars") && !plan.contains("lang"))
  }

  test("frame extraction covers every payload byte window deterministically") {
    val assets = Multimodal.assets(spark, sfDir).collect().map(a => a.asset_id -> a).toMap
    val frames = Multimodal.frameExtract(spark, sfDir).collect()
    val byAsset = frames.groupBy(_.asset_id)
    assert(byAsset.keySet == assets.keySet)
    byAsset.foreach { case (id, fs) =>
      val a = assets(id)
      val expectN = math.max(1L, (a.byte_size + Multimodal.frameStride - 1) / Multimodal.frameStride)
      assert(fs.length.toLong == expectN, s"asset $id: ${fs.length} frames, want $expectN")
      assert(fs.map(_.frame_idx).sorted.toList == (0L until expectN).toList)
      fs.foreach { f =>
        assert(f.offset == f.frame_idx * Multimodal.frameStride)
        assert(f.width >= 16 && f.width < 32 && f.height >= 16 && f.height < 32)
        // stub decode is pure: recompute equals
        assert(f == Multimodal.decodeFrame(a, f.frame_idx, f.offset))
      }
    }
  }

  test("inference micro-batches are full except possibly the last per partition") {
    val sizes = Multimodal.inferBatchSizes(spark, sfDir)
    assert(sizes.nonEmpty)
    assert(sizes.forall { case (_, n) => n >= 1 && n <= Multimodal.inferBatchSize })
    // within each partition only the FINAL batch may be partial
    sizes.groupBy(_._1).values.foreach { perPart =>
      val ns = perPart.map(_._2)
      assert(ns.init.forall(_ == Multimodal.inferBatchSize), ns.toString)
    }
    // embeddings are bounded means of byte values
    val rows = Multimodal.mmBatchInfer(spark, sfDir).collect()
    assert(rows.forall(r => (2 to 5).forall { i =>
      val e = r.getDouble(i); e >= 0.0 && e <= 1.0
    }))
  }

  test("read plan is disjoint, ordered, and maximally merged") {
    val plan = Multimodal.mmShardReadPlan(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(plan.nonEmpty)
    plan.foreach { case (_, _, s0, e0, na, rb, wb) =>
      assert(e0 > s0 && rb == e0 - s0 && wb >= 0 && wb < rb, s"degenerate read: ($s0,$e0,$rb,$wb)")
      assert(na >= 1)
    }
    // the plan must exercise BOTH regimes on this corpus: some reads
    // merged several assets, some stayed singletons
    assert(plan.exists(_._5 > 1) && plan.exists(_._5 == 1),
      s"plan is degenerate (all-merge or all-split): ${plan.map(_._5).mkString(",")}")
    plan.groupBy(_._1).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong),
        s"shard $shard read_idx must be dense from 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // disjoint AND maximal: consecutive reads must be separated
          // by MORE than the coalesce gap, else they'd have merged
          assert(b._3 - a._4 > Multimodal.readPlanGapBytes,
            s"shard $shard reads ${a._2},${b._2} should have merged: gap ${b._3 - a._4}")
        case _ =>
      }
    }
  }

  test("caption pairs: image assets only, 1:1, gate composes model verdict and floors") {
    val s = spark; import s.implicits._
    val rows = graft.operators.Multimodal.mmCaptionPairs(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // only image mimes pair (doc_id % 3 in {0, 1}), exactly once each
    assert(rows.forall(_._2.startsWith("image/")))
    assert(rows.map(_._1).distinct.length == rows.length)
    val images = graft.sources.Tables.documents(s, sfDir)
      .filter($"doc_id" % 3 < 2).count()
    assert(rows.length == images, s"${rows.length} vs $images image docs")
    // the gate: keep_pair == 1 iff every clause holds
    val sc = graft.operators.QualityModel
      .scoreDocs(s, sfDir, graft.sources.Tables.documents(s, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { case (id, _, bytes, toks, _, keepPair) =>
      val expected = sc(id) == 1L &&
        toks >= graft.operators.Multimodal.captionMinTokens &&
        toks <= graft.operators.Multimodal.captionMaxTokens &&
        bytes >= graft.operators.Multimodal.captionMinBytes
      assert(keepPair == (if (expected) 1L else 0L), s"asset $id")
    }
    // the gate must actually split (some kept, some dropped)
    assert(rows.exists(_._6 == 1L) && rows.exists(_._6 == 0L))
  }

  test("perceptual near-dup pairs a tail-edited payload, not an unrelated one, and never crosses mimes") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mmnear").toString
    // bucket-aligned high/low byte blocks: bucket means sit far from
    // the global mean, so only genuinely edited buckets flip bits
    def blocky(n: Int): String =
      (0 until n).map(i => if ((i / 10) % 2 == 0) 'A' else 'z').mkString
    val base = blocky(600)
    val nearDup = base.dropRight(20) + blocky(600).takeRight(20).map {
      case 'A' => 'z'; case 'z' => 'A' }                 // tail-only edit
    val unrelated = (0 until 600).map(i => ('a' + (i * 7) % 26).toChar).mkString
    // ids 0, 3, 6 are all doc_id%3=0 -> image/png; id 1 -> image/jpeg
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src0", base.length.toLong),     // same text, other mime
      (3L, nearDup, "en", "src0", nearDup.length.toLong),
      (6L, unrelated, "en", "src0", unrelated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Multimodal.mmDedupNear(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(pairs.exists { case (a, b, m, h) =>
      a == 0L && b == 3L && m == "image/png" && h <= Multimodal.mmNearMaxHamming },
      s"planted tail-edit near-dup must be found: ${pairs.mkString(", ")}")
    assert(!pairs.exists { case (a, b, _, _) => Set(a, b) == Set(0L, 6L) },
      s"unrelated payloads must not pair: ${pairs.mkString(", ")}")
    assert(!pairs.exists { case (a, b, _, _) => a == 1L || b == 1L },
      s"a cross-mime pair must never be reported: ${pairs.mkString(", ")}")
    // canonicalization over the same plant: {0, 3} form one cluster
    // labelled by the minimum id; 1 and 6 stay singletons
    val clusters = Multimodal.mmDedupNearClusters(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters(0L) == ((0L, 2L)) && clusters(3L) == ((0L, 2L)),
      s"planted pair must canonicalize to id 0: $clusters")
    assert(clusters(1L) == ((1L, 1L)) && clusters(6L) == ((6L, 1L)),
      s"cross-mime twin and unrelated doc stay singletons: $clusters")
    // the streaming admission gate on the same plant, arranged so the
    // near-dup CROSSES the arrival shard: id 9 (9%5=4 -> incoming,
    // 9%3=0 -> same png mime as corpus id 0) carries the tail edit,
    // id 24 (also incoming, same mime) is unrelated
    val dir2 = java.nio.file.Files.createTempDirectory("graft-mmnear-stream").toString
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (9L, nearDup, "en", "src0", nearDup.length.toLong),
      (24L, unrelated, "en", "src0", unrelated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val streamed = graft.streaming.StreamOps.runMmNearDupToCompletion(
        s, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(streamed.exists { case (c, n, h) =>
      c == 0L && n == 9L && h <= Multimodal.mmNearMaxHamming },
      s"planted cross-shard near-dup must be admitted-flagged: ${streamed.mkString(", ")}")
    assert(!streamed.exists { case (_, n, _) => n == 24L },
      s"unrelated arrival must pass clean: ${streamed.mkString(", ")}")
    // the signature itself: tail edit flips few bits, unrelated many
    val sigs = Multimodal.assets(s, dir).collect()
      .map(a => a.asset_id -> Multimodal.phashOne(a)._3).toMap
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) <= 6)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(6L)) > 10,
      s"unrelated hamming too small: ${java.lang.Long.bitCount(sigs(0L) ^ sigs(6L))}")
  }

  test("media dedup cost report: drops are monotone down the ladder and agree with the tier mappings") {
    val rows = Multimodal.mmDedupCostReport(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    assert(rows.keySet == Set("digest", "near_pairs", "near_clusters"))
    val n = rows("digest")._1
    assert(rows.values.forall(_._1 == n), s"every tier covers all $n assets: $rows")
    // identical payloads share a phash (Hamming 0) and a mime, so the
    // ladder's reach is monotone: digest ⊆ near_pairs ⊆ near_clusters
    assert(rows("digest")._2 <= rows("near_pairs")._2, rows.toString)
    assert(rows("near_pairs")._2 <= rows("near_clusters")._2, rows.toString)
    assert(rows("digest")._3 <= rows("near_pairs")._3, rows.toString)
    assert(rows("near_pairs")._3 <= rows("near_clusters")._3, rows.toString)
    // the cluster tier's count is the cluster mapping's own drop count
    val clusterDrops = Multimodal.mmDedupNearClusters(spark, sfDir).collect()
      .count(r => r.getLong(0) != r.getLong(1)).toLong
    assert(rows("near_clusters")._2 == clusterDrops)
  }
}
