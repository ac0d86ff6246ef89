package graft

import graft.operators.Accumulator
import graft.streaming.StreamOps

class StreamOpsSpec extends SparkSpec {

  test("streaming session_window equals the batch session_window result") {
    val s = spark; import s.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                 r.getLong(3), r.getDouble(4))).toSet
    val streamed = key(StreamOps.runSessionsToCompletion(s, sfDir))
    val batch = key(operators.Relational.qSessionWindow(s, sfDir)
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value"))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"diff=${(streamed -- batch).take(2)} / ${(batch -- streamed).take(2)}")
  }

  test("streaming quality filter equals the batch filter exactly") {
    val s = spark
    val streamed = StreamOps.runQualityFilterToCompletion(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    val batch = graft.operators.Pipeline.qualityFilter(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming semantic decontamination equals the batch gate exactly") {
    val s = spark
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toList
    val streamed = key(StreamOps.runDecontaminateSemanticToCompletion(
      s, sfDir))
    val batch = key(graft.operators.Pipeline.decontaminateSemantic(s, sfDir))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("streaming abtest sufficient statistics equal the batch readout bit-exactly") {
    val s = spark
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                 r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    val streamed = key(StreamOps.runAbtestToCompletion(s, sfDir))
    val batch = key(operators.Experimentation.qAbtest(s, sfDir))
    assert(batch.nonEmpty)
    // decimal fixed-point sums merge order-free, so the incremental
    // state must reproduce the batch z to the last bit
    assert(streamed == batch,
      s"diff=${(streamed -- batch).take(2)} / ${(batch -- streamed).take(2)}")
  }

  test("windowed srm emits only watermark-closed windows and a forced imbalance alarms") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // 3 full days of balanced traffic + a partial 4th day that the
    // 1-hour watermark cannot close: exactly 3 windows emit. Day 2
    // drops arm B to 1/5 of arm A — its chi2 must alarm; days 1/3 are
    // perfectly balanced (chi2 = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-srmw").toString
    var id = 0L
    def day(d: Int, nA: Int, nB: Int) = {
      val t0 = java.time.LocalDateTime.of(2025, 3, d, 6, 0)
      (0 until nA).map { i => id += 1; (id, java.sql.Timestamp.valueOf(t0.plusSeconds(i)), 2L * i, "click", 1.0, "{}") } ++
      (0 until nB).map { i => id += 1; (id, java.sql.Timestamp.valueOf(t0.plusSeconds(i)), 2L * i + 1L, "click", 1.0, "{}") }
    }
    (day(1, 100, 100) ++ day(2, 100, 20) ++ day(3, 50, 50) ++ day(4, 9, 9))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StreamOps.runWindowedSrmToCompletion(s, dir).collect()
    assert(out.length == 3, s"only the 3 closed windows may emit: ${out.mkString(";")}")
    val byDay = out.map(r => r.getTimestamp(0).toString.take(10) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(byDay("2025-03-01") == ((100L, 100L, 0.0, false)), byDay.toString)
    assert(byDay("2025-03-03") == ((50L, 50L, 0.0, false)), byDay.toString)
    val d2 = byDay("2025-03-02")
    assert(d2._1 == 100L && d2._2 == 20L && d2._4,
      s"the broken ramp day must alarm: $d2")
    // chi2 for (100, 20): e = 60, 2*(40^2/60) = 53.333333
    assert(math.abs(d2._3 - 53.333333) < 1e-5, d2.toString)
  }

  test("streaming exact dedup equals the batch hash-groupBy exactly") {
    val s = spark
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(StreamOps.runDedupExactToCompletion(s, sfDir))
    val batch = key(graft.operators.Dedup.dedupExact(s, sfDir))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"diff=${(streamed -- batch).take(2)} / ${(batch -- streamed).take(2)}")
  }

  test("streaming embed dedup equals the all-pairs corpus×incoming τ-cut") {
    val s = spark
    val mod = graft.operators.Dedup.embedShardMod
    val rem = graft.operators.Dedup.embedShardRem
    val streamed = StreamOps.runEmbedDedupToCompletion(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the O(n²) all-pairs τ-cut restricted to pairs with
    // exactly one incoming endpoint, oriented (corpus, new)
    val expected = graft.operators.Dedup.dedupEmbeddingAllPairs(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (id1, id2, cos) =>
        val in1 = id1 % mod == rem
        val in2 = id2 % mod == rem
        if (in1 && !in2) Some((id2, id1, cos))
        else if (in2 && !in1) Some((id1, id2, cos))
        else None
      }.toSet
    assert(expected.nonEmpty, "split produced no cross pairs at spec SF")
    assert(streamed == expected,
      s"streamed=${streamed.size} expected=${expected.size}; " +
        s"diff=${(streamed -- expected).take(2)} / ${(expected -- streamed).take(2)}")
  }

  test("streaming heavy hitters equal the batch Misra-Gries result exactly") {
    val s = spark
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val streamed = key(StreamOps.runHeavyHittersToCompletion(s, sfDir))
    val batch = key(graft.operators.Pipeline.corpusHeavyHitters(s, sfDir))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"diff=${(streamed -- batch).take(2)} / ${(batch -- streamed).take(2)}")
  }

  test("stream-stream attribution join equals the batch interval join") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.expr
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(StreamOps.runAttributionToCompletion(s, sfDir))
    val ev = graft.sources.Tables.events(s, sfDir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("pts"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("cts"))
    val batch = key(p.join(c, $"user_id" === $"cu" &&
        $"cts" <= $"pts" && $"cts" >= $"pts" - expr("INTERVAL 30 minutes"))
      .select($"user_id", $"purchase_id", $"click_id"))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"diff=${(streamed -- batch).take(2)} / ${(batch -- streamed).take(2)}")
  }

  test("outer attribution join: matched pairs equal the inner join, null rows emit exactly once for watermark-closed clickless purchases") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{expr, least, lit, max, when}
    val rows = StreamOps.runAttributionOuterToCompletion(s, sfDir).collect()
    val matched = rows.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nullRows = rows.filter(_.isNullAt(2))
    // inner part identical to the inner-join operator
    val inner = StreamOps.runAttributionToCompletion(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched == inner)
    // each clickless purchase appears EXACTLY once, never alongside
    // a matched row for the same purchase
    val nullIds = nullRows.map(_.getLong(1))
    assert(nullIds.distinct.length == nullIds.length, "null row emitted twice")
    val matchedIds = matched.map(_._2)
    assert(nullIds.forall(!matchedIds.contains(_)),
      "a matched purchase must not also emit a null row")
    // null side equals the batch anti-join restricted below the
    // final watermark (least of both sides' max event time − 1 h)
    val ev = graft.sources.Tables.events(s, sfDir)
    val wm = ev.agg(least(
      max(when($"event_type" === "click", $"ts")),
      max(when($"event_type" === "purchase", $"ts"))).as("m"))
      .selectExpr("m - INTERVAL 1 HOUR").head.getTimestamp(0)
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("cts"))
    val expected = ev.filter($"event_type" === "purchase" && $"ts" < lit(wm))
      .join(c, $"user_id" === $"cu" &&
        $"cts" <= $"ts" && $"cts" >= $"ts" - expr("INTERVAL 30 minutes"),
        "left_anti")
      .select($"event_id").collect().map(_.getLong(0)).toSet
    assert(nullIds.toSet == expected,
      s"null side ${nullIds.length} vs expected ${expected.size}; " +
        s"diff=${(nullIds.toSet -- expected).take(3)} / ${(expected -- nullIds.toSet).take(3)}")
    assert(expected.nonEmpty, "spec corpus must contain clickless purchases")
  }

  test("stateful size-threshold flushes equal the batch accumulator's completed batches") {
    val s = spark; import s.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                 r.getTimestamp(3), r.getTimestamp(4))).toSet
    val thresh = 50 // sf0.001 has ~200 events per type — several flushes at 50
    val streamed = key(StreamOps.runSizeFlushesToCompletion(s, sfDir,
      threshold = thresh))
    val batch = key(Accumulator.accSizeFlush(s, sfDir, thresh)
      .filter($"item_count" === thresh)
      .select($"batch_id", $"seq", $"item_count", $"created_at", $"last_updated_at"))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"diff=${(streamed -- batch).take(2)} / ${(batch -- streamed).take(2)}")
  }

  test("streaming funnel step-reach counts equal the batch funnel") {
    val s = spark; import s.implicits._
    val hits = StreamOps.runFunnelToCompletion(s, sfDir)
      .groupBy($"step").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = operators.Behavioral.qFunnel(s, sfDir).collect()(0)
    assert(hits.getOrElse(1L, 0L) == b.getLong(b.fieldIndex("users_view")))
    assert(hits.getOrElse(2L, 0L) == b.getLong(b.fieldIndex("users_click")))
    assert(hits.getOrElse(3L, 0L) == b.getLong(b.fieldIndex("users_purchase")))
  }

  test("streaming resample equals the batch resample on every closed bucket") {
    val s = spark; import s.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3), r.getString(4))
    val streamed = StreamOps.runResampleToCompletion(s, sfDir)
      .collect().map(key).toSet
    // batch restricted to each type's closed range [first obs bucket,
    // last obs bucket) — the stream's trailing open bucket and the
    // global grid's leading 'none' holes are outside it by definition
    val batch = operators.Behavioral.qTimeResample(s, sfDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getLong(3), r.getString(4)))
    val obsRange = batch.filter(_._5 == "obs").groupBy(_._1).view
      .mapValues(rs => (rs.map(_._2.getTime).min, rs.map(_._2.getTime).max)).toMap
    val closed = batch.filter { case (t, ts, _, _, _) =>
      obsRange.get(t).exists { case (lo, hi) => ts.getTime >= lo && ts.getTime < hi }
    }.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    assert(streamed.nonEmpty && streamed == closed,
      s"streamed=${streamed.size} closed=${closed.size}; " +
        s"diff=${(streamed -- closed).take(2)} / ${(closed -- streamed).take(2)}")
  }

  test("funnel and resample survive a genuinely multi-micro-batch replay") {
    multiBatchReplayParity(sfDir, "mb")
  }

  test("multi-micro-batch replay holds at sf0.1 volume") {
    // same proof against the big SF: the state machines must stay
    // replay-exact when each micro-batch carries real data volume,
    // not just the small spec corpus
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(big, "events.parquet").exists())
    multiBatchReplayParity(big, "mb01")
  }

  /** Stages `dir`'s events as THREE time-ordered files and feeds them
    * one per micro-batch (maxFilesPerTrigger=1) — the state machines
    * must carry open chains / open buckets across real micro-batch
    * boundaries, not just within one replay batch. `tag` keys the
    * memory sinks so SF variants don't collide. */
  private def multiBatchReplayParity(sfDir: String, tag: String): Unit = {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.unix_micros
    val dir = java.nio.file.Files.createTempDirectory("graft-multibatch").toString
    val ev = graft.sources.Tables.events(s, sfDir)
      .withColumn("us", unix_micros($"ts"))
    val cuts = ev.stat.approxQuantile("us", Array(0.33, 0.66), 0.0)
    ev.filter($"us" <= cuts(0)).drop("us")
      .coalesce(1).write.parquet(s"$dir/f0")
    ev.filter($"us" > cuts(0) && $"us" <= cuts(1)).drop("us")
      .coalesce(1).write.parquet(s"$dir/f1")
    ev.filter($"us" > cuts(1)).drop("us")
      .coalesce(1).write.parquet(s"$dir/f2")
    val staged = s"$dir/staged"
    new java.io.File(staged).mkdirs()
    Seq("f0", "f1", "f2").zipWithIndex.foreach { case (f, i) =>
      val src = new java.io.File(s"$dir/$f").listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(staged, f"part-$i%02d.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      // the file source replays oldest-mtime-first: make arrival order
      // explicit (copies land with near-identical mtimes otherwise)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val schema = s.read.parquet(staged).schema
    def stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)

    val fq = StreamOps.funnelHitsFrom(stream).toDF().writeStream
      .format("memory").queryName(s"${tag}_funnel").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    fq.awaitTermination()
    assert(fq.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected at least three non-empty micro-batches")
    val streamedF = s.table(s"${tag}_funnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def tsUs(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val expectedF = StreamOps.runFunnelToCompletion(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), tsUs(r.getTimestamp(2)))).toSet
    assert(streamedF == expectedF,
      s"multi-batch funnel diverged: ${(streamedF -- expectedF).take(3)} / ${(expectedF -- streamedF).take(3)}")

    val rq = StreamOps.resampleStreamFrom(stream).toDF().writeStream
      .format("memory").queryName(s"${tag}_resample").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    rq.awaitTermination()
    val streamedR = s.table(s"${tag}_resample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getString(4))).toSet
    val expectedR = StreamOps.runResampleToCompletion(s, sfDir)
      .collect().map(r => (r.getString(0), tsUs(r.getTimestamp(1)),
        r.getDouble(2), r.getLong(3), r.getString(4))).toSet
    assert(streamedR == expectedR,
      s"multi-batch resample diverged: ${(streamedR -- expectedR).take(3)} / ${(expectedR -- streamedR).take(3)}")
  }

  test("markov pair extractor chains across micro-batches and drops late regressors") {
    import graft.streaming.{FunnelEvent, MarkovState, MarkovPair}
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[MarkovState](
      optionalState = org.apache.spark.api.java.Optional.empty[MarkovState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // micro-batch 1: two events (arriving out of order — imposed)
    val b1 = StreamOps.markovFn(7L, Iterator(
      FunnelEvent(7L, "click", 200L, 2L),
      FunnelEvent(7L, "view", 100L, 1L)), st).toList
    assert(b1 == List(MarkovPair("view", "click")), b1.toString)
    assert(st.get == MarkovState(200L, 2L, "click"))
    // micro-batch 2: first event must pair with batch 1's last; the
    // late regressor (ts 150 < recorded 200) is discarded, not
    // spliced into the already-emitted chain
    val b2 = StreamOps.markovFn(7L, Iterator(
      FunnelEvent(7L, "purchase", 300L, 4L),
      FunnelEvent(7L, "error", 150L, 3L)), st).toList
    assert(b2 == List(MarkovPair("click", "purchase")), b2.toString)
    assert(st.get == MarkovState(300L, 4L, "purchase"))
  }

  test("funnel state machine carries progress across micro-batches") {
    import graft.streaming.{FunnelEvent, FunnelState, FunnelHit}
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[FunnelState](
      optionalState = org.apache.spark.api.java.Optional.empty[FunnelState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // micro-batch 1: view then a too-early click (same ts — rejected)
    val b1 = StreamOps.funnelFn(7L, Iterator(
      FunnelEvent(7L, "view", 100L, 1L),
      FunnelEvent(7L, "click", 100L, 2L)), st).toList
    assert(b1 == List(FunnelHit(7L, 1L, 100L)), b1.toString)
    // micro-batch 2: the qualifying click, then purchase — state
    // remembered t1 from the previous batch
    val b2 = StreamOps.funnelFn(7L, Iterator(
      FunnelEvent(7L, "purchase", 150L, 3L), // before any click: rejected
      FunnelEvent(7L, "click", 200L, 4L),
      FunnelEvent(7L, "purchase", 300L, 5L)), st).toList
    assert(b2 == List(FunnelHit(7L, 2L, 200L), FunnelHit(7L, 3L, 300L)), b2.toString)
    assert(st.get == FunnelState(100L, 200L, 300L))
  }

  test("rate limiter fills, rolls windows, and discards regressors across micro-batches") {
    import graft.streaming.{FunnelEvent, RateLimitState, RateAdmit}
    import org.apache.spark.sql.streaming.TestGroupState
    val W = StreamOps.rateWindowUs
    val st = TestGroupState.create[RateLimitState](
      optionalState = org.apache.spark.api.java.Optional.empty[RateLimitState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // micro-batch 1: four events in window 0 (delivered out of order —
    // imposed) fill 4 of the 5 slots
    val b1 = StreamOps.rateLimitFn(7L, Iterator(
      FunnelEvent(7L, "e", 400L, 4L), FunnelEvent(7L, "e", 100L, 1L),
      FunnelEvent(7L, "e", 300L, 3L), FunnelEvent(7L, "e", 200L, 2L)), st).toList
    assert(b1.map(_.admit_seq) == List(1L, 2L, 3L, 4L), b1.toString)
    assert(st.get == RateLimitState(0L, 4L))
    // micro-batch 2: one admit exhausts window 0, the next two reject,
    // a window-1 event resets the count, and a regressor behind the
    // open window is discarded (not re-admitted into history)
    val b2 = StreamOps.rateLimitFn(7L, Iterator(
      FunnelEvent(7L, "e", 500L, 5L), FunnelEvent(7L, "e", 600L, 6L),
      FunnelEvent(7L, "e", 700L, 7L), FunnelEvent(7L, "e", W + 10L, 8L),
      FunnelEvent(7L, "e", W + 20L, 9L)), st).toList
    assert(b2 == List(
      RateAdmit(7L, 5L, 0L, 5L),
      RateAdmit(7L, 8L, W, 1L), RateAdmit(7L, 9L, W, 2L)), b2.toString)
    // micro-batch 3: a late window-0 event after the roll — discarded
    val b3 = StreamOps.rateLimitFn(7L, Iterator(
      FunnelEvent(7L, "e", 800L, 10L)), st).toList
    assert(b3.isEmpty, b3.toString)
    assert(st.get == RateLimitState(W, 2L))
  }

  test("resample drops cross-batch late arrivals behind the closed high-water bucket") {
    import graft.streaming.{ValueEvent, ResampleState, ResampleOut}
    import org.apache.spark.sql.streaming.TestGroupState
    val b = graft.operators.Behavioral.resampleBucketUs
    val st = TestGroupState.create[ResampleState](
      optionalState = org.apache.spark.api.java.Optional.empty[ResampleState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // micro-batch 1: bucket 10 observed, then bucket 12 opens —
    // closes 10 (obs) and gap-fills 11
    val b1 = StreamOps.resampleFn("m", Iterator(
      ValueEvent("m", 10 * b + 1, 1L, 2.0),
      ValueEvent("m", 12 * b + 1, 2L, 4.0)), st).toList
    assert(b1 == List(
      ResampleOut("m", 10 * b, 2.0, 1L, "obs"),
      ResampleOut("m", 11 * b, 2.0, 0L, "ffill")), b1.toString)
    // micro-batch 2: a late event for the already-finalized bucket 10
    // must be DISCARDED — before the guard it re-opened bucket 10 and
    // re-emitted 10/11 as duplicate append rows
    val b2 = StreamOps.resampleFn("m", Iterator(
      ValueEvent("m", 10 * b + 2, 3L, 99.0)), st).toList
    assert(b2.isEmpty, s"late regressor must not emit: $b2")
    // and the open bucket survives untouched: bucket 13 closes 12
    // with ONLY its own observation
    val b3 = StreamOps.resampleFn("m", Iterator(
      ValueEvent("m", 13 * b + 1, 4L, 6.0)), st).toList
    assert(b3 == List(ResampleOut("m", 12 * b, 4.0, 1L, "obs")), b3.toString)
  }

  test("anomaly detector accumulates exact moments across micro-batches and flags the spike") {
    import graft.streaming.{AnomalyEvent, AnomalyState}
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[AnomalyState](
      optionalState = org.apache.spark.api.java.Optional.empty[AnomalyState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // micro-batch 1: 30 warmup events alternating 90/110 (mean 100,
    // sd 10 in quantized units x100) — none flagged (warmup boundary)
    val warm = (1 to 30).map(i =>
      AnomalyEvent("click", i * 1000L, i.toLong, if (i % 2 == 0) 9000L else 11000L))
    val b1 = StreamOps.anomalyFn("click", warm.iterator, st).toList
    assert(b1.isEmpty, b1.toString)
    assert(st.get.n == 30L && st.get.sumQ == 300000L)
    // micro-batch 2: a normal event (not flagged), a 5-sigma spike
    // (flagged, scored against PRIOR state), then a late regressor
    // (discarded — state unchanged by it)
    val b2 = StreamOps.anomalyFn("click", Iterator(
      AnomalyEvent("click", 31000L, 31L, 10000L),
      AnomalyEvent("click", 32000L, 32L, 15000L),
      AnomalyEvent("click", 100L, 33L, 99999L)), st).toList
    assert(b2.size == 1 && b2.head.event_id == 32L, b2.toString)
    assert(b2.head.zscore > graft.streaming.StreamOps.anomalyZ)
    assert(b2.head.n_prior == 31L)
    assert(st.get.n == 32L, "regressor must not enter the moments")
  }

  test("windowed heavy hitters hold only open windows in state at completion") {
    val s = spark
    val q = StreamOps.windowedHeavyHitters(s, sfDir).writeStream
      .format("memory").queryName("hh_win_state_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
    assert(stateRows.nonEmpty, "no state metrics reported")
    // ~30 event-time days × |k| ≈ 100 distinct pairs exist; the
    // 1-hour watermark leaves at most the final day (plus a boundary
    // window) open, so eviction must leave O(horizon × |k|) rows —
    // NOT the stream-length-proportional full window set
    val totalPairs = graft.sources.Tables.events(s, sfDir)
      .selectExpr("count(DISTINCT struct(window(ts, '1 day'), get_json_object(props, '$.k')))")
      .head.getLong(0)
    val finalRows = stateRows.last
    assert(finalRows < totalPairs / 4,
      s"state must evict closed windows: held $finalRows of $totalPairs pairs")
  }

  test("latest-state tiebreak survives adversarial arrival order across micro-batches") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-latest").toString
    val t0 = java.sql.Timestamp.valueOf("2025-06-01 12:00:00")
    val t1 = java.sql.Timestamp.valueOf("2025-06-01 13:00:00")
    // user 1: same-ts tie — the WINNER (higher event_id) arrives in
    // the FIRST file, the loser later: arrival order opposes the
    // (ts, event_id) tiebreak. user 2: a genuinely later event
    // arrives in an earlier file than an older one.
    val f0 = Seq((20L, t1, 1L, "click", 5.0, "{}"), (30L, t1, 2L, "view", 9.0, "{}"))
    val f1 = Seq((10L, t1, 1L, "view", 7.0, "{}"), (40L, t0, 2L, "click", 1.0, "{}"))
    Seq(f0, f1).zipWithIndex.foreach { case (rows, i) =>
      val sub = s"$dir/f$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(sub)
      val src = new java.io.File(sub).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(dir, f"part-$i%02d.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val schema = s.read.parquet(s"$dir/part-00.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "part-*.parquet").parquet(dir)
    val q = StreamOps.latestStateFrom(stream).writeStream
      .format("memory").queryName("latest_tiebreak")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected two non-empty micro-batches")
    val out = s.table("latest_tiebreak").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3), r.getDouble(4), r.getLong(5))).toMap
    assert(out(1L) == ((20L, "click", 5.0, 2L)),
      s"same-ts tie must resolve to the higher event_id regardless of arrival: ${out(1L)}")
    assert(out(2L) == ((30L, "view", 9.0, 2L)),
      s"later event must win even when it arrived first: ${out(2L)}")
  }

  test("stream bpe out-of-lexicon fallback encodes identically to the lexicon path") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{pmod, hash, lit}
    // Withhold every other lexicon word: those tokens miss the
    // broadcast join and must take the inline replace-chain fallback.
    // Run-to-completion output must be bit-identical to the full-
    // lexicon run — the fallback IS the lexicon's defining chain.
    val full = graft.operators.Bpe.wordPieces(s, sfDir)
    val crippled = full.filter(pmod(hash($"tok"), lit(2)) === 0)
    val nFull = full.count()
    val nKept = crippled.count()
    assert(nKept > 0 && nKept < nFull,
      s"crippled lexicon must be a strict non-empty subset ($nKept of $nFull)")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3)).toList
    val viaLex = key(StreamOps.runBpeEncodeToCompletion(s, sfDir))
    val viaFallback = key(StreamOps.runBpeEncodeToCompletion(s, sfDir,
      lexOverride = Some(crippled)))
    assert(viaLex == viaFallback,
      "fallback-encoded words must match their lexicon encoding exactly")
    assert(viaLex.nonEmpty)
  }

  test("checkpointed funnel restarts from state: exactly-once across a stop/resume") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.unix_micros
    import org.apache.spark.sql.streaming.Trigger
    // three time-ordered arrival files; the SECOND AND THIRD arrive
    // only after the first query has terminated — the restarted query
    // must resume from the CHECKPOINT (offsets + per-user funnel
    // state), so a user whose step-1 view arrived before the stop
    // still completes steps 2/3 after the resume
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ev = graft.sources.Tables.events(s, sfDir).withColumn("us", unix_micros($"ts"))
    val cuts = ev.stat.approxQuantile("us", Array(0.33, 0.66), 0.0)
    val parts = Seq(
      ev.filter($"us" <= cuts(0)),
      ev.filter($"us" > cuts(0) && $"us" <= cuts(1)),
      ev.filter($"us" > cuts(1)))
    val staged = s"$dir/staged"; new java.io.File(staged).mkdirs()
    def arrive(i: Int): Unit = {
      val f = s"$dir/f$i"
      parts(i).drop("us").coalesce(1).write.parquet(f)
      val src = new java.io.File(f).listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(staged, f"part-$i%02d.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    arrive(0)
    val schema = s.read.parquet(staged).schema
    def run(): Unit = {
      val q = StreamOps.funnelHitsFrom(
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(staged))
        .toDF().writeStream
        .format("parquet").option("path", s"$dir/sink")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val phase1 = s.read.parquet(s"$dir/sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    arrive(1); arrive(2)
    run() // NEW query object, SAME checkpoint: offsets + state resume
    val resumed = s.read.parquet(s"$dir/sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = StreamOps.runFunnelToCompletion(s, sfDir)
      .collect().map { r =>
        val t = r.getTimestamp(2).toInstant
        (r.getLong(0), r.getLong(1), t.getEpochSecond * 1000000L + t.getNano / 1000L)
      }.toSet
    // the restart added work (the stop really split the stream) ...
    assert(phase1.subsetOf(resumed) && phase1 != resumed,
      s"restart added nothing: ${phase1.size} vs ${resumed.size}")
    // ... and the union equals one uninterrupted run: no loss, no
    // duplicates, and cross-restart state carry-over (step-2/3 hits
    // whose step-1 predates the stop would be missing if state died)
    assert(resumed == expected,
      s"stop/resume diverged: missing=${(expected -- resumed).take(3)} " +
        s"extra=${(resumed -- expected).take(3)}")
    val crossRestart = (resumed -- phase1).filter(_._2 >= 2L)
    assert(crossRestart.nonEmpty, "no post-restart step-2/3 hits exercised state")
  }

  test("crash MID-microbatch (sink written, batch uncommitted): restart replays exactly that batch, end state exactly-once") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.unix_micros
    import org.apache.spark.sql.streaming.Trigger
    // the window the durable-control-plane spec covers for the batch
    // iterator, here for the STREAM: the microbatch's work is done
    // (sink files on disk) but the commit log hasn't recorded it when
    // the process dies. Recovery must re-offer EXACTLY that batch —
    // the sink write is idempotent (deterministic per-batch path,
    // overwrite), so the replay repairs rather than duplicates, and
    // the stateful funnel's state store must rewind to the last
    // COMMITTED batch version or replayed step-2/3 hits would double.
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val ev = graft.sources.Tables.events(s, sfDir).withColumn("us", unix_micros($"ts"))
    val cuts = ev.stat.approxQuantile("us", Array(0.33, 0.66), 0.0)
    val parts = Seq(
      ev.filter($"us" <= cuts(0)),
      ev.filter($"us" > cuts(0) && $"us" <= cuts(1)),
      ev.filter($"us" > cuts(1)))
    val staged = s"$dir/staged"; new java.io.File(staged).mkdirs()
    parts.zipWithIndex.foreach { case (p, i) =>
      val f = s"$dir/f$i"
      p.drop("us").coalesce(1).write.parquet(f)
      val src = new java.io.File(f).listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(staged, f"part-$i%02d.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val schema = s.read.parquet(staged).schema
    val batch1Writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(): Unit = {
      val q = StreamOps.funnelHitsFrom(
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(staged))
        .toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          // idempotent sink: deterministic per-batch path, overwrite
          df.write.mode("overwrite").parquet(s"$dir/sink/batch=$id")
          if (id == 1L) {
            batch1Writes.incrementAndGet()
            if (crashArmed.getAndSet(false))
              throw new RuntimeException("injected crash: sink written, batch 1 uncommitted")
          }
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(died.getMessage.contains("injected crash") ||
      Option(died.getCause).exists(_.getMessage.contains("injected crash")))
    run() // same checkpoint: recovery must replay batch 1, then run batch 2
    assert(batch1Writes.get() == 2,
      s"batch 1 must be written once pre-crash and once on replay, saw ${batch1Writes.get()}")
    val got = s.read.parquet(s"$dir/sink/batch=*").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = StreamOps.runFunnelToCompletion(s, sfDir)
      .collect().map { r =>
        val t = r.getTimestamp(2).toInstant
        (r.getLong(0), r.getLong(1), t.getEpochSecond * 1000000L + t.getNano / 1000L)
      }.toSet
    assert(got == expected,
      s"crash/replay diverged from one uninterrupted run: " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("scd2 enrichment and model scoring streams carry NO state store") {
    val s = spark
    import org.apache.spark.sql.streaming.Trigger
    // both ops claim statelessness (broadcast dim / literal weights);
    // pin it via the runtime's own progress telemetry — a watermark,
    // aggregation, or stream-stream join would surface here
    for ((df, name) <- Seq(
        (StreamOps.scd2EnrichStream(s, sfDir), "stateless_scd2"),
        (StreamOps.qualityScoreStream(s, sfDir), "stateless_qscore"))) {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.nonEmpty, name)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        s"$name must run stateless: " +
          q.recentProgress.last.stateOperators.mkString(","))
    }
  }

  test("scd2 stream enrichment resolves the version valid at event time") {
    val s = spark
    import s.implicits._
    val out = StreamOps.runScd2EnrichToCompletion(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchases = graft.sources.Tables.events(s, sfDir)
      .filter($"event_type" === "purchase").count()
    // SCD2 contiguity: exactly ONE version matches every purchase —
    // no drops (gap) and no duplicates (overlap)
    assert(out.length == purchases, s"${out.length} vs $purchases")
    assert(out.map(_._1).distinct.length == out.length, "duplicate event_id")
    // changed users (custkey % 7 == 3) split on the effective time:
    // the pre-change purchase reads the ORIGINAL segment, the
    // post-change one the new version
    val changed = out.filter(_._2 % 7 == 3)
    assert(changed.nonEmpty)
    val (before, after) =
      changed.partition(_._3 < StreamOps.scd2JoinEffUs)
    assert(before.nonEmpty && after.nonEmpty,
      "events must straddle the mid-window change")
    assert(before.forall(_._4 != "MACHINERY-2"),
      s"pre-change event got the new version: ${before.find(_._4 == "MACHINERY-2")}")
    assert(after.forall(_._4 == "MACHINERY-2"),
      s"post-change event kept the old version: ${after.find(_._4 != "MACHINERY-2")}")
    // unchanged users never see the synthetic segment
    assert(out.filter(_._2 % 7 != 3).forall(_._4 != "MACHINERY-2"))
  }

  test("stream bm25 ingest over a corpus with no term returns the oracle's empty answer") {
    val s = spark
    import org.apache.spark.sql.functions.lit
    val docs = graft.sources.Tables.documents(s, sfDir)
    def probeRows(rows: org.apache.spark.sql.DataFrame): Long = {
      val d = java.nio.file.Files.createTempDirectory("graft-bm25-noterm").toString
      rows.coalesce(1).write.parquet(s"$d/documents.parquet")
      StreamOps.runBm25IngestToCompletion(s, d).count()
    }
    // streamBm25IngestSql has no tf row in either case, so no result row
    assert(probeRows(docs.limit(0)) == 0, "empty documents table")
    assert(probeRows(docs.limit(20).withColumn("text", lit(null).cast("string"))) == 0,
      "documents whose text yields no token")
  }
}
