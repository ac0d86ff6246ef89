package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.Accumulator

/** Event shape for stateful streaming ops (micros keep the parquet's
  * sub-millisecond precision through the typed boundary). */
final case class StreamEvent(event_type: String, ts_us: Long, event_id: Long)

/** State per batchId for the size-threshold flush: current sequence
  * number and the fill of the open batch. */
final case class SizeFlushState(seq: Long, count: Long, minUs: Long, maxUs: Long)

/** Event shape for the streaming funnel (user key + ordering cols). */
final case class FunnelEvent(
  user_id: Long, event_type: String, ts_us: Long, event_id: Long)

/** Per-user funnel state: earliest qualified time per step (−1 =
  * unreached). Three longs — O(1) per user. */
final case class FunnelState(t1: Long, t2: Long, t3: Long)

/** One step-reach emission. */
final case class FunnelHit(user_id: Long, step: Long, ts_us: Long)

/** Per-user Markov state: the latest processed event's order key and
  * type — 2 longs + one small string, O(1) per user. */
final case class MarkovState(ts_us: Long, event_id: Long, tpe: String)

/** One observed (prev → next) transition. */
final case class MarkovPair(prev_type: String, next_type: String)

/** Event with its value payload for the streaming resample. */
final case class ValueEvent(
  event_type: String, ts_us: Long, event_id: Long, value: Double)

/** Per-type resample state: the open bucket's accumulation, the last
  * closed bucket's forward-fillable average, and the high-water
  * bucket already finalized in the append-only output
  * (`closedThrough` — events regressing behind it are discarded,
  * the watermark analog; re-opening a finalized bucket would re-emit
  * its rows as duplicates). */
final case class ResampleState(
  openBucket: Long, sumQ: Long, n: Long, lastAvg: Double, hasLast: Boolean,
  closedThrough: Long)

/** One closed resample bucket (obs = had events; ffill = gap-filled). */
final case class ResampleOut(
  event_type: String, bucket_us: Long, avg_value: Double, n_obs: Long, src: String)

/** One completed size-triggered flush (micros; converted to
  * timestamps at the DataFrame edge). */
final case class SizeFlushOut(
  batch_id: String, seq: Long, item_count: Long, min_us: Long, max_us: Long)

/** Event with its 1e-2-quantized value for the anomaly detector. */
final case class AnomalyEvent(
  event_type: String, ts_us: Long, event_id: Long, q: Long)

/** Per-type running moments — three exact longs (n, Σq, Σq²) + the
  * processed chain's high-water order key. O(1) per key; the Σq²
  * envelope at the 1e-2 quantum holds to ~10⁹ events/key at value
  * ≤ 10³ (3.2e9 per event ≪ 2⁶³). */
final case class AnomalyState(
  n: Long, sumQ: Long, sumQQ: Long, lastTs: Long, lastId: Long)

/** One flagged outlier. */
final case class AnomalyOut(
  event_type: String, event_id: Long, value: Double, n_prior: Long, zscore: Double)

/** Per-user rate-limit state: the open tumbling window and its
  * admitted count — two longs, O(1) per user. */
final case class RateLimitState(bucketUs: Long, admitted: Long)

final case class DauEvent(user_id: Long, day: Int)
final case class DauState(days: List[Int])
final case class DauPair(user_id: Long, day: Int)

/** One admitted event (rejections emit nothing — the admit stream IS
  * the throttled output). */
final case class RateAdmit(
  user_id: Long, event_id: Long, bucket_us: Long, admit_seq: Long)

/** Stateful streaming counterparts of the batch operators.
  *
  * [[sessionWindows]]: Spark's native session_window — the SAME
  * operator as the batch `q_session_window`, run under Structured
  * Streaming (the parity spec asserts equality).
  *
  * [[sizeFlushes]]: the accumulator's size-threshold trigger
  * (reference lib.ts:104-109) as `flatMapGroupsWithState` — custom
  * per-batchId state (open-batch fill + sequence counter) carried
  * across micro-batches, emitting one record per completed flush.
  * State is O(1) per batchId; at 100 TB/day the state store holds
  * one tiny struct per active batch key.
  */
object StreamOps {

  /** Streaming gap sessions over events (complete mode sink so the
    * trailing open sessions are visible, mirroring batch). */
  def sessionWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    StreamAcc.eventsStream(s, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select($"user_id", $"sw.start".as("session_start"),
        $"sw.end".as("session_end"), $"n_events", $"sum_value")
  }

  def runSessionsToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(sessionWindows(s, dir), OutputMode.Complete)

  private def sizeFlushFn(threshold: Long)(
      batchId: String,
      events: Iterator[StreamEvent],
      state: GroupState[SizeFlushState]): Iterator[SizeFlushOut] = {
    // events within a micro-batch carry no order guarantee — impose
    // the accumulator's arrival order (ts, event_id)
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(SizeFlushState(0L, 0L, Long.MaxValue, Long.MinValue))
    val out = Vector.newBuilder[SizeFlushOut]
    sorted.foreach { e =>
      st = SizeFlushState(st.seq, st.count + 1,
        math.min(st.minUs, e.ts_us), math.max(st.maxUs, e.ts_us))
      if (st.count >= threshold) {
        out += SizeFlushOut(batchId, st.seq, st.count, st.minUs, st.maxUs)
        st = SizeFlushState(st.seq + 1, 0L, Long.MaxValue, Long.MinValue)
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Completed size-threshold flushes as a stream. */
  def sizeFlushes(s: SparkSession, dir: String,
      threshold: Long = Accumulator.threshold): Dataset[SizeFlushOut] = {
    import s.implicits._
    StreamAcc.eventsStream(s, dir)
      .select($"event_type", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[StreamEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sizeFlushFn(threshold))
  }

  def runSizeFlushesToCompletion(s: SparkSession, dir: String,
      threshold: Long = Accumulator.threshold): DataFrame = {
    import s.implicits._
    StreamRun.toCompletion(sizeFlushes(s, dir, threshold).toDF(), OutputMode.Append)
      .select($"batch_id", $"seq", $"item_count",
        timestamp_micros($"min_us").as("created_at"),
        timestamp_micros($"max_us").as("last_updated_at"))
  }

  /** The §2.8 admission filter over a documents STREAM: the same
    * source-agnostic transform as the batch `quality_filter`, with the
    * canonical-id side as a static broadcast lookup — a stateless
    * stream-static join under append mode. This is the deployment
    * shape of a continuous ingest filter: per-document scoring is
    * row-local in each micro-batch; only the (bounded) dedup lookup
    * ships to executors. */
  def qualityFilterStream(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamAcc.fileStream(s, dir, "documents")
    // the canonical-id lookup GROWS WITH THE CORPUS (one row per
    // distinct text hash) — the one frame in this file a forced
    // broadcast() would OOM at web scale. Production shape: the gate
    // probes a PERSISTED dedup snapshot (the 29d/36g' pattern), so
    // stage it as parquet — the planner then sees its true size and
    // broadcasts while it fits, degrading to a shuffled stream-static
    // join beyond the threshold
    val canon = graft.sources.OracleStage.stage(s, "qf_canon", dir)(
      graft.operators.Pipeline.canonicalIds(graft.sources.Tables.documents(s, dir)))
    graft.operators.Pipeline.qualityFilterOn(stream, canon)
  }

  /** §2.8/streaming — the trained quality model SERVED on the ingest
    * stream: the batch-trained logistic regression (45p) scores each
    * arriving document row-locally — weights and standardization
    * moments are driver literals (trained/memoized batch-side, like
    * the BPE lexicon broadcast), so the streaming plan has NO state
    * store, no aggregation, no shuffle: pure stateless projection,
    * the model-serving path a production gate runs at 100 TB/day.
    * Scores are bit-identical to batch scoring by construction (all
    * row-local IEEE arithmetic on identical literals) — the oracle
    * replays training AND scoring in SQL. */
  def qualityScoreStream(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityModel.scoreDocs(s, dir,
      StreamAcc.fileStream(s, dir, "documents"))

  def runQualityScoreToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(qualityScoreStream(s, dir), OutputMode.Append)
      .orderBy(col("doc_id"))

  /** §2.8/streaming — continuous corpus heavy hitters: the exact
    * token-count aggregation run as a streaming aggregation over the
    * documents stream. The batch operator's Misra-Gries candidate
    * pass is UNNECESSARY here — the state store is the exact count
    * table (one long per distinct token, vocab-bounded by Heaps'
    * law), merged incrementally each micro-batch with map-side
    * partials; at 100 TB the store is RocksDB-backed and
    * hash-partitioned, exactly the batch shuffle's layout. Complete
    * mode is the verify harness; production runs update mode into a
    * keyed sink (each micro-batch emits only tokens it touched). The
    * support cut n·(k+1) > total and top-N run on the (tiny)
    * materialized count table. Shares the batch oracle verbatim. */
  def heavyHittersStream(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.tokenCountsOn(StreamAcc.fileStream(s, dir, "documents"))

  def runHeavyHittersToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = StreamRun.toCompletion(heavyHittersStream(s, dir), OutputMode.Complete)
    val total = broadcast(t.agg(sum($"n_occurrences").as("n_total")))
    t.crossJoin(total)
      .filter($"n_occurrences" * (graft.operators.Pipeline.hhK + 1) > $"n_total")
      .select($"term", $"n_occurrences")
      .orderBy($"n_occurrences".desc, $"term")
  }

  /** Top-N size for [[windowedHeavyHitters]]. */
  val hhWindowTopN = 5

  /** §2.8/streaming — SLIDING corpus monitor: per event-time day, the
    * top-N heavy `props.k` values — [[heavyHittersStream]] with a time
    * axis. This is the PRODUCTION watermark shape: append mode, the
    * state store holds only OPEN windows (count rows for days the
    * 1-hour watermark hasn't closed — bounded by horizon ×
    * cardinality, independent of stream length), and a window's
    * counts emit exactly once when the watermark passes its end, the
    * moment its top-N is final. The read-out ranks the materialized
    * per-(window, k) counts — a ≤|k| row partition per day, never
    * stream-sized. Oracle: the batch windowed count + rank restricted
    * to windows the FINAL watermark closed (ms-floored max event time
    * − 1 h, the stream_acc_flush_closed boundary rule). */
  def windowedHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamAcc.eventsStream(s, dir)
      // try_cast: malformed props.k reads NULL instead of killing the
      // whole microbatch (same fail-soft as the batch q_events_json)
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day").as("w"), $"k")
      .agg(count(lit(1)).as("n_occurrences"))
      .select($"w.start".as("window_start"), $"k", $"n_occurrences")
  }

  def runWindowedHeavyHittersToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"window_start")
      .orderBy($"n_occurrences".desc, $"k")
    StreamRun.toCompletion(windowedHeavyHitters(s, dir), OutputMode.Append)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= hhWindowTopN)
      .select($"window_start", $"rank", $"k", $"n_occurrences")
      .orderBy($"window_start", $"rank")
  }

  val windowedHeavyHittersSql: String =
    s"""WITH counts AS (
       |  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
       |    TRY_CAST(props->>'k' AS BIGINT) AS k, count(*) AS n_occurrences
       |  FROM events GROUP BY 1, 2),
       |wm AS (
       |  SELECT time_bucket(INTERVAL '1 millisecond', max(ts)) - INTERVAL '1 hour' AS w
       |  FROM events),
       |ranked AS (
       |  SELECT window_start, k, n_occurrences,
       |    row_number() OVER (PARTITION BY window_start
       |      ORDER BY n_occurrences DESC, k) AS rank
       |  FROM counts, wm
       |  WHERE window_start + INTERVAL '1 day' <= wm.w)
       |SELECT window_start, rank, k, n_occurrences
       |FROM ranked WHERE rank <= $hhWindowTopN
       |ORDER BY window_start, rank""".stripMargin

  /** Chi-squared α=0.05 critical value (df=1), shared with the batch
    * SRM check's convention. */
  private val srmWinCrit = 3.841459

  /** §2.10 — WINDOWED streaming SRM monitor: per event-time day, the
    * exposure traffic split between arms with a chi-squared 50/50
    * alarm, emitted when the watermark closes the window — the
    * IN-FLIGHT ramp guard next to [[graft.operators.Experimentation
    * .qSrmCheck]]'s end-of-experiment distinct-user audit (a broken
    * assignment caught on day 1 saves the experiment; the batch audit
    * only explains why it died). Declarative windowed aggregation:
    * bounded state (two counters per open window), watermark-evicted,
    * nothing event-sized retained. The oracle replays completed
    * windows only — the same watermark-cut device as
    * [[windowedHeavyHittersSql]]. */
  def windowedSrm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg._
    StreamAcc.eventsStream(s, dir)
      .withColumn("a", $"user_id" % 2 === 0)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(countIf($"a").as("n_a"), countIf(!$"a").as("n_b"))
      .select($"w.start".as("window_start"), $"n_a", $"n_b")
  }

  def runWindowedSrmToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val chi2 = "(CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e + " +
      "(CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e"
    StreamRun.toCompletion(windowedSrm(s, dir), OutputMode.Append)
      .withColumn("e", ($"n_a" + $"n_b").cast("double") / lit(2.0))
      .select($"window_start", $"n_a", $"n_b",
        expr(rndSql(chi2, 6)).as("chi2"),
        (expr(rndSql(chi2, 6)) > lit(srmWinCrit)).as("srm_detected"))
      .orderBy($"window_start")
  }

  val windowedSrmSql: String = {
    import graft.functions.Agg.{countIfSql, rndSql}
    val chi2 = "(CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e + " +
      "(CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e"
    s"""WITH counts AS (
       |  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
       |    ${countIfSql("user_id % 2 = 0")} AS n_a,
       |    ${countIfSql("user_id % 2 <> 0")} AS n_b
       |  FROM events GROUP BY 1),
       |wm AS (
       |  SELECT time_bucket(INTERVAL '1 millisecond', max(ts)) - INTERVAL '1 hour' AS w
       |  FROM events),
       |closed AS (
       |  SELECT window_start, n_a, n_b,
       |    (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0 AS e
       |  FROM counts, wm
       |  WHERE window_start + INTERVAL '1 day' <= wm.w)
       |SELECT window_start, n_a, n_b, ${rndSql(chi2, 6)} AS chi2,
       |  ${rndSql(chi2, 6)} > $srmWinCrit AS srm_detected
       |FROM closed ORDER BY window_start""".stripMargin
  }

  def runQualityFilterToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(qualityFilterStream(s, dir), OutputMode.Append)
      .orderBy(col("doc_id"))

  /** §2.8 — STREAMING span decontamination: the
    * [[graft.operators.Pipeline.decontaminateSpan]] release gate run
    * at ingest, so a contaminated document is flagged the micro-batch
    * it arrives instead of at the next batch audit. The eval window
    * set is a bounded artifact (the same boundedness that lets the
    * batch op broadcast it), collected once and shipped as a LITERAL
    * array — the whole check is then ROW-LOCAL (windows via
    * transform, matches via array_intersect, which preserves
    * first-array order so the earliest matched window's position
    * falls out of element 1): a stateless append-mode stream, one
    * emission per document, no state store at all. At fleet scale a
    * giant eval suite would swap the literal for the 44b bloom +
    * confirm join; the gate semantics stay identical. Run to
    * completion equals the batch op exactly → shares its oracle. */
  def decontaminateSpanStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{Pipeline, TextAnalysis => TA}
    val n = Pipeline.spanN
    // bounded: eval docs only (the designated doc_id < evalMaxId set)
    val evalWindows: Array[String] = graft.sources.Tables.documents(s, dir)
      .filter($"doc_id" < Pipeline.evalMaxId)
      .withColumn("toks", expr(TA.toksExpr))
      .filter(size($"toks") >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))"))
        .as("w"))
      .distinct().collect().map(_.getString(0))
    val ev = typedLit(evalWindows.sorted)
    StreamAcc.fileStream(s, dir, "documents")
      .filter($"doc_id" >= Pipeline.evalMaxId)
      .withColumn("toks", expr(TA.toksExpr))
      .withColumn("ws", expr(
        s"""CASE WHEN size(toks) >= $n
           |  THEN transform(sequence(1, size(toks) - ${n - 1}),
           |    i -> concat_ws(' ', slice(toks, i, $n)))
           |  ELSE array() END""".stripMargin))
      .withColumn("matched", array_intersect($"ws", ev))
      .select($"doc_id",
        when(size($"matched") > 0, 1L).otherwise(0L).as("contaminated"),
        size($"matched").cast("long").as("n_spans"),
        when(size($"matched") > 0,
          array_position($"ws", element_at($"matched", 1)))
          .cast("long").as("first_span_pos"))
  }

  /** §2.8 — BPE ENCODING at ingest: the trained merge table (a
    * bounded artifact, trained once per corpus snapshot) ships as a
    * literal chain of row-local replaces, so every arriving document
    * tokenizes inside its own micro-batch — stateless, append-mode,
    * one emission per (doc, token, piece). This is the deployment
    * shape of "tokenize on the way in": the merge loop never runs on
    * the stream, only its frozen result does. Run to completion
    * equals the batch encoder exactly → shares its staged-merge
    * oracle. The stream broadcast-joins the FROZEN word→pieces
    * lexicon (a stream can't distinct against itself, but a
    * stream-STATIC broadcast join against the shipped tokenizer
    * artifact is exactly how a production encoder runs); the inline
    * replace chain survives only as the out-of-lexicon FALLBACK —
    * coalesce short-circuits, so known words never pay it. Measured
    * at sf≈1 the lexicon join is a modest win on its own (56.4 →
    * 51.4 s against the memory sink — the sink dominated); the big
    * cost was the driver-side sink (see [[runBpeEncodeToCompletion]]). */
  def bpeEncodeStream(s: SparkSession, dir: String,
      lexOverride: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    import graft.operators.{Bpe, TextAnalysis => TA}
    val SEP = ""
    def wrap(x: String) = SEP + x + SEP
    val merges = Bpe.bpeMergesDf(s, dir).orderBy($"merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val applied = merges.foldLeft(
      regexp_replace($"tok", "(.)", s"$SEP$$1$SEP")
        : org.apache.spark.sql.Column) { case (c, (a, b)) =>
      org.apache.spark.sql.functions.replace(
        c, lit(wrap(a) + wrap(b)), lit(wrap(a + b)))
    }
    StreamAcc.fileStream(s, dir, "documents")
      .select($"doc_id", posexplode(expr(TA.toksExpr)).as(Seq("pos0", "tok")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"tok")
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      // no broadcast() hint: the lexicon is a staged parquet artifact
      // whose true size the planner sees — broadcast while it fits,
      // shuffled join beyond (the Unigram.tokenizerVocabSweep rule)
      .join(lexOverride.getOrElse(Bpe.wordPieces(s, dir))
        .withColumnRenamed("pieces", "lex_pieces"), Seq("tok"), "left")
      .withColumn("pieces", coalesce($"lex_pieces",
        split(trim(applied, SEP), SEP + SEP)))
      .select($"doc_id", $"pos",
        posexplode($"pieces").as(Seq("pp0", "piece")))
      .select($"doc_id", $"pos",
        ($"pp0" + 1).cast("long").as("piece_pos"), $"piece")
  }

  /** The encode emits one row per (doc, token, piece): corpus-sized
    * output, written executor-side by [[StreamRun]] as a production
    * ingest tokenizer lands tokens. Measured at sf≈1: 56.4 s (memory
    * sink, per-instance chain) → 51.4 s (memory sink + broadcast
    * lexicon) → 9.7 s (file sink + broadcast lexicon). */
  def runBpeEncodeToCompletion(s: SparkSession, dir: String,
      lexOverride: Option[DataFrame] = None): DataFrame =
    StreamRun.toCompletion(bpeEncodeStream(s, dir, lexOverride), OutputMode.Append)
      .orderBy(col("doc_id"), col("pos"), col("piece_pos"))

  /** §2.8 42e' — the UNIGRAM encoder run at ingest (the streaming
    * sibling of [[bpeEncodeStream]] for the second tokenizer family):
    * arrivals broadcast-join the staged segmentation lexicon; an
    * out-of-lexicon word (possible in production — the lexicon is a
    * corpus snapshot) falls back to the SAME row-local Viterbi DP the
    * trainer used, against the same broadcast score map, with the
    * same overlong-word char-split — so the stream can never emit a
    * segmentation the batch encoder wouldn't. Run to completion over
    * the corpus it equals [[graft.operators.Unigram.tokenIdsUnigram]]
    * and shares its staged oracle. Corpus-sized output → parquet
    * sink, the [[runBpeEncodeToCompletion]] rationale. */
  def unigramEncodeStream(s: SparkSession, dir: String,
      lexOverride: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    import graft.operators.{Unigram, TextAnalysis => TA}
    val SEP = ""
    val (_, counts, total) = Unigram.trainFor(s, dir)
    val lex = lexOverride.getOrElse(Unigram.unigramSegsDf(s, dir))
      .select($"word".as("tok"), $"g".as("lex_g"))
    val base = StreamAcc.fileStream(s, dir, "documents")
      .select($"doc_id", posexplode(expr(TA.toksExpr)).as(Seq("pos0", "tok")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"tok")
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      .join(lex, Seq("tok"), "left")  // no hint: staged lexicon, planner-sized
    val charSplit = regexp_replace($"tok", "(.)", s"$SEP$$1")
    val withG =
      if (counts.isEmpty) base.withColumn("g", coalesce($"lex_g", charSplit))
      else base
        .withColumn("cs", expr("regexp_extract_all(tok, '(.)', 1)"))
        .withColumn("n", size($"cs"))
        .withColumn("qmap",
          typedLit(counts.map { case (p, c) => p -> Unigram.qlog(c) }))
        // final coalesce: a word containing a character ABSENT from
        // the trained alphabet makes every DP candidate NULL (the
        // filter drops all predecessors), which would silently drop
        // the word from the stream — char-split instead, the same
        // fallback rule as overlong words. Unreachable when the
        // stream replays the training corpus (the lexicon covers it);
        // it is exactly the production OOV case.
        .withColumn("g", coalesce($"lex_g",
          when($"n" <= Unigram.uniMaxWordLen,
            Unigram.dpExpr(Unigram.qlog(total))).otherwise(charSplit),
          charSplit))
    withG
      .select($"doc_id", $"pos", posexplode(
        expr(s"filter(split(g, '$SEP'), x -> x <> '')")).as(Seq("pp0", "piece")))
      .select($"doc_id", $"pos",
        ($"pp0" + 1).cast("long").as("piece_pos"), $"piece")
  }

  def runUnigramEncodeToCompletion(s: SparkSession, dir: String,
      lexOverride: Option[DataFrame] = None): DataFrame =
    StreamRun.toCompletion(unigramEncodeStream(s, dir, lexOverride), OutputMode.Append)
      .orderBy(col("doc_id"), col("pos"), col("piece_pos"))

  def runDecontaminateSpanToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(decontaminateSpanStream(s, dir), OutputMode.Append)
      .orderBy(col("doc_id"))

  /** §2.8 #44e' — the SEMANTIC release gate run AT INGEST: the
    * bounded eval-set embeddings ship as a literal (the 44c'
    * device — an eval suite is thousands of vectors, well inside a
    * task binary), and the whole check is ROW-LOCAL: one codegen'd
    * transform computes the quantized cosine of the incoming vector
    * against every eval rep, the τ-filter and the match count/max
    * fold over that bounded array. A STATELESS append-mode stream —
    * one emission per vector, no state store, no per-batch corpus
    * re-read. Zero-norm arrivals emit clean with NULL max_cosine,
    * exactly like the batch gate. Run to completion equals
    * [[graft.operators.Pipeline.decontaminateSemantic]] → shares its
    * oracle. At fleet scale a giant eval suite swaps the literal for
    * the persisted LSH bucket index ([[embedDedupStream]]'s
    * stream-static probe); the gate semantics stay identical. */
  def decontaminateSemanticStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{Agg, VectorFns}
    import graft.operators.{Pipeline, Similarity}
    // bounded driver collect: the designated eval reps (zero-norm
    // eval vectors excluded — owned here via nonDegenerate, per the
    // cosine-family contract)
    val evalReps: Seq[(Seq[Double], Double)] =
      Similarity.nonDegenerate(Similarity.vectors(s, dir))
      .filter($"vec_id" < Pipeline.evalVecMaxId)
      .select($"v", $"nrm").collect()
      .map(r => (r.getSeq[Double](0), r.getDouble(1))).toSeq
    StreamAcc.fileStream(s, dir, "embeddings")
      .filter($"vec_id" >= Pipeline.evalVecMaxId)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .withColumn("evs", typedLit(evalReps))
      .withColumn("coss", expr(
        s"""CASE WHEN nrm > CAST(0 AS DOUBLE)
           |  THEN filter(
           |    transform(evs, e -> ${Agg.rndSql("graft_dot(v, e._1) / (nrm * e._2)", 6)}),
           |    c -> c >= CAST(${Pipeline.semanticTau} AS DOUBLE))
           |  ELSE CAST(array() AS array<double>) END""".stripMargin))
      .select($"vec_id",
        when(size($"coss") > 0, 1L).otherwise(0L).as("contaminated"),
        size($"coss").cast("long").as("n_matches"),
        array_max($"coss").as("max_cosine"))
  }

  /** §2.7 #36g' — the perceptual near-dup gate run AT INGEST: freshly
    * crawled media (the arrival shard) is signed ROW-LOCAL in the
    * same per-partition batch shape as mm_batch_infer, its 16-bit
    * Hamming bands probe the PERSISTED corpus band index
    * ([[graft.operators.Multimodal.buildMmNearIndex]], bucketed on
    * the band keys so the stream-static join reads it exchange-free),
    * and survivors verify with the exact bit_count within the same
    * mime — the multimodal sibling of [[embedDedupStream]]'s
    * admission gate ("is this asset already represented, byte-exact
    * OR re-encoded?"). State = one tiny key per emitted pair. Run to
    * completion equals the cross-shard banding cut over the staged
    * signatures → the oracle recomputes it from that artifact. */
  def mmNearDupStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    Multimodal.buildMmNearIndex(s, dir)
    Multimodal.mmNearProbeOf(s, StreamAcc.fileStream(s, dir, "documents"))
      .select($"i.asset_id".as("corpus_id"), $"p.new_id".as("new_id"),
        $"i.mime".as("mime"),
        bit_count($"i.phash".bitwiseXOR($"p.new_phash")).cast("long").as("hamming"))
      .filter($"hamming" <= Multimodal.mmNearMaxHamming)
      .dropDuplicates("corpus_id", "new_id")
  }

  def runMmNearDupToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(mmNearDupStream(s, dir), OutputMode.Append)
      .orderBy(col("new_id"), col("corpus_id"))

  def runDecontaminateSemanticToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(decontaminateSemanticStream(s, dir), OutputMode.Append)
      .orderBy(col("vec_id"))

  /** §2.4 29e''' — duplicated-SPAN REMOVAL at ingest: the streaming
    * gate of [[graft.operators.Dedup.dedupSpanRemoval]]. Arriving
    * documents window (stride-1, row-local — the shared
    * [[graft.operators.Dedup.spanGramRows]] path) and PROBE the
    * persisted duplicated-window index, a hash-bucketed table the
    * batch side maintains — per micro-batch only the arriving rows
    * shuffle onto the bucket layout, the index is read exchange-free
    * (the 29d/36g' probe pattern). The probe emits the covered token
    * positions row-by-row (no stream-side aggregation — corpus-sized
    * output stays executor-side, the 42e' rationale); the
    * island-merge + cut + reassembly is the run-to-completion rebuild
    * over the probe output, THE SAME tail the batch operator runs
    * ([[graft.operators.Dedup.spanRemovalFromCovered]]), so completed
    * output equals the batch edit exactly and shares 29e'''s oracle.
    * Cross-shard semantics come from the INDEX, not the batch: a
    * passage duplicated across two shards cuts from both documents
    * regardless of which micro-batch each arrived in
    * (StreamSpanRemovalSpec's planted-passage check). */
  def spanRemovalProbeStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    val idx = s.table(Dedup.spanIndexTable)
    Dedup.spanGramRows(StreamAcc.fileStream(s, dir, "documents"))
      .join(idx, Seq("gh"))
      .select($"doc_id", explode(
        expr(s"sequence(pos, pos + ${Dedup.spanTokens - 1})")).as("off"))
  }

  def runDedupSpanToCompletion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.buildSpanIndex(s, dir)
    val covered = StreamRun.toCompletion(spanRemovalProbeStream(s, dir), OutputMode.Append)
      .dropDuplicates("doc_id", "off")
    Dedup.spanRemovalFromCovered(s, dir, covered)
  }

  /** Continuous-ingest EXACT dedup: the §2.4 `dedup_exact` layout run
    * as a streaming aggregation — per content hash the state store
    * carries (min canonical id, copy count), merged incrementally
    * each micro-batch. State is one tiny struct per DISTINCT hash
    * (inherent to exact dedup — it IS the dedup table); at 100 TB the
    * state store is RocksDB-backed and hash-partitioned, the same
    * layout as the batch shuffle. Complete mode here is the verify
    * harness; production runs update mode into a keyed upsert sink
    * (each micro-batch emits only hashes it touched). */
  def dedupExactStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamAcc.fileStream(s, dir, "documents")
      .groupBy(md5($"text".cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
  }

  def runDedupExactToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(dedupExactStream(s, dir), OutputMode.Complete)
      .orderBy(col("canonical_id"))

  /** Continuous LATEST-STATE materialization (the CDC latest-wins
    * upsert): per user, the most recent event by (ts, event_id) plus
    * the update count — the streaming half of §2.3's `q_table_upsert`
    * (reference lib.ts:736-1132 iterates a TABLE; this maintains the
    * table itself from the change stream). Deliberately a DECLARATIVE
    * streaming aggregation with a lexicographic struct-max, not
    * `mapGroupsWithState`: max is a mergeable partial aggregate, so
    * each micro-batch combines map-side before touching the state
    * store and state stays ONE struct per key — custom state
    * functions forfeit partial aggregation and ship every raw event
    * to its key's partition. Tiebreak inside one timestamp is
    * event_id, so replay order can't flip the winner. Complete mode
    * here is the verify harness; production runs update mode into a
    * keyed upsert sink (each micro-batch emits only keys it touched). */
  def latestStateStream(s: SparkSession, dir: String): DataFrame =
    latestStateFrom(StreamAcc.eventsStream(s, dir))

  /** The aggregation over ANY event stream (spec seam — the
    * multi-batch tiebreak spec drives this with crafted arrival
    * orders). */
  private[graft] def latestStateFrom(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .groupBy($"user_id")
      .agg(
        max(struct($"ts", $"event_id", $"event_type", $"value")).as("latest"),
        count(lit(1)).as("n_updates"))
      .select($"user_id", $"latest.ts".as("last_ts"),
        $"latest.event_id".as("last_event_id"),
        $"latest.event_type".as("last_event_type"),
        $"latest.value".as("last_value"), $"n_updates")
  }

  def runLatestStateToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(latestStateStream(s, dir), OutputMode.Complete)
      .orderBy(col("user_id"))

  /** Run to completion, the latest-wins merge equals the batch
    * argmax row per user. The oracle takes the SAME (ts, event_id)
    * lexicographic winner, so replay partitioning can't flip ties. */
  val latestStateSql: String =
    """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
      |  event_type AS last_event_type, value AS last_value, n_updates
      |FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_updates
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Stream-STREAM time-interval join: every purchase matched to the
    * same user's clicks in the preceding 30 minutes — the real-time
    * attribution join. Both sides are watermarked and the join
    * condition bounds event-time distance, so the state store holds
    * only rows inside the watermark horizon and EVICTS behind it —
    * the unbounded-state trap of an unconstrained stream-stream join
    * is structurally impossible here. At 100 TB/day each side hashes
    * on user_id once; state is per-user rows within the horizon.
    * Inner join + append mode: each pair emits exactly once. */
  def attributionJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clicks = StreamAcc.eventsStream(s, dir)
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"),
        $"event_id".as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = StreamAcc.eventsStream(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      $"p_user" === $"c_user" &&
        $"click_ts" <= $"purchase_ts" &&
        $"click_ts" >= $"purchase_ts" - expr("INTERVAL 30 minutes"))
      .select($"p_user".as("user_id"), $"purchase_id", $"click_id",
        $"purchase_ts", $"click_ts")
  }

  /** A stream-stream join keeps TWO state stores per side per
    * partition (keyToNumValues, keyWithIndexToValue): 4 per
    * partition, 16 store instances at 4 state partitions. Each store
    * commits a delta file every micro-batch, so commit cost grows
    * with the partition count, not the rows: at sf0.01 on 4 cores
    * the 16 commits of one micro-batch sum to 45-130 ms of task time
    * (with graft.sources.LocalFs; Hadoop's forking local file system
    * made it 1.0-1.25 s). Both attribution joins therefore cap their
    * state partitions at this count. On a cluster the deploy sets it
    * to the executor count — the knob, not the value, is the point.
    * Results are partition-invariant. */
  private val attributionStatePartitions = Some(8)

  def runAttributionToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(attributionJoin(s, dir), OutputMode.Append,
      attributionStatePartitions).orderBy(col("purchase_id"), col("click_id"))

  /** §2.4 — LEFT OUTER stream-stream interval join: the shape
    * production attribution actually ships. The inner join (29g)
    * silently drops clickless purchases; the outer variant emits
    * them with null attribution — but only once the WATERMARK closes
    * their 30-minute click window (a purchase cannot be declared
    * clickless while a qualifying click could still arrive). Spark
    * holds the unmatched left row in state and emits the null-side
    * row when the global watermark (min of both sides' max-event-time
    * minus the 1-hour delay) passes the purchase's timestamp — so at
    * stream end, trailing purchases inside the final watermark
    * horizon are STILL unemitted. The run-to-completion oracle pins
    * exactly that: matched pairs unconditionally, plus null rows for
    * unmatched purchases strictly below the final watermark. */
  def attributionOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clicks = StreamAcc.eventsStream(s, dir)
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"),
        $"event_id".as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = StreamAcc.eventsStream(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      $"p_user" === $"c_user" &&
        $"click_ts" <= $"purchase_ts" &&
        $"click_ts" >= $"purchase_ts" - expr("INTERVAL 30 minutes"),
      "left_outer")
      .select($"p_user".as("user_id"), $"purchase_id", $"click_id",
        $"purchase_ts", $"click_ts")
  }

  def runAttributionOuterToCompletion(s: SparkSession, dir: String): DataFrame = {
    val out = StreamRun.toCompletion(attributionOuterJoin(s, dir), OutputMode.Append,
      attributionStatePartitions)
    // (purchase_id, click_id) is a total order even with nulls:
    // a null click_id only ever appears as its purchase's singleton
    // row, so null-ordering conventions never tie-break
    out.orderBy(col("purchase_id"), col("click_id"))
  }

  /** Oracle for the outer variant: the batch interval join plus the
    * watermark-closed null side — unmatched purchases strictly below
    * final watermark = least(max click ts, max purchase ts) − 1 h. */
  val attributionOuterJoinSql: String =
    """WITH wm AS (
      |  SELECT least(
      |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
      |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
      |    - INTERVAL '1 hour' AS w),
      |pairs AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |    p.ts AS purchase_ts, c.ts AS click_ts
      |  FROM events p JOIN events c
      |    ON p.user_id = c.user_id
      |    AND p.event_type = 'purchase' AND c.event_type = 'click'
      |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'),
      |unmatched AS (
      |  SELECT p.user_id, p.event_id AS purchase_id,
      |    CAST(NULL AS BIGINT) AS click_id,
      |    p.ts AS purchase_ts, CAST(NULL AS TIMESTAMP) AS click_ts
      |  FROM events p, wm
      |  WHERE p.event_type = 'purchase' AND p.ts < wm.w
      |    AND NOT EXISTS (
      |      SELECT 1 FROM events c
      |      WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |        AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'))
      |SELECT * FROM pairs
      |UNION ALL SELECT * FROM unmatched
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Oracle: the equivalent batch interval join (equi on user +
    * time-range predicate). */
  val attributionJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.ts AS purchase_ts, c.ts AS click_ts
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      |  AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Effective time of the SCD2 change batch for [[scd2EnrichStream]]:
    * 2024-01-15 00:00:00 UTC — the MIDDLE of the events window, so the
    * temporal join visibly resolves different versions on the two
    * sides of the change. */
  val scd2JoinEffUs: Long = 1705276800000000L

  /** The versioned dimension the stream enriches against: customer
    * segments with one change batch applied at [[scd2JoinEffUs]]
    * (same construction as the batch SCD2 merge, 24m — every 7th
    * customer moves to MACHINERY-2). Bounded: |customer| × ~1.1
    * versions. */
  private[graft] def scd2Dim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = graft.sources.Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment".as("segment"),
        lit(0L).as("valid_from_us"))
    val changed = dim.filter($"c_custkey" % 7 === 3)
    // no hint: `changed` scales with the dimension table, not a
    // constant — the parquet-backed scan's stats let the planner
    // broadcast while small (the lexicon-join rule)
    dim.join(changed.select($"c_custkey"), Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"segment", $"valid_from_us",
        lit(null).cast("long").as("valid_to_us"))
      .unionByName(changed.select($"c_custkey", $"segment", $"valid_from_us",
        lit(scd2JoinEffUs).as("valid_to_us")))
      .unionByName(changed.select($"c_custkey", lit("MACHINERY-2").as("segment"),
        lit(scd2JoinEffUs).as("valid_from_us"),
        lit(null).cast("long").as("valid_to_us")))
  }

  /** §2.3 — stream-STATIC temporal join against the SCD2 dimension:
    * every purchase enriched with the dimension version VALID AT ITS
    * EVENT TIME (valid_from ≤ t < valid_to), not the current one —
    * the lookup production enrichment needs the moment a dimension
    * becomes versioned (joining `is_current` would misattribute every
    * event that predates the change). Stream-static joins are
    * STATELESS (each micro-batch joins the static snapshot; no
    * watermark, no state store), and the dimension broadcasts — at
    * 100 TB/day of events the stream never shuffles, which is the
    * whole reason dimension enrichment scales. SCD2 contiguity
    * guarantees exactly one version matches per event (spec-pinned:
    * output rows == input purchases). */
  def scd2EnrichStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val purchases = StreamAcc.eventsStream(s, dir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("event_us"))
    purchases.join(broadcast(scd2Dim(s, dir)),
      $"user_id" === $"c_custkey" &&
        $"event_us" >= $"valid_from_us" &&
        ($"valid_to_us".isNull || $"event_us" < $"valid_to_us"))
      .select($"event_id", $"user_id", $"event_us", $"segment",
        $"valid_from_us")
  }

  def runScd2EnrichToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(scd2EnrichStream(s, dir), OutputMode.Append)
      .orderBy(col("event_id"))

  /** Oracle: the identical batch temporal join. */
  val scd2EnrichSql: String =
    s"""WITH dim AS (
       |  SELECT c_custkey, c_mktsegment AS segment,
       |    CAST(0 AS BIGINT) AS valid_from_us, CAST(NULL AS BIGINT) AS valid_to_us
       |  FROM customer WHERE c_custkey % 7 <> 3
       |  UNION ALL
       |  SELECT c_custkey, c_mktsegment, CAST(0 AS BIGINT),
       |    CAST($scd2JoinEffUs AS BIGINT)
       |  FROM customer WHERE c_custkey % 7 = 3
       |  UNION ALL
       |  SELECT c_custkey, 'MACHINERY-2', CAST($scd2JoinEffUs AS BIGINT),
       |    CAST(NULL AS BIGINT)
       |  FROM customer WHERE c_custkey % 7 = 3),
       |p AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS event_us
       |  FROM events WHERE event_type = 'purchase')
       |SELECT p.event_id, p.user_id, p.event_us, d.segment, d.valid_from_us
       |FROM p JOIN dim d
       |  ON p.user_id = d.c_custkey
       |  AND p.event_us >= d.valid_from_us
       |  AND (d.valid_to_us IS NULL OR p.event_us < d.valid_to_us)
       |ORDER BY event_id""".stripMargin

  /** §2.4 #29h — streaming ordered funnel (the CEP pattern): per-user
    * state machine over view → click → purchase with the batch
    * [[graft.operators.Behavioral.qFunnel]] semantics (strictly-after
    * step times), emitting one append-mode record the moment a user
    * REACHES a step. State is three longs per user — O(1), the
    * smallest possible for a 3-step funnel — and a user who finished
    * the funnel never grows state again (production evicts finished/
    * stale users via a state timeout; the replay harness keeps
    * NoTimeout so parity with batch is exact). Events are imposed
    * into (ts, event_id) order per key within each micro-batch — the
    * per-key ordered-delivery assumption every streaming CEP engine
    * makes (same contract as [[sizeFlushes]]). Cross-batch late
    * arrivals cannot regress the machine: each step time is set once
    * and the strictly-after guards drop any event older than the
    * recorded step times (asserted by the late-arrival spec).
    *
    * The oracle is the batch funnel's join-chain: step-k reach times
    * from the events table — streaming emissions run to completion
    * must equal them exactly. */
  private[graft] def funnelFn(
      userId: Long,
      events: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelHit] = {
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
    val out = Vector.newBuilder[FunnelHit]
    sorted.foreach { e =>
      e.event_type match {
        case "view" if st.t1 < 0 =>
          st = st.copy(t1 = e.ts_us); out += FunnelHit(userId, 1L, e.ts_us)
        case "click" if st.t1 >= 0 && st.t2 < 0 && e.ts_us > st.t1 =>
          st = st.copy(t2 = e.ts_us); out += FunnelHit(userId, 2L, e.ts_us)
        case "purchase" if st.t2 >= 0 && st.t3 < 0 && e.ts_us > st.t2 =>
          st = st.copy(t3 = e.ts_us); out += FunnelHit(userId, 3L, e.ts_us)
        case _ => ()
      }
    }
    state.update(st)
    out.result().iterator
  }

  def funnelHits(s: SparkSession, dir: String): Dataset[FunnelHit] =
    funnelHitsFrom(StreamAcc.eventsStream(s, dir))

  /** Source-agnostic variant: any events-shaped stream (the
    * multi-micro-batch integration spec drives this with a rate-
    * limited file source). */
  private[graft] def funnelHitsFrom(stream: DataFrame): Dataset[FunnelHit] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(funnelFn)
  }

  def runFunnelToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamRun.toCompletion(funnelHits(s, dir).toDF(), OutputMode.Append)
      .select($"user_id", $"step", timestamp_micros($"ts_us").as("ts"))
      .orderBy($"user_id", $"step")
  }

  /** Oracle: the join-chain funnel — one row per (user, reached
    * step) with the step's reach time. */
  val streamFunnelSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1
      |  FROM events GROUP BY user_id
      |), c AS (
      |  SELECT f.user_id, min(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN f ON e.user_id = f.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > f.t1
      |  GROUP BY f.user_id
      |), p AS (
      |  SELECT c.user_id, min(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      |  GROUP BY c.user_id
      |)
      |SELECT user_id, CAST(1 AS BIGINT) AS step, make_timestamp(t1) AS ts
      |FROM f WHERE t1 IS NOT NULL
      |UNION ALL
      |SELECT user_id, 2, make_timestamp(t2) FROM c
      |UNION ALL
      |SELECT user_id, 3, make_timestamp(t3) FROM p
      |ORDER BY user_id, step""".stripMargin

  /** §2.10/streaming — gap-filled 15-min resample as a per-type state
    * machine: a bucket CLOSES (and emits) when event time reaches the
    * next bucket; intermediate empty buckets emit forward-filled
    * copies of the last closed average. State is one open-bucket
    * accumulator + one double per event_type — O(1) — and the
    * TRAILING open bucket never emits (the stream doesn't know it's
    * complete; the watermark analog), which is exactly how the oracle
    * bounds its grid: per type, buckets in [first, last). The exact-
    * decimal quantized sum makes every closed average bit-equal to
    * the batch [[graft.operators.Behavioral.qTimeResample]] bucket. */
  private[graft] def resampleFn(
      eventType: String,
      events: Iterator[ValueEvent],
      state: GroupState[ResampleState]): Iterator[ResampleOut] = {
    val b = graft.operators.Behavioral.resampleBucketUs
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(
      ResampleState(Long.MinValue, 0L, 0L, 0.0, false, Long.MinValue))
    val out = Vector.newBuilder[ResampleOut]
    def closeOpen(): Unit = if (st.openBucket != Long.MinValue) {
      val avg = (st.sumQ.toDouble / 10000.0) / st.n
      out += ResampleOut(eventType, st.openBucket * b, avg, st.n, "obs")
      st = ResampleState(Long.MinValue, 0L, 0L, avg, true, st.closedThrough)
    }
    sorted.foreach { e =>
      val bucket = e.ts_us / b
      // cross-batch late arrival whose bucket is already FINALIZED in
      // the append-only output: discard (the watermark analog) —
      // re-opening it would re-emit closed buckets as duplicates.
      // Within-batch order is imposed by the sort; this guard is the
      // cross-micro-batch counterpart.
      if (st.closedThrough == Long.MinValue || bucket > st.closedThrough) {
        if (st.openBucket != Long.MinValue && bucket != st.openBucket) {
          val prevOpen = st.openBucket
          closeOpen()
          var fb = prevOpen + 1
          while (fb < bucket) {
            out += ResampleOut(eventType, fb * b, st.lastAvg, 0L, "ffill")
            fb += 1
          }
        }
        if (st.openBucket == Long.MinValue)
          // everything below the newly-opened bucket is now final
          st = st.copy(openBucket = bucket, closedThrough = bucket - 1)
        st = st.copy(
          sumQ = st.sumQ + math.floor(e.value * 10000.0 + 0.5).toLong,
          n = st.n + 1)
      }
    }
    state.update(st)
    out.result().iterator
  }

  def resampleStream(s: SparkSession, dir: String): Dataset[ResampleOut] =
    resampleStreamFrom(StreamAcc.eventsStream(s, dir))

  private[graft] def resampleStreamFrom(stream: DataFrame): Dataset[ResampleOut] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select($"event_type", unix_micros($"ts").as("ts_us"), $"event_id", $"value")
      .as[ValueEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(resampleFn)
  }

  def runResampleToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamRun.toCompletion(resampleStream(s, dir).toDF(), OutputMode.Append)
      .select($"event_type", timestamp_micros($"bucket_us").as("bucket_ts"),
        $"avg_value", $"n_obs", $"src")
      .orderBy($"event_type", $"bucket_ts")
  }

  /** Oracle: the batch resample per type over [first, last) — closed
    * buckets only, ffill from the last observed bucket. */
  val streamResampleSql: String = {
    val b = graft.operators.Behavioral.resampleBucketUs
    import graft.functions.Agg.dsumSql
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(ts) AS us, value FROM events
       |), obs AS (
       |  SELECT event_type, (us // $b) AS bk,
       |    ${dsumSql("value")} AS avg_obs_sum, count(*) AS n_obs
       |  FROM ev GROUP BY 1, 2
       |), bounds AS (
       |  SELECT event_type, min(us // $b) AS b0, max(us // $b) AS b1
       |  FROM ev GROUP BY 1
       |), grid AS (
       |  SELECT b.event_type, unnest(generate_series(b.b0, b.b1 - 1)) AS bk
       |  FROM bounds b
       |), filled AS (
       |  SELECT g.event_type, g.bk,
       |    o.avg_obs_sum / o.n_obs AS avg_obs, o.n_obs,
       |    last_value(o.avg_obs_sum / o.n_obs IGNORE NULLS) OVER (
       |      PARTITION BY g.event_type ORDER BY g.bk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value
       |  FROM grid g
       |  LEFT JOIN obs o ON o.event_type = g.event_type AND o.bk = g.bk
       |)
       |SELECT event_type, make_timestamp(bk * $b) AS bucket_ts, avg_value,
       |  CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
       |  CASE WHEN avg_obs IS NOT NULL THEN 'obs' ELSE 'ffill' END AS src
       |FROM filled
       |ORDER BY event_type, bucket_ts""".stripMargin
  }

  /** Driver-contract entries (parity with batch results is also
    * asserted in StreamOpsSpec). */
  // ------------------------------------------------------------------
  // stream_markov — continuous transition extraction
  // ------------------------------------------------------------------

  /** Per-user transition extractor: pairs each event with the LAST
    * processed event of the same user, across micro-batch boundaries
    * — the streaming form of [[graft.operators.Behavioral.qMarkov]]'s
    * lag window. State is one (ts, event_id, type) triple per user.
    * Events are imposed into (ts, event_id) order per key within each
    * micro-batch (the per-key ordered-delivery contract all the CEP
    * operators here share); a cross-batch late arrival that sorts
    * BEFORE the recorded last event cannot be spliced into the
    * already-emitted pair chain and is discarded (the watermark
    * analog — same device as [[ResampleState.closedThrough]]). */
  private[graft] def markovFn(
      userId: Long,
      events: Iterator[FunnelEvent],
      state: GroupState[MarkovState]): Iterator[MarkovPair] = {
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var last = state.getOption
    val out = Vector.newBuilder[MarkovPair]
    sorted.foreach { e =>
      last match {
        case Some(l) if e.ts_us < l.ts_us ||
            (e.ts_us == l.ts_us && e.event_id <= l.event_id) =>
          () // late regressor behind the emitted chain — discard
        case Some(l) =>
          out += MarkovPair(l.tpe, e.event_type)
          last = Some(MarkovState(e.ts_us, e.event_id, e.event_type))
        case None =>
          last = Some(MarkovState(e.ts_us, e.event_id, e.event_type))
      }
    }
    last.foreach(state.update)
    out.result().iterator
  }

  /** The transition-pair stream (source-agnostic for the replay
    * spec). */
  private[graft] def markovPairsFrom(stream: DataFrame): Dataset[MarkovPair] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(markovFn)
  }

  /** Run to completion and roll the emitted pair stream up into the
    * transition matrix. The STREAMING part is the stateful pair
    * extraction (the lag that batch computes with a window sort);
    * the count/normalize rollup runs on the emitted pairs — bounded
    * by observed transitions — exactly as [[Behavioral.qMarkov]]
    * does, so this shares its oracle verbatim. */
  def runMarkovToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = StreamRun.toCompletion(
        markovPairsFrom(StreamAcc.eventsStream(s, dir)).toDF(), OutputMode.Append)
      .groupBy($"prev_type", $"next_type")
      .agg(count(lit(1)).as("n_pairs"))
    val marg = pairs.groupBy($"prev_type".as("from_type"))
      .agg(sum($"n_pairs").as("n_from"))
    pairs.join(broadcast(marg), $"prev_type" === $"from_type")
      .select($"prev_type", $"next_type", $"n_pairs",
        expr(graft.functions.Agg.rndSql(
          "CAST(n_pairs AS DOUBLE) / CAST(n_from AS DOUBLE)", 6)).as("prob"))
      .orderBy($"prev_type", $"next_type")
  }

  // ------------------------------------------------------------------
  // stream_anomaly — stateful running z-score outlier flagging
  // ------------------------------------------------------------------

  /** Minimum prior observations before flagging, and the |z| alarm
    * threshold (compared on the 1e-4-quantized score, so the strict
    * inequality cannot flip on an engine ulp). */
  val anomalyWarmup = 30L
  val anomalyZ = 3.0

  /** Per-type anomaly detector: each event is scored against the
    * running mean/σ of every PRIOR event of its type, then folded
    * into the state — the alert stream a pipeline health monitor
    * tails. Determinism is the [[graft.operators.Graph]] device in
    * streaming state: moments accumulate as exact quantized longs
    * (commutative, replay-stable), and μ/σ/z derive from them by
    * identical double arithmetic on both engines, so running the
    * stream to completion equals the batch cumulative-window oracle
    * hash-exactly. Same per-key ordered-delivery contract and
    * late-regressor discard as [[markovFn]]. */
  private[graft] def anomalyFn(
      tpe: String,
      events: Iterator[AnomalyEvent],
      state: GroupState[AnomalyState]): Iterator[AnomalyOut] = {
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L, Long.MinValue, Long.MinValue))
    val out = Vector.newBuilder[AnomalyOut]
    sorted.foreach { e =>
      if (e.ts_us < st.lastTs || (e.ts_us == st.lastTs && e.event_id <= st.lastId)) {
        () // late regressor behind the scored chain — discard
      } else {
        if (st.n >= anomalyWarmup) {
          val mu = st.sumQ.toDouble / st.n.toDouble
          val varr = st.sumQQ.toDouble / st.n.toDouble - mu * mu
          if (varr > 0.0) {
            val z = (e.q.toDouble - mu) / math.sqrt(varr)
            val z4 = math.floor(z * 10000.0 + 0.5) / 10000.0
            if (math.abs(z4) > anomalyZ)
              out += AnomalyOut(tpe, e.event_id, e.q.toDouble / 100.0, st.n, z4)
          }
        }
        st = AnomalyState(st.n + 1, st.sumQ + e.q, st.sumQQ + e.q * e.q,
          e.ts_us, e.event_id)
      }
    }
    state.update(st)
    out.result().iterator
  }

  private[graft] def anomaliesFrom(stream: DataFrame): Dataset[AnomalyOut] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select($"event_type", unix_micros($"ts").as("ts_us"), $"event_id",
        expr("CAST(floor(value * 100.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("q"))
      .as[AnomalyEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(anomalyFn)
  }

  def runAnomaliesToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamRun.toCompletion(anomaliesFrom(StreamAcc.eventsStream(s, dir)).toDF(), OutputMode.Append)
      .select($"event_type", $"event_id", $"value", $"n_prior", $"zscore")
      .orderBy($"event_type", $"event_id")
  }

  /** Batch oracle: the same quantized moments as a cumulative window
    * over each type's (ts, event_id) order, μ/σ/z by the identical
    * double expression chain, flag on the identically-quantized z. */
  val streamAnomalySql: String =
    s"""WITH q AS (
       |  SELECT event_type, event_id, epoch_us(ts) AS us,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS q
       |  FROM events),
       |w AS (
       |  SELECT event_type, event_id, q,
       |    count(*) OVER win AS n,
       |    CAST(coalesce(sum(q) OVER win, 0) AS BIGINT) AS sq,
       |    CAST(coalesce(sum(q * q) OVER win, 0) AS BIGINT) AS sqq
       |  FROM q
       |  WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |m AS (
       |  SELECT event_type, event_id, q, n,
       |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |    CAST(sqq AS DOUBLE) / CAST(n AS DOUBLE) -
       |      (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) AS varr
       |  FROM w WHERE n >= $anomalyWarmup),
       |z AS (
       |  SELECT event_type, event_id, CAST(q AS DOUBLE) / 100.0 AS value, n AS n_prior,
       |    floor((CAST(q AS DOUBLE) - mu) / sqrt(varr) * 10000.0 + 0.5) / 10000.0 AS zscore
       |  FROM m WHERE varr > 0.0)
       |SELECT event_type, event_id, value, n_prior, zscore
       |FROM z WHERE abs(zscore) > $anomalyZ
       |ORDER BY event_type, event_id""".stripMargin

  // ------------------------------------------------------------------
  // stream_rate_limit — per-user event-time admission control
  // ------------------------------------------------------------------

  /** Tumbling admission window (µs): 24 h. */
  private[graft] val rateWindowUs: Long = 86400L * 1000000L
  /** Events admitted per user per window. */
  private[graft] val rateLimitN: Long = 5L

  /** Per-user token-bucket admission: admit the first [[rateLimitN]]
    * events per user per event-time [[rateWindowUs]] window, drop the
    * rest — the ingest throttle (abuse control / per-contributor
    * corpus caps) run as a stream. State is two longs per user: the
    * open window and its fill. A new window resets the count; events
    * regressing behind the open window are discarded (same
    * finalized-horizon guard as the resample/markov machines — the
    * admit stream is append-only, so re-opening an earlier window
    * could re-admit into history). Run to completion with per-key
    * in-order delivery this equals the batch rank-per-(user, window)
    * ≤ N — the DuckDB oracle. */
  private[graft] def rateLimitFn(
      userId: Long,
      events: Iterator[FunnelEvent],
      state: GroupState[RateLimitState]): Iterator[RateAdmit] = {
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(RateLimitState(Long.MinValue, 0L))
    val out = Vector.newBuilder[RateAdmit]
    sorted.foreach { e =>
      val b = e.ts_us - java.lang.Math.floorMod(e.ts_us, rateWindowUs)
      if (b >= st.bucketUs) {
        if (b > st.bucketUs) st = RateLimitState(b, 0L)
        if (st.admitted < rateLimitN) {
          st = st.copy(admitted = st.admitted + 1)
          out += RateAdmit(userId, e.event_id, b, st.admitted)
        }
      } // else: regressor behind the open window — discard
    }
    state.update(st)
    out.result().iterator
  }

  private[graft] def rateLimitFrom(stream: DataFrame): Dataset[RateAdmit] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(rateLimitFn)
  }

  def runRateLimitToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamRun.toCompletion(rateLimitFrom(StreamAcc.eventsStream(s, dir)).toDF(), OutputMode.Append)
      .select($"user_id", $"event_id",
        timestamp_micros($"bucket_us").as("window_start"), $"admit_seq")
      .orderBy($"user_id", $"event_id")
  }

  /** Oracle: the batch formulation — arrival rank per (user, window)
    * capped at N. */
  val rateLimitSql: String =
    s"""SELECT user_id, event_id,
       |  make_timestamp((epoch_us(ts) // $rateWindowUs) * $rateWindowUs) AS window_start,
       |  admit_seq
       |FROM (
       |  SELECT user_id, event_id, ts,
       |    row_number() OVER (
       |      PARTITION BY user_id, epoch_us(ts) // $rateWindowUs
       |      ORDER BY ts, event_id) AS admit_seq
       |  FROM events)
       |WHERE admit_seq <= $rateLimitN
       |ORDER BY user_id, event_id""".stripMargin

  /** Streaming embedding near-dup: freshly-ingested vectors probed
    * against the PERSISTED corpus LSH bucket index — the embedding
    * analog of the batch [[graft.operators.Dedup.dedupIncremental]],
    * and the semantic-dedup admission gate a continuously-ingesting
    * training pipeline runs ("is this new vector already represented
    * in the corpus?"). A STREAM-STATIC join: the incoming stream
    * computes its bucket keys row-local (the hyperplane matrix is a
    * literal), hashes onto the index's (tbl, bucket) bucket layout,
    * and the corpus side is never re-read in full, re-signed or
    * re-shuffled per micro-batch — its banding shuffle was paid once
    * at [[graft.operators.Dedup.buildEmbedProbeIndex]] time. Exact
    * cosine evaluated inline in the join (the [[graft.operators
    * .Dedup.embeddingPairs]] layout); multi-table collisions collapse
    * in a stateful dropDuplicates (state = one tiny key per emitted
    * pair; production bounds it with an arrival-time watermark).
    * Banding matches the batch path's tables×bits exactly, so run to
    * completion the result equals the all-pairs corpus×incoming τ-cut
    * — the same recall argument as dedup_embedding's oracle. */
  def embedDedupStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{Agg, VectorFns}
    import graft.operators.{Dedup, Similarity}
    Dedup.buildEmbedProbeIndex(s, dir)
    val incoming = StreamAcc.fileStream(s, dir, "embeddings")
      .filter($"vec_id" % Dedup.embedShardMod === Dedup.embedShardRem)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .filter($"nrm" > 0.0) // no defined cosine for a zero vector
    val probe = Similarity.lshBucketsOf(incoming,
      Dedup.dedupLshTables, Dedup.dedupLshBits)
    s.table(Dedup.embedProbeIndexTable).as("i").join(probe.as("p"),
        $"i.tbl" === $"p.tbl" && $"i.bucket" === $"p.bucket")
      .withColumn("cosine",
        expr(Agg.rndSql(s"${VectorFns.dot("i.v", "p.v")} / (i.nrm * p.nrm)", 6)))
      .filter($"cosine" >= Dedup.cosineTau)
      .select($"i.vec_id".as("corpus_id"), $"p.vec_id".as("new_id"), $"cosine")
      .dropDuplicates("corpus_id", "new_id")
  }

  def runEmbedDedupToCompletion(s: SparkSession, dir: String): DataFrame =
    StreamRun.toCompletion(embedDedupStream(s, dir), OutputMode.Append)
      .orderBy(col("new_id"), col("corpus_id"))

  /** Oracle: the all-pairs corpus×incoming cosine τ-cut (banding
    * recall is total at the driver SFs — the dedup_embedding
    * argument). */
  val streamEmbedDedupSql: String = {
    import graft.functions.Agg.rndSql
    import graft.operators.Dedup
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0)
       |SELECT c.vec_id AS corpus_id, p.vec_id AS new_id,
       |  ${rndSql("list_dot_product(c.v, p.v) / (c.nrm * p.nrm)", 6)} AS cosine
       |FROM n c JOIN n p
       |  ON (c.vec_id % ${Dedup.embedShardMod}) <> ${Dedup.embedShardRem}
       | AND (p.vec_id % ${Dedup.embedShardMod}) = ${Dedup.embedShardRem}
       |WHERE ${rndSql("list_dot_product(c.v, p.v) / (c.nrm * p.nrm)", 6)} >= ${Dedup.cosineTau}
       |ORDER BY new_id, corpus_id""".stripMargin
  }

  /** §2.5 31s' — IVF INGEST run at stream time (the [[embedDedupStream]]
    * admission gate composed with the [[graft.operators.SimilarityIvf
    * .annIvfAppend]] index-maintenance write): each micro-batch of
    * freshly-arrived vectors routes ROW-LOCAL to its inverted list
    * (argmin against the broadcast staged corpus centroids — the
    * IDENTICAL [[graft.operators.SimilarityIvf.cidExpr]] the batch
    * path uses, zero exchanges, no retrain, no corpus re-read) and
    * lands in the persisted inverted file IN ITS BUCKET LAYOUT within
    * the same micro-batch — so every probe join over the grown table
    * stays exchange-free (PlanSpec-asserted) while the stream runs.
    * At 100 TB this is continuous index maintenance: the day's ingest
    * extends a corpus-sized IVF at shard cost, with zero serving
    * downtime. SimilarityIvfSpec proves parity: run to completion the
    * grown table is row-identical to one-batch assignment of the
    * union. Readout = the grown file's per-cid occupancy split
    * corpus/new; oracle recomputes it from the staged centroids. */
  def runIvfIngestToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFns
    import graft.operators.SimilarityIvf
    val cents = SimilarityIvf.rebuildIvfStreamBase(s, dir)
    val routed = StreamAcc.fileStream(s, dir, "embeddings")
      .filter($"vec_id" % SimilarityIvf.ivfShardMod === SimilarityIvf.ivfShardRem)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .filter($"nrm" > 0.0) // zero-norm vectors can't be cosine-probed
      .withColumn("cents", typedLit(cents))
      .withColumn("cid", SimilarityIvf.cidExpr)
      .select($"vec_id", $"cid", $"v", $"nrm")
    val q = routed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the bucketed append: each task hashes its rows to bucket
        // files — no shuffle, no rewrite of the existing files
        batch.write
          .bucketBy(SimilarityIvf.ivfIndexBuckets, "cid")
          .sortBy("cid")
          .format("parquet")
          .mode("append")
          .saveAsTable(SimilarityIvf.ivfStreamTable)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    SimilarityIvf.ivfStreamOccupancy(s)
  }

  /** §2.6 — BM25 POSTINGS maintained at stream time (the
    * [[runIvfIngestToCompletion]] pattern on the text index): each
    * micro-batch of freshly-arrived documents computes its postings
    * ROW-LOCAL-per-doc (tf and dl are functions of the one arriving
    * row; the only non-local input is the broadcast frozen snapshot of
    * corpus term statistics) and lands them in the persisted postings
    * table IN ITS BUCKET LAYOUT within the same micro-batch — probe
    * joins over the grown index stay exchange-free while the stream
    * runs. STALENESS CONTRACT: df/avgdl/N are corpus statistics no
    * row-local router can update — arriving postings are priced with
    * the SNAPSHOT values (unseen terms get the df=0 idf), and the
    * statistics refresh only at the periodic index rebuild, exactly
    * the IVF-centroid contract. Readout = the standard BM25 search
    * over the grown table; the oracle replays the snapshot pricing
    * term-for-term, so the documented staleness is itself
    * hash-checked. */
  def runBm25IngestToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{TermWeights => TW}
    import graft.operators.{Dedup, HybridSearch => HS, TextAnalysis => TA}
    val (idfSnap, snap) = HS.rebuildBm25StreamBase(s, dir)
    // the snapshot's avgdl (NULL when the corpus has no term) and df = 0 idf
    val (avgdl, unseen) = (lit(snap.get(0)), lit(snap.get(1)))
    val idfBc = broadcast(idfSnap.select($"term", $"idf"))
    val arriving = StreamAcc.fileStream(s, dir, "documents")
      .filter($"doc_id" % Dedup.incrementalShardMod === Dedup.incrementalShardRem)
      .select($"doc_id", $"text")
    val q = arriving.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a document is ONE arriving row, so its tf/dl are complete
        // within whatever micro-batch carries it — no cross-batch state
        val tf = TA.docTermCounts(batch)
        tf.join(TW.unitLengths(tf, "doc_id"), "doc_id")
          .join(idfBc, Seq("term"), "left")
          .select($"term", $"doc_id",
            TW.bm25Weight($"tf", $"dl", coalesce($"idf", unseen), avgdl).as("w"))
          .write
          .bucketBy(HS.bm25IndexBuckets, "term")
          .sortBy("term")
          .format("parquet")
          .mode("append")
          .saveAsTable(HS.bm25StreamTable)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    HS.bm25StreamProbe(s)
  }

  // ------------------------------------------------------------------
  // stream_takedown — deletion events arriving as a stream
  // ------------------------------------------------------------------

  /** §2.6 — TAKEDOWN AS A STREAM: right-to-be-forgotten requests
    * don't arrive in maintenance windows — they arrive continuously,
    * and the index must stop serving a deleted document from the
    * micro-batch its deletion lands in. Deletion events (the shared
    * [[graft.operators.HybridSearch.retractMod]] takedown slice of
    * the documents stream) append their doc_ids into the
    * [[graft.operators.HybridSearch.tombStreamTable]] accumulator per
    * micro-batch — an append-only, naturally idempotent-under-replay
    * sink (deleting twice is deleting once; the probe reads the set
    * DISTINCT) — and the post-stream probe anti-joins the accumulated
    * set exactly like the batch [[graft.operators.HybridSearch
    * .bm25Retract]]: a stream that delivered every deletion yields
    * the identical frame, which is the oracle (shared SQL) and the
    * spec's parity assertion. The index files never rewrite on the
    * ingest path; compaction stays a maintenance-cadence batch job. */
  def runTakedownToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{HybridSearch => HS}
    s.sql(s"DROP TABLE IF EXISTS ${HS.tombStreamTable}")
    val deletions = StreamAcc.fileStream(s, dir, "documents")
      .filter($"doc_id" % HS.retractMod === HS.retractRem)
      .select($"doc_id")
    val q = deletions.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("doc_id").distinct()
          .write.format("parquet").mode("append")
          .saveAsTable(HS.tombStreamTable)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    HS.streamTakedownProbe(s, dir)
  }

  // ------------------------------------------------------------------
  // stream_dau — exactly-once (user, day) activity dedup
  // ------------------------------------------------------------------

  /** Per-user activity-day dedup: emits each (user, day) pair exactly
    * once across ALL micro-batches — the streaming exactly-once
    * primitive behind continuous DAU/growth accounting. State is the
    * user's seen-day set, bounded by the CALENDAR, not the event
    * count. Unlike the CEP operators above this one is delivery-
    * ORDER-INDEPENDENT by construction (set membership has no order),
    * so running to completion equals the batch distinct regardless of
    * how the replay slices batches — no late-regressor caveat. */
  private[graft] def dauFn(
      userId: Long,
      events: Iterator[DauEvent],
      state: GroupState[DauState]): Iterator[DauPair] = {
    val seen = state.getOption.map(_.days.toSet).getOrElse(Set.empty[Int])
    val fresh = events.map(_.day).toArray.distinct.filterNot(seen).sorted
    if (fresh.nonEmpty) state.update(DauState((seen ++ fresh).toList))
    fresh.iterator.map(d => DauPair(userId, d))
  }

  /** Run to completion and roll the exactly-once (user, day) pairs up
    * into the new-vs-returning daily split. The STREAMING part is the
    * cross-batch dedup (batch computes it with a distinct); the
    * first-touch + daily rollup runs on the emitted pairs — bounded
    * by users × active days — exactly as
    * [[graft.operators.Behavioral.qDauNewReturning]] does, so this
    * shares its oracle verbatim. */
  def runDauToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = StreamAcc.eventsStream(s, dir)
      .select($"user_id", expr("unix_date(to_date(ts))").cast("int").as("day"))
      .as[DauEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(dauFn)
    val du = StreamRun.toCompletion(pairs.toDF(), OutputMode.Append)
    val first = du.groupBy($"user_id").agg(min($"day").as("first_day"))
      .withColumnRenamed("user_id", "fu")
    du.join(first, $"user_id" === $"fu")
      .groupBy($"day")
      .agg(count(lit(1)).as("dau"),
        sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("new_users"))
      .select(expr("date_from_unix_date(day)").as("day"), $"dau", $"new_users",
        ($"dau" - $"new_users").as("returning"))
      .orderBy($"day")
  }

  /** §2.10 — the LIVE A/B readout: per-metric sufficient statistics
    * (arm counts, exact decimal Σx and Σx²) maintained as one
    * incremental streaming aggregation — the experiment dashboard
    * never stores raw events, and the Welch z at any instant derives
    * from six numbers per metric. The decimal fixed-point sums are
    * what make the incremental merge EXACT: state merges are integer
    * adds in any order, so the completed stream's statistics are
    * bit-identical to the batch [[graft.operators.Experimentation
    * .qAbtest]] readout and this shares its oracle verbatim. State is
    * bounded by #metrics × 6 numbers — nothing event-sized survives a
    * batch. */
  def runAbtestToCompletion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Experimentation.{welchAggs, welchReadout}
    val st = StreamAcc.eventsStream(s, dir)
      .withColumn("a", $"user_id" % 2 === 0)
      .groupBy($"event_type")
      .agg(welchAggs.head, welchAggs.tail: _*)
    welchReadout(StreamRun.toCompletion(st, OutputMode.Complete))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_abtest" -> (runAbtestToCompletion _),
    "stream_srm_windowed" -> (runWindowedSrmToCompletion _),
    "stream_dau" -> (runDauToCompletion _),
    "stream_embed_dedup" -> (runEmbedDedupToCompletion _),
    "stream_ivf_ingest" -> (runIvfIngestToCompletion _),
    "stream_bm25_ingest" -> (runBm25IngestToCompletion _),
    "stream_takedown" -> (runTakedownToCompletion _),
    "stream_rate_limit" -> (runRateLimitToCompletion _),
    "stream_anomaly" -> (runAnomaliesToCompletion _),
    "stream_markov" -> (runMarkovToCompletion _),
    "stream_resample" -> (runResampleToCompletion _),
    "stream_funnel" -> (runFunnelToCompletion _),
    "stream_sessionize" -> (runSessionsToCompletion _),
    "stream_acc_size_flush" -> ((s, dir) => runSizeFlushesToCompletion(s, dir)),
    "stream_quality_filter" -> (runQualityFilterToCompletion _),
    "stream_decontaminate_span" -> (runDecontaminateSpanToCompletion _),
    "stream_decontaminate_semantic" -> (runDecontaminateSemanticToCompletion _),
    "stream_bpe_encode" -> ((s, dir) => runBpeEncodeToCompletion(s, dir)),
    "stream_unigram_encode" -> ((s, dir) => runUnigramEncodeToCompletion(s, dir)),
    "stream_dedup_exact" -> (runDedupExactToCompletion _),
    "stream_dedup_span" -> (runDedupSpanToCompletion _),
    "stream_latest_state" -> (runLatestStateToCompletion _),
    "stream_scd2_join" -> (runScd2EnrichToCompletion _),
    "stream_quality_score" -> (runQualityScoreToCompletion _),
    "stream_attribution_join" -> (runAttributionToCompletion _),
    "stream_attribution_outer" -> (runAttributionOuterToCompletion _),
    "stream_heavy_hitters" -> (runHeavyHittersToCompletion _),
    "stream_hh_windowed" -> (runWindowedHeavyHittersToCompletion _),
    "stream_mm_dedup_near" -> (runMmNearDupToCompletion _)
  )

  /** DuckDB oracle for the size-threshold flushes: a flush emits
    * exactly when the per-batchId arrival-ordered count reaches the
    * threshold, so completed streaming flushes equal the batch
    * chunking restricted to full chunks. */
  val streamSizeFlushSql: String =
    s"""SELECT event_type AS batch_id,
       |  (rn - 1) // ${Accumulator.threshold} AS seq,
       |  count(*) AS item_count, min(ts) AS created_at, max(ts) AS last_updated_at
       |FROM (SELECT event_type, ts,
       |        row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
       |      FROM events)
       |GROUP BY 1, 2
       |HAVING count(*) >= ${Accumulator.threshold}
       |ORDER BY batch_id, seq""".stripMargin

  /** stream_sessionize runs the same session_window operator as the
    * batch q_session_window, so it shares that oracle verbatim. */
  def oracles: Map[String, String] = Map(
    // exact decimal sufficient statistics merge order-free, so the
    // completed stream equals the batch readout: shares q_abtest
    "stream_abtest"         -> graft.operators.Experimentation.qAbtestSql,
    // watermark-closed windows only, the hh-windowed cut device
    "stream_srm_windowed"   -> windowedSrmSql,
    // order-independent exactly-once (user, day) dedup run to
    // completion equals the batch distinct: shares q_dau_new_returning
    "stream_dau"            -> graft.operators.Behavioral.qDauNewReturningSql,
    // run to completion, the banded probe equals the all-pairs
    // corpus×incoming τ-cut — see streamEmbedDedupSql
    "stream_embed_dedup"    -> streamEmbedDedupSql,
    // run to completion with per-key in-order delivery, the admission
    // machine equals the batch per-(user, window) rank — see rateLimitSql
    "stream_rate_limit"     -> rateLimitSql,
    // exact-moment state run to completion equals the batch
    // cumulative window — see streamAnomalySql
    "stream_anomaly"        -> streamAnomalySql,
    // the stateful lag run to completion equals the batch window lag:
    // shares q_markov's oracle verbatim
    "stream_markov"         -> graft.operators.Behavioral.qMarkovSql,
    "stream_resample"       -> streamResampleSql,
    "stream_funnel"         -> streamFunnelSql,
    "stream_acc_size_flush" -> streamSizeFlushSql,
    "stream_sessionize"     -> graft.operators.Relational.qSessionWindowSql,
    // stateless stream == batch: shares the batch filter's oracle
    "stream_quality_filter" -> graft.operators.Pipeline.qualityFilterSql,
    // stateless row-local stream == batch gate: shares 44c's oracle
    "stream_decontaminate_span" -> graft.operators.Pipeline.decontaminateSpanSql,
    // run to completion equals the batch gate exactly → shared oracle
    "stream_decontaminate_semantic" -> graft.operators.Pipeline.decontaminateSemanticSql,
  ) ++ graft.sources.OracleStage.globOf("bpe_merges").map(g =>
    // stateless per-token encode run to completion == the batch
    // encoder: shares 42c's staged-merge oracle
    "stream_bpe_encode" -> graft.operators.Bpe.tokenIdsBpeSql(g)
  ) ++ graft.sources.OracleStage.globOf("unigram_segs").map(g =>
    // stateless per-token encode, lexicon-joined with the trainer's
    // own DP as fallback: shares 42h's staged-lexicon oracle
    "stream_unigram_encode" -> graft.operators.Unigram.tokenIdsUnigramSql(g)
  ) ++ Map(
    // run to completion, the incremental state merge equals the batch
    // groupBy: shares dedup_exact's oracle verbatim
    "stream_dedup_exact" -> graft.operators.Dedup.dedupExactSql,
    // run to completion, the index probe + shared rebuild tail equals
    // the batch span edit: shares dedup_span_removal's oracle verbatim
    "stream_dedup_span" -> graft.operators.Dedup.dedupSpanRemovalSql,
    // run to completion, the struct-max merge equals the batch argmax
    // row per user under the same (ts, event_id) tiebreak
    "stream_latest_state" -> latestStateSql,
    "stream_scd2_join" -> scd2EnrichSql,
    "stream_quality_score" -> graft.operators.QualityModel.qualityScoreSql,
    "stream_attribution_join" -> attributionJoinSql,
    "stream_attribution_outer" -> attributionOuterJoinSql,
    // incremental exact counts run to completion equal the batch
    // counts: shares corpus_heavy_hitters' oracle verbatim
    "stream_heavy_hitters" -> graft.operators.Pipeline.corpusHeavyHittersSql,
    // append-mode windowed top-N equals the batch windowed rank over
    // windows the final watermark closed
    "stream_hh_windowed" -> windowedHeavyHittersSql,
    // run to completion the grown postings table's search equals the
    // union priced with the frozen corpus statistics (the documented
    // staleness contract, replayed term-for-term)
    "stream_bm25_ingest" -> graft.operators.HybridSearch.streamBm25IngestSql,
    "stream_takedown" -> graft.operators.HybridSearch.bm25RetractSql
  ) ++ graft.sources.OracleStage.globOf("mm_phash_sigs")
    // run to completion the stream-static band probe equals the
    // cross-shard banding cut over the staged signatures
    .map(g => "stream_mm_dedup_near" ->
      graft.operators.Multimodal.streamMmDedupNearSql(g)).toMap ++
  graft.sources.OracleStage.globOf("ivf_corpus_centroids")
    // run to completion the grown inverted file equals one-batch
    // assignment of the union against the staged corpus centroids
    .map(g => "stream_ivf_ingest" ->
      graft.operators.SimilarityIvf.streamIvfIngestSql(g)).toMap
}
