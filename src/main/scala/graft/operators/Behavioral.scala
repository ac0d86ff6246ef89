package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg._
import graft.sources.{Parquet, Tables}

/** §2.10 Behavioral, time-series & incremental analytics.
  *
  * The event-log query family every analytics engine over a
  * `(user, ts, type, value)` stream ends up growing: ordered funnels,
  * cohort retention, gap-filled resampling, distribution histograms,
  * and incremental materialized-view maintenance. All are composed
  * from declarative DataFrame ops so Catalyst owns pushdown and
  * partial aggregation; time arithmetic runs on `unix_micros` so both
  * engines compute identical integers (events.ts is µs-floored at
  * load, TESTDATA note in [[graft.sources.Tables.events]]).
  *
  * Scale notes (100 TB):
  *  - the funnel is ONE shuffle on user_id (window sort) plus a
  *    partial-agged rollup that reuses the same partitioning;
  *  - retention never windows — first-touch is a partial-agged
  *    groupBy, and "distinct users per cell" is the two-phase exact
  *    distinct (dedup shuffle then count), never a count(distinct)
  *    holding a cell's user set in one reducer;
  *  - resample reduces the raw stream FIRST (partial-agged bucket
  *    aggregate, output bounded by time-range/15min × #types, not by
  *    row count) and only then gap-fills on the tiny grid;
  *  - the MV refresh re-aggregates ONLY the delta — the raw-scan
  *    filter is applied to the physical long column so it pushes into
  *    the parquet scan (row-group pruning; date-partition pruning in
  *    a real deploy), and merge cost is O(|MV| + |delta keys|).
  */
object Behavioral {

  // ------------------------------------------------------------------
  // q_funnel — ordered conversion funnel
  // ------------------------------------------------------------------

  /** Ordered funnel view → click → purchase: a user reaches step k+1
    * with the earliest step-k+1 event STRICTLY after their step-k
    * time, where the step-k time is the earliest qualifying step-k
    * event (the standard "ordered funnel" semantics).
    *
    * Single-sort formulation: with rows sorted by (ts, event_id) per
    * user, the running min of view-times t1 makes "click after t1"
    * decidable AT THE CLICK'S OWN ROW (any view cheaper than this
    * click sorts before it), so three chained running-min windows over
    * ONE sort resolve all three stages — no self-joins, no per-user
    * collect. Catalyst plans the three Window ops over a single
    * exchange+sort, and the per-user rollup reuses the user_id
    * partitioning. The join-chain formulation (min view ts → join
    * clicks → min → join purchases) survives as the DuckDB oracle.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("t1", min(when($"event_type" === "view", $"us")).over(w))
      .withColumn("q2", when($"event_type" === "click" && $"us" > $"t1", $"us"))
      .withColumn("t2", min($"q2").over(w))
      .withColumn("q3", when($"event_type" === "purchase" && $"us" > $"t2", $"us"))
    staged.groupBy($"user_id")
      .agg(
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("s1"),
        max(when($"q2".isNotNull, 1L).otherwise(0L)).as("s2"),
        max(when($"q3".isNotNull, 1L).otherwise(0L)).as("s3"))
      .agg(
        count(lit(1)).as("users_total"),
        // coalesce: an empty corpus sums to NULL where the oracle's
        // scalar counts say 0
        coalesce(sum($"s1"), lit(0L)).as("users_view"),
        coalesce(sum($"s2"), lit(0L)).as("users_click"),
        coalesce(sum($"s3"), lit(0L)).as("users_purchase"))
  }

  val qFunnelSql: String =
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
      |SELECT
      |  (SELECT count(DISTINCT user_id) FROM events) AS users_total,
      |  (SELECT count(*) FROM f WHERE t1 IS NOT NULL) AS users_view,
      |  (SELECT count(*) FROM c) AS users_click,
      |  (SELECT count(*) FROM p) AS users_purchase""".stripMargin

  // ------------------------------------------------------------------
  // q_retention — daily cohort retention
  // ------------------------------------------------------------------

  /** Cohort retention: users grouped by first-activity date, each
    * cell (cohort_day, day_offset) counting distinct users active
    * that many days after their first touch.
    *
    * First touch is `groupBy(user).agg(min(ts))` — partial-aggregated
    * (O(1) state per user per task), NOT a window. The cell counts
    * use the two-phase exact distinct: dedup on (cohort, offset,
    * user) — itself partial-agged — then a plain count per cell, so
    * no reducer ever holds a cell's full user set (a mass cohort at
    * 100 TB is exactly where `count(distinct)` reducers die). */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val firstTouch = ev.groupBy($"user_id")
      .agg(to_date(min($"ts")).as("cohort_day"))
    ev.join(firstTouch, "user_id")
      .select($"cohort_day",
        datediff(to_date($"ts"), $"cohort_day").cast("long").as("day_offset"),
        $"user_id")
      .distinct()
      .groupBy($"cohort_day", $"day_offset")
      .agg(count(lit(1)).as("active_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val qRetentionSql: String =
    """WITH f AS (
      |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      |  FROM events GROUP BY user_id
      |)
      |SELECT f.cohort_day,
      |  CAST(datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
      |  count(DISTINCT e.user_id) AS active_users
      |FROM events e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_time_resample — gap-filled 15-min resample with forward fill
  // ------------------------------------------------------------------

  /** Resample bucket width (µs): 15 minutes. */
  val resampleBucketUs: Long = 900L * 1000000L

  /** Time-series resampling: per event_type, 15-minute buckets of
    * davg(value), gap-filled over the complete [min, max] bucket grid
    * and forward-filled from the last observed bucket (`src` marks
    * 'obs' / 'ffill' / 'none' for leading holes).
    *
    * Order of operations is the scale property: the raw stream is
    * reduced FIRST by a partial-aggregated groupBy — everything after
    * that (grid synthesis via `sequence`, the cross join with the
    * distinct-types side, the per-type forward-fill window) operates
    * on at most #types × (time-range / 15 min) rows, bounded by the
    * clock, not the data. The cross join is two post-aggregate
    * micro-frames (documented BNLJ, ~10³ rows/side at 30 days); the
    * forward-fill window partitions by event_type over grid rows
    * only. Exact-decimal davg keeps filled copies bit-identical. */
  def qTimeResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = resampleBucketUs
    val ev = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
    val obs = ev
      .withColumn("bucket_us", expr(s"(us div ${b}L) * ${b}L"))
      .groupBy($"event_type", $"bucket_us")
      .agg(davg($"value").as("avg_obs"), count(lit(1)).as("n_obs"))
    val grid = ev.agg(min(expr(s"us div ${b}L")).as("b0"), max(expr(s"us div ${b}L")).as("b1"))
      .select(explode(sequence($"b0", $"b1")).as("bk"))
      .select(($"bk" * b).as("bucket_us"))
    val types = ev.select($"event_type").distinct()
    val wFill = Window.partitionBy($"event_type").orderBy($"bucket_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    types.crossJoin(grid)
      .join(obs, Seq("event_type", "bucket_us"), "left")
      .withColumn("avg_value", last($"avg_obs", ignoreNulls = true).over(wFill))
      .withColumn("src",
        when($"avg_obs".isNotNull, "obs")
          .when($"avg_value".isNotNull, "ffill")
          .otherwise("none"))
      .select($"event_type", timestamp_micros($"bucket_us").as("bucket_ts"),
        $"avg_value", coalesce($"n_obs", lit(0L)).as("n_obs"), $"src")
      .orderBy($"event_type", $"bucket_ts")
  }

  val qTimeResampleSql: String = {
    val b = resampleBucketUs
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(ts) AS us, value FROM events
       |), obs AS (
       |  SELECT event_type, (us // $b) * $b AS bucket_us,
       |    ${davgSql("value")} AS avg_obs, count(*) AS n_obs
       |  FROM ev GROUP BY 1, 2
       |), grid AS (
       |  SELECT unnest(generate_series(b0, b1)) * $b AS bucket_us
       |  FROM (SELECT min(us // $b) AS b0, max(us // $b) AS b1 FROM ev)
       |), filled AS (
       |  SELECT t.event_type, g.bucket_us, o.avg_obs, o.n_obs,
       |    last_value(o.avg_obs IGNORE NULLS) OVER (
       |      PARTITION BY t.event_type ORDER BY g.bucket_us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value
       |  FROM (SELECT DISTINCT event_type FROM ev) t
       |  CROSS JOIN grid g
       |  LEFT JOIN obs o ON o.event_type = t.event_type AND o.bucket_us = g.bucket_us
       |)
       |SELECT event_type, make_timestamp(bucket_us) AS bucket_ts, avg_value,
       |  CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
       |  CASE WHEN avg_obs IS NOT NULL THEN 'obs'
       |       WHEN avg_value IS NOT NULL THEN 'ffill'
       |       ELSE 'none' END AS src
       |FROM filled
       |ORDER BY event_type, bucket_ts""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_moving_window — RANGE-frame (interval) window aggregate
  // ------------------------------------------------------------------

  /** Per-event trailing 1-hour statistics for its user: event count
    * and exact value sum over `[t − 1h, t]` — the RANGE/interval
    * window frame (vs the suite's ROWS frames): the frame holds
    * whatever fits the time bound, not a fixed row count. One shuffle
    * on user_id; WindowExec keeps a sliding frame pointer per
    * partition — O(per-user events) work, no per-row rescans. Sum
    * runs in DECIMAL inside the frame (exact, order-free) and casts
    * at the edge, so both engines agree bitwise. */
  def qMovingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-hourUs, 0)
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum(quantize($"value", 4).cast("long")).over(w).cast("double") / lit(10000.0))
      .select($"event_id", $"user_id", $"ts", $"n_1h", $"sum_1h")
      .orderBy($"event_id")
  }

  val qMovingWindowSql: String =
    s"""SELECT event_id, user_id, ts,
       |  count(*) OVER w AS n_1h,
       |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
       |    / 10000.0 AS sum_1h
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
       |             RANGE BETWEEN ${3600L * 1000000L} PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // q_sliding_window — overlapping-window aggregate
  // ------------------------------------------------------------------

  /** Sliding-window geometry: 1 h windows every 15 min (µs). */
  val slideWindowUs: Long = 3600L * 1000000L
  val slideStepUs: Long = 900L * 1000000L

  /** Sliding-window engagement: distinct users and event count per
    * 1-hour window sliding by 15 minutes — the overlapping-window
    * aggregate (tumbling and session windows live elsewhere in the
    * suite; this is the third window family). Spark's `window(ts,
    * "1 hour", "15 minutes")` plans an Expand: each event replicates
    * row-locally into the 4 windows covering it — shuffle cost is
    * 4× rows, never windows × rows — and the distinct-user count per
    * window is the two-phase exact distinct on top. Windows with zero
    * events don't emit (matching Spark's semantics; the oracle builds
    * the same occupied-window set). */
  def qSlidingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(window($"ts", "1 hour", "15 minutes").as("w"), $"user_id")
      .select(unix_micros($"w.start").as("w_start_us"), $"user_id")
      .distinct()
      .groupBy($"w_start_us")
      .agg(count(lit(1)).as("n_users"))
      .join(
        Tables.events(s, dir)
          .select(window($"ts", "1 hour", "15 minutes").as("w"))
          .select(unix_micros($"w.start").as("w_start_us"))
          .groupBy($"w_start_us").agg(count(lit(1)).as("n_events")),
        "w_start_us")
      .select(timestamp_micros($"w_start_us").as("window_start"),
        $"n_users", $"n_events")
      .orderBy($"window_start")
  }

  val qSlidingWindowSql: String = {
    val w = slideWindowUs; val st = slideStepUs
    // an event at time t occupies windows starting in
    // (t - 1h, t] aligned to the 15-min grid: offsets 0..3 back from
    // the event's own grid slot
    s"""WITH occ AS (
       |  SELECT (epoch_us(ts) // $st - k) * $st AS w_start_us, user_id
       |  FROM events, unnest(range(0, ${w / st})) AS g(k)
       |  WHERE epoch_us(ts) - (epoch_us(ts) // $st - k) * $st < $w
       |)
       |SELECT make_timestamp(w_start_us) AS window_start,
       |  count(DISTINCT user_id) AS n_users,
       |  count(*) AS n_events
       |FROM occ
       |GROUP BY w_start_us
       |ORDER BY window_start""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_histogram — equi-width distribution histogram
  // ------------------------------------------------------------------

  /** Histogram bin count. */
  val histBins = 20

  /** Equi-width histogram of o_totalprice: two bounded passes — a
    * partial-agged global min/max (1 row, broadcast), then a row-local
    * bin id and a partial-agged per-bin rollup. The bin arithmetic
    * `floor((x − lo) · B / (hi − lo))` runs in double with identical
    * operation order on both engines, so boundary values land in the
    * same bin everywhere. Never sorts, never windows: the 100 TB
    * histogram is exactly two map-side-combined aggregates. */
  def qHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = histBins
    val o = Tables.orders(s, dir)
    val mm = o.agg(min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
    o.crossJoin(broadcast(mm))
      // hi == lo (a single-valued column) would divide by zero into
      // NaN bins; the degenerate histogram is one bin holding
      // everything — guarded identically in the oracle
      .withColumn("bin",
        when($"hi" === $"lo", lit(0.0)).otherwise(
          least(floor(($"o_totalprice" - $"lo") * lit(nb.toDouble) / ($"hi" - $"lo")),
            lit((nb - 1).toDouble))).cast("long"))
      .withColumn("bin_lo", $"lo" + $"bin".cast("double") * ($"hi" - $"lo") / lit(nb.toDouble))
      .groupBy($"bin", $"bin_lo")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bin")
  }

  val qHistogramSql: String = {
    val nb = histBins
    s"""WITH mm AS (
       |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
       |), binned AS (
       |  SELECT o_totalprice,
       |    CAST(CASE WHEN hi = lo THEN 0.0 ELSE
       |      least(floor((o_totalprice - lo) * CAST($nb.0 AS DOUBLE) / (hi - lo)),
       |            CAST(${nb - 1}.0 AS DOUBLE)) END AS BIGINT) AS bin,
       |    lo, hi
       |  FROM orders, mm
       |)
       |SELECT bin, lo + CAST(bin AS DOUBLE) * (hi - lo) / CAST($nb.0 AS DOUBLE) AS bin_lo,
       |  count(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
       |FROM binned
       |GROUP BY bin, lo, hi
       |ORDER BY bin""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_rfm — recency/frequency/monetary segmentation
  // ------------------------------------------------------------------

  /** RFM customer segmentation: per customer the classic triple —
    * days since last order (R), order count (F), total spend (M) —
    * each quintile-bucketed, customers counted per (r, f, m) cell.
    *
    * The quintile assignment is where naive SQL dies at scale:
    * `ntile(5) OVER (ORDER BY metric)` is a single-task global sort.
    * Here all THREE metrics rank in ONE two-phase bucketed pass:
    * the customer aggregate unpivots into a (kind, value) long frame
    * (3n rows) and [[graft.functions.Ranks.perKeyRowNumber]] ranks
    * within each kind — the same TeraSort layout, but one sampling
    * scan, one shuffle and one window instead of three of each
    * (measured ~2.5× over the three-pass formulation at sf0.1). The
    * quintile is then a row-local `(rank−1)·5 / n`, and a customer-
    * keyed re-group folds the long frame back to (r, f, m) scores. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asOf = "2001-09-01 00:00:00"
    // materialized once: the rank pass SAMPLES its input for bucket
    // boundaries and then scans it again — an unpinned frame would
    // re-run the orders scan+aggregate (the sample-reexecution trap
    // §8 documents for sample_stratified)
    val cust = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(
        datediff(lit(asOf).cast("timestamp"), max($"o_orderdate")).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        dsum($"o_totalprice").as("monetary"))
      .localCheckpoint(true)
    val n = cust.count()
    // recency enters DESCENDING via negation: the most recent buyer
    // (smallest recency) gets the highest score, per RFM convention.
    // All three metrics order identically as doubles (longs < 2^53).
    val longForm = cust.select($"o_custkey", expr(
      """stack(3,
        |  'r', CAST(-recency_days AS DOUBLE),
        |  'f', CAST(frequency AS DOUBLE),
        |  'm', monetary) AS (kind, value)""".stripMargin))
    val ranked = graft.functions.Ranks.perKeyRowNumber(
        longForm, Seq("kind"), Seq($"value", $"o_custkey"),
        graft.functions.Ranks.defaultPartitions(longForm), "rk",
        // (kind, value) prefix: codegen-sized boundary tree
        bucketPrefix = Some(Seq(col("kind"), $"value")))
      .withColumn("score", expr(s"((rk - 1L) * 5L) div ${n}L + 1L"))
    val scored = ranked.groupBy($"o_custkey")
      .agg(max(when($"kind" === "r", $"score")).as("r_score"),
           max(when($"kind" === "f", $"score")).as("f_score"),
           max(when($"kind" === "m", $"score")).as("m_score"),
           max(when($"kind" === "m", $"value")).as("monetary"))
    scored.groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        dsum($"monetary").as("segment_value"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val qRfmSql: String =
    s"""WITH cust AS (
       |  SELECT o_custkey,
       |    CAST(datediff('day', CAST(max(o_orderdate) AS DATE),
       |         DATE '2001-09-01') AS BIGINT) AS recency_days,
       |    count(*) AS frequency,
       |    ${dsumSql("o_totalprice")} AS monetary
       |  FROM orders GROUP BY o_custkey
       |), n AS (SELECT count(*) AS nn FROM cust
       |), scored AS (
       |  SELECT
       |    ((row_number() OVER (ORDER BY -recency_days, o_custkey) - 1) * 5) // nn + 1 AS r_score,
       |    ((row_number() OVER (ORDER BY frequency, o_custkey) - 1) * 5) // nn + 1 AS f_score,
       |    ((row_number() OVER (ORDER BY monetary, o_custkey) - 1) * 5) // nn + 1 AS m_score,
       |    monetary
       |  FROM cust, n
       |)
       |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       |  CAST(m_score AS BIGINT) AS m_score, count(*) AS n_customers,
       |  ${dsumSql("monetary")} AS segment_value
       |FROM scored
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------------
  // q_benford — first-digit distribution check
  // ------------------------------------------------------------------

  /** Benford first-significant-digit profile of o_totalprice: digit
    * counts, observed share, and the Benford expectation
    * log10(1 + 1/d) — the classic data-quality / anomaly screen.
    * Row-local digit extraction (string of the absolute value,
    * first non-zero char), one partial-agged 9-row aggregate. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .filter($"o_totalprice" > 0.0)
      .withColumn("digit",
        expr("CAST(substring(regexp_replace(CAST(o_totalprice AS STRING), '[^1-9]', ''), 1, 1) AS BIGINT)"))
    val total = o.agg(count(lit(1)).as("n")).select($"n")
    o.groupBy($"digit").agg(count(lit(1)).as("n_values"))
      .crossJoin(broadcast(total))
      .select($"digit", $"n_values",
        rnd($"n_values".cast("double") / $"n".cast("double"), 6).as("observed"),
        rnd(expr("log10(1.0 + 1.0 / CAST(digit AS DOUBLE))"), 6).as("benford"))
      .orderBy($"digit")
  }

  val qBenfordSql: String =
    s"""WITH o AS (
       |  SELECT CAST(substring(regexp_replace(CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1) AS BIGINT) AS digit
       |  FROM orders WHERE o_totalprice > 0.0
       |), n AS (SELECT count(*) AS n FROM o)
       |SELECT digit, count(*) AS n_values,
       |  ${rndSql("CAST(count(*) AS DOUBLE) / CAST(any_value(n.n) AS DOUBLE)", 6)} AS observed,
       |  ${rndSql("log10(1.0 + 1.0 / CAST(digit AS DOUBLE))", 6)} AS benford
       |FROM o, n
       |GROUP BY digit
       |ORDER BY digit""".stripMargin

  // ------------------------------------------------------------------
  // q_attribution_linear — multi-touch credit assignment
  // ------------------------------------------------------------------

  /** Delta cutoff: events at/after this instant are "new since the
    * last MV build". */
  val mvCutoff = "2024-01-21 00:00:00"
  val mvTable = "graft_events_daily_mv"

  private def cutoffUs: Long =
    java.time.LocalDateTime.parse(mvCutoff.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  /** Events scanned with the time predicate applied to the PHYSICAL
    * column (raw ns long when the file stores TIMESTAMP(NANOS)), so
    * it pushes into the parquet scan and prunes row groups — the
    * µs-conversion in [[Tables.events]] would otherwise hide the
    * filter behind an expression. In a real deploy the same predicate
    * prunes date partitions. */
  private def eventsSlice(s: SparkSession, dir: String, since: Boolean): DataFrame = {
    import s.implicits._
    val raw = Parquet.read(s, s"$dir/events.parquet")
    val sliced =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
        val nsCut = cutoffUs * 1000L
        raw.filter(if (since) $"ts" >= nsCut else $"ts" < nsCut)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      } else {
        // NTZ or TIMESTAMP alike: cast the literal to the column's own
        // type so the comparison stays a pushable parquet predicate
        // (session tz is pinned UTC — the instant is identical).
        val cut = lit(mvCutoff).cast(raw.schema("ts").dataType)
        raw.filter(if (since) $"ts" >= cut else $"ts" < cut)
      }
    Tables.normalizeEventTs(sliced)
  }

  /** The MV's mergeable partial state per (event_type, day):
    * row count + exact quantized value sum (long, order-independent —
    * merging partials is associative/commutative by construction). */
  private def dailyPartial(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"event_type", to_date($"ts").as("day"), $"value")
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_events"),
        sum(quantize($"value", 4).cast("long")).as("sum_q"))
  }

  /** Builds the persisted MV over the base slice (ts < cutoff). Paid
    * once — the refresh never re-reads these rows. */
  def buildDailyMv(s: SparkSession, dir: String, table: String = mvTable): Unit =
    dailyPartial(eventsSlice(s, dir, since = false))
      .write.format("parquet").mode("overwrite").saveAsTable(table)

  /** §2.10 — incremental MV refresh: merge the persisted per-day
    * partial state with a re-aggregate of ONLY the delta (ts ≥
    * cutoff). Because the state is mergeable (count + exact quantized
    * sum), the merge is a plain union + groupBy — partial-aggregated,
    * touching O(|MV| + |delta keys|) rows — and the result is
    * bit-identical to a full recompute, which is exactly what the
    * DuckDB oracle does over all of events. The refresh scan's time
    * predicate reaches the parquet scan (plan-asserted in PlanSpec).
    */
  def qMvRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildDailyMv(s, dir)
    val deltaAgg = dailyPartial(eventsSlice(s, dir, since = true))
    s.table(mvTable).unionByName(deltaAgg)
      .groupBy($"event_type", $"day")
      .agg(sum($"n_events").as("n_events"), sum($"sum_q").as("sum_q"))
      .select($"event_type", $"day", $"n_events",
        ($"sum_q".cast("double") / lit(10000.0)).as("sum_value"))
      .orderBy($"event_type", $"day")
  }

  /** The delta-side plan alone (post-MV-build), exposed so PlanSpec
    * can assert the time predicate is pushed into the events scan. */
  private[graft] def mvDeltaPlan(s: SparkSession, dir: String): DataFrame =
    dailyPartial(eventsSlice(s, dir, since = true))

  val qMvRefreshSql: String =
    s"""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
       |  ${dsumSql("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_mv_retract — incremental view maintenance with DELETIONS
  // ------------------------------------------------------------------

  /** Deterministic retraction set: events with id ≡ 0 (mod this) are
    * deleted — the GDPR-erasure / bad-backfill stand-in. */
  val mvRetractMod = 37L

  /** The CDC changeset: the retracted rows WITH their before-images
    * (type, day, value) — how deletion streams actually arrive
    * (Debezium-style tombstones carry the old row; GDPR erasure jobs
    * emit the rows they remove). Staged once per dataset like every
    * derived artifact: the stage build pays the one base scan; the
    * refresh below reads only this changeset — at deployment the
    * changeset is simply the delete feed, and the base history is
    * never touched. */
  private def retractChangeset(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "mv_retract_changeset", dir) {
      import s.implicits._
      Tables.events(s, dir)
        .filter($"event_id" % mvRetractMod === 0L)
        .select($"event_id", $"event_type", to_date($"ts").as("day"), $"value")
    }

  /** §2.10 — the HARD half of incremental view maintenance:
    * retractions. `q_mv_refresh` handles inserts (union new partials,
    * re-aggregate); deletions arrive the same way but NEGATED —
    * count/sum are self-inverse deltas, so a deleted row's partial
    * with measures × (−1) unions into the identical merge, and cells
    * whose surviving count reaches zero are dropped (a recompute
    * would not emit them). One scan of the persisted MV + one scan of
    * the (pushed-filter) insert slice + one scan of the STAGED
    * changeset (delete feeds carry before-images — see
    * [[retractChangeset]]) — the base table's history is never
    * re-read by the refresh, at any scale. Oracle = full recompute
    * over surviving rows. */
  def qMvRetract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildDailyMv(s, dir)
    val inserts = dailyPartial(eventsSlice(s, dir, since = true))
    val deletes = retractChangeset(s, dir)
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_events"),
        sum(quantize($"value", 4).cast("long")).as("sum_q"))
      .select($"event_type", $"day",
        (-$"n_events").as("n_events"), (-$"sum_q").as("sum_q"))
    s.table(mvTable).unionByName(inserts).unionByName(deletes)
      .groupBy($"event_type", $"day")
      .agg(sum($"n_events").as("n_events"), sum($"sum_q").as("sum_q"))
      .filter($"n_events" > 0L)
      .select($"event_type", $"day", $"n_events",
        ($"sum_q".cast("double") / lit(10000.0)).as("sum_value"))
      .orderBy($"event_type", $"day")
  }

  val qMvRetractSql: String =
    s"""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
       |  ${dsumSql("value")} AS sum_value
       |FROM events
       |WHERE event_id % $mvRetractMod <> 0
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_markov — event-type transition matrix
  // ------------------------------------------------------------------

  /** First-order Markov transition matrix over each user's event
    * stream: for every (prev_type → next_type) pair of CONSECUTIVE
    * events (ordered by ts, event_id per user), the pair count and
    * the row-stochastic transition probability n(prev→next)/n(prev→*).
    *
    * Layout: ONE shuffle on user_id (the lag window), then the pair
    * counts are a partial-aggregated groupBy on the (prev, next) key —
    * the transition table is bounded by |types|², so the marginal
    * normalizer is a broadcast join, never a second big shuffle.
    * Probability is an IEEE double division of two exact longs,
    * half-up quantized at 1e-6 on both engines. */
  def qMarkov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(s, dir)
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val marg = pairs.groupBy($"prev_type")
      .agg(sum($"n_pairs").as("n_from"))
    pairs.join(broadcast(marg), "prev_type")
      .select($"prev_type", $"next_type", $"n_pairs",
        expr(rndSql("CAST(n_pairs AS DOUBLE) / CAST(n_from AS DOUBLE)", 6)).as("prob"))
      .orderBy($"prev_type", $"next_type")
  }

  val qMarkovSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |), p AS (
       |  SELECT prev_type, event_type AS next_type, count(*) AS n_pairs
       |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |), m AS (
       |  SELECT prev_type, CAST(sum(n_pairs) AS BIGINT) AS n_from FROM p GROUP BY 1
       |)
       |SELECT p.prev_type, p.next_type, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  ${rndSql("CAST(p.n_pairs AS DOUBLE) / CAST(m.n_from AS DOUBLE)", 6)} AS prob
       |FROM p JOIN m ON p.prev_type = m.prev_type
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_ewma — exponentially-weighted moving average, bit-stable
  // ------------------------------------------------------------------

  /** EWMA smoothing factor α = 0.3 → decay (1−α) = 7/10 exactly. */
  val ewmaK = 48
  val ewmaBucketUs: Long = 3600000000L // 1 h

  /** Integer weight table wq(k) = round((7/10)^k · 1e9), k = 0..K,
    * computed EXACTLY (BigDecimal rational arithmetic) once on the
    * driver and embedded as the same literal table in the Spark plan
    * and the oracle SQL. No runtime `pow()` anywhere — cross-engine
    * pow ULP divergence is structurally impossible, which is what
    * makes a float-smoothing query hash-exact. */
  val ewmaWeights: Array[Long] = {
    val q = BigDecimal(10).pow(9)
    (0 to ewmaK).map { k =>
      (BigDecimal(7).pow(k) * q / BigDecimal(10).pow(k))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toArray
  }

  /** §2.10 — trailing exponentially-weighted hourly average per event
    * type: each hourly bucket's EWMA over the trailing [[ewmaK]]
    * OBSERVED buckets, weight (1−α)^Δhours (gaps decay by wall-clock
    * distance, the time-aware EWMA convention).
    *
    * Scale shape: the raw stream reduces FIRST to the clock-bounded
    * bucket grid (partial-aggregated groupBy — grid size is
    * time-range/1h × #types, independent of row count); the trailing
    * window is then a bounded band self-join ON THE GRID (fan-out ≤
    * K+1 per bucket) — never a window over raw events. Arithmetic:
    * bucket means quantize at 1e-6 to longs, weighted terms multiply
    * in DECIMAL (exact), the num/den sums are order-free, and the
    * final ratio is one IEEE double division — identical at any
    * parallelism and on both engines. */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = ewmaBucketUs
    val obs = Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .groupBy($"event_type", expr(s"us div ${b}L").as("t"))
      .agg(davg($"value").as("x"))
      .withColumn("xq", quantize($"x", 6).cast("long"))
    val wlit = ewmaWeights.mkString("array(", "L, ", "L)")
    obs.as("i").join(obs.as("j"),
        $"i.event_type" === $"j.event_type" &&
        $"j.t" <= $"i.t" && $"j.t" >= $"i.t" - lit(ewmaK.toLong))
      .select($"i.event_type".as("event_type"), $"i.t".as("t"), $"i.x".as("x"),
        expr(s"element_at($wlit, CAST(i.t - j.t AS INT) + 1)").as("wq"),
        $"j.xq".as("xj"))
      .groupBy($"event_type", $"t", $"x")
      .agg(
        expr("sum(CAST(wq AS DECIMAL(20,0)) * CAST(xj AS DECIMAL(20,0)))").as("num"),
        expr("sum(CAST(wq AS DECIMAL(20,0)))").as("den"))
      .select($"event_type", timestamp_micros($"t" * b).as("bucket_ts"),
        expr(rndSql("x", 4)).as("x_avg"),
        expr(rndSql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0", 4)).as("ewma"))
      .orderBy($"event_type", $"bucket_ts")
  }

  val qEwmaSql: String = {
    val b = ewmaBucketUs
    val wlist = ewmaWeights.mkString("[", ", ", "]")
    s"""WITH obs AS (
       |  SELECT event_type, epoch_us(ts) // $b AS t, ${davgSql("value")} AS x
       |  FROM events GROUP BY 1, 2
       |), q AS (
       |  SELECT event_type, t, x,
       |    CAST(floor(x * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xq
       |  FROM obs
       |), j AS (
       |  SELECT i.event_type, i.t, i.x,
       |    sum(CAST(list_extract($wlist, CAST(i.t - j.t AS INT) + 1) AS HUGEINT) * j.xq) AS num,
       |    sum(CAST(list_extract($wlist, CAST(i.t - j.t AS INT) + 1) AS HUGEINT)) AS den
       |  FROM q i JOIN q j ON j.event_type = i.event_type
       |    AND j.t <= i.t AND j.t >= i.t - $ewmaK
       |  GROUP BY 1, 2, 3
       |)
       |SELECT event_type, make_timestamp(t * $b) AS bucket_ts,
       |  ${rndSql("x", 4)} AS x_avg,
       |  ${rndSql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0", 4)} AS ewma
       |FROM j
       |ORDER BY event_type, bucket_ts""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_abtest — two-sample Welch's t from exact co-moments
  // ------------------------------------------------------------------

  /** Hour-of-day seasonality per event type: count, exact value sum
    * and within-type share for each (type, hour-of-day) cell — the
    * diurnal-profile rollup every event pipeline publishes. Pure
    * partial-aggregated groupBy on a 24×|types|-bounded key space;
    * the share normalizer is a broadcast join of the |types|-row
    * marginal. hour() runs on the µs-floored timestamp, identical in
    * both engines. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, dir)
      .groupBy($"event_type", hour($"ts").as("hod"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
    val marg = cells.groupBy($"event_type").agg(sum($"n_events").as("n_type"))
    cells.join(broadcast(marg), "event_type")
      .select($"event_type", $"hod", $"n_events", $"sum_value",
        expr(rndSql("CAST(n_events AS DOUBLE) / CAST(n_type AS DOUBLE)", 6)).as("share"))
      .orderBy($"event_type", $"hod")
  }

  val qSeasonalitySql: String =
    s"""WITH cells AS (
       |  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
       |    count(*) AS n_events, ${dsumSql("value")} AS sum_value
       |  FROM events GROUP BY 1, 2
       |), marg AS (
       |  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_type
       |  FROM cells GROUP BY 1
       |)
       |SELECT c.event_type, c.hod, CAST(c.n_events AS BIGINT) AS n_events,
       |  c.sum_value,
       |  ${rndSql("CAST(c.n_events AS DOUBLE) / CAST(m.n_type AS DOUBLE)", 6)} AS share
       |FROM cells c JOIN marg m ON c.event_type = m.event_type
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_lag_features — per-entity lag/rolling feature extraction
  // ------------------------------------------------------------------

  /** ML feature extraction at label rows: for every PURCHASE event,
    * its user's previous two event values, the gap to the previous
    * event, and the rolling mean of the last three values — the
    * windowed feature pass a training-data build runs before writing
    * feature parquet. ONE shuffle on user_id; all four features come
    * from the same window sort (Catalyst plans one exchange + sort);
    * the label filter applies AFTER the windows (features see the
    * full history but only purchase rows are emitted). The rolling
    * mean sums 1e-4-quantized longs over the ROWS frame — exact and
    * order-free — and divides by the frame count at the edge. */
  def qLagFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w3 = w.rowsBetween(-2, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("vq", quantize($"value", 4).cast("long"))
      .withColumn("lag1", lag($"value", 1).over(w))
      .withColumn("lag2", lag($"value", 2).over(w))
      .withColumn("gap_us", $"us" - lag($"us", 1).over(w))
      .withColumn("r3",
        sum($"vq").over(w3).cast("double") / lit(10000.0) / count(lit(1)).over(w3).cast("double"))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"value",
        expr(rndSql("lag1", 6)).as("lag1"),
        expr(rndSql("lag2", 6)).as("lag2"),
        $"gap_us",
        expr(rndSql("r3", 6)).as("r3"))
      .orderBy($"user_id", $"event_id")
  }

  val qLagFeaturesSql: String =
    s"""WITH f AS (
       |  SELECT user_id, event_id, event_type, value,
       |    epoch_us(ts) AS us,
       |    CAST(floor(value * 10000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq,
       |    lag(value, 1) OVER w AS lag1,
       |    lag(value, 2) OVER w AS lag2,
       |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
       |    CAST(sum(CAST(floor(value * 10000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT))
       |         OVER w3 AS DOUBLE) / 10000.0 /
       |      CAST(count(*) OVER w3 AS DOUBLE) AS r3
       |  FROM events
       |  WINDOW
       |    w AS (PARTITION BY user_id ORDER BY ts, event_id),
       |    w3 AS (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, event_id, value,
       |  ${rndSql("lag1", 6)} AS lag1, ${rndSql("lag2", 6)} AS lag2,
       |  gap_us, ${rndSql("r3", 6)} AS r3
       |FROM f
       |WHERE event_type = 'purchase'
       |ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------------------

  /** Lateness histogram bucket edges (µs): in-order, <1 s, <10 s,
    * <60 s, ≥60 s late. */
  private val latenessEdgesUs = Seq(1000000L, 10000000L, 60000000L)

  /** §2.10 — event-time disorder audit: how late does data arrive,
    * per stream? THE question a streaming deploy answers before
    * choosing its watermark delay (too short drops the late tail,
    * too long bloats state — the stream_* operators' watermarks all
    * encode an answer; this measures it). Arrival order is the
    * ingest sequence (event_id); an event's lateness is how far the
    * per-user event-time high-water-mark had already passed it at
    * arrival: lateness = max(us) over prior arrivals − us, floored
    * at 0 for in-order events. Per-user running max is one window
    * over the user's arrival sequence (bounded per-user state — the
    * same per-key shape the streams keep); the bucketed rollup is a
    * partial-agged groupBy on |types|×5 keys. All integer µs
    * arithmetic — hash-exact cross-engine. */
  def qLateness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val edges = latenessEdgesUs
    val bucketCol = when($"late_us" === 0L, "0_in_order")
      .when($"late_us" < edges(0), "1_lt_1s")
      .when($"late_us" < edges(1), "2_lt_10s")
      .when($"late_us" < edges(2), "3_lt_60s")
      .otherwise("4_ge_60s")
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("late_us",
        greatest(coalesce(max($"us").over(w) - $"us", lit(0L)), lit(0L)))
      .withColumn("bucket", bucketCol)
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n_events"), max($"late_us").as("max_late_us"))
      .orderBy($"event_type", $"bucket")
  }

  val qLatenessSql: String = {
    val e = latenessEdgesUs
    s"""WITH l AS (
       |  SELECT event_type,
       |    greatest(coalesce(
       |      max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - epoch_us(ts),
       |      0), 0) AS late_us
       |  FROM events)
       |SELECT event_type,
       |  CASE WHEN late_us = 0 THEN '0_in_order'
       |       WHEN late_us < ${e(0)} THEN '1_lt_1s'
       |       WHEN late_us < ${e(1)} THEN '2_lt_10s'
       |       WHEN late_us < ${e(2)} THEN '3_lt_60s'
       |       ELSE '4_ge_60s' END AS bucket,
       |  count(*) AS n_events, max(late_us) AS max_late_us
       |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_top_paths — most common session navigation paths
  // ------------------------------------------------------------------

  /** Events per session that contribute to the path string. */
  private[operators] val pathMaxEvents = 8
  /** Paths reported. */
  private[operators] val pathTopK = 25
  /** Session gap, µs — same 30 min as the sessionize family. */
  private val pathGapUs = 1800L * 1000000L

  /** §2.10 — navigation-path mining: the [[pathTopK]] most common
    * per-session event-type sequences (first [[pathMaxEvents]] events
    * of each 30-min-gap session). The funnel question asked
    * open-endedly — "what do users actually do" instead of "did they
    * do these three steps".
    *
    * Scale shape: session assignment is the standard per-user running
    * sum (one hash exchange on user_id); the within-session rank
    * re-partitions on (user, session) and CAPS each session at
    * [[pathMaxEvents]] rows BEFORE the collect, so per-group state in
    * the path aggregate is ≤8 small structs regardless of session
    * length — a degenerate million-event session (bot traffic)
    * contributes 8 rows, not a million. Path counting is a plain
    * partial-agged groupBy on the path string, and the final top-k is
    * TakeOrdered, never a global sort. */
  def qTopPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wSess = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts", $"event_id")
    val paths = Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("new_sess",
        when(lag($"us", 1).over(wOrd).isNull, 1L)
          .when($"us" - lag($"us", 1).over(wOrd) > pathGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"new_sess").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wSess))
      .filter($"rn" <= pathMaxEvents)
      .groupBy($"user_id", $"session_id")
      .agg(sort_array(collect_list(struct($"rn", $"event_type"))).as("steps"))
      .select(concat_ws(">", expr("transform(steps, x -> x.event_type)")).as("path"))
    paths.groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(pathTopK)
  }

  val qTopPathsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $pathGapUs
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
       |  FROM e),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn
       |  FROM s),
       |p AS (
       |  SELECT user_id, session_id,
       |    string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM r WHERE rn <= $pathMaxEvents GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path
       |LIMIT $pathTopK""".stripMargin

  // ------------------------------------------------------------------
  // q_autocorr — lag-k autocorrelation of the daily event-count series
  // ------------------------------------------------------------------

  /** Lags (days) profiled by [[qAutocorr]]. */
  private[operators] val autocorrLags = Seq(1, 2, 3, 7)

  /** §2.10 — autocorrelation profile: Pearson r between each event
    * type's daily-count series and its k-day-shifted self, for
    * k ∈ [[autocorrLags]] — the periodicity detector (a strong k=7
    * lag = weekly cycle) a forecasting pipeline runs before model
    * choice.
    *
    * Exactness: counts are integers, so every co-moment (Σx, Σy, Σxy,
    * Σx², Σy², n) is an exact LONG sum — commutative, partitioning-
    * independent; float enters only in the final r division, then
    * quantized. Join-based lag (day = day + k) instead of a
    * row-offset window: calendar gaps can't silently misalign the
    * series, and the daily aggregate it self-joins on is tiny
    * (|types| × |days|) after the partial-agged reduction of the raw
    * stream — the join is never on raw events. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val shifted = daily
      .crossJoin(broadcast(autocorrLags.toDF("lag_d")))
      .select($"event_type", expr("date_add(day, lag_d)").as("day"),
        $"lag_d", $"cnt".as("prev_cnt"))
    daily.join(shifted, Seq("event_type", "day"))
      .groupBy($"event_type", $"lag_d")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum($"cnt").as("sx"), sum($"prev_cnt").as("sy"),
        sum($"cnt" * $"prev_cnt").as("sxy"),
        sum($"cnt" * $"cnt").as("sxx"), sum($"prev_cnt" * $"prev_cnt").as("syy"))
      .select($"event_type", $"lag_d", $"n_pairs",
        expr(rndSql(
          """(CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            | (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            |  sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin.replaceAll("\n", ""), 6)).as("autocorr"))
      .orderBy($"event_type", $"lag_d")
  }

  val qAutocorrSql: String = {
    val lagsValues = autocorrLags.map(k => s"($k)").mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |lags(lag_d) AS (VALUES $lagsValues),
       |j AS (
       |  SELECT a.event_type, l.lag_d, a.cnt AS x, b.cnt AS y
       |  FROM daily a
       |  JOIN lags l ON TRUE
       |  JOIN daily b ON a.event_type = b.event_type
       |    AND a.day = b.day + l.lag_d * INTERVAL 1 DAY),
       |m AS (
       |  SELECT event_type, lag_d, count(*) AS n_pairs,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM j GROUP BY 1, 2)
       |SELECT event_type, lag_d, n_pairs,
       |  ${rndSql("(CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)} AS autocorr
       |FROM m ORDER BY event_type, lag_d""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_cusum — change-point detection over daily event volume
  // ------------------------------------------------------------------

  /** §2.10 — one-sided CUSUM change-point detector over per-type
    * daily event counts: S_t = max(0, S_{t−1} + (x_t − μ − 0.5σ)),
    * alarm when S_t > 4σ — the classic sequential drift detector that
    * fires on a SUSTAINED upward shift long before any single day
    * looks anomalous (the complement of stream_anomaly's point
    * z-score). The recursion is inherently sequential per key, so it
    * runs as a row-local `aggregate` fold over each type's collected
    * day series — bounded by the calendar (#days per key), NOT the
    * corpus; the heavy work (daily counts, exact moment sums) is
    * partial-agged corpus-side. μ and σ derive from exact integer
    * Σx/Σx² so the fold input is bit-identical at any parallelism,
    * the fold itself replays the oracle's recursion operation for
    * operation, and the alarm compares 1e-6-quantized integers so an
    * engine ulp cannot flip a flag. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
      .withColumn("mu", $"sx".cast("double") / $"n".cast("double"))
      .withColumn("sig", sqrt($"sxx".cast("double") / $"n".cast("double") - $"mu" * $"mu"))
      .select($"event_type", $"mu", $"sig")
    val series = daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"x"))).as("ds"))
    series.join(stats, "event_type")
      .withColumn("walk", expr(
        """aggregate(ds,
          |  named_struct('s', CAST(0 AS DOUBLE),
          |    'out', CAST(array() AS array<struct<day:date,x:bigint,s:double>>)),
          |  (acc, d) -> named_struct(
          |    's', greatest(CAST(0 AS DOUBLE), acc.s + (CAST(d.x AS DOUBLE) - mu - 0.5 * sig)),
          |    'out', concat(acc.out, array(named_struct('day', d.day, 'x', d.x,
          |      's', greatest(CAST(0 AS DOUBLE), acc.s + (CAST(d.x AS DOUBLE) - mu - 0.5 * sig)))))),
          |  acc -> acc.out)""".stripMargin))
      .select($"event_type", $"sig", explode($"walk").as("w"))
      .select($"event_type", $"w.day".as("day"), $"w.x".as("n_events"),
        rnd($"w.s", 6).as("cusum"),
        (expr("CAST(floor(w.s * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)") >
          expr("CAST(floor(4.0 * sig * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)")).as("flagged"))
      .orderBy($"event_type", $"day")
  }

  val qCusumSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM daily GROUP BY 1),
       |p1 AS (
       |  SELECT event_type, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu, n, sxx
       |  FROM m),
       |p AS (
       |  SELECT event_type, mu,
       |    sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu) AS sig
       |  FROM p1),
       |idx AS (
       |  SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |walk(event_type, rn, day, x, s) AS (
       |  SELECT i.event_type, i.rn, i.day, i.x,
       |    greatest(CAST(0 AS DOUBLE),
       |      CAST(0 AS DOUBLE) + (CAST(i.x AS DOUBLE) - p.mu - 0.5 * p.sig))
       |  FROM idx i JOIN p ON p.event_type = i.event_type WHERE i.rn = 1
       |  UNION ALL
       |  SELECT i.event_type, i.rn, i.day, i.x,
       |    greatest(CAST(0 AS DOUBLE),
       |      w.s + (CAST(i.x AS DOUBLE) - p.mu - 0.5 * p.sig))
       |  FROM walk w
       |  JOIN idx i ON i.event_type = w.event_type AND i.rn = w.rn + 1
       |  JOIN p ON p.event_type = i.event_type)
       |SELECT w.event_type, w.day, w.x AS n_events,
       |  ${rndSql("w.s", 6)} AS cusum,
       |  CAST(floor(w.s * 1000000.0 + 0.5) AS BIGINT) >
       |    CAST(floor(4.0 * p.sig * 1000000.0 + 0.5) AS BIGINT) AS flagged
       |FROM walk w JOIN p USING (event_type)
       |ORDER BY event_type, day""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_segment_overlap — exact pairwise audience overlap between
  // event-type segments
  // ------------------------------------------------------------------

  /** §2.10 — exact audience overlap for every ordered pair of
    * event-type segments: |A∩B|, |A|, |B| and the Jaccard overlap
    * index. The segmentation question every activation/retention
    * analysis starts with — and the exact counterpart of the sketch
    * overlaps (`corpus_cms`, `q_approx_distinct`) elsewhere in the
    * suite.
    *
    * Scale layout: NEVER the (user,type)⋈(user,type) self-join on
    * user_id — that shuffles the distinct-pairs table twice and
    * explodes skewed users quadratically in the reducer. Instead one
    * groupBy(user) with a map-side-combined `collect_set(type)` (set
    * size bounded by |event types|, ~5, NOT by a user's event count —
    * the partial aggregate dedupes map-side), then each user's sorted
    * type-set expands row-locally to its C(k,2) ordered pairs, and a
    * pair-count partial agg reduces to a |types|²-sized result. Per-
    * segment sizes fall out of the same sets; the final join of pair
    * counts to sizes is broadcast (|types| rows). One real shuffle
    * end to end. */
  def qSegmentOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(sort_array(collect_set($"event_type")).as("ts"))
    val pairs = sets
      .select(explode(expr(
        """flatten(transform(ts,
          |  (a, i) -> transform(slice(ts, i + 2, size(ts)),
          |    b -> struct(a AS ta, b AS tb))))""".stripMargin)).as("p"))
      .groupBy($"p.ta".as("seg_a"), $"p.tb".as("seg_b"))
      .agg(count(lit(1)).as("n_both"))
    val sizes = sets.select(explode($"ts").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select($"t".as("seg_a"), $"n".as("n_a"))), "seg_a")
      .join(broadcast(sizes.select($"t".as("seg_b"), $"n".as("n_b"))), "seg_b")
      .select($"seg_a", $"seg_b", $"n_both", $"n_a", $"n_b",
        rnd($"n_both".cast("double") / ($"n_a" + $"n_b" - $"n_both").cast("double"), 6).as("jaccard"))
      .orderBy($"seg_a", $"seg_b")
  }

  val qSegmentOverlapSql: String =
    s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |p AS (
       |  SELECT a.event_type AS seg_a, b.event_type AS seg_b, count(*) AS n_both
       |  FROM ut a JOIN ut b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2),
       |sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
       |SELECT seg_a, seg_b, n_both, sa.n AS n_a, sb.n AS n_b,
       |  ${rndSql("CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE)", 6)} AS jaccard
       |FROM p
       |JOIN sz sa ON seg_a = sa.event_type
       |JOIN sz sb ON seg_b = sb.event_type
       |ORDER BY seg_a, seg_b""".stripMargin

  // ------------------------------------------------------------------
  // q_holt_forecast — Holt linear-trend smoothing over daily volume
  // ------------------------------------------------------------------

  /** §2.10 — Holt's linear-trend exponential smoothing (double
    * exponential smoothing) over per-type daily event counts:
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}),
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1},  α=0.5, β=0.3,
    * init l_1 = x_1, b_1 = 0. Emits per day the smoothed level, the
    * trend, and the one-step-ahead forecast l_{t−1}+b_{t−1} the day
    * opened with (NULL on day 1) — the capacity-planning companion to
    * `q_ewma` (level only) and `q_cusum` (alarms only): this one
    * extrapolates.
    *
    * Same scale contract as `q_cusum`: the recursion is inherently
    * sequential per key, so it folds row-locally over each type's
    * collected day series — bounded by the CALENDAR, not the corpus;
    * daily counts partial-aggregate corpus-side. Every constant is
    * written `CAST(0.5 AS DOUBLE)` in BOTH engines (a bare `0.5`
    * parses as DECIMAL in each and would change the arithmetic), the
    * fold replays the oracle's recursion operation for operation with
    * identical parenthesization, and outputs are 1e-6 half-up
    * quantized. */
  def qHoltForecast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("x"))
    val series = daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"x"))).as("ds"))
    series
      .withColumn("walk", expr(
        """aggregate(ds,
          |  named_struct('started', false, 'l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
          |    'out', CAST(array() AS array<struct<day:date,x:bigint,l:double,b:double,f:double>>)),
          |  (acc, d) -> CASE WHEN NOT acc.started THEN named_struct(
          |      'started', true, 'l', CAST(d.x AS DOUBLE), 'b', CAST(0 AS DOUBLE),
          |      'out', concat(acc.out, array(named_struct('day', d.day, 'x', d.x,
          |        'l', CAST(d.x AS DOUBLE), 'b', CAST(0 AS DOUBLE), 'f', CAST(NULL AS DOUBLE)))))
          |    ELSE named_struct(
          |      'started', true,
          |      'l', CAST(0.5 AS DOUBLE) * CAST(d.x AS DOUBLE) + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
          |      'b', CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(d.x AS DOUBLE) + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l) + CAST(0.7 AS DOUBLE) * acc.b,
          |      'out', concat(acc.out, array(named_struct('day', d.day, 'x', d.x,
          |        'l', CAST(0.5 AS DOUBLE) * CAST(d.x AS DOUBLE) + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
          |        'b', CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(d.x AS DOUBLE) + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l) + CAST(0.7 AS DOUBLE) * acc.b,
          |        'f', acc.l + acc.b)))) END,
          |  acc -> acc.out)""".stripMargin))
      .select($"event_type", explode($"walk").as("w"))
      .select($"event_type", $"w.day".as("day"), $"w.x".as("n_events"),
        rnd($"w.l", 6).as("level"), rnd($"w.b", 6).as("trend"),
        rnd($"w.f", 6).as("forecast"))
      .orderBy($"event_type", $"day")
  }

  val qHoltForecastSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |walk(event_type, rn, day, x, l, b, f) AS (
       |  SELECT i.event_type, i.rn, i.day, i.x,
       |    CAST(i.x AS DOUBLE), CAST(0 AS DOUBLE), CAST(NULL AS DOUBLE)
       |  FROM idx i WHERE i.rn = 1
       |  UNION ALL
       |  SELECT i.event_type, i.rn, i.day, i.x,
       |    CAST(0.5 AS DOUBLE) * CAST(i.x AS DOUBLE) + CAST(0.5 AS DOUBLE) * (w.l + w.b),
       |    CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(i.x AS DOUBLE) + CAST(0.5 AS DOUBLE) * (w.l + w.b)) - w.l) + CAST(0.7 AS DOUBLE) * w.b,
       |    w.l + w.b
       |  FROM walk w JOIN idx i ON i.event_type = w.event_type AND i.rn = w.rn + 1)
       |SELECT event_type, day, x AS n_events,
       |  ${rndSql("l", 6)} AS level, ${rndSql("b", 6)} AS trend,
       |  ${rndSql("f", 6)} AS forecast
       |FROM walk ORDER BY event_type, day""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_dau_new_returning — daily actives split into new vs returning
  // ------------------------------------------------------------------

  /** §2.10 — daily active users split into new (first-ever-seen that
    * day) vs returning — the growth-accounting counterpart of
    * `q_retention`'s cohort grid. Exact distinct via dedup-then-count
    * (the two-phase layout `q_retention` documents — never a
    * count(distinct) holding a day's user set in one reducer): one
    * (day,user) dedup shuffle, a user-keyed first-touch partial agg,
    * one user-keyed join, and a day-sized final aggregate. */
  def qDauNewReturning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val first = du.groupBy($"user_id").agg(min($"day").as("first_day"))
    du.join(first, "user_id")
      .groupBy($"day")
      .agg(count(lit(1)).as("dau"),
        sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("new_users"))
      .withColumn("returning", $"dau" - $"new_users")
      .orderBy($"day")
  }

  val qDauNewReturningSql: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY 1)
       |SELECT day, count(*) AS dau,
       |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       |  count(*) - CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning
       |FROM du JOIN f USING (user_id)
       |GROUP BY day ORDER BY day""".stripMargin

  /** §2.10 — additive seasonal decomposition of daily revenue (the
    * STL-lite every metrics dashboard wants): trend = centered 7-day
    * moving average (NULL at the 3-day edges, where a centered
    * window is undefined), seasonal = day-of-week mean of the
    * detrended series, residual = the rest. The series is the
    * CALENDAR-sized daily aggregate, so the single unpartitioned
    * window runs on a ~30-row frame; every averaged quantity is
    * 1e-6-quantized and integer-summed first (window sums and
    * day-of-week means alike), so both engines produce identical
    * doubles regardless of their window-aggregation internals
    * (DuckDB's segment tree vs Spark's sliding buffer would
    * otherwise disagree in the last ulp). Day-of-week keys by
    * epoch-day mod 7 — pure arithmetic, immune to the engines'
    * dayofweek numbering mismatch. */
  def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("day"))
      .agg(dsum($"value").as("rev"))
      .withColumn("rev_q", expr("CAST(floor(rev * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .withColumn("dow", expr("unix_date(day) % 7"))
    val w = Window.orderBy($"day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("trend", when($"n_win" === 7,
        sum($"rev_q").over(w).cast("double") / lit(7.0) / lit(1000000.0)))
      .withColumn("dq", when($"trend".isNotNull,
        expr("CAST(floor((rev - trend) * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)")))
      .localCheckpoint(true)
    val seasonal = trended.filter($"dq".isNotNull)
      .groupBy($"dow")
      .agg((sum($"dq").cast("double") / count(lit(1)).cast("double") /
        lit(1000000.0)).as("seasonal"))
    trended.join(broadcast(seasonal), "dow")
      .select($"day",
        expr(rndSql("rev", 6)).as("rev"),
        expr(rndSql("trend", 6)).as("trend"),
        expr(rndSql("seasonal", 6)).as("seasonal"),
        expr(rndSql("rev - trend - seasonal", 6)).as("residual"))
      .orderBy($"day")
  }

  val qSeasonalDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, ${dsumSql("value")} AS rev
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY 1),
       |q AS (
       |  SELECT day, rev,
       |    CAST(floor(rev * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rev_q,
       |    (day - DATE '1970-01-01') % 7 AS dow
       |  FROM daily),
       |tr AS (
       |  SELECT day, rev, dow,
       |    CASE WHEN count(*) OVER w = 7
       |      THEN CAST(sum(rev_q) OVER w AS DOUBLE) / 7.0 / 1000000.0 END AS trend
       |  FROM q
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |dt AS (
       |  SELECT *, CASE WHEN trend IS NOT NULL
       |    THEN CAST(floor((rev - trend) * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)
       |  END AS dq FROM tr),
       |se AS (
       |  SELECT dow, CAST(sum(dq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS seasonal
       |  FROM dt WHERE dq IS NOT NULL GROUP BY 1)
       |SELECT day,
       |  ${rndSql("rev", 6)} AS rev,
       |  ${rndSql("trend", 6)} AS trend,
       |  ${rndSql("seasonal", 6)} AS seasonal,
       |  ${rndSql("rev - trend - seasonal", 6)} AS residual
       |FROM dt JOIN se USING (dow)
       |ORDER BY day""".stripMargin

  /** §2.10 — Theil–Sen robust trend of daily purchase revenue: the
    * median of all pairwise day-to-day slopes — up to ~29% of the
    * daily points can be corrupted (a logging outage, a bot flood)
    * without moving the estimate, where the OLS slope (24r) follows
    * any single wild day. The pair explode runs over the
    * CALENDAR-SIZED daily aggregate (30 days → 435 pairs — bounded
    * by the time span, not the corpus), so the O(k²) inherent to
    * Theil–Sen never touches event-scale data; the median is an
    * exact interpolated percentile over that bounded set. */
  def qTheilsenTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("day"))
      .agg(dsum($"value").as("rev"))
      .select(expr("unix_date(day)").cast("double").as("d"), $"rev")
      .localCheckpoint(true)
    val slopes = daily.as("a").crossJoin(daily.as("b"))
      .filter($"a.d" < $"b.d")
      .select((($"b.rev" - $"a.rev") / ($"b.d" - $"a.d")).as("slope"))
    slopes.agg(
      count(lit(1)).as("n_pairs"),
      expr(rndSql("percentile(slope, CAST(0.5 AS DOUBLE))", 6)).as("slope_per_day"))
  }

  val qTheilsenTrendSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) AS d,
       |    ${dsumSql("value")} AS rev
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY CAST(ts AS DATE)),
       |slopes AS (
       |  SELECT (b.rev - a.rev) / (b.d - a.d) AS slope
       |  FROM daily a JOIN daily b ON a.d < b.d)
       |SELECT count(*) AS n_pairs,
       |  ${rndSql("quantile_cont(slope, CAST(0.5 AS DOUBLE))", 6)} AS slope_per_day
       |FROM slopes""".stripMargin

  /** §2.10 — weekly growth accounting: every active user classified
    * NEW (first week ever), RETAINED (also active previous week),
    * RESURRECTED (active before, absent previous week) — plus the
    * CHURNED count (active previous week, absent this one), the
    * four-way ledger behind every "is growth real" review (net
    * growth = new + resurrected − churned). One (week, user)
    * distinct pass; previous-week membership and first-touch both
    * ride user-keyed operations on that deduped frame (a self-join
    * shifted one week and a first-touch min — never an event-sized
    * window); the final rollup is week-sized. */
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wu = Tables.events(s, dir)
      .select(date_trunc("week", $"ts").cast("date").as("week"), $"user_id")
      .distinct()
      .localCheckpoint(true)
    val first = wu.groupBy($"user_id").agg(min($"week").as("first_week"))
    val prev = wu.select(expr("date_add(week, 7)").as("week"),
      $"user_id", lit(1L).as("was_prev"))
    val cur = wu.join(first, "user_id")
      .join(prev, Seq("week", "user_id"), "left")
      .groupBy($"week")
      .agg(
        countIf($"week" === $"first_week").as("new_users"),
        countIf($"week" =!= $"first_week" && $"was_prev".isNotNull).as("retained"),
        countIf($"week" =!= $"first_week" && $"was_prev".isNull).as("resurrected"))
    val churned = wu.select(expr("date_add(week, 7)").as("week"), $"user_id")
      .join(wu.select($"week", $"user_id", lit(1L).as("still")),
        Seq("week", "user_id"), "left")
      .groupBy($"week")
      .agg(countIf($"still".isNull).as("churned"))
    cur.join(churned, Seq("week"), "left")
      .select($"week", $"new_users", $"retained", $"resurrected",
        coalesce($"churned", lit(0L)).as("churned"))
      .orderBy($"week")
  }

  val qGrowthAccountingSql: String =
    s"""WITH wu AS (
       |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
       |  FROM events),
       |f AS (SELECT user_id, min(week) AS first_week FROM wu GROUP BY 1),
       |cur AS (
       |  SELECT w.week,
       |    ${countIfSql("w.week = f.first_week")} AS new_users,
       |    ${countIfSql("w.week <> f.first_week AND p.user_id IS NOT NULL")} AS retained,
       |    ${countIfSql("w.week <> f.first_week AND p.user_id IS NULL")} AS resurrected
       |  FROM wu w
       |  JOIN f ON w.user_id = f.user_id
       |  LEFT JOIN wu p ON p.user_id = w.user_id AND p.week + 7 = w.week
       |  GROUP BY 1),
       |ch AS (
       |  SELECT w.week + 7 AS week, ${countIfSql("n.user_id IS NULL")} AS churned
       |  FROM wu w LEFT JOIN wu n ON n.user_id = w.user_id AND n.week = w.week + 7
       |  GROUP BY 1)
       |SELECT cur.week, new_users, retained, resurrected,
       |  COALESCE(ch.churned, 0) AS churned
       |FROM cur LEFT JOIN ch ON cur.week = ch.week
       |ORDER BY cur.week""".stripMargin

  /** Conversion deadline for [[qFunnelBoxed]] (µs): later steps only
    * count within this horizon of the user's FIRST view. */
  val funnelBoxUs: Long = 7L * 86400L * 1000000L

  /** §2.10 — TIME-BOXED funnel, the product-analytics default (47's
    * unbounded chain answers "ever converted"; real dashboards ask
    * "converted within 7 days of first touch"): view → click →
    * purchase in order, with click AND purchase required inside
    * [[funnelBoxUs]] of the first view. Identical single user-keyed
    * window pass as 47 — the deadline is one more row-local
    * conjunct on each step predicate, zero extra shuffles — which is
    * the point: a semantic family (any step list × any horizon)
    * served by one plan shape. */
  def qFunnelBoxed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("t1", min(when($"event_type" === "view", $"us")).over(w))
      .withColumn("q2", when($"event_type" === "click" && $"us" > $"t1" &&
        $"us" <= $"t1" + lit(funnelBoxUs), $"us"))
      .withColumn("t2", min($"q2").over(w))
      .withColumn("q3", when($"event_type" === "purchase" && $"us" > $"t2" &&
        $"us" <= $"t1" + lit(funnelBoxUs), $"us"))
    staged.groupBy($"user_id")
      .agg(
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("s1"),
        max(when($"q2".isNotNull, 1L).otherwise(0L)).as("s2"),
        max(when($"q3".isNotNull, 1L).otherwise(0L)).as("s3"))
      .agg(
        count(lit(1)).as("users_total"),
        // coalesce: an empty corpus sums to NULL where the oracle's
        // scalar counts say 0
        coalesce(sum($"s1"), lit(0L)).as("users_view"),
        coalesce(sum($"s2"), lit(0L)).as("users_click"),
        coalesce(sum($"s3"), lit(0L)).as("users_purchase"))
  }

  val qFunnelBoxedSql: String =
    s"""WITH f AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1
       |  FROM events GROUP BY user_id
       |), c AS (
       |  SELECT f.user_id, f.t1, min(epoch_us(e.ts)) AS t2
       |  FROM events e JOIN f ON e.user_id = f.user_id
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > f.t1
       |    AND epoch_us(e.ts) <= f.t1 + $funnelBoxUs
       |  GROUP BY f.user_id, f.t1
       |), p AS (
       |  SELECT c.user_id, min(epoch_us(e.ts)) AS t3
       |  FROM events e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
       |    AND epoch_us(e.ts) <= c.t1 + $funnelBoxUs
       |  GROUP BY c.user_id
       |)
       |SELECT
       |  (SELECT count(DISTINCT user_id) FROM events) AS users_total,
       |  (SELECT count(*) FROM f WHERE t1 IS NOT NULL) AS users_view,
       |  (SELECT count(*) FROM c) AS users_click,
       |  (SELECT count(*) FROM p) AS users_purchase""".stripMargin

  /** Rolling window length (days) for [[qRollingActiveUsers]]. */
  val rollingWindowDays = 7

  /** §2.10 — rolling 7-day active users (WAU) per day: for each day
    * in the data span, the count of DISTINCT users active in the
    * trailing [[rollingWindowDays]]-day window. A sliding DISTINCT
    * does not decompose into per-day partials (users overlap
    * windows), so the engine uses the window-explode layout: the
    * (day, user) touch table — already day-deduped and event-stream-
    * reducing — explodes each touch into the ≤7 window-ends it
    * affects (row-local, fixed ×7 fan-out), a second distinct
    * collapses multi-day users per window, and the per-window count
    * partial-aggregates. Two bounded-fanout shuffles on an
    * active-user-sized table, never an event-sized one; window-ends
    * past the data's last day are clipped (their windows would keep
    * shrinking). Leading partial windows (first 6 days) count since
    * data start, the standard dashboard convention. */
  def qRollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val mx = du.agg(max($"day").as("mx"))
    du.select(explode(expr(s"sequence(day, date_add(day, ${rollingWindowDays - 1}))"))
        .as("win_end"), $"user_id")
      .distinct()
      .crossJoin(broadcast(mx))
      .filter($"win_end" <= $"mx")
      .groupBy($"win_end".as("day"))
      .agg(count(lit(1)).as("wau"))
      .orderBy($"day")
  }

  val qRollingActiveUsersSql: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |w AS (
       |  SELECT DISTINCT day + CAST(i AS INTEGER) AS win_end, user_id
       |  FROM du, (SELECT unnest(range($rollingWindowDays)) AS i)),
       |mx AS (SELECT max(day) AS mx FROM du)
       |SELECT win_end AS day, count(*) AS wau
       |FROM w, mx WHERE win_end <= mx
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_cohort_ltv — cumulative revenue by signup cohort and age
  // ------------------------------------------------------------------

  /** §2.10 — customer-lifetime-value curves: customers cohorted by
    * their first order month, revenue rolled up by cohort × order age
    * (months since first order), with the running cumulative per
    * cohort — the "how fast does a cohort pay back" curve next to
    * `q_retention`'s activity grid.
    *
    * Scale: first-touch is a custkey-keyed partial-agged min; the
    * cohort join rides the same custkey partitioning; the rollup is
    * (cohort × age)-sized (calendar², tiny) so the cumulative window
    * partitioned by cohort runs over bounded rows. Revenue through
    * the exact decimal path. */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate", $"o_totalprice")
    val first = o.groupBy($"o_custkey").agg(min($"o_orderdate").as("first_dt"))
      .select($"o_custkey".as("fc"), date_trunc("month", $"first_dt").as("cohort"))
    val aged = o.join(first, $"o_custkey" === $"fc")
      .withColumn("age_months",
        (months_between(date_trunc("month", $"o_orderdate"), $"cohort")).cast("int"))
      .groupBy($"cohort", $"age_months")
      .agg(countDistinct($"o_custkey").as("n_active"),
        sum(quantize($"o_totalprice", 4).cast("long")).as("rev_q"))
    aged
      .withColumn("cum_q", sum($"rev_q").over(
        Window.partitionBy($"cohort").orderBy($"age_months")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"cohort", $"age_months", $"n_active",
        ($"rev_q".cast("double") / lit(10000.0)).as("revenue"),
        ($"cum_q".cast("double") / lit(10000.0)).as("cum_revenue"))
      .orderBy($"cohort", $"age_months")
  }

  val qCohortLtvSql: String =
    s"""WITH f AS (
       |  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
       |  FROM orders GROUP BY 1),
       |a AS (
       |  SELECT f.cohort,
       |    CAST(datediff('month', f.cohort, date_trunc('month', o.o_orderdate)) AS INT) AS age_months,
       |    count(DISTINCT o.o_custkey) AS n_active,
       |    CAST(sum(CAST(floor(o.o_totalprice * 10000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS rev_q
       |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
       |  GROUP BY 1, 2)
       |SELECT cohort, age_months, n_active,
       |  CAST(rev_q AS DOUBLE) / 10000.0 AS revenue,
       |  CAST(sum(rev_q) OVER (PARTITION BY cohort ORDER BY age_months
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0 AS cum_revenue
       |FROM a ORDER BY cohort, age_months""".stripMargin

  // ------------------------------------------------------------------
  // q_chi2_independence — categorical independence test
  // ------------------------------------------------------------------

  /** §2.10 — exact p50/p95 of event value per (event_type, day) —
    * the MANY-group generalization of `q_percentiles_dist`'s 3-group
    * layout, and the named swap-in every bounded-group exact-
    * percentile operator (`q_winsorize`, `corpus_quality_buckets`)
    * defers to: same deterministic key-space buckets
    * ([[graft.functions.Ranks.withBucket]] on the full (group, value)
    * tuple, so a hot group spreads over many buckets), per-(group,
    * bucket) counts → per-group exclusive prefix over ≤ #buckets rows
    * broadcast back, within-bucket row_number + offset, then the
    * two-rank interpolation pick. NO stage buffers a group's values:
    * state per task is a row stream + a counter, at any group count
    * and any skew. Matches DuckDB's quantile_cont interpolation
    * arithmetic term for term (the `q_percentiles_dist` device). */
  def qPercentilesGrouped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Ranks
    val v = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"), $"value".as("x"))
    // bucketed rank SELECTION (graft.functions.Quantiles): the
    // qPercentilesDist device generalized per group — counts locate
    // each target rank's bucket, only located buckets sort; no stage
    // buffers a group's values and no driver collect, at any group
    // count and any skew.
    val picked = graft.functions.Quantiles.bracketed(v,
      Seq("event_type", "day"), "x", Seq(0.5, 0.95),
      Ranks.defaultPartitions(v),
      // bucket on (type, x): the full 3-deep tree is codegen-too-wide
      bucketCols = Some(Seq(col("event_type"), col("x"))))
    picked.select($"event_type", $"day", $"p", $"n",
        when($"lower" === $"higher", $"vlo")
          .otherwise(($"higher" - $"pos") * $"vlo" + ($"pos" - $"lower") * $"vhi")
          .as("v"))
      .groupBy($"event_type", $"day", $"n")
      .agg(
        expr(rndSql("min(CASE WHEN p = CAST(0.5 AS DOUBLE) THEN v END)", 4)).as("p50"),
        expr(rndSql("min(CASE WHEN p = CAST(0.95 AS DOUBLE) THEN v END)", 4)).as("p95"))
      .select($"event_type", $"day", $"p50", $"p95", $"n")
      .orderBy($"event_type", $"day")
  }

  val qPercentilesGroupedSql: String =
    s"""SELECT event_type, CAST(ts AS DATE) AS day,
       |  ${rndSql("quantile_cont(value, 0.5)", 4)} AS p50,
       |  ${rndSql("quantile_cont(value, 0.95)", 4)} AS p95,
       |  count(*) AS n
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_survival_km — Kaplan–Meier churn survival curve
  // ------------------------------------------------------------------

  /** Users whose last activity is within this many days of the study
    * end are CENSORED (still alive), not churned. */
  val kmCensorDays = 7

  /** §2.10 — Kaplan–Meier survival over user lifetimes: per user the
    * observed lifetime T = last_day − first_day; users last seen
    * within [[kmCensorDays]] of the study end are right-CENSORED
    * (the estimator's whole point — counting them as churned biases
    * every retention number down); churned users are events at their
    * T. S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}) over the at-risk counts.
    *
    * Scale: ONE user-keyed partial-agged reduce (first/last day);
    * everything after runs on the LIFETIME-DAYS-sized frame (calendar-
    * bounded): at-risk via a cumulative window, the product as
    * exp(Σ ln(1−d/n)) with each ln term 1e-9 half-up quantized and
    * integer-summed so the running product is addition-order-exact
    * across engines. */
  def qSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(to_date(min($"ts")).as("d0"), to_date(max($"ts")).as("d1"))
    val end = days.agg(max($"d1").as("study_end"))
    val lifetimes = days.crossJoin(broadcast(end))
      .select(datediff($"d1", $"d0").as("t"),
        ($"d1" < date_sub($"study_end", kmCensorDays)).as("churned"))
    val byT = lifetimes.groupBy($"t")
      .agg(sum(when($"churned", 1L).otherwise(0L)).as("d"),
        sum(when($"churned", 0L).otherwise(1L)).as("c"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrev = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_total", sum($"d" + $"c").over(wAll))
      .withColumn("n_risk", $"n_total" - coalesce(sum($"d" + $"c").over(wPrev), lit(0L)))
      .withColumn("term_q", expr(
        """CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
          |     WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("dead", max(when($"d" === $"n_risk", 1).otherwise(0)).over(wCum))
      .withColumn("cum_q", sum($"term_q").over(wCum))
      .select($"t".as("t_days"), $"n_risk", $"d".as("n_churn"), $"c".as("n_censored"),
        expr(rndSql(
          "CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE) ELSE exp(CAST(cum_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)) END", 6)).as("survival"))
      .orderBy($"t_days")
  }

  val qSurvivalKmSql: String =
    s"""WITH u AS (
       |  SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
       |  FROM events GROUP BY 1),
       |e AS (SELECT max(d1) AS study_end FROM u),
       |lt AS (
       |  SELECT datediff('day', d0, d1) AS t,
       |    d1 < study_end - $kmCensorDays AS churned
       |  FROM u, e),
       |byt AS (
       |  SELECT t,
       |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
       |  FROM lt GROUP BY 1),
       |r AS (
       |  SELECT t, d, c,
       |    CAST(sum(d + c) OVER () AS BIGINT)
       |      - CAST(coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
       |  FROM byt),
       |q AS (
       |  SELECT t, d, c, n_risk,
       |    CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
       |         WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS term_q,
       |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS is_dead
       |  FROM r)
       |SELECT t AS t_days, n_risk, d AS n_churn, c AS n_censored,
       |  ${rndSql(
         "CASE WHEN max(is_dead) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN CAST(0 AS DOUBLE) ELSE exp(CAST(sum(term_q) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(1000000000 AS DOUBLE)) END", 6)} AS survival
       |FROM q ORDER BY t_days""".stripMargin


  /** §2.10 — day-of-week × hour activity heatmap with each cell's
    * share of its weekday: the seasonality fingerprint at a glance
    * (and the input `q_seasonality` indexes numerically). One
    * partial-agged groupBy to a 7×24-bounded grid; shares are
    * windows over those cells. The engines DISAGREE on the weekday
    * origin — Spark's dayofweek is 1=Sunday, DuckDB's 0=Sunday — so
    * the oracle adds one; do not "simplify" that away. */
  def qActivityHeatmap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(dayofweek($"ts").as("dow"), hour($"ts").as("hour"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow_share", expr(rndSql(
        "CAST(n_events AS DOUBLE) / CAST(sum(n_events) OVER (PARTITION BY dow) AS DOUBLE)", 6)))
      .orderBy($"dow", $"hour")
  }

  val qActivityHeatmapSql: String =
    s"""WITH g AS (
       |  SELECT dayofweek(ts) + 1 AS dow, CAST(hour(ts) AS INT) AS hour,
       |    count(*) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT CAST(dow AS INT) AS dow, hour, n_events,
       |  ${rndSql("CAST(n_events AS DOUBLE) / CAST(sum(n_events) OVER (PARTITION BY dow) AS DOUBLE)", 6)} AS dow_share
       |FROM g ORDER BY dow, hour""".stripMargin

  /** §2.10 — inter-purchase interval distribution per market segment:
    * consecutive order gaps per customer (a per-customer lag window —
    * partition cardinality is the customer count, per-partition size
    * a customer's order history: skew-safe), segment attached via one
    * custkey join, then per-segment count / exact mean / p50 / p90 of
    * the gap. The replenishment-cadence readout behind every
    * "when to re-engage" decision. Segment count is bounded (5), so
    * the exact percentile state is bounded — the many-group swap-in
    * is `q_percentiles_grouped`. */
  def qRepeatPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val gaps = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey")
      .withColumn("prev", lag($"o_orderdate", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("gap_days", datediff($"o_orderdate", $"prev").cast("long"))
    gaps
      .join(Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_gaps"),
        expr(rndSql("CAST(sum(gap_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)).as("mean_gap"),
        expr(rndSql("percentile(gap_days, CAST(0.5 AS DOUBLE))", 4)).as("p50_gap"),
        expr(rndSql("percentile(gap_days, CAST(0.9 AS DOUBLE))", 4)).as("p90_gap"))
      .orderBy($"c_mktsegment")
  }

  val qRepeatPurchaseSql: String =
    s"""WITH g AS (
       |  SELECT o_custkey,
       |    datediff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap_days
       |  FROM orders),
       |gg AS (SELECT o_custkey, CAST(gap_days AS BIGINT) AS gap_days
       |       FROM g WHERE gap_days IS NOT NULL)
       |SELECT c_mktsegment, count(*) AS n_gaps,
       |  ${rndSql("CAST(sum(gap_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mean_gap,
       |  ${rndSql("quantile_cont(gap_days, 0.5)", 4)} AS p50_gap,
       |  ${rndSql("quantile_cont(gap_days, 0.9)", 4)} AS p90_gap
       |FROM gg JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.10 — data-outage report: contiguous runs of MISSING 15-min
    * buckets per event type between each type's first and last
    * observation — the gaps-and-islands classic, and the audit that
    * turns `q_time_resample`'s per-bucket ffill flags into ranges an
    * on-call can act on ("clicks went dark 02:15–03:30").
    *
    * Scale: observed buckets partial-aggregate the raw stream to a
    * grid-bounded set; the calendar grid explodes from per-type
    * bounds (time-range-bounded, NOT corpus-bounded); missing = grid
    * anti-join observed; runs group by the bucket − row_number
    * island key (per-type window over grid-bounded rows). */
  def qDataGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = resampleBucketUs
    val obs = Tables.events(s, dir)
      .select($"event_type", expr(s"unix_micros(ts) div $b").as("bk"))
      .distinct()
    val grid = obs.groupBy($"event_type")
      .agg(min($"bk").as("b0"), max($"bk").as("b1"))
      .select($"event_type", explode(expr("sequence(b0, b1)")).as("bk"))
    val missing = grid.join(obs, Seq("event_type", "bk"), "left_anti")
    val w = Window.partitionBy($"event_type").orderBy($"bk")
    missing
      .withColumn("grp", $"bk" - row_number().over(w))
      .groupBy($"event_type", $"grp")
      .agg(min($"bk").as("gs"), max($"bk").as("ge"), count(lit(1)).as("n_buckets"))
      .select($"event_type",
        timestamp_micros($"gs" * b).as("gap_start"),
        timestamp_micros(($"ge" + 1) * b).as("gap_end"),
        $"n_buckets")
      .orderBy($"event_type", $"gap_start")
  }

  val qDataGapsSql: String = {
    val b = resampleBucketUs
    s"""WITH obs AS (
       |  SELECT DISTINCT event_type, epoch_us(ts) // $b AS bk FROM events),
       |bounds AS (
       |  SELECT event_type, min(bk) AS b0, max(bk) AS b1 FROM obs GROUP BY 1),
       |grid AS (
       |  SELECT event_type, unnest(generate_series(b0, b1)) AS bk FROM bounds),
       |missing AS (
       |  SELECT g.event_type, g.bk FROM grid g
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM obs o WHERE o.event_type = g.event_type AND o.bk = g.bk)),
       |runs AS (
       |  SELECT event_type, bk,
       |    bk - row_number() OVER (PARTITION BY event_type ORDER BY bk) AS grp
       |  FROM missing)
       |SELECT event_type,
       |  make_timestamp(min(bk) * $b) AS gap_start,
       |  make_timestamp((max(bk) + 1) * $b) AS gap_end,
       |  count(*) AS n_buckets
       |FROM runs GROUP BY event_type, grp
       |ORDER BY event_type, gap_start""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_funnel_latency — time-to-convert distribution
  // ------------------------------------------------------------------

  /** §2.10 — time-to-convert for funnel completers: for every user
    * who finished view → click → purchase (47's ordered semantics,
    * first qualifying chain), the duration from first view to first
    * qualifying purchase — count, exact mean, and exact p50/p90 in
    * hours. The product readout behind every "how long does
    * conversion take" decision; 47 counts completers, this one
    * clocks them.
    *
    * Scale: the chain staging is 47's ONE user-keyed window pass; the
    * duration set is converter-sized, and the single-group exact
    * quantiles use the two-phase bucketed rank + two-rank
    * interpolation (the `q_percentiles_dist` layout with one group —
    * converters at fleet scale are far too many for a percentile
    * buffer). Mean through the exact integer-µs sum. */
  def qFunnelLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Ranks
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("t1", min(when($"event_type" === "view", $"us")).over(w))
      .withColumn("q2", when($"event_type" === "click" && $"us" > $"t1", $"us"))
      .withColumn("t2", min($"q2").over(w))
      .withColumn("q3", when($"event_type" === "purchase" && $"us" > $"t2", $"us"))
    val durations = staged.groupBy($"user_id")
      .agg(min(when($"event_type" === "view", $"us")).as("tv"), min($"q3").as("tp"))
      .filter($"tp".isNotNull)
      .select($"user_id", ($"tp" - $"tv").as("dur_us"))
      .localCheckpoint(true)
    val n = durations.count() // one scalar: the converter count
    if (n == 0) {
      // Zero converters: mirror the oracle's empty-aggregate row —
      // count 0, NULL mean/quantiles — instead of interpolating
      // against ranks that don't exist.
      return durations.agg(count(lit(1)).as("n_converters"))
        .select($"n_converters",
          lit(null).cast("double").as("mean_hours"),
          lit(null).cast("double").as("p50_hours"),
          lit(null).cast("double").as("p90_hours"))
    }
    val ranked = Ranks.globalRowNumber(durations, Seq($"dur_us", $"user_id"),
      Ranks.defaultPartitions(durations), "rank")
    val targets = Seq(0.5, 0.9).map { p =>
      val pos = p * (n - 1).toDouble
      (p, pos, math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
    }
    val wanted = targets.flatMap(t => Seq(t._3, t._4)).distinct
    val picked = ranked.filter($"rank".isin(wanted: _*))
      .select($"rank", $"dur_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def interp(pos: Double, lo: Long, hi: Long): Double = {
      val vlo = picked(lo).toDouble
      val vhi = picked(hi).toDouble
      if (lo == hi) vlo
      else (math.ceil(pos) - pos) * vlo + (pos - math.floor(pos)) * vhi
    }
    val Seq(p50, p90) = targets.map(t => interp(t._2, t._3, t._4))
    durations.agg(
        count(lit(1)).as("n_converters"),
        sum($"dur_us").as("sum_us"))
      .select($"n_converters",
        expr(rndSql("CAST(sum_us AS DOUBLE) / CAST(n_converters AS DOUBLE) / CAST(3600000000 AS DOUBLE)", 6)).as("mean_hours"),
        expr(rndSql(s"CAST($p50 AS DOUBLE) / CAST(3600000000 AS DOUBLE)", 6)).as("p50_hours"),
        expr(rndSql(s"CAST($p90 AS DOUBLE) / CAST(3600000000 AS DOUBLE)", 6)).as("p90_hours"))
  }

  val qFunnelLatencySql: String =
    s"""WITH f AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1
       |  FROM events GROUP BY user_id
       |), c AS (
       |  SELECT f.user_id, f.t1, min(epoch_us(e.ts)) AS t2
       |  FROM events e JOIN f ON e.user_id = f.user_id
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > f.t1
       |  GROUP BY f.user_id, f.t1
       |), p AS (
       |  SELECT c.user_id, c.t1, min(epoch_us(e.ts)) AS t3
       |  FROM events e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
       |  GROUP BY c.user_id, c.t1
       |), d AS (
       |  SELECT CAST(t3 - t1 AS BIGINT) AS dur_us FROM p)
       |SELECT count(*) AS n_converters,
       |  ${rndSql("CAST(CAST(sum(dur_us) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / CAST(3600000000 AS DOUBLE)", 6)} AS mean_hours,
       |  ${rndSql("quantile_cont(CAST(dur_us AS DOUBLE), 0.5) / CAST(3600000000 AS DOUBLE)", 6)} AS p50_hours,
       |  ${rndSql("quantile_cont(CAST(dur_us AS DOUBLE), 0.9) / CAST(3600000000 AS DOUBLE)", 6)} AS p90_hours
       |FROM d""".stripMargin

  /** §2.10 — classical additive decomposition of the per-type daily
    * series (the STL shape, moving-average flavored): trend = centered
    * 7-day moving average, seasonal = day-of-week mean of the
    * detrended series, residual = the rest — the first chart an
    * anomaly triage opens ("is the dip trend, weekday, or genuinely
    * anomalous?"). Sits beside [[qSeasonality]] (static hour-of-day
    * shares) and [[qHoltForecast]] (recursive smoothing): this one
    * SEPARATES the components.
    *
    * Determinism: the corpus collapses to a (type, day) frame first
    * (one partial-agged shuffle, dsum-exact); the trend window is a
    * ROWS frame ordered by day, so both engines sum the same exact
    * values in the same order; the seasonal mean re-quantizes its
    * numerator before the exact decimal sum (a groupBy avg of raw
    * doubles would be partial-aggregation-order-dependent). Edge days
    * keep their partial window (avg over what exists) — same
    * convention both engines. Scale: every window after the first
    * aggregate runs on the day-grain frame (≤ types × days rows). */
  def qStlDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(dsum($"value").as("y"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("yq", quantize($"y", 4).cast("long"))
      .withColumn("tsum", sum($"yq").over(w))
      .withColumn("tn", count(lit(1)).over(w))
      .withColumn("trend",
        expr(rndSql("(CAST(tsum AS DOUBLE) / 10000.0) / CAST(tn AS DOUBLE)", 6)))
      .withColumn("detr", quantize($"y" - $"trend", 6).cast("long"))
      .withColumn("dow", weekday($"day") + lit(1))
    val seas = trended
      .groupBy($"event_type", $"dow")
      .agg((sum($"detr".cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .cast("double") / lit(1000000.0) / count(lit(1))).as("seas_raw"))
      .select($"event_type", $"dow", expr(rndSql("seas_raw", 6)).as("seasonal"))
    trended
      .join(broadcast(seas), Seq("event_type", "dow"))
      .select($"event_type", $"day", $"y", $"trend", $"seasonal",
        expr(rndSql("y - trend - seasonal", 6)).as("resid"))
      .orderBy($"event_type", $"day")
  }

  val qStlDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    ${dsumSql("value")} AS y
       |  FROM events GROUP BY 1, 2
       |), tr AS (
       |  SELECT event_type, day, y,
       |    CAST(sum(CAST(floor(y * 10000 + 0.5) AS BIGINT))
       |      OVER w AS BIGINT) AS tsum,
       |    CAST(count(*) OVER w AS BIGINT) AS tn
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
       |), tr2 AS (
       |  SELECT event_type, day, y,
       |    ${rndSql("(CAST(tsum AS DOUBLE) / 10000.0) / CAST(tn AS DOUBLE)", 6)} AS trend
       |  FROM tr
       |), tr3 AS (
       |  SELECT event_type, day, y, trend,
       |    CAST(floor((y - trend) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS detr,
       |    isodow(day) AS dow
       |  FROM tr2
       |), se AS (
       |  SELECT event_type, dow,
       |    ${rndSql("CAST(sum(detr) AS DOUBLE) / 1000000.0 / count(*)", 6)} AS seasonal
       |  FROM tr3 GROUP BY 1, 2
       |)
       |SELECT t.event_type, t.day, t.y, t.trend, se.seasonal,
       |  ${rndSql("t.y - t.trend - se.seasonal", 6)} AS resid
       |FROM tr3 t JOIN se ON t.event_type = se.event_type AND t.dow = se.dow
       |ORDER BY t.event_type, t.day""".stripMargin

  // ------------------------------------------------------------------
  // q_forecast_backtest — rolling-origin model selection
  // ------------------------------------------------------------------

  /** §2.10 — rolling-origin one-step BACKTEST: naive (yesterday),
    * EWMA (α=0.3) and Holt (α=0.5, β=0.3) each forecast every day of
    * per-type volume from the data before it, and the table reports
    * MAE/RMSE per (type, model) — the model-selection readout that
    * must exist before anyone ships [[qHoltForecast]]'s numbers (a
    * forecaster chosen without a backtest is a guess). All three
    * recursions ride ONE row-local fold per series (state: 5 doubles
    * + 6 exact error accumulators), so adding a model costs no extra
    * pass; per-step errors quantize to 1e-6 BIGINTs before
    * accumulation — exact integer adds, engine-order-free, and the
    * final MAE/RMSE divide once. Scale shape as the other
    * recurrences: the fact table partial-aggs to day-sized series,
    * parallelism across types; the walk never leaves the executor.
    * (Error quanta stay inside BIGINT while daily volume < ~3·10⁶ —
    * beyond that, coarsen the error quantum, the harmonic micro-unit
    * device.) */
  /** Backtest error quantum (1e-6) — ONE definition for the fold and
    * the recursive-CTE oracle, so coarsening the quantum (the
    * docstring's escape hatch) cannot desynchronize the twins. */
  private def btQz(v: String) = s"CAST(floor(($v) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
  private def btX(alias: String) = s"CAST($alias AS DOUBLE)"
  private def btLNew(x: String, st: String) =
    s"(CAST(0.5 AS DOUBLE) * $x + CAST(0.5 AS DOUBLE) * ($st.l + $st.b))"

  def qForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def qz(v: String) = btQz(v)
    val x = btX("dd.x")
    val lNew = btLNew(x, "acc")
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("x"))
    val series = daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"x"))).as("ds"))
    series
      .withColumn("st", expr(
        s"""aggregate(ds,
           |  named_struct('i', CAST(0 AS BIGINT),
           |    'prev', CAST(0 AS DOUBLE), 'ew', CAST(0 AS DOUBLE),
           |    'l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
           |    'ae_n', CAST(0 AS BIGINT), 'se_n', CAST(0 AS BIGINT),
           |    'ae_e', CAST(0 AS BIGINT), 'se_e', CAST(0 AS BIGINT),
           |    'ae_h', CAST(0 AS BIGINT), 'se_h', CAST(0 AS BIGINT)),
           |  (acc, dd) -> CASE WHEN acc.i = 0 THEN named_struct(
           |      'i', CAST(1 AS BIGINT),
           |      'prev', $x, 'ew', $x, 'l', $x, 'b', CAST(0 AS DOUBLE),
           |      'ae_n', CAST(0 AS BIGINT), 'se_n', CAST(0 AS BIGINT),
           |      'ae_e', CAST(0 AS BIGINT), 'se_e', CAST(0 AS BIGINT),
           |      'ae_h', CAST(0 AS BIGINT), 'se_h', CAST(0 AS BIGINT))
           |    ELSE named_struct(
           |      'i', acc.i + CAST(1 AS BIGINT),
           |      'prev', $x,
           |      'ew', CAST(0.3 AS DOUBLE) * $x + CAST(0.7 AS DOUBLE) * acc.ew,
           |      'l', $lNew,
           |      'b', CAST(0.3 AS DOUBLE) * ($lNew - acc.l) + CAST(0.7 AS DOUBLE) * acc.b,
           |      'ae_n', acc.ae_n + ${qz(s"abs($x - acc.prev)")},
           |      'se_n', acc.se_n + ${qz(s"($x - acc.prev) * ($x - acc.prev)")},
           |      'ae_e', acc.ae_e + ${qz(s"abs($x - acc.ew)")},
           |      'se_e', acc.se_e + ${qz(s"($x - acc.ew) * ($x - acc.ew)")},
           |      'ae_h', acc.ae_h + ${qz(s"abs($x - (acc.l + acc.b))")},
           |      'se_h', acc.se_h + ${qz(s"($x - (acc.l + acc.b)) * ($x - (acc.l + acc.b))")})
           |  END,
           |  acc -> acc)""".stripMargin))
      .filter(expr("st.i >= 2"))
      .select($"event_type", expr("st.i - 1").as("n"),
        explode(expr(
          """array(
            |  named_struct('model', 'ewma',  'ae', st.ae_e, 'se', st.se_e),
            |  named_struct('model', 'holt',  'ae', st.ae_h, 'se', st.se_h),
            |  named_struct('model', 'naive', 'ae', st.ae_n, 'se', st.se_n))""".stripMargin)).as("m"))
      .select($"event_type", $"m.model".as("model"), $"n",
        expr(rndSql("(CAST(m.ae AS DOUBLE) / CAST(1000000 AS DOUBLE)) / CAST(n AS DOUBLE)", 6)).as("mae"),
        expr(rndSql("sqrt((CAST(m.se AS DOUBLE) / CAST(1000000 AS DOUBLE)) / CAST(n AS DOUBLE))", 6)).as("rmse"))
      .orderBy($"event_type", $"model")
  }

  val qForecastBacktestSql: String = {
    import graft.functions.Agg.rndSql
    def qz(v: String) = btQz(v)
    val x = btX("i.x")
    val lNew = btLNew(x, "w")
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |walk(event_type, rn, prev, ew, l, b, ae_n, se_n, ae_e, se_e, ae_h, se_h) AS (
       |  SELECT event_type, rn, CAST(x AS DOUBLE), CAST(x AS DOUBLE),
       |    CAST(x AS DOUBLE), CAST(0 AS DOUBLE),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM idx WHERE rn = 1
       |  UNION ALL
       |  SELECT i.event_type, i.rn, $x,
       |    CAST(0.3 AS DOUBLE) * $x + CAST(0.7 AS DOUBLE) * w.ew,
       |    $lNew,
       |    CAST(0.3 AS DOUBLE) * ($lNew - w.l) + CAST(0.7 AS DOUBLE) * w.b,
       |    w.ae_n + ${qz(s"abs($x - w.prev)")},
       |    w.se_n + ${qz(s"($x - w.prev) * ($x - w.prev)")},
       |    w.ae_e + ${qz(s"abs($x - w.ew)")},
       |    w.se_e + ${qz(s"($x - w.ew) * ($x - w.ew)")},
       |    w.ae_h + ${qz(s"abs($x - (w.l + w.b))")},
       |    w.se_h + ${qz(s"($x - (w.l + w.b)) * ($x - (w.l + w.b))")}
       |  FROM walk w JOIN idx i ON i.event_type = w.event_type AND i.rn = w.rn + 1),
       |last AS (
       |  SELECT w.* FROM walk w
       |  JOIN (SELECT event_type, max(rn) AS mr FROM walk GROUP BY 1) t
       |    ON t.event_type = w.event_type AND t.mr = w.rn
       |  WHERE w.rn >= 2),
       |un AS (
       |  SELECT event_type, 'ewma' AS model, rn - 1 AS n, ae_e AS ae, se_e AS se FROM last
       |  UNION ALL
       |  SELECT event_type, 'holt', rn - 1, ae_h, se_h FROM last
       |  UNION ALL
       |  SELECT event_type, 'naive', rn - 1, ae_n, se_n FROM last)
       |SELECT event_type, model, CAST(n AS BIGINT) AS n,
       |  ${rndSql("(CAST(ae AS DOUBLE) / CAST(1000000 AS DOUBLE)) / CAST(n AS DOUBLE)", 6)} AS mae,
       |  ${rndSql("sqrt((CAST(se AS DOUBLE) / CAST(1000000 AS DOUBLE)) / CAST(n AS DOUBLE))", 6)} AS rmse
       |FROM un ORDER BY event_type, model""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_changepoint — single best mean-shift split per series
  // ------------------------------------------------------------------

  /** §2.10 — changepoint detection (binary segmentation, depth 1):
    * per event_type, the split day t* maximizing the between-segment
    * sum of squares of daily volume — the RETROSPECTIVE "when did the
    * level shift" answer next to [[qCusum]]'s sequential alarm (CUSUM
    * says THAT a shift happened while streaming; this says WHERE,
    * exactly, after the fact). The gain uses the integer cross-term
    * identity SSB(t) = (S_A·n_B − S_B·n_A)² / (n_A·n_B·D): numerator
    * from exact BIGINT prefix sums (one bounded per-type window over
    * the day-sized frame), so both engines square the SAME exact
    * double and the argmax can't flip cross-engine; day breaks ties.
    * Scale: the fact table collapses to per-(type, day) counts before
    * any window — the candidate scan is day-sized, not event-sized.
    * (The BIGINT→DOUBLE cast is exact while |S_A·n_B| < 2⁵³ — beyond
    * that, rescale the daily unit, the graph_harmonic micro-unit
    * device.) */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cand = daily
      .withColumn("s_a", sum($"x").over(wOrd))
      .withColumn("n_a", count(lit(1)).over(wOrd))
      .withColumn("s", sum($"x").over(wAll))
      .withColumn("d", count(lit(1)).over(wAll))
      .filter($"n_a" < $"d")
      .withColumn("n_b", $"d" - $"n_a")
      .withColumn("s_b", $"s" - $"s_a")
      .withColumn("num", expr("CAST(s_a * n_b - s_b * n_a AS DOUBLE)"))
      .withColumn("gain", expr(
        "num * num / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(d AS DOUBLE))"))
    cand
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"gain".desc, $"day")))
      .filter($"rn" === 1)
      .select($"event_type", $"day".as("split_day"), $"n_a", $"n_b",
        rnd($"s_a".cast("double") / $"n_a".cast("double"), 6).as("mean_before"),
        rnd($"s_b".cast("double") / $"n_b".cast("double"), 6).as("mean_after"),
        rnd($"gain", 6).as("gain"))
      .orderBy($"event_type")
  }

  val qChangepointSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |cand AS (
       |  SELECT event_type, day,
       |    sum(x) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_a,
       |    count(*) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_a,
       |    sum(x) OVER (PARTITION BY event_type) AS s,
       |    count(*) OVER (PARTITION BY event_type) AS d
       |  FROM daily),
       |gains AS (
       |  SELECT event_type, day, n_a, d - n_a AS n_b, s_a, s - s_a AS s_b,
       |    (CAST(s_a * (d - n_a) - (s - s_a) * n_a AS DOUBLE)
       |     * CAST(s_a * (d - n_a) - (s - s_a) * n_a AS DOUBLE))
       |      / (CAST(n_a AS DOUBLE) * CAST(d - n_a AS DOUBLE) * CAST(d AS DOUBLE)) AS gain
       |  FROM cand WHERE n_a < d),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type
       |    ORDER BY gain DESC, day) AS rn
       |  FROM gains)
       |SELECT event_type, day AS split_day,
       |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ${rndSql("CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)", 6)} AS mean_before,
       |  ${rndSql("CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)", 6)} AS mean_after,
       |  ${rndSql("gain", 6)} AS gain
       |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_holt_winters — additive triple exponential smoothing
  // ------------------------------------------------------------------

  /** Seasonal period for [[qHoltWinters]] (weekly cycle on daily
    * counts). */
  val hwPeriod = 7

  /** §2.10 — Holt-Winters ADDITIVE seasonal smoothing, the seasonal
    * upgrade of [[qHoltForecast]] (whose level+trend state is blind
    * to the weekly cycle [[qSeasonality]] measures): per event_type
    * daily counts, first [[hwPeriod]] days initialize level = mean
    * and the seasonal vector s_i = x_i − mean, then the classic
    * recurrences (α=0.5, β=0.3, γ=0.3) with the one-step-ahead
    * forecast l+b+s_{t−m} emitted BEFORE the update — an honest
    * out-of-sample forecast at every step. Same scale shape as Holt:
    * the fact table collapses to per-(type, day) counts (one partial-
    * agged shuffle), each series folds ROW-LOCALLY inside one
    * `aggregate` HOF carrying a bounded m-slot seasonal ring — state
    * is O(m), series parallelism is across types/keys, and the
    * recursion never leaves the executor. Every recurrence is plain
    * IEEE mult/add on integer-derived doubles — the identical
    * expression tree runs in DuckDB's recursive CTE, so the walk is
    * bit-identical cross-engine with float only quantized at output. */
  def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val m = hwPeriod
    // the init mean over the first m raw counts (exact integer sum)
    val mInit = s"(CAST(aggregate(concat(acc.buf, array(dd.x)), CAST(0 AS BIGINT), (a2, q2) -> a2 + q2) AS DOUBLE) / CAST($m AS DOUBLE))"
    val sTm = "element_at(acc.ss, 1)"
    val lNew = s"(CAST(0.5 AS DOUBLE) * (CAST(dd.x AS DOUBLE) - $sTm) + CAST(0.5 AS DOUBLE) * (acc.l + acc.b))"
    val bNew = s"(CAST(0.3 AS DOUBLE) * ($lNew - acc.l) + CAST(0.7 AS DOUBLE) * acc.b)"
    val sNew = s"(CAST(0.3 AS DOUBLE) * (CAST(dd.x AS DOUBLE) - $lNew) + CAST(0.7 AS DOUBLE) * $sTm)"
    val fNext = "(acc.l + acc.b + element_at(acc.ss, 1))"
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("x"))
    val series = daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"x"))).as("ds"))
    series
      .withColumn("walk", expr(
        s"""aggregate(ds,
           |  named_struct(
           |    'buf', CAST(array() AS array<bigint>),
           |    'l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
           |    'ss', CAST(array() AS array<double>),
           |    'out', CAST(array() AS array<struct<day:date,x:bigint,l:double,b:double,sn:double,f:double>>)),
           |  (acc, dd) -> CASE
           |    WHEN size(acc.buf) < ${m - 1} THEN named_struct(
           |      'buf', concat(acc.buf, array(dd.x)),
           |      'l', acc.l, 'b', acc.b, 'ss', acc.ss, 'out', acc.out)
           |    WHEN size(acc.buf) = ${m - 1} THEN named_struct(
           |      'buf', concat(acc.buf, array(dd.x)),
           |      'l', $mInit,
           |      'b', CAST(0 AS DOUBLE),
           |      'ss', transform(concat(acc.buf, array(dd.x)), q -> CAST(q AS DOUBLE) - $mInit),
           |      'out', acc.out)
           |    ELSE named_struct(
           |      'buf', acc.buf,
           |      'l', $lNew,
           |      'b', $bNew,
           |      'ss', concat(slice(acc.ss, 2, ${m - 1}), array($sNew)),
           |      'out', concat(acc.out, array(named_struct(
           |        'day', dd.day, 'x', dd.x,
           |        'l', $lNew, 'b', $bNew, 'sn', $sNew, 'f', $fNext))))
           |  END,
           |  acc -> acc.out)""".stripMargin))
      .select($"event_type", explode($"walk").as("w"))
      .select($"event_type", $"w.day".as("day"), $"w.x".as("n_events"),
        rnd($"w.l", 6).as("level"), rnd($"w.b", 6).as("trend"),
        rnd($"w.sn", 6).as("seasonal"), rnd($"w.f", 6).as("forecast"))
      .orderBy($"event_type", $"day")
  }

  val qHoltWintersSql: String = {
    import graft.functions.Agg.rndSql
    val m = hwPeriod
    val sTm = "w.ss[1]"
    val lNew = s"(CAST(0.5 AS DOUBLE) * (CAST(i.x AS DOUBLE) - $sTm) + CAST(0.5 AS DOUBLE) * (w.l + w.b))"
    val bNew = s"(CAST(0.3 AS DOUBLE) * ($lNew - w.l) + CAST(0.7 AS DOUBLE) * w.b)"
    val sNew = s"(CAST(0.3 AS DOUBLE) * (CAST(i.x AS DOUBLE) - $lNew) + CAST(0.7 AS DOUBLE) * $sTm)"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |init AS (
       |  SELECT event_type,
       |    CAST(sum(x) AS DOUBLE) / CAST($m AS DOUBLE) AS l0,
       |    list(CAST(x AS DOUBLE) ORDER BY rn) AS xs
       |  FROM idx WHERE rn <= $m GROUP BY event_type
       |  HAVING count(*) = $m),
       |walk(event_type, rn, day, x, l, b, ss, sn, f) AS (
       |  SELECT event_type, $m, NULL::DATE, NULL::BIGINT, l0, CAST(0 AS DOUBLE),
       |    list_transform(xs, q -> q - l0), NULL::DOUBLE, NULL::DOUBLE
       |  FROM init
       |  UNION ALL
       |  SELECT i.event_type, i.rn, i.day, i.x,
       |    $lNew, $bNew,
       |    w.ss[2:$m] || [$sNew],
       |    $sNew,
       |    w.l + w.b + w.ss[1]
       |  FROM walk w JOIN idx i ON i.event_type = w.event_type AND i.rn = w.rn + 1)
       |SELECT event_type, day, x AS n_events,
       |  ${rndSql("l", 6)} AS level, ${rndSql("b", 6)} AS trend,
       |  ${rndSql("sn", 6)} AS seasonal, ${rndSql("f", 6)} AS forecast
       |FROM walk WHERE rn > $m ORDER BY event_type, day""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_forecast_backtest" -> (qForecastBacktest _),
    "q_changepoint"     -> (qChangepoint _),
    "q_holt_winters"    -> (qHoltWinters _),
    "q_funnel_latency"  -> (qFunnelLatency _),
    "q_data_gaps"       -> (qDataGaps _),
    "q_mv_retract"      -> (qMvRetract _),
    "q_repeat_purchase" -> (qRepeatPurchase _),
    "q_activity_heatmap" -> (qActivityHeatmap _),
    "q_survival_km"     -> (qSurvivalKm _),
    "q_percentiles_grouped" -> (qPercentilesGrouped _),
    "q_cohort_ltv"      -> (qCohortLtv _),
    "q_dau_new_returning" -> (qDauNewReturning _),
    "q_rolling_active_users" -> (qRollingActiveUsers _),
    "q_funnel_boxed"         -> (qFunnelBoxed _),
    "q_theilsen_trend"       -> (qTheilsenTrend _),
    "q_growth_accounting"    -> (qGrowthAccounting _),
    "q_holt_forecast"   -> (qHoltForecast _),
    "q_segment_overlap" -> (qSegmentOverlap _),
    "q_cusum"         -> (qCusum _),
    "q_lateness"      -> (qLateness _),
    "q_seasonality"   -> (qSeasonality _),
    "q_stl_decompose" -> (qStlDecompose _),
    "q_lag_features"  -> (qLagFeatures _),
    "q_markov"        -> (qMarkov _),
    "q_ewma"          -> (qEwma _),
    "q_funnel"        -> (qFunnel _),
    "q_retention"     -> (qRetention _),
    "q_time_resample" -> (qTimeResample _),
    "q_sliding_window" -> (qSlidingWindow _),
    "q_moving_window" -> (qMovingWindow _),
    "q_histogram"     -> (qHistogram _),
    "q_mv_refresh"    -> (qMvRefresh _),
    "q_rfm"           -> (qRfm _),
    "q_benford"       -> (qBenford _),
    "q_top_paths"     -> (qTopPaths _),
    "q_autocorr"      -> (qAutocorr _)
  )

  def oracles: Map[String, String] = Map(
    "q_forecast_backtest" -> qForecastBacktestSql,
    "q_changepoint"     -> qChangepointSql,
    "q_holt_winters"    -> qHoltWintersSql,
    "q_funnel_latency"  -> qFunnelLatencySql,
    "q_data_gaps"       -> qDataGapsSql,
    "q_mv_retract"      -> qMvRetractSql,
    "q_repeat_purchase" -> qRepeatPurchaseSql,
    "q_activity_heatmap" -> qActivityHeatmapSql,
    "q_survival_km"     -> qSurvivalKmSql,
    "q_percentiles_grouped" -> qPercentilesGroupedSql,
    "q_cohort_ltv"      -> qCohortLtvSql,
    "q_dau_new_returning" -> qDauNewReturningSql,
    "q_rolling_active_users" -> qRollingActiveUsersSql,
    "q_funnel_boxed"         -> qFunnelBoxedSql,
    "q_theilsen_trend"       -> qTheilsenTrendSql,
    "q_growth_accounting"    -> qGrowthAccountingSql,
    "q_holt_forecast"   -> qHoltForecastSql,
    "q_segment_overlap" -> qSegmentOverlapSql,
    "q_cusum"         -> qCusumSql,
    "q_lateness"      -> qLatenessSql,
    "q_seasonality"   -> qSeasonalitySql,
    "q_stl_decompose" -> qStlDecomposeSql,
    "q_lag_features"  -> qLagFeaturesSql,
    "q_markov"        -> qMarkovSql,
    "q_ewma"          -> qEwmaSql,
    "q_funnel"        -> qFunnelSql,
    "q_retention"     -> qRetentionSql,
    "q_time_resample" -> qTimeResampleSql,
    "q_sliding_window" -> qSlidingWindowSql,
    "q_moving_window" -> qMovingWindowSql,
    "q_histogram"     -> qHistogramSql,
    "q_mv_refresh"    -> qMvRefreshSql,
    "q_rfm"           -> qRfmSql,
    "q_benford"       -> qBenfordSql,
    "q_top_paths"     -> qTopPathsSql,
    "q_autocorr"      -> qAutocorrSql
  )
}
