package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Agg => Agg0}
import graft.functions.Agg._
import graft.sources.Tables

/** §2.3 Relational analytics core.
  *
  * TPC-H-shaped queries over the star schema, written DataFrame-first
  * so Catalyst owns pushdown / join strategy. Every query carries a
  * colocated DuckDB oracle with identical aliases and a total ORDER
  * BY, so the driver's hash compare is deterministic.
  *
  * Scale notes (100 TB): dims (region/nation/supplier) are broadcast
  * — hinted where the stats might not make it obvious; fact-fact
  * joins shuffle once on the join key and AQE splits skew. Aggregates
  * are partially applied map-side (declarative groupBy ⇒ Catalyst
  * emits partial_agg → exchange → final_agg automatically).
  */
object Relational {

  /** Selective scan: Catalyst pushes both the predicate and the
    * 4-column projection into the parquet reader (PlanSpec asserts). */
  def qFilterProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("2000-01-01 00:00:00").cast("timestamp") &&
              $"l_shipdate" <  lit("2000-02-01 00:00:00").cast("timestamp") &&
              $"l_discount" >= 0.05 && $"l_quantity" < 10.0)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val qFilterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '2000-02-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_quantity < 10.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Running totals per supplier — window ordering is made total with
    * the (orderkey, linenumber) tiebreak so the running sum is
    * deterministic; explicit ROWS frame on both engines. */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
    Tables.lineitem(s, dir)
      .filter($"l_suppkey" <= 5)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty",
        sum($"l_quantity".cast("decimal(18,4)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .select($"l_suppkey", $"rn", $"l_orderkey", $"l_linenumber", $"running_qty")
      .orderBy($"l_suppkey", $"rn")
  }

  val qWindowRunningSql: String =
    """SELECT l_suppkey,
      |  row_number() OVER w AS rn,
      |  l_orderkey, l_linenumber,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
      |       OVER (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS DOUBLE) AS running_qty
      |FROM lineitem
      |WHERE l_suppkey <= 5
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, rn""".stripMargin

  /** The window-function breadth query: lead/lag deltas, ntile
    * quartiles, per-key first/last framing — one window definition,
    * one shuffle on the (high-cardinality) supplier key. */
  def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(s, dir)
      .filter($"l_suppkey" <= 5)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        lag($"l_quantity", 1).over(w).as("prev_qty"),
        lead($"l_quantity", 1).over(w).as("next_qty"),
        ntile(4).over(w).as("quartile"),
        first($"l_orderkey").over(full).as("first_order"),
        last($"l_orderkey").over(full).as("last_order"))
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
  }

  val qWindowFuncsSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  lag(l_quantity, 1) OVER w AS prev_qty,
      |  lead(l_quantity, 1) OVER w AS next_qty,
      |  ntile(4) OVER w AS quartile,
      |  first_value(l_orderkey) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS first_order,
      |  last_value(l_orderkey) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS last_order
      |FROM lineitem
      |WHERE l_suppkey <= 5
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** Top-3 parts by retail price per brand (rank + filter). */
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    Tables.part(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"p_brand", $"rk", $"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_brand", $"rk")
  }

  val qTopkPerGroupSql: String =
    """SELECT p_brand, rk, p_partkey, p_name, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    row_number() OVER (PARTITION BY p_brand
      |                       ORDER BY p_retailprice DESC, p_partkey) AS rk
      |  FROM part) t
      |WHERE rk <= 3
      |ORDER BY p_brand, rk""".stripMargin

  /** Same result as [[qTopkPerGroup]] through the custom
    * whole-operator plan (graft.plans.TopKPerGroup): bounded per-group
    * heaps, partial before the shuffle — no WindowExec sort. Shares
    * the window variant's oracle. */
  def qTopkNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.TopK.perGroup(Tables.part(s, dir),
        groupCols = Seq("p_brand"),
        sortCols = Seq(("p_retailprice", true), ("p_partkey", false)),
        k = 3, rankName = "rk")
      .select($"p_brand", $"rk", $"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_brand", $"rk")
  }

  /** Region→nation rollup of customer counts and balances. NULL
    * subtotal keys are coalesced to 'ALL' so ordering is portable
    * (Spark and DuckDB default NULL placement differs). */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dims = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
    Tables.customer(s, dir)
      .join(broadcast(dims), $"c_nationkey" === $"n_nationkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_cust"), dsum($"c_acctbal").as("sum_bal"))
      .select(
        coalesce($"r_name", lit("ALL")).as("region"),
        coalesce($"n_name", lit("ALL")).as("nation"),
        $"n_cust", $"sum_bal")
      .orderBy($"region", $"nation")
  }

  val qRollupSql: String =
    s"""SELECT coalesce(r_name, 'ALL') AS region,
       |  coalesce(n_name, 'ALL') AS nation,
       |  count(*) AS n_cust,
       |  ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer, nation, region
       |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |-- SQL-standard ROLLUP emits a grand-total row even for empty
       |-- input; Spark's rollup does not — drop the synthetic row
       |-- (real groups always have count >= 1)
       |HAVING count(*) > 0
       |ORDER BY region, nation""".stripMargin

  /** Distinct + conditional aggregation per nation. */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey")
      .agg(
        countDistinct($"o_custkey").as("n_active_cust"),
        count(lit(1)).as("n_orders"),
        countIf($"o_orderstatus" === "F").as("n_finished"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"c_nationkey")
  }

  val qDistinctAggSql: String =
    s"""SELECT c_nationkey,
       |  count(DISTINCT o_custkey) AS n_active_cust,
       |  count(*) AS n_orders,
       |  ${countIfSql("o_orderstatus = 'F'")} AS n_finished,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders, customer
       |WHERE o_custkey = c_custkey
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  /** HLL++ approximate distinct users per event type. The sketch is
    * O(1) state per group and mergeable (register-wise max), so the
    * partial-aggregate tree is partition-count-invariant — the scale
    * replacement for countDistinct's two-phase exact expand when the
    * per-group key cardinality is itself huge. The sketch estimate is
    * engine-specific, so it is STAGED (the MinHash/PQ artifact
    * pattern): the oracle reads the same estimates and independently
    * recomputes the exact NDV, the relative error and the bound
    * verdict — the row is hash-exact and a sketch-accuracy regression
    * trips the emitted within_bound (spec-asserted true; ScaleSpec
    * additionally bounds the error and pins partition invariance). */
  val approxDistinctRsd = 0.02

  def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val approx = graft.sources.OracleStage.stage(s, "approx_distinct_est", dir) {
      ev.groupBy($"event_type")
        .agg(
          approx_count_distinct($"user_id", approxDistinctRsd).as("approx_users"),
          count(lit(1)).as("n_events"))
    }
    // the exact NDV via the BOUNDED two-phase exact-distinct layout —
    // shrink to distinct (event_type, user_id) pairs (agg state = just
    // the group key), then count per type — NOT an in-agg
    // countDistinct, whose Expand would fold the exact path into the
    // sketch query's own aggregate and make the bench measure it
    val exact = ev.select($"event_type", $"user_id").distinct()
      .groupBy($"event_type").agg(count(lit(1)).as("exact_users"))
    approx.join(exact, Seq("event_type"))
      .withColumn("rel_err",
        rnd(abs($"approx_users" - $"exact_users").cast("double") /
          $"exact_users".cast("double"), 6))
      .withColumn("within_bound", $"rel_err" <= lit(3 * approxDistinctRsd))
      .orderBy($"event_type")
  }

  /** Oracle over the staged estimates: exact NDV, event counts, error
    * and verdict all recomputed in DuckDB — only the HLL estimate
    * itself (spec-bounded) comes from the artifact. */
  def qApproxDistinctSql(glob: String): String =
    s"""WITH est AS (SELECT event_type, approx_users FROM read_parquet('$glob')),
       |ex AS (
       |  SELECT event_type, count(*) AS n_events,
       |    count(DISTINCT user_id) AS exact_users
       |  FROM events GROUP BY 1)
       |SELECT est.event_type, est.approx_users, ex.n_events, ex.exact_users,
       |  ${rndSql("CAST(abs(est.approx_users - ex.exact_users) AS DOUBLE) / CAST(ex.exact_users AS DOUBLE)", 6)} AS rel_err,
       |  ${rndSql("CAST(abs(est.approx_users - ex.exact_users) AS DOUBLE) / CAST(ex.exact_users AS DOUBLE)", 6)} <= ${3 * approxDistinctRsd} AS within_bound
       |FROM est JOIN ex USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** EXISTS / NOT EXISTS as left-semi / left-anti joins. */
  def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val urgentCust = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    val withU = cust.join(urgentCust, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
      .withColumn("segment", lit("has_urgent"))
    val withoutU = cust.join(urgentCust, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
      .withColumn("segment", lit("no_urgent"))
    withU.unionByName(withoutU)
      .select($"c_nationkey", $"segment", $"n_cust")
      .orderBy($"c_nationkey", $"segment")
  }

  val qSemiAntiSql: String =
    """SELECT c_nationkey, segment, n_cust FROM (
      |  SELECT c_nationkey, 'has_urgent' AS segment, count(*) AS n_cust
      |  FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |                WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_orderpriority = '1-URGENT')
      |  GROUP BY c_nationkey
      |  UNION ALL
      |  SELECT c_nationkey, 'no_urgent' AS segment, count(*) AS n_cust
      |  FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                    WHERE o.o_custkey = c.c_custkey
      |                      AND o.o_orderpriority = '1-URGENT')
      |  GROUP BY c_nationkey) t
      |ORDER BY c_nationkey, segment""".stripMargin

  /** Gap-based sessionization (30-min inactivity): lag + prefix-sum
    * session ids, one shuffle on user_id. Micro-exact via unix_micros
    * so both engines compute identical gaps. */
  def qEventsSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionized(s, dir).orderBy($"user_id", $"session_id")
  }

  /** The per-(user, session) aggregate without the presentation sort —
    * consumers feeding sessions into further processing
    * ([[qIntervalOverlap]]'s interval set) must not pay a global
    * sort. STAGED once per dataset ([[graft.sources.OracleStage]],
    * the copurchase_support pattern): four queries consume the
    * session table ([[qEventsSessionize]], [[qIntervalOverlap]],
    * [[qPointInInterval]], [[qPeakConcurrency]]), and the
    * user-windowed events sort behind it is the family's dominant
    * shared cost — the production shape is a session table refreshed
    * on ingest cadence, not re-derived per query. The consumers'
    * joins/sweeps all re-shuffle on their own keys, so the
    * test-scale single-file artifact never bounds their
    * parallelism. */
  private def sessionized(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "sessionized", dir) {
      import s.implicits._
      val gapUs = 1800L * 1000000L
      val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("new_sess",
          when(lag($"us", 1).over(wOrd).isNull, 1L)
            .when($"us" - lag($"us", 1).over(wOrd) > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum($"new_sess").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min($"ts").as("session_start"),
          max($"ts").as("session_end"),
          dsum($"value").as("sum_value"))
    }

  /** Interval-overlap counting: for every event, how many sessions
    * (across ALL users) are active at its timestamp — the pure range
    * join (no equi key) Spark has no operator for. The naive
    * formulation is a theta join, quadratic in the worst case and
    * planned as BroadcastNestedLoopJoin; it survives only as the
    * DuckDB oracle. The engine's plan is the sweep line instead:
    * sessions emit (+1 at start, −1 at end) markers, events emit
    * 0-weight probes, and one composite-key
    * [[graft.functions.Ranks.globalRunningSums]] over
    * (time, kind, id) — start < probe < end at equal timestamps, so
    * both interval endpoints are inclusive — yields each event's
    * active count. O(n log n) work, one range shuffle, every stage
    * data-parallel: the 100 TB shape of an operation usually written
    * as an O(n²) join. */
  def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // BOTH endpoint markers explode out of one pass over the
    // sessionization (separate starts/ends branches would compute the
    // per-user session windows twice). Unique marker ids keep the
    // composite sort key total (session_id restarts at 1 per user, so
    // pair it with user_id).
    val sessionMarkers = sessionized(s, dir)
      .select($"user_id", $"session_id",
        unix_micros($"session_start").as("s_us"),
        unix_micros($"session_end").as("e_us"))
      .select(explode(array(
          struct($"s_us".as("us"), lit(0).as("kind"),
            ($"user_id" * lit(1000000L) + $"session_id").as("id"),
            lit(1L).as("delta")),
          struct($"e_us".as("us"), lit(2).as("kind"),
            ($"user_id" * lit(1000000L) + $"session_id").as("id"),
            lit(-1L).as("delta")))).as("m"))
      .select($"m.us", $"m.kind", $"m.id", $"m.delta")
    val probes = Tables.events(s, dir).select(unix_micros($"ts").as("us"),
      lit(1).as("kind"), $"event_id".as("id"), lit(0L).as("delta"))
    // bucket boundaries sampled from the probes alone: they are pure
    // split points of the (us, kind, id) space, and the probe side is
    // a plain events scan — the union would recompute the whole
    // sessionization twice just to be sampled
    // bucket on the leading `us` alone (micro-timestamps, near-unique):
    // the full 3-key boundary tree is too wide for whole-stage codegen
    // and ran interpreted on every row of both two-phase branches
    val swept = graft.functions.Ranks.globalRunningSums(
      sessionMarkers.union(probes),
      Seq($"us", $"kind", $"id"), Seq($"delta" -> "n_active"),
      bucketPrefix = Seq($"us"), boundsFrom = Some(probes))
    swept.filter($"kind" === 1)
      .select($"id".as("event_id"), $"n_active")
      .orderBy($"event_id")
  }

  /** Bin width (µs) for [[qPointInInterval]]'s binned range join —
    * the knob trading interval-explode factor (span/width copies per
    * interval) against per-bin join fan-in (concurrent intervals per
    * bin). */
  val intervalBinUs: Long = 3600L * 1000000L

  /** Point-in-interval PAIR join — the generic scalable range join,
    * complementing [[qIntervalOverlap]]'s sweep-line COUNT: every
    * purchase event paired with every session (any user) active at
    * its timestamp. Spark plans a bare `ON p.ts BETWEEN s.start AND
    * s.end` as BroadcastNestedLoopJoin (quadratic); the engine bins
    * both sides instead: an interval replicates into the
    * [[intervalBinUs]]-wide bins it spans (row-local explode), a
    * point lands in exactly ONE bin, and the theta join becomes a
    * hash equi-join on the bin plus a residual range filter. A point
    * joining only its own bin means each qualifying pair is emitted
    * exactly once — no distinct pass. One shuffle on the bin; a hot
    * bin (mass concurrency) is AQE skew-join territory, and the bin
    * width is the explode/fan-in dial. Endpoints inclusive on both
    * engines. */
  def qPointInInterval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bins = sessionized(s, dir)
      .select($"user_id".as("s_user_id"), $"session_id",
        unix_micros($"session_start").as("s_us"),
        unix_micros($"session_end").as("e_us"))
      .withColumn("bin",
        explode(expr(s"sequence(s_us div $intervalBinUs, e_us div $intervalBinUs)")))
    val purchases = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"))
      .withColumn("bin", expr(s"us div $intervalBinUs"))
    purchases.join(bins, Seq("bin"))
      .filter($"us" >= $"s_us" && $"us" <= $"e_us")
      .select($"event_id", $"user_id", $"s_user_id", $"session_id")
      .orderBy($"event_id", $"s_user_id", $"session_id")
  }

  /** Oracle: the theta-join formulation DuckDB plans as an IEJoin. */
  val qPointInIntervalSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${1800L * 1000000L} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id, ts,
       |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM flagged),
       |sessions AS (
       |  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
       |  FROM sess GROUP BY 1, 2)
       |SELECT e.event_id, e.user_id, s.user_id AS s_user_id, s.session_id
       |FROM events e JOIN sessions s ON e.ts >= s.s AND e.ts <= s.e
       |WHERE e.event_type = 'purchase'
       |ORDER BY event_id, s_user_id, session_id""".stripMargin

  /** GROUPING SETS: the explicit multi-granularity aggregate next to
    * [[qRollup]]/[[qCube]] — exactly the requested granularities
    * ((status, priority), (status), (priority)), one pass, map-side
    * partials through the Expand. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{dsum, countIf}
    Tables.orders(s, dir)
      .select($"o_orderstatus".as("status"),
        $"o_orderpriority".as("priority"), $"o_totalprice")
      .groupingSets(
        Seq(Seq($"status", $"priority"), Seq($"status"), Seq($"priority")),
        $"status", $"priority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"),
        countIf($"o_totalprice" > 200000.0).as("n_big"))
      // coalesce the grouping NULLs before ordering (qRollup's trick:
      // Spark sorts NULLS FIRST, DuckDB NULLS LAST)
      .select(coalesce($"status", lit("ALL")).as("status"),
        coalesce($"priority", lit("ALL")).as("priority"),
        $"n_orders", $"total", $"n_big")
      .orderBy($"status", $"priority", $"n_orders")
  }

  val qGroupingSetsSql: String = {
    import graft.functions.Agg.{dsumSql, countIfSql}
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total,
       |  ${countIfSql("o_totalprice > 200000.0")} AS n_big
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
       |  (o_orderstatus), (o_orderpriority))
       |ORDER BY status, priority, n_orders""".stripMargin
  }

  /** The skew-safe distinct count surfaced as a driver-gate query:
    * distinct customers per order status via
    * [[graft.functions.Skew.saltedDistinctCount]] — phase 1 shuffles
    * on (key, salt) so no reducer ever holds a hot key's full
    * distinct set; exact, proven against the plain COUNT(DISTINCT)
    * oracle. */
  def qSaltedDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.Skew.saltedDistinctCount(
        Tables.orders(s, dir).select($"o_orderstatus".as("status"), $"o_custkey"),
        $"status", $"o_custkey", nSalts = 16, out = "n_customers")
      .orderBy($"status")
  }

  val qSaltedDistinctSql: String =
    """SELECT o_orderstatus AS status,
      |  count(DISTINCT o_custkey) AS n_customers
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  /** CDC upsert / MERGE: apply a change batch (update / delete /
    * insert ops) to a snapshot — the lakehouse MERGE INTO primitive,
    * composed from broadcast-able pieces. The change batch here is
    * derived deterministically from the data (orderkey mod 10: 0 →
    * update status, 1 → delete, 2 → insert under a fresh negative
    * key) so the oracle can reproduce it; a production caller passes
    * any changes frame.
    *
    * Scale layout: the snapshot is NEVER shuffled — touched keys are
    * removed with one broadcast LEFT ANTI join (changes are small by
    * nature of a batch), and the applied rows (updates + inserts)
    * union in. A full-outer merge formulation would shuffle the
    * whole snapshot on the key; this shape is O(snapshot) scan +
    * O(changes) broadcast. */
  def qTableUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val touched = snap.filter($"o_orderkey" % 10 <= 1)
      .select($"o_orderkey")
    val updates = snap.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"o_custkey", lit("X").as("o_orderstatus"),
        $"o_totalprice")
    val inserts = snap.filter($"o_orderkey" % 10 === 2)
      .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_custkey",
        lit("N").as("o_orderstatus"), $"o_totalprice")
    snap.join(broadcast(touched), Seq("o_orderkey"), "left_anti")
      .unionAll(updates).unionAll(inserts)
      .orderBy($"o_orderkey")
  }

  val qTableUpsertSql: String =
    """WITH snap AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders)
      |SELECT * FROM snap WHERE o_orderkey % 10 > 1
      |UNION ALL
      |SELECT o_orderkey, o_custkey, 'X', o_totalprice FROM snap
      |WHERE o_orderkey % 10 = 0
      |UNION ALL
      |SELECT -o_orderkey - 1, o_custkey, 'N', o_totalprice FROM snap
      |WHERE o_orderkey % 10 = 2
      |ORDER BY o_orderkey""".stripMargin

  /** Oracle: the theta-join formulation DuckDB plans as an IEJoin. */
  val qIntervalOverlapSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${1800L * 1000000L} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id, ts,
       |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM flagged),
       |sessions AS (
       |  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
       |  FROM sess GROUP BY 1, 2)
       |SELECT e.event_id, CAST(count(s.user_id) AS BIGINT) AS n_active
       |FROM events e LEFT JOIN sessions s ON e.ts >= s.s AND e.ts <= s.e
       |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  val qEventsSessionizeSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, value, event_id, epoch_us(ts) AS us,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${1800L * 1000000L} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id, ts, value,
       |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, count(*) AS n_events,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  ${dsumSql("value")} AS sum_value
       |FROM sess
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** Pivot events by type (conditional aggregation — portable and
    * map-side combinable, unlike a dynamic pivot). */
  def qEventsPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "view", "signup", "purchase", "error")
    val counts = types.map(t => countIf($"event_type" === t).as(s"n_$t"))
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(counts.head, counts.tail :+ dsum($"value").as("sum_value"): _*)
      .orderBy($"user_id")
  }

  val qEventsPivotSql: String = {
    val types = Seq("click", "view", "signup", "purchase", "error")
    val cols = types.map(t => s"${countIfSql(s"event_type = '$t'")} AS n_$t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols,
       |  ${dsumSql("value")} AS sum_value
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  /** §2.3 #23b — unpivot (melt): the wide per-user event-type matrix
    * of [[qEventsPivot]] folded back to long form via `stack` — the
    * inverse reshape every feature pipeline needs when a wide
    * feature table feeds a long-format consumer. `stack` is a
    * row-local generator (one row in, #types out, no shuffle beyond
    * the pivot's own aggregate); zero-count cells are kept so the
    * round trip is total. The oracle is the direct long-form
    * aggregate with an explicit type spine — proving
    * pivot→unpivot ≡ identity. */
  def qEventsUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "view", "signup", "purchase", "error")
    val stackArgs = types.map(t => s"'$t', n_$t").mkString(", ")
    qEventsPivot(s, dir)
      .select($"user_id",
        expr(s"stack(${types.size}, $stackArgs) AS (event_type, n_events)"))
      .orderBy($"user_id", $"event_type")
  }

  val qEventsUnpivotSql: String =
    """WITH spine AS (
      |  SELECT u.user_id, t.event_type
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  CROSS JOIN (VALUES ('click'), ('view'), ('signup'), ('purchase'), ('error')) t(event_type)
      |), cnt AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT s.user_id, s.event_type,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
      |FROM spine s LEFT JOIN cnt c
      |  ON s.user_id = c.user_id AND s.event_type = c.event_type
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** Gap sessionization via Spark's native session_window — merges
    * events closer than the gap into one session; the same operator
    * runs unchanged under Structured Streaming (parity spec). A
    * session ends when the next event is ≥ gap away (vs. the
    * lag-based [[qEventsSessionize]], which uses strictly-greater;
    * the oracle mirrors ≥). */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select($"user_id", $"sw.start".as("session_start"),
        $"sw.end".as("session_end"), $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start")
  }

  val qSessionWindowSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, value, event_id,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= ${1800L * 1000000L} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id, ts, value,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL '30 minutes' AS session_end,
       |  count(*) AS n_events,
       |  ${dsumSql("value")} AS sum_value
       |FROM sess
       |GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** As-of join: for every purchase, the user's latest click at or
    * before it. Spark-first realization: union both streams, one
    * window ordered by time per user, carry the last click timestamp
    * forward — linear, a single shuffle on user_id, no range join
    * explosion (the classic scalable as-of layout; DuckDB oracle uses
    * its native ASOF JOIN). At equal timestamps the click sorts first
    * (kind=0) so "at or before" includes ties on both engines. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(0).as("kind"), lit(null).cast("long").as("event_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"), $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_ts",
        last(when($"kind" === 0, $"ts"), ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      .select($"event_id", $"user_id", $"ts".as("purchase_ts"), $"last_click_ts")
      .orderBy($"event_id")
  }

  val qAsofJoinSql: String =
    """SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Forward as-of: for every purchase, the user's EARLIEST click at
    * or after it (the other standard as-of direction — "what did the
    * user do next"). Same linear union+window layout as [[qAsofJoin]]
    * with the frame flipped to [current, ∞); at equal timestamps the
    * purchase sorts first (kind=0) so "at or after" includes ties on
    * both engines. */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(0).as("kind"), $"event_id")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(1).as("kind"), lit(null).cast("long").as("event_id"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"kind")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    purchases.unionByName(clicks)
      .withColumn("next_click_ts",
        first(when($"kind" === 1, $"ts"), ignoreNulls = true).over(w))
      .filter($"kind" === 0)
      .select($"event_id", $"user_id", $"ts".as("purchase_ts"), $"next_click_ts")
      .orderBy($"event_id")
  }

  val qAsofForwardSql: String =
    """SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS next_click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts <= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** §2.3 — nearest-event as-of join (both directions, one pass):
    * for every purchase, the user's click closest in time either way
    * — the sensor-alignment flavor of as-of (pair each reading with
    * the nearest calibration tick), completing the as-of family
    * (24 = backward, 24h = forward). Both directional candidates
    * come from ONE union + sort: two frames over the same per-user
    * (ts, kind) window order, so the plan pays a single exchange and
    * a single sort — not two as-of joins stitched together. Ties at
    * equal timestamps resolve backward (distance 0, clicks sort
    * before purchases), and equidistant neighbors resolve to the
    * earlier click — both pinned in the oracle. */
  def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(0).as("kind"), lit(null).cast("long").as("event_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"), $"event_id")
    val wb = Window.partitionBy($"user_id").orderBy($"ts", $"kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy($"user_id").orderBy($"ts", $"kind")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev_us",
        last(when($"kind" === 0, unix_micros($"ts")), ignoreNulls = true).over(wb))
      .withColumn("next_us",
        first(when($"kind" === 0, unix_micros($"ts")), ignoreNulls = true).over(wf))
      .filter($"kind" === 1)
      .withColumn("nearest_us",
        when($"next_us".isNull ||
          ($"prev_us".isNotNull && $"us" - $"prev_us" <= $"next_us" - $"us"),
          $"prev_us").otherwise($"next_us"))
      .select($"event_id", $"user_id", $"ts".as("purchase_ts"),
        timestamp_micros($"nearest_us").as("nearest_click_ts"),
        abs($"nearest_us" - $"us").as("dist_us"))
      .orderBy($"event_id")
  }

  val qAsofNearestSql: String =
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT p.event_id, p.user_id, p.ts, c.ts AS prev_ts
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
      |f AS (
      |  SELECT p.event_id, c.ts AS next_ts
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts < c.ts),
      |j AS (
      |  SELECT b.event_id, b.user_id, b.ts,
      |    epoch_us(b.ts) AS us, epoch_us(b.prev_ts) AS prev_us,
      |    epoch_us(f.next_ts) AS next_us
      |  FROM b JOIN f USING (event_id))
      |SELECT event_id, user_id, ts AS purchase_ts,
      |  make_timestamp(CASE WHEN next_us IS NULL OR
      |      (prev_us IS NOT NULL AND us - prev_us <= next_us - us)
      |    THEN prev_us ELSE next_us END) AS nearest_click_ts,
      |  abs(CASE WHEN next_us IS NULL OR
      |      (prev_us IS NOT NULL AND us - prev_us <= next_us - us)
      |    THEN prev_us ELSE next_us END - us) AS dist_us
      |FROM j ORDER BY event_id""".stripMargin

  /** Semi-structured extraction: pull a typed field out of the JSON
    * props column and aggregate — get_json_object is codegen'd and
    * runs at scan speed; no UDF, no intermediate parse tree. */
  def qEventsJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // try_cast: a non-numeric props.k (messy ingest JSON) reads NULL
    // and falls out of the aggregates — in BOTH engines — instead of
    // an ANSI cast error killing the whole scan
    Tables.events(s, dir)
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val qEventsJsonSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(TRY_CAST(props->>'k' AS BIGINT)) AS min_k,
      |  max(TRY_CAST(props->>'k' AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact interpolated percentiles per group (both engines use the
    * same (n-1)·p linear-interpolation definition). Exact percentile
    * state is O(distinct values per group) — fine for an
    * oracle-checkable gate; at 100 TB swap in approx_percentile
    * (t-digest sketch, O(1) mergeable state) with an accuracy bound
    * instead of an equality oracle. */
  def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one percentile(array(...)) aggregate instead of two scalar
    // percentile() calls: each scalar call keeps its OWN
    // O(distinct values) counts buffer per group and serializes it
    // through the partial/final merge independently — the array form
    // builds the buffer once and evaluates both ranks against it
    // (identical per-element arithmetic, so results are bit-equal).
    // Measured 2.0 s → 1.1 s on the 600k-row sf0.1 aggregate.
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE)))").as("__ps"),
        count(lit(1)).as("n"))
      .select($"l_returnflag",
        Agg0.rnd($"__ps"(0), 4).as("p50"),
        Agg0.rnd($"__ps"(1), 4).as("p95"),
        $"n")
      .orderBy($"l_returnflag")
  }

  val qPercentilesSql: String =
    s"""SELECT l_returnflag,
       |  ${Agg0.rndSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
       |  ${Agg0.rndSql("quantile_cont(l_extendedprice, 0.95)", 4)} AS p95,
       |  count(*) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** §2.3 #24c''' — filter-by-group-quantile: rows above their own
    * group's p95 (the "tail latency / outlier slice" ask every
    * analytics engine fields). Composition, not a new primitive: the
    * per-group threshold comes from one partial-agged percentile pass
    * (the group-count-sized frame broadcasts back), rows compare
    * row-locally. At unbounded group state the threshold side swaps
    * to [[qPercentilesDist]] — same join shape. The threshold is
    * QUANTIZED at 1e-6 on both engines before the strict compare:
    * Spark's percentile() and DuckDB's quantile_cont interpolate by
    * the same formula but not provably bit-identically, and an
    * unrounded compare would let a one-ulp divergence silently flip
    * boundary rows at some other scale factor. After quantization
    * both engines compare against the SAME double. */
  def qAboveP95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val thr = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(expr(Agg0.rndSql("percentile(l_extendedprice, CAST(0.95 AS DOUBLE))", 6)).as("p95"))
    Tables.lineitem(s, dir)
      .join(broadcast(thr), "l_returnflag")
      .filter($"l_extendedprice" > $"p95")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_above"),
        dsum($"l_extendedprice").as("sum_above"),
        expr(Agg0.rndSql("any_value(p95)", 4)).as("p95"))
      .orderBy($"l_returnflag")
  }

  val qAboveP95Sql: String =
    s"""WITH thr AS (
       |  SELECT l_returnflag, ${Agg0.rndSql("quantile_cont(l_extendedprice, 0.95)", 6)} AS p95
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT li.l_returnflag, count(*) AS n_above,
       |  ${dsumSql("li.l_extendedprice")} AS sum_above,
       |  ${Agg0.rndSql("any_value(thr.p95)", 4)} AS p95
       |FROM lineitem li JOIN thr ON li.l_returnflag = thr.l_returnflag
       |WHERE li.l_extendedprice > thr.p95
       |GROUP BY li.l_returnflag
       |ORDER BY li.l_returnflag""".stripMargin

  /** Exact percentiles with BOUNDED task memory: instead of the
    * percentile aggregate's O(values per group) buffer, range-partition
    * (group, value) TeraSort-style, rank with per-(group, partition)
    * count offsets (the [[graft.functions.Ranks]] two-phase layout,
    * generalized per group), and join out just the two bracketing
    * ranks per requested percentile. Every stage is data-parallel and
    * spill-safe; one hot group spreads over many range partitions
    * instead of one agg buffer. Interpolation replicates Spark's
    * Percentile formula term for term — (higher−pos)·v_lo +
    * (pos−lower)·v_hi — so results are bit-identical to
    * [[qPercentiles]] and share its oracle. */
  def qPercentilesDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("flag"), $"l_extendedprice".as("x"))
    // deterministic boundary buckets + rank SELECTION
    // (graft.functions.Quantiles): per-bucket counts locate each
    // target rank's bucket with a bounded range join and only the
    // located buckets are sorted — the previous layout ranked every
    // row (full within-bucket sort + data-sized rank join) to keep 12
    // of them. Same bracketing values, same interpolation, bit-equal.
    val picked = graft.functions.Quantiles.bracketed(v, Seq("flag"), "x", Seq(0.5, 0.95))
    picked.select($"flag", $"p", $"n",
        when($"lower" === $"higher", $"vlo")
          .otherwise(($"higher" - $"pos") * $"vlo" + ($"pos" - $"lower") * $"vhi")
          .as("v"))
      .groupBy($"flag".as("l_returnflag"), $"n")
      .agg(
        expr(Agg0.rndSql("min(CASE WHEN p = CAST(0.5 AS DOUBLE) THEN v END)", 4)).as("p50"),
        expr(Agg0.rndSql("min(CASE WHEN p = CAST(0.95 AS DOUBLE) THEN v END)", 4)).as("p95"))
      .select($"l_returnflag", $"p50", $"p95", $"n")
      .orderBy($"l_returnflag")
  }

  /** approx_percentile sketch size: rank error ≤ 1/accuracy. */
  val percentileAccuracy = 10000

  /** The 100 TB path for [[qPercentiles]]: approx_percentile keeps a
    * bounded mergeable quantile sketch (Greenwald-Khanna style,
    * O(accuracy·log n) state) per group instead of buffering every
    * value, so one hot group can't blow an aggregation buffer. The
    * sketch values are engine-specific, so they are STAGED and the
    * oracle recomputes everything downstream: the RANK of each
    * returned value — count(x < v) / count(x ≤ v), ONE extra partial
    * agg, never the per-group value buffering the exact percentile
    * would need — and the GK rank-error verdict
    * |rank − p·n| ≤ n/accuracy (+1 slack for the rank-interval
    * convention). The row is hash-exact; a sketch-accuracy regression
    * trips the emitted in_bound flags (spec-asserted true; ScaleSpec
    * additionally bounds |approx − exact| at sf0.1). */
  def qPercentilesApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val approx = graft.sources.OracleStage.stage(s, "pctl_approx_est", dir) {
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          expr(s"approx_percentile(l_extendedprice, CAST(0.5 AS DOUBLE), $percentileAccuracy)").as("p50"),
          expr(s"approx_percentile(l_extendedprice, CAST(0.95 AS DOUBLE), $percentileAccuracy)").as("p95"))
    }
    Tables.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice")
      .join(broadcast(approx), Seq("l_returnflag"))
      .groupBy($"l_returnflag", $"p50", $"p95")
      .agg(count(lit(1)).as("n"),
        countIf($"l_extendedprice" < $"p50").as("lo50"),
        countIf($"l_extendedprice" <= $"p50").as("hi50"),
        countIf($"l_extendedprice" < $"p95").as("lo95"),
        countIf($"l_extendedprice" <= $"p95").as("hi95"))
      .select($"l_returnflag", $"p50", $"p95", $"n",
        expr(pctlBoundSql("0.5", "lo50", "hi50")).as("p50_in_bound"),
        expr(pctlBoundSql("0.95", "lo95", "hi95")).as("p95_in_bound"))
      .orderBy($"l_returnflag")
  }

  /** The GK rank-bound verdict, one SQL text valid (and identical) in
    * Spark SQL and DuckDB: the returned value v occupies ranks
    * [lo+1, hi] (lo = count(x < v), hi = count(x ≤ v)); the sketch
    * promises some rank within ε·n (+1 slack) of p·n. */
  private def pctlBoundSql(p: String, lo: String, hi: String): String = {
    val eps = s"(CAST(1 AS DOUBLE) / CAST($percentileAccuracy AS DOUBLE))"
    s"""(CAST($lo + 1 AS DOUBLE) <=
       |   CAST($p AS DOUBLE) * CAST(n AS DOUBLE) + $eps * CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)
       | AND CAST($hi AS DOUBLE) >=
       |   CAST($p AS DOUBLE) * CAST(n AS DOUBLE) - $eps * CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))""".stripMargin
  }

  /** Oracle over the staged sketch values: ranks, counts and the
    * bound verdict recomputed in DuckDB with the same SQL text. */
  def qPercentilesApproxSql(glob: String): String =
    s"""WITH est AS (SELECT l_returnflag, p50, p95 FROM read_parquet('$glob')),
       |agg AS (
       |  SELECT li.l_returnflag, est.p50, est.p95,
       |    count(*) AS n,
       |    ${countIfSql("l_extendedprice < p50")} AS lo50,
       |    ${countIfSql("l_extendedprice <= p50")} AS hi50,
       |    ${countIfSql("l_extendedprice < p95")} AS lo95,
       |    ${countIfSql("l_extendedprice <= p95")} AS hi95
       |  FROM lineitem li JOIN est USING (l_returnflag)
       |  GROUP BY 1, 2, 3)
       |SELECT l_returnflag, p50, p95, n,
       |  ${pctlBoundSql("0.5", "lo50", "hi50")} AS p50_in_bound,
       |  ${pctlBoundSql("0.95", "lo95", "hi95")} AS p95_in_bound
       |FROM agg
       |ORDER BY l_returnflag""".stripMargin

  /** Full cube over two order dimensions with portable ALL labels. */
  def qCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n_orders", $"sum_price")
      .orderBy($"status", $"priority")
  }

  val qCubeSql: String =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  count(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |-- see qRollupSql: Spark emits no grand-total row on empty input
       |HAVING count(*) > 0
       |ORDER BY status, priority""".stripMargin

  // -------------------------------------------------------------------

  /** Nation whose suppliers form the bloom build side. */
  val bloomNation = "NATION_3"

  /** §2.3 #24i — bloom-prefiltered fact⋈dim join (explicit semi-join
    * reduction): the build side's KEY SET is aggregated into one
    * bloom blob (Spark's own `BloomFilterAggregate`, surfaced as
    * `graft_bloom_agg`), and the probe side is filtered with
    * `might_contain` BEFORE its exchange. This is the shuffle-
    * reduction play for the case broadcast can't cover at 100 TB: the
    * build side is too big to broadcast as ROWS, but its key set fits
    * a bloom of a few MB. False positives don't threaten correctness
    * — the real join still runs (hinted shuffle_hash, standing in for
    * the at-scale non-broadcastable case) — they only cost unpruned
    * rows, so the result is exactly the plain join's (= the oracle;
    * PlanSpec asserts the might_contain filter sits under the probe
    * exchange and measures the pruning). The bloom blob itself is the
    * only driver traffic (bounded, ~100 KB) — the production analog
    * of InjectRuntimeFilter's subquery broadcast. */
  def qBloomPrejoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter($"n_name" === bloomNation)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    val bloom = sup
      .agg(expr("graft_bloom_agg(xxhash64(s_suppkey), 100000L, 800000L)"))
      .head.getAs[Array[Byte]](0)
    val li = Tables.lineitem(s, dir)
      .filter(call_function("graft_might_contain", lit(bloom), xxhash64($"l_suppkey")))
    li.hint("shuffle_hash").join(sup, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_suppkey", $"s_name")
      .agg(count(lit(1)).as("n_items"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"s_suppkey")
  }

  val qBloomPrejoinSql: String =
    s"""SELECT s_suppkey, s_name, count(*) AS n_items,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem, supplier, nation
       |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |  AND n_name = '$bloomNation'
       |GROUP BY s_suppkey, s_name
       |ORDER BY s_suppkey""".stripMargin

  /** The bloom-prefiltered probe side alone, exposed for PlanSpec's
    * pruning measurement. */
  private[graft] def bloomProbeSide(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter($"n_name" === bloomNation)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val bloom = sup
      .agg(expr("graft_bloom_agg(xxhash64(s_suppkey), 100000L, 800000L)"))
      .head.getAs[Array[Byte]](0)
    Tables.lineitem(s, dir)
      .filter(call_function("graft_might_contain", lit(bloom), xxhash64($"l_suppkey")))
  }

  /** §2.3 #24j — one-pass table profiling (the ANALYZE-TABLE shape):
    * row count, per-column null counts, exact distinct cardinalities
    * and value extrema for lineitem, all in ONE aggregate. Multiple
    * exact count(distinct) in one agg is the interesting plan:
    * Catalyst rewrites them through a single Expand (one row per
    * distinct-agg per input row) + two-phase aggregate — one scan, no
    * per-column jobs, partial aggregation throughout. At 100 TB this
    * is the difference between profiling in one pass and N passes;
    * columns whose NDV explodes switch to [[qApproxDistinct]]'s HLL
    * path. */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      countIf($"l_returnflag".isNull).as("null_returnflag"),
      countIf($"l_shipdate".isNull).as("null_shipdate"),
      count_distinct($"l_returnflag").as("ndv_returnflag"),
      count_distinct($"l_linestatus").as("ndv_linestatus"),
      count_distinct($"l_suppkey").as("ndv_suppkey"),
      min($"l_quantity").as("min_qty"),
      max($"l_quantity").as("max_qty"),
      min($"l_shipdate").as("min_shipdate"),
      max($"l_shipdate").as("max_shipdate"))
  }

  val qProfileSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag,
      |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
      |  count(DISTINCT l_returnflag) AS ndv_returnflag,
      |  count(DISTINCT l_linestatus) AS ndv_linestatus,
      |  count(DISTINCT l_suppkey) AS ndv_suppkey,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty,
      |  min(l_shipdate) AS min_shipdate,
      |  max(l_shipdate) AS max_shipdate
      |FROM lineitem""".stripMargin

  /** §2.3 #24k — decorrelated scalar-subquery pattern: parts priced
    * above their brand's average ("for each row, compare to its
    * group's aggregate"). Users write the correlated subquery (= the
    * oracle); the engine's shape is the decorrelation every optimizer
    * performs: ONE partial-agged groupBy over the table + an
    * equi-join back — two scans, zero per-row subquery executions,
    * and the per-brand frame is dimension-sized so AQE broadcasts
    * it. */
  def qDecorrelate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Tables.part(s, dir)
    val brandAvg = part.groupBy($"p_brand")
      .agg(davg($"p_retailprice").as("brand_avg"))
    part.join(brandAvg, "p_brand")
      .filter($"p_retailprice" > $"brand_avg")
      .select($"p_partkey", $"p_brand", $"p_retailprice", $"brand_avg")
      .orderBy($"p_partkey")
  }

  val qDecorrelateSql: String =
    s"""SELECT p_partkey, p_brand, p_retailprice,
       |  (SELECT ${davgSql("p2.p_retailprice")} FROM part p2
       |   WHERE p2.p_brand = p.p_brand) AS brand_avg
       |FROM part p
       |WHERE p_retailprice > (SELECT ${davgSql("p2.p_retailprice")} FROM part p2
       |                       WHERE p2.p_brand = p.p_brand)
       |ORDER BY p_partkey""".stripMargin

  /** Bucket count for [[qBucketedJoin]]'s co-located tables. */
  val factBuckets = 16

  /** The bucketed copies are written once per dataset (the production
    * analog: the nightly tables were WRITTEN bucketed; queries only
    * read them), and rewritten when another dataset took the tables. */
  private def stageBucketedFacts(s: SparkSession, dir: String): Unit = {
    graft.sources.Sinks.writeBucketedOnce(dir, "graft_orders_bkt",
        Seq("o_orderkey"), factBuckets)(Tables.orders(s, dir))
    graft.sources.Sinks.writeBucketedOnce(dir, "graft_lineitem_bkt",
        Seq("l_orderkey"), factBuckets)(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
  }

  /** §2.3 #24l — the co-located fact⋈fact join: orders and lineitem
    * both persisted hash-bucketed (and sorted) on the order key, so
    * the recurring join plans with ZERO exchanges — both sides'
    * bucket layouts satisfy the join's distribution requirement at
    * read time (SortMergeJoin straight off the sorted buckets;
    * PlanSpec asserts no Exchange). This is THE layout decision for
    * a 100 TB nightly pipeline: the shuffle is paid once at write
    * time and amortized over every downstream join; reference analog
    * is processBatch's stable chunk keying (lib.ts:968-1071), lifted
    * to the storage layout. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bucketedJoinPlan(s, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** [[qBucketedJoin]]'s join, which PlanSpec asserts exchange-free.
    * Merge hint, never broadcast: both sides are FACTS at scale — AQE
    * would happily broadcast orders at test SF and that plan (a full
    * broadcast of a 10-TB table) dies at 100 TB; SMJ reads both bucket
    * layouts exchange-free and sort-free. */
  private[graft] def bucketedJoinPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    stageBucketedFacts(s, dir)
    s.table("graft_orders_bkt").hint("merge")
      .join(s.table("graft_lineitem_bkt"), $"o_orderkey" === $"l_orderkey")
  }

  val qBucketedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_items,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** SCD2 effective time of the change batch. */
  val scd2EffectiveUs: Long = 1704067200000000L // 2024-01-01 00:00:00 UTC

  /** §2.3 #24m — slowly-changing-dimension type-2 merge: apply a
    * change batch to a versioned dimension, CLOSING the changed keys'
    * current rows (valid_to = effective time) and APPENDING the new
    * versions — history preserved, vs [[qTableUpsert]]'s overwrite
    * semantics. Same scale layout as the upsert: the snapshot is
    * NEVER shuffled — changed keys are a broadcast semi/anti pair
    * (the change batch is small next to a 100 TB dimension), new
    * versions are a union. Change batch derived deterministically
    * (every 7th customer moves to a new segment). */
  def qScd2Merge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eff = scd2EffectiveUs
    val dim = Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment".as("segment"),
        lit(0L).as("valid_from_us"))
    val changes = dim.filter($"c_custkey" % 7 === 3)
      .select($"c_custkey", lit("MACHINERY-2").as("segment"))
    val changedKeys = changes.select($"c_custkey")
    val untouched = dim.join(broadcast(changedKeys), Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"segment", $"valid_from_us",
        lit(null).cast("long").as("valid_to_us"), lit(1L).as("is_current"))
    val closed = dim.join(broadcast(changedKeys), Seq("c_custkey"), "left_semi")
      .select($"c_custkey", $"segment", $"valid_from_us",
        lit(eff).as("valid_to_us"), lit(0L).as("is_current"))
    val opened = changes
      .select($"c_custkey", $"segment", lit(eff).as("valid_from_us"),
        lit(null).cast("long").as("valid_to_us"), lit(1L).as("is_current"))
    untouched.unionByName(closed).unionByName(opened)
      .orderBy($"c_custkey", $"valid_from_us")
  }

  val qScd2MergeSql: String =
    s"""WITH dim AS (
       |  SELECT c_custkey, c_mktsegment AS segment, CAST(0 AS BIGINT) AS valid_from_us
       |  FROM customer)
       |SELECT c_custkey, segment, valid_from_us,
       |  CAST(NULL AS BIGINT) AS valid_to_us, CAST(1 AS BIGINT) AS is_current
       |FROM dim WHERE c_custkey % 7 <> 3
       |UNION ALL
       |SELECT c_custkey, segment, valid_from_us,
       |  CAST($scd2EffectiveUs AS BIGINT), CAST(0 AS BIGINT)
       |FROM dim WHERE c_custkey % 7 = 3
       |UNION ALL
       |SELECT c_custkey, 'MACHINERY-2', CAST($scd2EffectiveUs AS BIGINT),
       |  CAST(NULL AS BIGINT), CAST(1 AS BIGINT)
       |FROM dim WHERE c_custkey % 7 = 3
       |ORDER BY c_custkey, valid_from_us""".stripMargin

  /** §2.3 #24n — moment-based outlier screen (the z-score sibling of
    * [[qAboveP95]]'s quantile slice): per-group mean and population
    * stddev derived from the EXACT decimal sums Σx and Σx² — so μ and
    * σ are bit-identical on both engines and at any parallelism (a
    * plain `stddev` aggregate is a float sum whose value depends on
    * partitioning) — then rows with |x − μ| > 3σ counted row-locally
    * after a broadcast join of the group-count-sized stats frame. */
  def qZscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val stats = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_extendedprice").as("sx"),
        dsum($"l_extendedprice" * $"l_extendedprice").as("sxx"))
      .withColumn("mu", $"sx" / $"n".cast("double"))
      .withColumn("sigma", sqrt($"sxx" / $"n".cast("double") - $"mu" * $"mu"))
    li.join(broadcast(stats), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(
        max($"n").as("n"),
        expr(Agg0.rndSql("any_value(mu)", 4)).as("mu"),
        expr(Agg0.rndSql("any_value(sigma)", 4)).as("sigma"),
        countIf(abs($"l_extendedprice" - $"mu") > lit(3.0) * $"sigma").as("n_outliers"))
      .orderBy($"l_returnflag")
  }

  val qZscoreOutliersSql: String =
    s"""WITH st AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    ${dsumSql("l_extendedprice")} AS sx,
       |    ${dsumSql("l_extendedprice * l_extendedprice")} AS sxx
       |  FROM lineitem GROUP BY l_returnflag
       |), m AS (
       |  SELECT l_returnflag, n, sx / CAST(n AS DOUBLE) AS mu,
       |    sqrt(sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))) AS sigma
       |  FROM st
       |)
       |SELECT li.l_returnflag, max(m.n) AS n,
       |  ${Agg0.rndSql("any_value(m.mu)", 4)} AS mu,
       |  ${Agg0.rndSql("any_value(m.sigma)", 4)} AS sigma,
       |  ${countIfSql("abs(li.l_extendedprice - m.mu) > 3.0 * m.sigma")} AS n_outliers
       |FROM lineitem li JOIN m ON li.l_returnflag = m.l_returnflag
       |GROUP BY li.l_returnflag
       |ORDER BY li.l_returnflag""".stripMargin

  /** §2.3 #24o — full-outer reconciliation: two independently-derived
    * views of the same key space (urgent-priority orders vs per-order
    * revenue of early-shipped lineitems) FULL OUTER joined and every
    * key classified `both` / `left_only` / `right_only` with the
    * matched sides' sum drift — the nightly "do the systems agree"
    * job. Exercises the one join type the suite didn't yet pin:
    * full-outer is never broadcastable (both sides must surface
    * unmatched rows), so it's the shuffle join by construction, one
    * exchange per side on the key. */
  def qFullOuterReconcile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val left = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey".as("okey"), $"o_totalprice")
    val right = Tables.lineitem(s, dir)
      .filter($"l_shipdate" < lit("1997-01-01 00:00:00").cast("timestamp"))
      .groupBy($"l_orderkey".as("okey"))
      .agg(dsum($"l_extendedprice").as("li_revenue"))
    left.join(right, Seq("okey"), "full_outer")
      .withColumn("status",
        when($"o_totalprice".isNotNull && $"li_revenue".isNotNull, "both")
          .when($"o_totalprice".isNotNull, "left_only")
          .otherwise("right_only"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_keys"),
        dsum(coalesce($"o_totalprice", lit(0.0))).as("sum_orders"),
        dsum(coalesce($"li_revenue", lit(0.0))).as("sum_lineitems"))
      .orderBy($"status")
  }

  val qFullOuterReconcileSql: String =
    s"""WITH l AS (
       |  SELECT o_orderkey AS okey, o_totalprice FROM orders
       |  WHERE o_orderpriority = '1-URGENT'),
       |r AS (
       |  SELECT l_orderkey AS okey, ${dsumSql("l_extendedprice")} AS li_revenue
       |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  GROUP BY l_orderkey),
       |j AS (
       |  SELECT CASE WHEN l.okey IS NOT NULL AND r.okey IS NOT NULL THEN 'both'
       |              WHEN l.okey IS NOT NULL THEN 'left_only'
       |              ELSE 'right_only' END AS status,
       |    l.o_totalprice, r.li_revenue
       |  FROM l FULL OUTER JOIN r ON l.okey = r.okey)
       |SELECT status, count(*) AS n_keys,
       |  ${dsumSql("coalesce(o_totalprice, 0.0)")} AS sum_orders,
       |  ${dsumSql("coalesce(li_revenue, 0.0)")} AS sum_lineitems
       |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** §2.3 #24p — declarative constraint validation (the dbt-test /
    * CHECK-constraint audit): primary-key uniqueness, referential
    * integrity, and domain ranges over the star schema, one row per
    * constraint with its violation count. Each check is the cheapest
    * plan for its class — PK via partial-agged groupBy (count of
    * over-1 groups), FKs via LEFT ANTI against the (broadcastable)
    * parent key set, ranges row-local — and the suite unions
    * scalar-sized results, so the audit costs one pass per
    * participating table. All-zero violations on the test data is the
    * point: the oracle proves the CHECKS compute the same thing, the
    * spec proves they actually fire on corrupted rows. */
  def qConstraints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val cust = Tables.customer(s, dir)
    def check(name: String, v: DataFrame): DataFrame =
      v.select(lit(name).as("constraint_name"), $"n_violations")
    val pkOrders = check("pk_orders_unique",
      orders.groupBy($"o_orderkey").agg(count(lit(1)).as("c"))
        .agg(countIf($"c" > 1L).as("n_violations")))
    val fkLiOrders = check("fk_lineitem_orders",
      li.join(orders.select($"o_orderkey"),
          $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("n_violations")))
    val fkOrdersCust = check("fk_orders_customer",
      orders.join(cust.select($"c_custkey"),
          $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("n_violations")))
    val rangeDiscount = check("range_discount_0_1",
      li.agg(countIf($"l_discount" < 0.0 || $"l_discount" > 1.0).as("n_violations")))
    val rangeQty = check("range_quantity_pos",
      li.agg(countIf($"l_quantity" <= 0.0).as("n_violations")))
    pkOrders.unionByName(fkLiOrders).unionByName(fkOrdersCust)
      .unionByName(rangeDiscount).unionByName(rangeQty)
      .orderBy($"constraint_name")
  }

  val qConstraintsSql: String =
    s"""SELECT 'pk_orders_unique' AS constraint_name,
       |  (SELECT ${countIfSql("c > 1")} FROM
       |     (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)) AS n_violations
       |UNION ALL
       |SELECT 'fk_lineitem_orders',
       |  (SELECT count(*) FROM lineitem
       |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
       |UNION ALL
       |SELECT 'fk_orders_customer',
       |  (SELECT count(*) FROM orders
       |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
       |UNION ALL
       |SELECT 'range_discount_0_1',
       |  (SELECT ${countIfSql("l_discount < 0.0 OR l_discount > 1.0")} FROM lineitem)
       |UNION ALL
       |SELECT 'range_quantity_pos',
       |  (SELECT ${countIfSql("l_quantity <= 0.0")} FROM lineitem)
       |ORDER BY constraint_name""".stripMargin

  /** k-anonymity threshold for [[qKAnonymity]]. */
  /** §2.3 — functional-dependency audit (the schema-discovery /
    * data-contract instrument next to [[qConstraints]]'s declared
    * checks): for each CLAIMED dependency lhs → rhs, how many lhs
    * keys actually map to more than one rhs value, and the worst
    * fan-out. The audited pairs here exercise both a holding FD
    * (orderkey → its order's priority, true by construction through
    * the join) and violated ones (orderkey → returnflag / shipdate —
    * lineitems of one order genuinely differ). Per FD the layout is
    * dedup-then-count: one DISTINCT (lhs, rhs) pass (map-side
    * partial), a per-lhs count riding on it, and a scalar rollup —
    * never a value-set buffer; the branches union into an FD-count-
    * sized table. */
  def qFdAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    def audit(fd: String, pairs: DataFrame): DataFrame =
      pairs.toDF("k", "v").distinct()
        .groupBy($"k").agg(count(lit(1)).as("n_vals"))
        .agg(count(lit(1)).as("n_keys"),
          countIf($"n_vals" > 1L).as("n_violating_keys"),
          max($"n_vals").as("max_fanout"))
        .select(lit(fd).as("fd"), $"n_keys", $"n_violating_keys", $"max_fanout",
          expr(rndSql("CAST(n_violating_keys AS DOUBLE) / CAST(n_keys AS DOUBLE)", 6))
            .as("violation_share"))
    audit("l_orderkey->l_returnflag",
        li.select($"l_orderkey", $"l_returnflag"))
      .unionByName(audit("l_orderkey->l_shipdate",
        li.select($"l_orderkey", $"l_shipdate".cast("string"))))
      .unionByName(audit("l_orderkey->o_orderpriority",
        li.select($"l_orderkey")
          .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority"),
            $"l_orderkey" === $"o_orderkey")
          .select($"l_orderkey", $"o_orderpriority")))
      .orderBy($"fd")
  }

  val qFdAuditSql: String = {
    def auditSql(fd: String, pairs: String): String =
      s"""SELECT '$fd' AS fd, count(*) AS n_keys,
         |  ${countIfSql("n_vals > 1")} AS n_violating_keys,
         |  max(n_vals) AS max_fanout,
         |  ${rndSql("CAST(" + countIfSql("n_vals > 1") + " AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS violation_share
         |FROM (SELECT k, count(*) AS n_vals
         |      FROM (SELECT DISTINCT * FROM ($pairs) p(k, v)) GROUP BY k)""".stripMargin
    Seq(
      auditSql("l_orderkey->l_returnflag",
        "SELECT l_orderkey, l_returnflag FROM lineitem"),
      auditSql("l_orderkey->l_shipdate",
        "SELECT l_orderkey, CAST(l_shipdate AS VARCHAR) FROM lineitem"),
      auditSql("l_orderkey->o_orderpriority",
        "SELECT l_orderkey, o_orderpriority FROM lineitem JOIN orders ON l_orderkey = o_orderkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  val kAnonK = 5L
  /** Balance generalization width (the numeric quasi-identifier is
    * coarsened to this bucket before grouping, standard k-anonymity
    * generalization). */
  val kAnonBalBucket = 1000.0

  /** §2.3 — k-anonymity audit over quasi-identifiers: how
    * re-identifiable is a record from (nation, market segment,
    * generalized balance)? Every training-data release needs this
    * check — a quasi-group of size k < K means those k customers are
    * k-distinguishable even with direct identifiers stripped. One
    * partial-aggregated groupBy on the QI tuple (map-side combine,
    * uniform keys — the 100 TB shape); the release decision (`violates`)
    * is row-local on the aggregate. Generalization uses IEEE
    * floor(x/width)·width — bit-identical across engines. */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_nationkey", $"c_mktsegment",
        (floor($"c_acctbal" / kAnonBalBucket) * kAnonBalBucket.toLong)
          .cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("k"))
      .withColumn("violates", $"k" < kAnonK)
      .orderBy($"c_nationkey", $"c_mktsegment", $"bal_bucket")
  }

  val qKAnonymitySql: String =
    s"""SELECT c_nationkey, c_mktsegment,
       |  CAST(floor(c_acctbal / $kAnonBalBucket) * ${kAnonBalBucket.toLong} AS BIGINT) AS bal_bucket,
       |  count(*) AS k, count(*) < $kAnonK AS violates
       |FROM customer
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  /** §2.3 #24q — pairwise Pearson correlations (quantity, price,
    * discount) in ONE aggregate pass: every r derives from the five
    * exact decimal sums (n, Σx, Σy, Σxy, Σx², Σy²) by identical
    * double arithmetic — the `DataFrameStat.corr` capability, but
    * partition-independent and oracle-exact (Spark's own corr is a
    * float co-moment stream whose value depends on partitioning).
    * Output unpivots to one row per pair via `stack`. */
  /** Pearson r with the degenerate guard (n=1 or an all-equal series
    * has zero variance → r undefined → NULL in BOTH engines; ANSI
    * Spark would otherwise throw where DuckDB yields NULL). The zero
    * test is RELATIVE — see [[degFrag]]: a constant series computes a
    * variance within ±1 ulp of 0 and sqrt(-4e-16) is an error in
    * DuckDB, NaN in Spark. */
  private def corrFrag(sx: String, sy: String, sxy: String,
      sxx: String, syy: String): String =
    s"""CASE WHEN ${degFrag(sxx, sx)} OR ${degFrag(syy, sy)}
       |THEN CAST(NULL AS DOUBLE)
       |ELSE (CAST(n AS DOUBLE) * $sxy - $sx * $sy) /
       |sqrt((CAST(n AS DOUBLE) * $sxx - $sx * $sx) *
       |     (CAST(n AS DOUBLE) * $syy - $sy * $sy)) END""".stripMargin

  def qCorrelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def r(x: String, y: String, sx: String, sy: String, sxy: String,
        sxx: String, syy: String): org.apache.spark.sql.Column =
      expr(Agg0.rndSql(corrFrag(sx, sy, sxy, sxx, syy), 6))
    Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("sq"), dsum($"l_extendedprice").as("sp"),
        dsum($"l_discount").as("sd"),
        dsum($"l_quantity" * $"l_extendedprice").as("sqp"),
        dsum($"l_quantity" * $"l_discount").as("sqd"),
        dsum($"l_extendedprice" * $"l_discount").as("spd"),
        dsum($"l_quantity" * $"l_quantity").as("sqq"),
        dsum($"l_extendedprice" * $"l_extendedprice").as("spp"),
        dsum($"l_discount" * $"l_discount").as("sdd"))
      .select(
        r("q", "p", "sq", "sp", "sqp", "sqq", "spp").as("r_qty_price"),
        r("q", "d", "sq", "sd", "sqd", "sqq", "sdd").as("r_qty_disc"),
        r("p", "d", "sp", "sd", "spd", "spp", "sdd").as("r_price_disc"))
      .select(expr(
        "stack(3, 'qty_price', r_qty_price, 'qty_disc', r_qty_disc, 'price_disc', r_price_disc) AS (pair, r)"))
      .orderBy($"pair")
  }

  val qCorrelationSql: String = {
    def rS(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
      Agg0.rndSql(corrFrag(sx, sy, sxy, sxx, syy), 6)
    s"""WITH sums AS (
       |  SELECT count(*) AS n,
       |    ${dsumSql("l_quantity")} AS sq, ${dsumSql("l_extendedprice")} AS sp,
       |    ${dsumSql("l_discount")} AS sd,
       |    ${dsumSql("l_quantity * l_extendedprice")} AS sqp,
       |    ${dsumSql("l_quantity * l_discount")} AS sqd,
       |    ${dsumSql("l_extendedprice * l_discount")} AS spd,
       |    ${dsumSql("l_quantity * l_quantity")} AS sqq,
       |    ${dsumSql("l_extendedprice * l_extendedprice")} AS spp,
       |    ${dsumSql("l_discount * l_discount")} AS sdd
       |  FROM lineitem)
       |SELECT pair, r FROM (
       |  SELECT 'qty_price' AS pair, ${rS("sq", "sp", "sqp", "sqq", "spp")} AS r FROM sums
       |  UNION ALL
       |  SELECT 'qty_disc', ${rS("sq", "sd", "sqd", "sqq", "sdd")} FROM sums
       |  UNION ALL
       |  SELECT 'price_disc', ${rS("sp", "sd", "spd", "spp", "sdd")} FROM sums)
       |ORDER BY pair""".stripMargin
  }

  /** §2.3 #24r — per-group OLS trend line (extendedprice ~ quantity
    * per returnflag): slope, intercept and R² derived from the same
    * exact decimal co-moments as [[qCorrelation]] — one partial-agged
    * pass, group-state O(1), bit-stable at any parallelism. The
    * regression every BI "add trendline" button runs, as an engine
    * aggregate. */
  def qRegression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("sx"), dsum($"l_extendedprice").as("sy"),
        dsum($"l_quantity" * $"l_extendedprice").as("sxy"),
        dsum($"l_quantity" * $"l_quantity").as("sxx"),
        dsum($"l_extendedprice" * $"l_extendedprice").as("syy"))
      .select($"l_returnflag", $"n",
        expr(Agg0.rndSql(regSlopeFrag, 6)).as("slope"),
        expr(Agg0.rndSql(regInterceptFrag, 6)).as("intercept"),
        expr(Agg0.rndSql(regR2Frag, 6)).as("r2"))
      .orderBy($"l_returnflag")
  }

  // degenerate-group guards (1-row group, all-equal x or y): the fit
  // is undefined — NULL in both engines, never an ANSI throw vs a
  // DuckDB NULL. The zero test is RELATIVE (term ≤ 1e-12 of its own
  // magnitude): an all-equal column's n·sxx − sx² lands within ±1 ulp
  // of 0 (observed −4.4e-16 on a constant l_discount), where an exact
  // = 0 misses and the statistic explodes past the quantizer; both
  // engines compute the identical doubles, so the branch agrees.
  private def degFrag(sxx: String, sx: String) =
    s"(CAST(n AS DOUBLE) * $sxx - $sx * $sx) <= 1e-12 * (CAST(n AS DOUBLE) * $sxx + $sx * $sx)"
  private val regDx = "(CAST(n AS DOUBLE) * sxx - sx * sx)"
  private val regDy = "(CAST(n AS DOUBLE) * syy - sy * sy)"
  private val regDegX = degFrag("sxx", "sx")
  private val regDegY = degFrag("syy", "sy")
  private val regSlopeFrag =
    s"CASE WHEN $regDegX THEN CAST(NULL AS DOUBLE) ELSE (CAST(n AS DOUBLE) * sxy - sx * sy) / $regDx END"
  private val regInterceptFrag =
    s"CASE WHEN $regDegX THEN CAST(NULL AS DOUBLE) ELSE (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / $regDx) * sx) / CAST(n AS DOUBLE) END"
  private val regR2Frag =
    s"""CASE WHEN $regDegX OR $regDegY THEN CAST(NULL AS DOUBLE)
       |ELSE ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) /
       |($regDx * $regDy) END""".stripMargin

  val qRegressionSql: String =
    s"""WITH sums AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    ${dsumSql("l_quantity")} AS sx, ${dsumSql("l_extendedprice")} AS sy,
       |    ${dsumSql("l_quantity * l_extendedprice")} AS sxy,
       |    ${dsumSql("l_quantity * l_quantity")} AS sxx,
       |    ${dsumSql("l_extendedprice * l_extendedprice")} AS syy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  ${Agg0.rndSql(regSlopeFrag, 6)} AS slope,
       |  ${Agg0.rndSql(regInterceptFrag, 6)} AS intercept,
       |  ${Agg0.rndSql(regR2Frag, 6)} AS r2
       |FROM sums ORDER BY l_returnflag""".stripMargin

  /** §2.3 #24s — Gini concentration of customer revenue ("what share
    * of revenue do the biggest customers hold"): G = 2·Σ rank·xᵢ /
    * (n·Σx) − (n+1)/n over ascending-sorted per-customer revenue.
    * The rank comes from the two-phase bucketed global rank — a
    * `row_number() OVER (ORDER BY revenue)` is a one-task sort at
    * scale — and both Σx and Σ rank·x run through the exact decimal
    * path, so the index is bit-stable and oracle-exact. */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .groupBy($"o_custkey").agg(dsum($"o_totalprice").as("rev"))
    val ranked = graft.functions.Ranks.globalRowNumber(rev,
      Seq($"rev", $"o_custkey"), "rk")
    ranked.agg(count(lit(1)).as("n"),
        dsum($"rev").as("sx"),
        dsum($"rk".cast("double") * $"rev").as("srx"))
      .select($"n",
        expr(Agg0.rndSql(
          "2.0 * srx / (CAST(n AS DOUBLE) * sx) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)", 6)).as("gini"))
  }

  val qGiniSql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey, ${dsumSql("o_totalprice")} AS rev
       |  FROM orders GROUP BY o_custkey),
       |ranked AS (
       |  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS rk FROM rev),
       |sums AS (
       |  SELECT count(*) AS n, ${dsumSql("rev")} AS sx,
       |    ${dsumSql("CAST(rk AS DOUBLE) * rev")} AS srx
       |  FROM ranked)
       |SELECT n,
       |  ${Agg0.rndSql("2.0 * srx / (CAST(n AS DOUBLE) * sx) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)", 6)} AS gini
       |FROM sums""".stripMargin

  // ------------------------------------------------------------------
  // q_skew_join — salted shuffled join (hot-key mitigation)
  // ------------------------------------------------------------------

  /** Salt bucket count for [[qSkewJoin]]. */
  val skewSaltBuckets = 8

  /** §2.3 — SALTED shuffled join, the manual hot-key play for the one
    * join AQE's skew splitting can't fix: build-side rows of a hot key
    * must meet EVERY probe row of that key, so splitting the probe
    * partition alone still re-reads one build partition hot. Salting
    * restructures the key itself: the probe side appends a
    * deterministic salt (hash of its OWN pk, so no RNG and no
    * correlation with the join key), the build side replicates each
    * row into all S salt values (a row-local explode — the bounded ×S
    * price), and the join key becomes (key, salt) — a hot user now
    * spreads over S reducers BY CONSTRUCTION, whatever the planner
    * does. Query: enrich each event with its user's activity tier
    * (join events to their own per-user aggregate — the classic
    * self-enrichment join where bot/whale users make user_id hot);
    * shuffle_hash-hinted so test-SF stats can't broadcast the
    * would-be-huge profile side. Salting is invisible in the result —
    * the oracle is the plain unsalted join. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    skewJoinPlan(s, dir)
      .withColumn("tier",
        when($"n_user" >= 75, "heavy").when($"n_user" >= 60, "mid").otherwise("light"))
      .groupBy($"event_type", $"tier")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"event_type", $"tier")
  }

  /** [[qSkewJoin]]'s salted join, which PlanSpec checks (join keys
    * must include the salt; build side must carry the ×S Generate). */
  private[graft] def skewJoinPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val prof = ev.groupBy($"user_id").agg(count(lit(1)).as("n_user"))
      .withColumn("salt", explode(lit((0 until skewSaltBuckets).toArray)))
    ev.select($"event_type", $"user_id",
        pmod(xxhash64($"event_id"), lit(skewSaltBuckets.toLong)).cast("int").as("salt"))
      .hint("shuffle_hash")
      .join(prof, Seq("user_id", "salt"))
  }

  val qSkewJoinSql: String =
    """WITH prof AS (
      |  SELECT user_id, count(*) AS n_user FROM events GROUP BY 1
      |)
      |SELECT e.event_type,
      |  CASE WHEN p.n_user >= 75 THEN 'heavy'
      |       WHEN p.n_user >= 60 THEN 'mid'
      |       ELSE 'light' END AS tier,
      |  count(*) AS n_events
      |FROM events e JOIN prof p ON e.user_id = p.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_mad_outliers — robust (median/MAD) outlier screen
  // ------------------------------------------------------------------

  /** §2.3 — robust outlier screen, the quantile sibling of
    * [[qZscoreOutliers]]: per group the MEDIAN and the median absolute
    * deviation, then the Iglewicz–Hoaglin modified z-score
    * 0.6745·|x−med|/MAD > 3.5 counted row-locally. μ/σ moments are
    * dragged by the very outliers they're meant to find; med/MAD have
    * a 50% breakdown point. Two bounded aggregate passes (median,
    * then MAD over the broadcast-joined deviations) + one counting
    * pass — never a per-row window. med/MAD are quantized at 1e-6 on
    * BOTH engines before the strict threshold compare, so a one-ulp
    * interpolation divergence cannot flip boundary rows (the
    * [[qAboveP95]] hazard, closed here by construction). Exact
    * percentile state is per-group-unbounded — the documented trade;
    * at NDV-exploding group keys this swaps to the
    * [[qPercentilesDist]] range-partitioned layout unchanged. */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val med = ev.groupBy($"event_type")
      .agg(expr(Agg0.rndSql("percentile(value, CAST(0.5 AS DOUBLE))", 6)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs($"value" - $"med"))
    val madDf = dev.groupBy($"event_type")
      .agg(expr(Agg0.rndSql("percentile(dev, CAST(0.5 AS DOUBLE))", 6)).as("mad"))
    dev.join(broadcast(madDf), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        max($"med").as("med"),
        max($"mad").as("mad"),
        countIf(lit(0.6745) * $"dev" > lit(3.5) * $"mad").as("n_outliers"))
      .orderBy($"event_type")
  }

  val qMadOutliersSql: String =
    s"""WITH med AS (
       |  SELECT event_type,
       |    ${Agg0.rndSql("quantile_cont(value, 0.5)", 6)} AS med
       |  FROM events GROUP BY 1
       |), dev AS (
       |  SELECT e.event_type, med.med,
       |    abs(e.value - med.med) AS dev
       |  FROM events e JOIN med ON e.event_type = med.event_type
       |), mad AS (
       |  SELECT event_type, ${Agg0.rndSql("quantile_cont(dev, 0.5)", 6)} AS mad
       |  FROM dev GROUP BY 1
       |)
       |SELECT dev.event_type, count(*) AS n,
       |  max(dev.med) AS med, max(mad.mad) AS mad,
       |  ${countIfSql("0.6745 * dev.dev > 3.5 * mad.mad")} AS n_outliers
       |FROM dev JOIN mad ON dev.event_type = mad.event_type
       |GROUP BY dev.event_type
       |ORDER BY dev.event_type""".stripMargin

  /** Winsorized robust statistics — per-group mean/stddev after
    * clipping to the [p05, p95] exact quantile band, the standard
    * robust-mean treatment for heavy-tailed metrics. Two passes over
    * the fact table: pass 1 derives the per-group thresholds (group
    * count is bounded — 3 return flags — so the exact-percentile state
    * is bounded and the result is a broadcast-sized table; at larger
    * group counts swap in the two-phase distributed layout of
    * `q_percentiles_dist`, same contract); pass 2 re-scans, clips via
    * the broadcast thresholds, and runs the exact decimal-sum moment
    * aggregate. No row buffering in pass 2, partial aggs map-side. */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice")
    // one shared counts buffer for both thresholds (the qPercentiles
    // array device) — halves the dominant pass-1 aggregate cost
    val thresholds = li.groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(CAST(0.05 AS DOUBLE), CAST(0.95 AS DOUBLE)))").as("__ps"))
      .select($"l_returnflag", $"__ps"(0).as("lo"), $"__ps"(1).as("hi"))
    li.join(broadcast(thresholds), "l_returnflag")
      .withColumn("w", least(greatest($"l_extendedprice", $"lo"), $"hi"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        davg($"l_extendedprice").as("raw_mean"),
        davg($"w").as("wins_mean"),
        expr(Agg0.rndSql("first(lo)", 4)).as("p05"),
        expr(Agg0.rndSql("first(hi)", 4)).as("p95"))
      .orderBy($"l_returnflag")
  }

  val qWinsorizeSql: String =
    s"""WITH t AS (
       |  SELECT l_returnflag,
       |    quantile_cont(l_extendedprice, 0.05) AS lo,
       |    quantile_cont(l_extendedprice, 0.95) AS hi
       |  FROM lineitem GROUP BY 1)
       |SELECT l.l_returnflag, count(*) AS n,
       |  ${davgSql("l.l_extendedprice")} AS raw_mean,
       |  ${davgSql("least(greatest(l.l_extendedprice, t.lo), t.hi)")} AS wins_mean,
       |  ${Agg0.rndSql("first(t.lo)", 4)} AS p05,
       |  ${Agg0.rndSql("first(t.hi)", 4)} AS p95
       |FROM lineitem l JOIN t USING (l_returnflag)
       |GROUP BY l.l_returnflag
       |ORDER BY l.l_returnflag""".stripMargin

  /** Pareto concentration audit — customers ranked by revenue
    * (descending), split into population deciles, each decile's
    * customer count, revenue, revenue share, and the cumulative share
    * ("do the top 10% drive 60% of revenue?"). The distribution-table
    * companion to `q_gini`'s single index.
    *
    * Scale layout: per-customer revenue is one partial-agged fact
    * shuffle; the descending rank uses the two-phase bucketed global
    * row number ([[graft.functions.Ranks.globalRowNumber]] on the
    * NEGATED quantized revenue — never a one-task ORDER BY window);
    * decile assignment is row-local arithmetic on (rank, n); the
    * final cumulative window runs over exactly 10 rows. Revenue is
    * quantized long end-to-end so ordering and sums are engine-exact;
    * (−rev_q, custkey) is a unique composite so the rank is
    * deterministic. */
  def qParetoDeciles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Ranks
    val perCust = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum(quantize($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
        .cast("long")).as("rev_q"))
    // pinned: count(), boundary sampling, the offsets pass and the
    // final scan would otherwise each re-run the lineitem join+agg
    // (the §8 sample-reexecution trap qRfm documents)
    val pinned = perCust.localCheckpoint(true)
    val n = pinned.count() // one scalar: the ranked population size
    val ranked = Ranks.globalRowNumber(
      pinned.withColumn("neg_rev", -$"rev_q"),
      Seq($"neg_rev", $"o_custkey"), "rn")
    ranked
      .withColumn("decile",
        (floor((($"rn" - 1L) * 10L).cast("double") / lit(n.toDouble)) + 1L).cast("int"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"), sum($"rev_q").as("drev_q"))
      .withColumn("cum_q", sum($"drev_q").over(
        Window.orderBy($"decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot_q", sum($"drev_q").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"decile", $"n_cust",
        ($"drev_q".cast("double") / lit(10000.0)).as("revenue"),
        expr(Agg0.rndSql("CAST(drev_q AS DOUBLE) / CAST(tot_q AS DOUBLE)", 6)).as("share"),
        expr(Agg0.rndSql("CAST(cum_q AS DOUBLE) / CAST(tot_q AS DOUBLE)", 6)).as("cum_share"))
      .orderBy($"decile")
  }

  val qParetoDecilesSql: String =
    s"""WITH pc AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
       |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS rev_q
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1),
       |r AS (
       |  SELECT o_custkey, rev_q,
       |    row_number() OVER (ORDER BY rev_q DESC, o_custkey) AS rn,
       |    count(*) OVER () AS n
       |  FROM pc),
       |d AS (
       |  SELECT CAST(floor(CAST((rn - 1) * 10 AS DOUBLE) / CAST(n AS DOUBLE)) + 1 AS INT) AS decile,
       |    rev_q
       |  FROM r),
       |g AS (
       |  SELECT decile, count(*) AS n_cust, CAST(sum(rev_q) AS BIGINT) AS drev_q
       |  FROM d GROUP BY 1)
       |SELECT decile, n_cust,
       |  CAST(drev_q AS DOUBLE) / 10000.0 AS revenue,
       |  ${Agg0.rndSql("CAST(drev_q AS DOUBLE) / CAST(sum(drev_q) OVER () AS DOUBLE)", 6)} AS share,
       |  ${Agg0.rndSql("CAST(sum(drev_q) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(drev_q) OVER () AS DOUBLE)", 6)} AS cum_share
       |FROM g ORDER BY decile""".stripMargin

  /** l for the l-diversity audit: a quasi-group needs at least this
    * many DISTINCT sensitive values. */
  val lDiversityL = 3L

  /** §2.3 — l-diversity audit over the same quasi-identifier
    * generalization as `q_k_anonymity`, with market segment as the
    * SENSITIVE attribute: k-anonymity alone is defeated by a
    * homogeneous group (all k members share the sensitive value —
    * re-identification discloses it anyway); l-diversity requires ≥ l
    * distinct sensitive values per quasi-group. One partial-agged
    * groupBy computing k and the exact distinct-count together
    * (Spark plans the distinct agg as dedup-then-count — no value
    * set buffers in a reducer); the flag is row-local. */
  def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_nationkey",
        (floor($"c_acctbal" / kAnonBalBucket) * kAnonBalBucket.toLong)
          .cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("k"),
        countDistinct($"c_mktsegment").as("l_distinct"))
      .withColumn("violates", $"l_distinct" < lDiversityL)
      .orderBy($"c_nationkey", $"bal_bucket")
  }

  val qLDiversitySql: String =
    s"""SELECT c_nationkey,
       |  CAST(floor(c_acctbal / $kAnonBalBucket) * ${kAnonBalBucket.toLong} AS BIGINT) AS bal_bucket,
       |  count(*) AS k,
       |  count(DISTINCT c_mktsegment) AS l_distinct,
       |  count(DISTINCT c_mktsegment) < $lDiversityL AS violates
       |FROM customer
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** t-closeness threshold: a quasi-identifier group violates when
    * its sensitive-attribute distribution sits further than this
    * total-variation distance from the global distribution. Kept a
    * ratio of small integers so the violation predicate can compare
    * EXACT integers ([[qTCloseness]]). */
  val tClosenessNum = 1L
  val tClosenessDen = 5L

  /** §2.3 — t-closeness audit (Li et al. 2007), completing the
    * k-anonymity → l-diversity → t-closeness privacy triad: per
    * quasi-identifier group (nation, balance bucket), the TOTAL
    * VARIATION distance between the group's market-segment
    * distribution and the global one — l-diversity counts distinct
    * sensitive values, t-closeness catches the skew l-diversity
    * misses (a group with all 5 segments but 96% BUILDING still
    * leaks).
    *
    * Exactness: TVD = Σ|n_s·N − g_s·k| / (2·k·N) has an all-integer
    * numerator, so the distance sums exactly (DECIMAL(38) products —
    * n·N overflows int64 at 100 TB row counts) and the violation
    * test cross-multiplies integers (den·Σ > 2·num·k·N) — no double
    * ever decides a verdict. Scale: one partial-agged fact pass to
    * (group, segment) cells; everything after runs on the
    * group × |segments| spine (bounded), global marginals broadcast.
    * Absent segments contribute |0 − g_s·k| via the spine's left
    * join — the term a naive cells-only join silently drops. */
  def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cells = Tables.customer(s, dir)
      .groupBy($"c_nationkey",
        (floor($"c_acctbal" / kAnonBalBucket) * kAnonBalBucket.toLong)
          .cast("long").as("bal_bucket"),
        $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val groups = cells.groupBy($"c_nationkey", $"bal_bucket")
      .agg(sum($"n").cast("long").as("k"))
    val global = cells.groupBy($"c_mktsegment").agg(sum($"n").cast("long").as("g"))
      .localCheckpoint(true)
    val totalN = global.agg(sum($"g").cast("long").as("big_n"))
    val spine = groups
      .join(broadcast(global.select($"c_mktsegment", $"g")))
      .join(broadcast(totalN))
    spine
      .join(cells.withColumnRenamed("n", "n_s"),
        Seq("c_nationkey", "bal_bucket", "c_mktsegment"), "left")
      .withColumn("n0", coalesce($"n_s", lit(0L)))
      .groupBy($"c_nationkey", $"bal_bucket", $"k", $"big_n")
      .agg(sum(abs($"n0".cast(DecimalType(38, 0)) * $"big_n" -
        $"g".cast(DecimalType(38, 0)) * $"k")).as("num"))
      .select($"c_nationkey", $"bal_bucket", $"k",
        expr(rndSql("CAST(num AS DOUBLE) / (2.0 * CAST(k AS DOUBLE) * CAST(big_n AS DOUBLE))", 6)).as("tvd"),
        ($"num" * lit(tClosenessDen) >
          $"k".cast(DecimalType(38, 0)) * $"big_n" * lit(2L * tClosenessNum)).as("violates"))
      .orderBy($"c_nationkey", $"bal_bucket")
  }

  val qTClosenessSql: String =
    s"""WITH cells AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / $kAnonBalBucket) * ${kAnonBalBucket.toLong} AS BIGINT) AS bal_bucket,
       |    c_mktsegment, count(*) AS n
       |  FROM customer GROUP BY 1, 2, 3
       |), groups AS (
       |  SELECT c_nationkey, bal_bucket, CAST(sum(n) AS BIGINT) AS k
       |  FROM cells GROUP BY 1, 2
       |), global AS (
       |  SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS g FROM cells GROUP BY 1
       |), tot AS (SELECT CAST(sum(g) AS BIGINT) AS big_n FROM global),
       |spine AS (
       |  SELECT gr.c_nationkey, gr.bal_bucket, gr.k, gl.c_mktsegment, gl.g, t.big_n
       |  FROM groups gr CROSS JOIN global gl CROSS JOIN tot t
       |), terms AS (
       |  SELECT s.c_nationkey, s.bal_bucket, s.k, s.big_n,
       |    abs(CAST(coalesce(c.n, 0) AS DECIMAL(38,0)) * s.big_n
       |        - CAST(s.g AS DECIMAL(38,0)) * s.k) AS term
       |  FROM spine s LEFT JOIN cells c
       |    ON s.c_nationkey = c.c_nationkey AND s.bal_bucket = c.bal_bucket
       |   AND s.c_mktsegment = c.c_mktsegment
       |)
       |SELECT c_nationkey, bal_bucket, k,
       |  ${rndSql("CAST(sum(term) AS DOUBLE) / (2.0 * CAST(k AS DOUBLE) * CAST(big_n AS DOUBLE))", 6)} AS tvd,
       |  sum(term) * $tClosenessDen >
       |    CAST(k AS DECIMAL(38,0)) * big_n * ${2L * tClosenessNum} AS violates
       |FROM terms
       |GROUP BY c_nationkey, bal_bucket, k, big_n
       |ORDER BY c_nationkey, bal_bucket""".stripMargin

  /** DP release budget for [[qDpCounts]] (Laplace scale b = 1/ε for
    * a count query's sensitivity of 1). */
  val dpEpsilon = 1.0

  /** §2.3 — differentially-private noisy count release, completing
    * the privacy family's OUTPUT side (k-anon/l-div/t-closeness audit
    * the quasi-identifier table; this is how aggregate counts leave
    * the enclave): per (event_type, day), the true count plus
    * Laplace(1/ε) noise. Noise is DETERMINISTIC — a Knuth-multiplied
    * PRF of the integer group key feeds the inverse-CDF Laplace
    * transform — which is what makes the release oracle-checkable
    * AND idempotent (re-running the release never publishes a second
    * independent sample of the same statistic, which would halve the
    * effective privacy budget; real DP systems memoize answers for
    * exactly this reason). Float enters only in the one ln() (both
    * engines' libm agree — the zipf/lm-score precedent), then the
    * release quantizes. ONE partial-agged fact shuffle; the noise is
    * a row-local expression on the bounded group frame. */
  def qDpCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      // integer group key: epoch-day ⊕ a type code — exact in both
      // engines (ascii = first code point; length in chars)
      .withColumn("k",
        datediff($"day", to_date(lit("1970-01-01"))).cast("long") * lit(31L) +
          length($"event_type") * lit(7L) +
          ascii(substring($"event_type", 1, 1)))
      .withColumn("u",
        (pmod($"k" * lit(2654435761L), lit(2147483647L)).cast("double") + lit(1.0)) /
          lit(2147483649.0))
    g.select($"event_type", $"day",
        expr(rndSql(
          s"""CAST(n AS DOUBLE) + CASE WHEN u >= 0.5
             |  THEN -(1.0 / $dpEpsilon) * ln(1.0 - 2.0 * (u - 0.5))
             |  ELSE  (1.0 / $dpEpsilon) * ln(1.0 - 2.0 * (0.5 - u)) END""".stripMargin, 4))
          .as("noisy_count"),
        lit(dpEpsilon).as("epsilon"))
      .orderBy($"event_type", $"day")
  }

  val qDpCountsSql: String =
    s"""WITH g AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), k AS (
       |  SELECT event_type, day, n,
       |    (CAST((date_diff('day', DATE '1970-01-01', day) * 31
       |       + length(event_type) * 7
       |       + ascii(substring(event_type, 1, 1))) * 2654435761 % 2147483647 AS DOUBLE)
       |      + 1.0) / 2147483649.0 AS u
       |  FROM g
       |)
       |SELECT event_type, day,
       |  ${rndSql(
      s"""CAST(n AS DOUBLE) + CASE WHEN u >= 0.5
         |  THEN -(1.0 / $dpEpsilon) * ln(1.0 - 2.0 * (u - 0.5))
         |  ELSE  (1.0 / $dpEpsilon) * ln(1.0 - 2.0 * (0.5 - u)) END""".stripMargin, 4)} AS noisy_count,
       |  $dpEpsilon AS epsilon
       |FROM k
       |ORDER BY event_type, day""".stripMargin

  /** §2.3 — peak session concurrency per day: the classic sweep-line
    * over session intervals — +1 at each session start, −1 at each
    * end, the running sum IS the live-session count, its per-day max
    * the capacity-planning number. Tie order is part of the operator
    * contract: at one instant starts apply before ends (a session
    * ending exactly when another starts briefly overlaps), encoded as
    * the (us, rev, user, session) composite so the running order is
    * total and engine-identical.
    *
    * Scale: sessions reduce the event stream first (the shared
    * [[sessionized]] aggregate); the sweep runs on the SESSION-sized
    * delta stream with the two-phase bucketed global running sum
    * ([[graft.functions.Ranks.globalRunningSums]] — never a one-task
    * ORDER BY window), and the per-day max partial-aggregates. */
  def qPeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Ranks
    val se = sessionized(s, dir)
      .select($"user_id", $"session_id",
        unix_micros($"session_start").as("s_us"),
        unix_micros($"session_end").as("e_us"))
    val deltas = se.select($"s_us".as("us"), lit(0).as("rev"), lit(1L).as("delta"),
        $"user_id", $"session_id")
      .unionAll(se.select($"e_us".as("us"), lit(1).as("rev"), lit(-1L).as("delta"),
        $"user_id", $"session_id"))
    Ranks.globalRunningSums(deltas,
        Seq($"us", $"rev", $"user_id", $"session_id"), Seq($"delta" -> "cur"))
      .groupBy(to_date(timestamp_micros($"us")).as("day"))
      .agg(max($"cur").as("peak_concurrency"))
      .orderBy($"day")
  }

  val qPeakConcurrencySql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${1800L * 1000000L} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id,
       |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id,
       |    us
       |  FROM flagged
       |), se AS (
       |  SELECT user_id, session_id, min(us) AS s_us, max(us) AS e_us
       |  FROM sess GROUP BY 1, 2
       |), d AS (
       |  SELECT s_us AS us, 0 AS rev, 1 AS delta, user_id, session_id FROM se
       |  UNION ALL
       |  SELECT e_us, 1, -1, user_id, session_id FROM se
       |), r AS (
       |  SELECT us,
       |    CAST(sum(delta) OVER (ORDER BY us, rev, user_id, session_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur
       |  FROM d)
       |SELECT CAST(make_timestamp(us) AS DATE) AS day,
       |  max(cur) AS peak_concurrency
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.3 — join-key skew audit over the fact table's shuffle keys:
    * per candidate key (orderkey / partkey / suppkey) the key count,
    * the hottest key's share, and the Herfindahl concentration index
    * Σ share² — the pre-flight diagnostic behind every
    * salt-or-broadcast decision (`q_skew_join` is the remedy; this is
    * the instrument). HHI needs NO rank: it reduces entirely through
    * partial-aggregable sums — per-key counts (one shuffle per key
    * column), then Σc² / (Σc)² in exact integer arithmetic, so the
    * audit costs one aggregation pass per key at any scale. */
  def qJoinSkewAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(38, 0)
    val li = Tables.lineitem(s, dir)
    val audits = Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
      li.groupBy(col(k).as("key")).agg(count(lit(1)).as("c"))
        .agg(
          lit(k).as("join_key"),
          count(lit(1)).as("n_keys"),
          sum($"c".cast(D)).as("n_rows"),
          max($"c").as("max_key_rows"),
          sum(($"c".cast(D) * $"c".cast(D))).as("sc2"))
        .select($"join_key", $"n_keys", $"n_rows".cast("long").as("n_rows"),
          $"max_key_rows",
          expr(Agg0.rndSql("CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6)).as("max_share"),
          expr(Agg0.rndSql("CAST(sc2 AS DOUBLE) / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))", 6)).as("hhi"))
    }
    audits.reduce(_ unionAll _).orderBy($"join_key")
  }

  val qJoinSkewAuditSql: String = {
    val one = (k: String) =>
      s"""SELECT '$k' AS join_key, count(*) AS n_keys,
         |  CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_key_rows,
         |  ${Agg0.rndSql("CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)", 6)} AS max_share,
         |  ${Agg0.rndSql("CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) / (CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(c) AS BIGINT) AS DOUBLE))", 6)} AS hhi
         |FROM (SELECT $k, count(*) AS c FROM lineitem GROUP BY 1)""".stripMargin
    s"""${one("l_orderkey")}
       |UNION ALL
       |${one("l_partkey")}
       |UNION ALL
       |${one("l_suppkey")}
       |ORDER BY join_key""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_skew_audit"  -> (qJoinSkewAudit _),
    "q_peak_concurrency" -> (qPeakConcurrency _),
    "q_l_diversity"      -> (qLDiversity _),
    "q_t_closeness"      -> (qTCloseness _),
    "q_dp_counts"        -> (qDpCounts _),
    "q_fd_audit"            -> (qFdAudit _),
    "q_pareto_deciles"   -> (qParetoDeciles _),
    "q_winsorize"        -> (qWinsorize _),
    "q_skew_join"        -> (qSkewJoin _),
    "q_mad_outliers"     -> (qMadOutliers _),
    "q_events_json"      -> (qEventsJson _),
    "q_percentiles"      -> (qPercentiles _),
    "q_percentiles_dist" -> (qPercentilesDist _),
    "q_percentiles_approx" -> (qPercentilesApprox _),
    "q_cube"             -> (qCube _),
    "q_filter_project"   -> (qFilterProject _),
    "q_window_running"   -> (qWindowRunning _),
    "q_topk_per_group"   -> (qTopkPerGroup _),
    "q_topk_native"      -> (qTopkNative _),
    "q_rollup"           -> (qRollup _),
    "q_distinct_agg"     -> (qDistinctAgg _),
    "q_approx_distinct"  -> (qApproxDistinct _),
    "q_semi_anti"        -> (qSemiAnti _),
    "q_events_sessionize"-> (qEventsSessionize _),
    "q_session_window"   -> (qSessionWindow _),
    "q_events_pivot"     -> (qEventsPivot _),
    "q_events_unpivot"   -> (qEventsUnpivot _),
    "q_asof_join"        -> (qAsofJoin _),
    "q_asof_forward"     -> (qAsofForward _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_point_in_interval" -> (qPointInInterval _),
    "q_table_upsert"     -> (qTableUpsert _),
    "q_grouping_sets"    -> (qGroupingSets _),
    "q_salted_distinct"  -> (qSaltedDistinct _),
    "q_window_funcs"     -> (qWindowFuncs _),
    "q_bloom_prejoin"    -> (qBloomPrejoin _),
    "q_profile"          -> (qProfile _),
    "q_decorrelate"      -> (qDecorrelate _),
    "q_bucketed_join"    -> (qBucketedJoin _),
    "q_scd2_merge"       -> (qScd2Merge _),
    "q_above_p95"        -> (qAboveP95 _),
    "q_zscore_outliers"  -> (qZscoreOutliers _),
    "q_full_outer_reconcile" -> (qFullOuterReconcile _),
    "q_constraints"      -> (qConstraints _),
    "q_k_anonymity"      -> (qKAnonymity _),
    "q_asof_nearest"     -> (qAsofNearest _),
    "q_correlation"      -> (qCorrelation _),
    "q_regression"       -> (qRegression _),
    "q_gini"             -> (qGini _)
  )

  def oracles: Map[String, String] = Map(
    "q_join_skew_audit"  -> qJoinSkewAuditSql,
    "q_peak_concurrency" -> qPeakConcurrencySql,
    "q_l_diversity"      -> qLDiversitySql,
    "q_t_closeness"      -> qTClosenessSql,
    "q_dp_counts"        -> qDpCountsSql,
    "q_fd_audit"            -> qFdAuditSql,
    "q_pareto_deciles"   -> qParetoDecilesSql,
    "q_winsorize"        -> qWinsorizeSql,
    "q_skew_join"        -> qSkewJoinSql,
    "q_mad_outliers"     -> qMadOutliersSql,
    "q_events_json"      -> qEventsJsonSql,
    "q_percentiles"      -> qPercentilesSql,
    "q_percentiles_dist" -> qPercentilesSql,
    "q_cube"             -> qCubeSql,
    "q_filter_project"   -> qFilterProjectSql,
    "q_window_running"   -> qWindowRunningSql,
    "q_topk_per_group"   -> qTopkPerGroupSql,
    "q_topk_native"      -> qTopkPerGroupSql,
    "q_rollup"           -> qRollupSql,
    "q_distinct_agg"     -> qDistinctAggSql,
    "q_semi_anti"        -> qSemiAntiSql,
    "q_events_sessionize"-> qEventsSessionizeSql,
    "q_session_window"   -> qSessionWindowSql,
    "q_events_pivot"     -> qEventsPivotSql,
    "q_events_unpivot"   -> qEventsUnpivotSql,
    "q_asof_join"        -> qAsofJoinSql,
    "q_asof_forward"     -> qAsofForwardSql,
    "q_interval_overlap" -> qIntervalOverlapSql,
    "q_point_in_interval" -> qPointInIntervalSql,
    "q_table_upsert"     -> qTableUpsertSql,
    "q_grouping_sets"    -> qGroupingSetsSql,
    "q_salted_distinct"  -> qSaltedDistinctSql,
    "q_window_funcs"     -> qWindowFuncsSql,
    "q_bloom_prejoin"    -> qBloomPrejoinSql,
    "q_profile"          -> qProfileSql,
    "q_decorrelate"      -> qDecorrelateSql,
    "q_bucketed_join"    -> qBucketedJoinSql,
    "q_scd2_merge"       -> qScd2MergeSql,
    "q_above_p95"        -> qAboveP95Sql,
    "q_zscore_outliers"  -> qZscoreOutliersSql,
    "q_full_outer_reconcile" -> qFullOuterReconcileSql,
    "q_constraints"      -> qConstraintsSql,
    "q_k_anonymity"      -> qKAnonymitySql,
    "q_asof_nearest"     -> qAsofNearestSql,
    "q_correlation"      -> qCorrelationSql,
    "q_regression"       -> qRegressionSql,
    "q_gini"             -> qGiniSql
  ) ++
    graft.sources.OracleStage.globOf("approx_distinct_est")
      .map(g => "q_approx_distinct" -> qApproxDistinctSql(g)) ++
    graft.sources.OracleStage.globOf("pctl_approx_est")
      .map(g => "q_percentiles_approx" -> qPercentilesApproxSql(g))
}
