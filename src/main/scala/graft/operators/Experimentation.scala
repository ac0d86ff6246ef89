package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg._
import graft.sources.Tables

/** The EXPERIMENTATION & ATTRIBUTION slice of the behavioral suite
  * (SURVEY §2.10), split out of [[Behavioral]] along the sub-family
  * boundary (pure file organization — registry keys, semantics and
  * oracles are unchanged; KeyCheckSpec guards the registry through
  * the move): A/B readouts and their validity guards (SRM, CUPED,
  * chi-squared, power/MDE planning, bootstrap CIs, diff-in-diffs) and
  * the purchase-attribution models (linear, U-shaped positional,
  * Markov removal-effect). Shared scale conventions are documented on
  * [[Behavioral]].
  */
object Experimentation {

  /** Attribution window (µs): clicks within 30 min before a purchase
    * share its credit. */
  val attribWindowUs: Long = 1800L * 1000000L

  /** Linear multi-touch attribution: every purchase's value split
    * EQUALLY across the same user's clicks in the preceding 30 min,
    * rolled up per click — the credit model next to the as-of join's
    * last-touch (24) and the streaming attribution pair feed (29g).
    * The pair join has an equi key (user_id) with the time range as a
    * residual predicate, so it's one hash-join shuffle with per-user
    * bounded fan-in — no binning needed (contrast the keyless range
    * join, 24a'''). Credit = value / n_touches computes per purchase
    * BEFORE the per-click rollup (map-side partials), quantized 1e-6
    * so the split is exact and order-free. */
  def qAttributionLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), unix_micros($"ts").as("c_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("p_us"), $"value")
    val pairs = purchases.join(clicks, "user_id")
      .filter($"c_us" <= $"p_us" && $"c_us" >= $"p_us" - attribWindowUs)
    val credit = pairs
      .withColumn("n_touches",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"purchase_id")))
      .withColumn("credit_q",
        expr("CAST(floor(value / n_touches * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
    credit.groupBy($"click_id", $"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        (sum($"credit_q").cast("double") / lit(1000000.0)).as("credit"))
      .orderBy($"click_id")
  }

  val qAttributionLinearSql: String =
    s"""WITH clicks AS (
       |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
       |  FROM events WHERE event_type = 'click'),
       |purchases AS (
       |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us, value
       |  FROM events WHERE event_type = 'purchase'),
       |pairs AS (
       |  SELECT p.user_id, p.purchase_id, p.value, c.click_id
       |  FROM purchases p JOIN clicks c ON p.user_id = c.user_id
       |  WHERE c.c_us <= p.p_us AND c.c_us >= p.p_us - $attribWindowUs),
       |credit AS (
       |  SELECT user_id, click_id,
       |    CAST(floor(value / (count(*) OVER (PARTITION BY purchase_id))
       |               * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS credit_q
       |  FROM pairs)
       |SELECT click_id, user_id, count(*) AS n_purchases,
       |  CAST(sum(credit_q) AS DOUBLE) / 1000000.0 AS credit
       |FROM credit
       |GROUP BY click_id, user_id
       |ORDER BY click_id""".stripMargin

  // ------------------------------------------------------------------
  // q_mv_refresh — incremental materialized-view maintenance
  // ------------------------------------------------------------------

  /** Experimentation readout: users split into two arms by a
    * deterministic id hash (parity), per event type the arm means and
    * Welch's t statistic — computed from the EXACT decimal sums n,
    * Σx, Σx² in ONE partial-aggregated pass (six conditional
    * aggregates, no self-join, no second scan). A float `stddev`/
    * `avg` stream is partitioning-dependent; these moments are
    * bit-stable at any parallelism, and the downstream t arithmetic
    * is pure deterministic IEEE double (sqrt is correctly rounded),
    * so the statistic is hash-exact cross-engine. */
  /** The six Welch sufficient statistics over an `a`-flagged event
    * frame — ONE definition shared by the batch readout ([[qAbtest]]),
    * the FDR family ([[qFdrBh]]) and the streaming dashboard
    * ([[graft.streaming.StreamOps.runAbtestToCompletion]], where the
    * exact decimal sums are what make incremental merges exact). A
    * guard or split change lands in all three or none. */
  private[graft] def welchAggs: Seq[org.apache.spark.sql.Column] = Seq(
    countIf(col("a")).as("n_a"),
    countIf(!col("a")).as("n_b"),
    dsum(when(col("a"), col("value")).otherwise(lit(0.0))).as("sx_a"),
    dsum(when(!col("a"), col("value")).otherwise(lit(0.0))).as("sx_b"),
    dsum(when(col("a"), col("value") * col("value")).otherwise(lit(0.0))).as("sxx_a"),
    dsum(when(!col("a"), col("value") * col("value")).otherwise(lit(0.0))).as("sxx_b"))

  /** Mean/variance derivation over a [[welchAggs]] frame. Variances
    * are NULL below n=2 (ANSI divide would otherwise throw on the
    * n-1=0 divisor); the readout's t_stat guard checks n first so the
    * NULL never reaches arithmetic. */
  private[graft] def welchDerive(df: DataFrame): DataFrame = df
    .withColumn("m_a", when(col("n_a") >= 1, col("sx_a") / col("n_a").cast("double")))
    .withColumn("m_b", when(col("n_b") >= 1, col("sx_b") / col("n_b").cast("double")))
    .withColumn("v_a", when(col("n_a") >= 2,
      (col("sxx_a") - col("sx_a") * col("sx_a") / col("n_a").cast("double")) / (col("n_a") - 1).cast("double")))
    .withColumn("v_b", when(col("n_b") >= 2,
      (col("sxx_b") - col("sx_b") * col("sx_b") / col("n_b").cast("double")) / (col("n_b") - 1).cast("double")))

  /** The per-metric Welch readout over a [[welchAggs]] stats frame —
    * shared verbatim by the batch and streaming A/B tables.
    * Degenerate-arm guard (n<2 per arm or zero pooled variance):
    * t_stat is NULL, never an engine-dependent inf/NaN — the same
    * trap class [[qFdrBh]]'s z family guards against. mean_a/mean_b
    * stay defined whenever the arm is non-empty. */
  private[graft] def welchReadout(stats: DataFrame): DataFrame =
    welchDerive(stats)
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr(rndSql("m_a", 6)).as("mean_a"),
        expr(rndSql("m_b", 6)).as("mean_b"),
        expr(rndSql(
          """CASE WHEN n_a < 2 OR n_b < 2
            |       OR v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE) <= 0
            |  THEN CAST(NULL AS DOUBLE)
            |  ELSE (m_a - m_b) / sqrt(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) END""".stripMargin, 6)).as("t_stat"))
      .orderBy(col("event_type"))

  def qAbtest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    welchReadout(Tables.events(s, dir)
      .withColumn("a", $"user_id" % 2 === 0)
      .groupBy($"event_type")
      .agg(welchAggs.head, welchAggs.tail: _*))
  }

  val qAbtestSql: String =
    s"""WITH st AS (
       |  SELECT event_type,
       |    ${countIfSql("user_id % 2 = 0")} AS n_a,
       |    ${countIfSql("user_id % 2 <> 0")} AS n_b,
       |    ${dsumSql("CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END")} AS sx_a,
       |    ${dsumSql("CASE WHEN user_id % 2 <> 0 THEN value ELSE 0.0 END")} AS sx_b,
       |    ${dsumSql("CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0.0 END")} AS sxx_a,
       |    ${dsumSql("CASE WHEN user_id % 2 <> 0 THEN value * value ELSE 0.0 END")} AS sxx_b
       |  FROM events GROUP BY 1
       |), m AS (
       |  SELECT event_type, n_a, n_b,
       |    sx_a / CAST(n_a AS DOUBLE) AS m_a, sx_b / CAST(n_b AS DOUBLE) AS m_b,
       |    (sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) AS v_a,
       |    (sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE) AS v_b
       |  FROM st
       |)
       |SELECT event_type, n_a, n_b,
       |  ${rndSql("m_a", 6)} AS mean_a, ${rndSql("m_b", 6)} AS mean_b,
       |  ${rndSql(
        """CASE WHEN n_a < 2 OR n_b < 2
          |       OR v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE) <= 0
          |  THEN CAST(NULL AS DOUBLE)
          |  ELSE (m_a - m_b) / sqrt(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) END""".stripMargin, 6)} AS t_stat
       |FROM m
       |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q_seasonality — hour-of-day activity profile
  // ------------------------------------------------------------------

  /** Treatment-period boundary for [[qDiffInDiff]]. */
  val didCutover = "2024-01-16 00:00:00"

  /** §2.10 — difference-in-differences: the quasi-experimental
    * readout when randomization isn't available (a feature shipped to
    * the PRF-bucketed half at [[didCutover]]): the treatment effect
    * is the treated arm's pre→post mean change MINUS the control
    * arm's (which absorbs the common time trend). One groupBy over
    * the 2×2 (arm, period) cells with exact decimal sums; the DiD
    * estimate and its large-sample standard error
    * √(Σ s²ᵢ/nᵢ over the four cells) are row-local on the pivoted
    * 4-cell row. */
  def qDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .withColumn("arm",
        when(substring(md5(concat(lit("graft-ab-v1:"), $"user_id".cast("string"))
          .cast("binary")), 1, 4) < lit("8000"), "t").otherwise("c"))
      .withColumn("period",
        when($"ts" >= lit(didCutover).cast("timestamp"), "post").otherwise("pre"))
    val cells = ev.groupBy($"arm", $"period")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sx"),
        dsum($"value" * $"value").as("sxx"))
      .withColumn("m", $"sx" / $"n".cast("double"))
      // Same degenerate-cell guard as qPowerMde: a 1-row cell makes
      // (n-1) zero — Spark non-ANSI division says NULL, DuckDB IEEE
      // float division says inf/NaN; the explicit CASE makes both
      // engines agree on NULL.
      .withColumn("v", when($"n" > 1,
        ($"sxx" - $"sx" * $"sx" / $"n".cast("double")) /
          ($"n" - 1).cast("double")))
    val p = cells.groupBy()
      .pivot(concat($"arm", lit("_"), $"period"),
        Seq("t_pre", "t_post", "c_pre", "c_post"))
      .agg(first(struct($"n", $"m", $"v")))
    p.select(
      // an absent cell pivots to a NULL struct; the cell COUNT is 0,
      // not NULL (DuckDB's scalar count(*) of an empty cell says 0)
      coalesce($"t_pre.n", lit(0L)).as("n_t_pre"),
      coalesce($"t_post.n", lit(0L)).as("n_t_post"),
      coalesce($"c_pre.n", lit(0L)).as("n_c_pre"),
      coalesce($"c_post.n", lit(0L)).as("n_c_post"),
      expr(rndSql("(t_post.m - t_pre.m) - (c_post.m - c_pre.m)", 6)).as("did"),
      expr(rndSql(
        """CASE WHEN (t_post.v / CAST(t_post.n AS DOUBLE) + t_pre.v / CAST(t_pre.n AS DOUBLE)
          |   + c_post.v / CAST(c_post.n AS DOUBLE) + c_pre.v / CAST(c_pre.n AS DOUBLE)) > CAST(0 AS DOUBLE)
          |THEN ((t_post.m - t_pre.m) - (c_post.m - c_pre.m)) /
          |sqrt(t_post.v / CAST(t_post.n AS DOUBLE) + t_pre.v / CAST(t_pre.n AS DOUBLE)
          |   + c_post.v / CAST(c_post.n AS DOUBLE) + c_pre.v / CAST(c_pre.n AS DOUBLE)) END"""
          .stripMargin, 6)).as("z_stat"))
  }

  val qDiffInDiffSql: String = {
    def cell(arm: String, per: String, alias: String): String = {
      val armCond =
        if (arm == "t") "substr(md5('graft-ab-v1:' || CAST(user_id AS VARCHAR)), 1, 4) < '8000'"
        else "substr(md5('graft-ab-v1:' || CAST(user_id AS VARCHAR)), 1, 4) >= '8000'"
      val perCond =
        if (per == "post") s"ts >= TIMESTAMP '$didCutover'"
        else s"ts < TIMESTAMP '$didCutover'"
      s"""$alias AS (
         |  SELECT count(*) AS n, ${dsumSql("value")} AS sx,
         |    ${dsumSql("value * value")} AS sxx
         |  FROM events WHERE event_type = 'purchase' AND $armCond AND $perCond)""".stripMargin
    }
    s"""WITH ${cell("t", "pre", "tp")},
       |${cell("t", "post", "tq")},
       |${cell("c", "pre", "cp")},
       |${cell("c", "post", "cq")},
       |m AS (
       |  SELECT tp.n AS n_t_pre, tq.n AS n_t_post, cp.n AS n_c_pre, cq.n AS n_c_post,
       |    tp.sx / tp.n AS m_tp, tq.sx / tq.n AS m_tq,
       |    cp.sx / cp.n AS m_cp, cq.sx / cq.n AS m_cq,
       |    CASE WHEN tp.n > 1 THEN (tp.sxx - tp.sx * tp.sx / tp.n) / (tp.n - 1) END AS v_tp,
       |    CASE WHEN tq.n > 1 THEN (tq.sxx - tq.sx * tq.sx / tq.n) / (tq.n - 1) END AS v_tq,
       |    CASE WHEN cp.n > 1 THEN (cp.sxx - cp.sx * cp.sx / cp.n) / (cp.n - 1) END AS v_cp,
       |    CASE WHEN cq.n > 1 THEN (cq.sxx - cq.sx * cq.sx / cq.n) / (cq.n - 1) END AS v_cq
       |  FROM tp, tq, cp, cq)
       |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       |  ${rndSql("(m_tq - m_tp) - (m_cq - m_cp)", 6)} AS did,
       |  ${rndSql("CASE WHEN (v_tq / n_t_post + v_tp / n_t_pre + v_cq / n_c_post + v_cp / n_c_pre) > CAST(0 AS DOUBLE) THEN ((m_tq - m_tp) - (m_cq - m_cp)) / sqrt(v_tq / n_t_post + v_tp / n_t_pre + v_cq / n_c_post + v_cp / n_c_pre) END", 6)} AS z_stat
       |FROM m""".stripMargin
  }

  /** (z_{0.025} + z_{0.80})² for [[qPowerMde]] — 80% power at
    * two-sided α = 0.05. */
  val powerZsum2 = 7.848886

  /** Relative minimum detectable effect for [[qPowerMde]]. */
  val powerRelMde = 0.05

  /** §2.10 — experiment power / sample-size planning: per metric
    * (event type), the users-per-arm needed to detect a
    * [[powerRelMde]] relative lift at 80% power, α = 0.05 —
    * n/arm = (z_{α/2}+z_β)² · 2σ²/Δ², the calculation every
    * experiment review starts with (50f reads results; this plans
    * them; 50t guards their validity). One exact-decimal moment
    * aggregate per metric; the formula is row-local on the
    * metric-count-sized result. */
  def qPowerMde(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sx"),
        dsum($"value" * $"value").as("sxx"))
      .withColumn("m", $"sx" / $"n".cast("double"))
      // Degenerate-cell guards (explicit CASE, not engine defaults):
      // a single-row metric makes (n-1) zero and a zero-mean metric
      // makes m² zero — Spark's non-ANSI division yields NULL there
      // while DuckDB's IEEE float division yields inf/NaN, so both
      // sides must agree on NULL via the same predicate.
      .withColumn("v", when($"n" > 1,
        ($"sxx" - $"sx" * $"sx" / $"n".cast("double")) /
          ($"n" - 1).cast("double")))
      .select($"event_type", $"n",
        expr(rndSql("m", 6)).as("mean_value"),
        expr(rndSql("sqrt(v)", 6)).as("stddev"),
        expr(rndSql(s"m * CAST($powerRelMde AS DOUBLE)", 6)).as("mde_abs"),
        expr(s"""CASE WHEN v IS NOT NULL AND m <> CAST(0 AS DOUBLE) THEN
                |  CAST(ceil(CAST($powerZsum2 AS DOUBLE) * CAST(2 AS DOUBLE) * v
                |  / (m * CAST($powerRelMde AS DOUBLE) * m * CAST($powerRelMde AS DOUBLE)))
                |  AS BIGINT) END""".stripMargin).as("n_per_arm"))
      .orderBy($"event_type")
  }

  val qPowerMdeSql: String =
    s"""WITH st AS (
       |  SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sx,
       |    ${dsumSql("value * value")} AS sxx
       |  FROM events GROUP BY 1),
       |m AS (
       |  SELECT event_type, n, sx / n AS m,
       |    CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1) END AS v
       |  FROM st)
       |SELECT event_type, n,
       |  ${rndSql("m", 6)} AS mean_value,
       |  ${rndSql("sqrt(v)", 6)} AS stddev,
       |  ${rndSql(s"m * CAST($powerRelMde AS DOUBLE)", 6)} AS mde_abs,
       |  CASE WHEN v IS NOT NULL AND m <> CAST(0 AS DOUBLE) THEN
       |    CAST(ceil(CAST($powerZsum2 AS DOUBLE) * CAST(2 AS DOUBLE) * v
       |    / (m * CAST($powerRelMde AS DOUBLE) * m * CAST($powerRelMde AS DOUBLE)))
       |    AS BIGINT) END AS n_per_arm
       |FROM m ORDER BY event_type""".stripMargin

  /** Fixed-point iterations for [[qAttributionMarkov]]'s absorption
    * probabilities (geometric convergence; 40 is far past double
    * precision for these chain sizes). */
  val markovAbsorbIters = 40

  /** §2.10 — Markov REMOVAL-EFFECT attribution (Anderl et al.'s
    * data-driven model, the principled alternative to 50b/50b''s
    * positional heuristics): user journeys truncated at first
    * purchase become a Markov chain (START → channel states → CONV /
    * NULL absorbers); a channel's value is how much total conversion
    * probability disappears when every path through it is cut
    * (removal effect 1 − p_removed/p_full), normalized into
    * attribution shares.
    *
    * Scale: the distributed work is ONE user-keyed window pass +
    * transition count aggregate; the chain itself is
    * (#channels+1)²-bounded and solves on the driver like the PQ
    * codebooks — a quantized fixed-point iteration (each step sums
    * exact 1e-12-quantized BIGINT terms, so engine and oracle walk
    * bit-identical trajectories; the oracle unrolls the SAME
    * recurrence as join-aggregate CTEs keyed by (removed, state),
    * fully data-dynamic — no channel names baked in). */
  def qAttributionMarkov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(s, dir)
      .withColumn("pb", coalesce(
        max(when($"event_type" === "purchase", 1).otherwise(0)).over(before), lit(0)))
      .filter($"pb" === 0)
      .withColumn("state",
        when($"event_type" === "purchase", "CONV").otherwise($"event_type"))
      .withColumn("prev", coalesce(lag($"state", 1).over(ord), lit("START")))
    val lastRow = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)))
      .filter($"rn" === 1 && $"state" =!= "CONV")
      .select($"state".as("prev"), lit("NULL").as("dst"))
    // bounded collect: (#channels + 1)² transition counts
    val trans = ev.select($"prev", $"state".as("dst"))
      .unionByName(lastRow)
      .groupBy($"prev", $"dst").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nFrom = trans.groupBy(_._1._1).map { case (src, m) => src -> m.values.sum }
    val transients = nFrom.keys.toSeq.sorted
    // no journeys at all (empty/converted-out corpus): no chain to
    // solve and no channels to attribute — the oracle's channel CTE
    // is empty the same way
    if (!nFrom.contains("START"))
      return Seq.empty[(String, Double, Double, Double)]
        .toDF("channel", "p_removed", "removal_effect", "attribution")
    def qq(i: String, j: String): Long = trans.get((i, j)).map(n =>
      math.floor(n.toDouble / nFrom(i) * 1e9 + 0.5).toLong).getOrElse(0L)
    def rq(i: String): Long = trans.get((i, "CONV")).map(n =>
      math.floor(n.toDouble / nFrom(i) * 1e12 + 0.5).toLong).getOrElse(0L)
    def absorb(removed: Option[String]): Double = {
      val states = transients.filterNot(removed.contains)
      var a = states.map(_ -> 0L).toMap
      for (_ <- 1 to markovAbsorbIters) {
        a = states.map { s =>
          var acc = rq(s)
          states.foreach { j =>
            acc += math.floor(
              qq(s, j).toDouble / 1e9 * a(j).toDouble / 1e12 * 1e12 + 0.5).toLong
          }
          s -> acc
        }.toMap
      }
      a("START").toDouble / 1e12
    }
    val pFull = absorb(None)
    val channels = transients.filter(_ != "START")
    // Removal effects quantize to 1e-12 BEFORE summing: a Double sum
    // is order-dependent, and the oracle's sum(re) runs in DuckDB's
    // aggregation order — an re sum landing on a 1e-6 rounding
    // boundary could diverge. Integer sums are order-free on both
    // engines.
    val res = channels.map { c =>
      val p = absorb(Some(c))
      val reQ = if (pFull > 0)
        math.floor((1.0 - p / pFull) * 1e12 + 0.5).toLong else 0L
      (c, p, reQ)
    }
    val reSumQ = res.map(_._3).sum
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    res.map { case (c, p, reQ) =>
        (c, r6(p), r6(reQ.toDouble / 1e12),
          if (reSumQ > 0) r6(reQ.toDouble / reSumQ.toDouble) else 0.0)
      }.toDF("channel", "p_removed", "removal_effect", "attribution")
      .orderBy($"channel")
  }

  val qAttributionMarkovSql: String = {
    // MATERIALIZED on every level and on the shared per-variant
    // tables: each a_n is referenced once but the 40-deep nested join
    // tree (and vq/vr inlined 40×) sends DuckDB's join-order planner
    // into the weeds without the fences (same class of blowup as the
    // kcore/LPA unrolls)
    val step = (n: Int) =>
      s"""a$n AS MATERIALIZED (
         |  SELECT vs.removed, vs.s,
         |    COALESCE(max(r.r), 0) + COALESCE(sum(CAST(floor(
         |      CAST(q.qq AS DOUBLE) / 1e9 * CAST(p.A AS DOUBLE) / 1e12 * 1e12
         |      + CAST(0.5 AS DOUBLE)) AS BIGINT)), 0) AS A
         |  FROM vstate vs
         |  LEFT JOIN vr r ON r.removed = vs.removed AND r.src = vs.s
         |  LEFT JOIN vq q ON q.removed = vs.removed AND q.src = vs.s
         |  LEFT JOIN a${n - 1} p ON p.removed = vs.removed AND p.s = q.dst
         |  GROUP BY 1, 2)""".stripMargin
    val steps = (1 to markovAbsorbIters).map(step).mkString(",\n")
    s"""WITH sq AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    COALESCE(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
       |  FROM events),
       |ev AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS state,
       |    COALESCE(lag(CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id), 'START') AS prev
       |  FROM sq WHERE pb = 0),
       |lastrow AS (
       |  SELECT state AS prev, 'NULL' AS dst FROM (
       |    SELECT state, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM ev)
       |  WHERE rn = 1 AND state <> 'CONV'),
       |tr AS (
       |  SELECT prev, dst, count(*) AS n FROM (
       |    SELECT prev, state AS dst FROM ev
       |    UNION ALL SELECT prev, dst FROM lastrow)
       |  GROUP BY 1, 2),
       |tot AS (SELECT prev, CAST(sum(n) AS DOUBLE) AS n_from FROM tr GROUP BY 1),
       |qt AS (
       |  SELECT tr.prev AS src, tr.dst,
       |    CAST(floor(CAST(tr.n AS DOUBLE) / tot.n_from * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qq
       |  FROM tr JOIN tot ON tr.prev = tot.prev
       |  WHERE tr.dst NOT IN ('CONV', 'NULL')),
       |rqt AS (
       |  SELECT tr.prev AS src,
       |    CAST(floor(CAST(tr.n AS DOUBLE) / tot.n_from * 1e12 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS r
       |  FROM tr JOIN tot ON tr.prev = tot.prev
       |  WHERE tr.dst = 'CONV'),
       |transients AS (SELECT DISTINCT prev AS s FROM tr),
       |removals AS (
       |  SELECT s AS removed FROM transients WHERE s <> 'START'
       |  UNION ALL SELECT '__none__'),
       |vstate AS MATERIALIZED (
       |  SELECT r.removed, t.s FROM removals r, transients t WHERE t.s <> r.removed),
       |vq AS MATERIALIZED (
       |  SELECT v.removed, q.src, q.dst, q.qq
       |  FROM removals v JOIN qt q ON q.src <> v.removed AND q.dst <> v.removed),
       |vr AS MATERIALIZED (
       |  SELECT v.removed, r.src, r.r FROM removals v JOIN rqt r ON r.src <> v.removed),
       |a0 AS MATERIALIZED (SELECT removed, s, CAST(0 AS BIGINT) AS A FROM vstate),
       |$steps,
       |fin AS MATERIALIZED (
       |  SELECT removed, CAST(A AS DOUBLE) / 1e12 AS p
       |  FROM a$markovAbsorbIters WHERE s = 'START'),
       |re AS MATERIALIZED (
       |  SELECT f.removed AS channel, f.p AS p_removed,
       |    CASE WHEN pf.p > 0 THEN CAST(floor((1.0 - f.p / pf.p) * 1e12
       |      + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS req
       |  FROM fin f, (SELECT p FROM fin WHERE removed = '__none__') pf
       |  WHERE f.removed <> '__none__')
       |SELECT channel,
       |  ${rndSql("p_removed", 6)} AS p_removed,
       |  ${rndSql("CAST(req AS DOUBLE) / 1e12", 6)} AS removal_effect,
       |  CASE WHEN (SELECT sum(req) FROM re) > 0
       |       THEN ${rndSql("CAST(req AS DOUBLE) / CAST((SELECT sum(req) FROM re) AS DOUBLE)", 6)}
       |       ELSE 0.0 END AS attribution
       |FROM re ORDER BY channel""".stripMargin
  }

  /** U-shape credit split for [[qAttributionPosition]]: first touch,
    * last touch, and the middle's shared remainder (40/40/20). */
  val posFirstPct = 40L

  val posLastPct = 40L

  /** §2.10 — position-based (U-shaped) attribution next to 50b's
    * linear split: the FIRST and LAST qualifying click before a
    * purchase get [[posFirstPct]]/[[posLastPct]]% of its value, the
    * middle touches share the remainder (a single touch takes 100%,
    * a two-touch path splits 50/50 — the standard U-shape edge
    * rules). Same one purchase-keyed window family as linear
    * attribution (first/last/count in one pass over the same
    * window-join pairs); credit quantizes at 1e-6 per pair so the
    * per-click rollup is an exact integer sum. */
  def qAttributionPosition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), unix_micros($"ts").as("c_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("p_us"), $"value")
    val w = Window.partitionBy($"purchase_id")
    val pairs = purchases.join(clicks, "user_id")
      .filter($"c_us" <= $"p_us" && $"c_us" >= $"p_us" - attribWindowUs)
      .withColumn("n_touches", count(lit(1)).over(w))
      .withColumn("first_us", min(struct($"c_us", $"click_id")).over(w))
      .withColumn("last_us", max(struct($"c_us", $"click_id")).over(w))
      .withColumn("share",
        when($"n_touches" === 1, lit(100L))
          .when($"n_touches" === 2,
            when(struct($"c_us", $"click_id") === $"first_us", lit(50L))
              .otherwise(lit(50L)))
          .otherwise(
            when(struct($"c_us", $"click_id") === $"first_us", lit(posFirstPct))
              .when(struct($"c_us", $"click_id") === $"last_us", lit(posLastPct))
              .otherwise(lit(0L))))
      .withColumn("mid_share",
        when($"n_touches" > 2 && $"share" === 0L,
          (lit(100L) - lit(posFirstPct) - lit(posLastPct)).cast("double") /
            ($"n_touches" - 2).cast("double"))
          .otherwise($"share".cast("double")))
      .withColumn("credit_q",
        expr("CAST(floor(value * mid_share / 100.0 * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
    pairs.groupBy($"click_id", $"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        (sum($"credit_q").cast("double") / lit(1000000.0)).as("credit"))
      .orderBy($"click_id")
  }

  val qAttributionPositionSql: String =
    s"""WITH clicks AS (
       |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
       |  FROM events WHERE event_type = 'click'),
       |purchases AS (
       |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us, value
       |  FROM events WHERE event_type = 'purchase'),
       |pairs AS (
       |  SELECT p.user_id, p.purchase_id, p.value, c.click_id, c.c_us
       |  FROM purchases p JOIN clicks c ON p.user_id = c.user_id
       |  WHERE c.c_us <= p.p_us AND c.c_us >= p.p_us - $attribWindowUs),
       |ranked AS (
       |  SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touches,
       |    row_number() OVER (PARTITION BY purchase_id ORDER BY c_us, click_id) AS rn_first,
       |    row_number() OVER (PARTITION BY purchase_id ORDER BY c_us DESC, click_id DESC) AS rn_last
       |  FROM pairs),
       |credit AS (
       |  SELECT click_id, user_id,
       |    CAST(floor(value * (CASE
       |      WHEN n_touches = 1 THEN 100.0
       |      WHEN n_touches = 2 THEN 50.0
       |      WHEN rn_first = 1 THEN CAST($posFirstPct AS DOUBLE)
       |      WHEN rn_last = 1 THEN CAST($posLastPct AS DOUBLE)
       |      ELSE CAST(${100L - posFirstPct - posLastPct} AS DOUBLE) / (n_touches - 2)
       |    END) / 100.0 * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS credit_q
       |  FROM ranked)
       |SELECT click_id, user_id, count(*) AS n_purchases,
       |  CAST(sum(credit_q) AS DOUBLE) / 1000000.0 AS credit
       |FROM credit GROUP BY 1, 2 ORDER BY click_id""".stripMargin

  /** χ²(df=1) critical value at α=0.05 for [[qSrmCheck]]. */
  val srmChi2Crit = 3.841

  /** §2.10 — sample-ratio-mismatch check, the A/B test's smoke
    * detector: hash-bucketed assignment is SUPPOSED to split users
    * 50/50, and a ratio drifting off that (broken bucketing, a
    * variant crashing a client, bot filtering one arm) invalidates
    * every downstream readout before anyone looks at means — SRM is
    * checked FIRST, on assignment counts alone. Users assign by the
    * PRF coin (md5 hex prefix, the splitAssign idiom — the realistic
    * bucketing whose breakage SRM exists to catch), counts are an
    * exact distinct-user aggregate (dedup-then-count), and the
    * χ² goodness-of-fit against 50/50 with its α=0.05 verdict is
    * row-local on the single aggregate row. */
  def qSrmCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select($"user_id").distinct()
      .withColumn("va",
        substring(md5(concat(lit("graft-ab-v1:"), $"user_id".cast("string"))
          .cast("binary")), 1, 4) < lit("8000"))
      .agg(countIf($"va").as("n_a"), countIf(!$"va").as("n_b"))
      .withColumn("e", ($"n_a" + $"n_b").cast("double") / lit(2.0))
      .select($"n_a", $"n_b",
        expr(rndSql(
          "(CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e + " +
            "(CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e", 6)).as("chi2"),
        (expr(rndSql(
          "(CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e + " +
            "(CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e", 6)) >
          lit(srmChi2Crit)).as("srm_detected"))
  }

  val qSrmCheckSql: String = {
    val chi2 = "(CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e + " +
      "(CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e"
    s"""WITH u AS (
       |  SELECT DISTINCT user_id FROM events),
       |c AS (
       |  SELECT
       |    ${countIfSql("substr(md5('graft-ab-v1:' || CAST(user_id AS VARCHAR)), 1, 4) < '8000'")} AS n_a,
       |    ${countIfSql("substr(md5('graft-ab-v1:' || CAST(user_id AS VARCHAR)), 1, 4) >= '8000'")} AS n_b
       |  FROM u),
       |w AS (SELECT n_a, n_b, (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0 AS e FROM c)
       |SELECT n_a, n_b, ${rndSql(chi2, 6)} AS chi2,
       |  ${rndSql(chi2, 6)} > $srmChi2Crit AS srm_detected
       |FROM w""".stripMargin
  }

  /** Bootstrap replicate count and PRF seed for [[qBootstrapCi]]. */
  val bootReplicates = 40

  val bootSeed = "graft-boot-v1"

  /** §2.10 — bootstrap confidence interval for the mean purchase
    * value: [[bootReplicates]] half-subsample replicates (m-out-of-n
    * WITHOUT replacement, m ≈ n/2 — each replicate keeps a row iff
    * the seeded PRF coin md5(seed:b:event_id) lands heads, so
    * membership is a pure deterministic function and both engines
    * draw the IDENTICAL resamples; conservative next to the n-out
    * classic, which a deterministic cross-engine Poisson draw can't
    * replicate cheaply), the 2.5/97.5 percentiles of the replicate
    * means as the CI.
    *
    * Scale: the B× membership explode is ROW-LOCAL at the scan and
    * partial-aggregates immediately — only B running (sum, count)
    * pairs per task reach the one shuffle (the Poisson-bootstrap
    * layout every big-data stats stack uses); the percentile runs
    * over exactly B rows. */
  def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"value")
    val means = ev
      .select($"event_id", $"value",
        explode(expr(s"sequence(0, ${bootReplicates - 1})")).as("b"))
      .filter(substring(md5(concat(lit(s"$bootSeed:"), $"b".cast("string"),
        lit(":"), $"event_id".cast("string")).cast("binary")), 1, 4) < lit("8000"))
      .groupBy($"b")
      .agg((dsum($"value") / count(lit(1))).as("m"))
    val ci = means.agg(
      count(lit(1)).as("n_replicates"),
      expr(rndSql("percentile(m, CAST(0.025 AS DOUBLE))", 6)).as("ci_lo"),
      expr(rndSql("percentile(m, CAST(0.975 AS DOUBLE))", 6)).as("ci_hi"))
    ev.agg(count(lit(1)).as("n"),
        graft.functions.Agg.rnd(davg($"value"), 6).as("mean_full"))
      .crossJoin(ci)
      .select($"n", $"mean_full", $"ci_lo", $"ci_hi", $"n_replicates")
  }

  val qBootstrapCiSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, value FROM events WHERE event_type = 'purchase'),
       |reps AS (
       |  SELECT b, event_id, value
       |  FROM ev, (SELECT unnest(range($bootReplicates)) AS b)
       |  WHERE substr(md5('$bootSeed:' || CAST(b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 4) < '8000'),
       |means AS (
       |  SELECT b, ${graft.functions.Agg.dsumSql("value")} / count(*) AS m
       |  FROM reps GROUP BY b),
       |ci AS (
       |  SELECT count(*) AS n_replicates,
       |    ${rndSql("quantile_cont(m, CAST(0.025 AS DOUBLE))", 6)} AS ci_lo,
       |    ${rndSql("quantile_cont(m, CAST(0.975 AS DOUBLE))", 6)} AS ci_hi
       |  FROM means),
       |f AS (
       |  SELECT count(*) AS n,
       |    ${rndSql(graft.functions.Agg.davgSql("value"), 6)} AS mean_full
       |  FROM ev)
       |SELECT n, mean_full, ci_lo, ci_hi, n_replicates FROM f, ci""".stripMargin

  /** §2.10 — Pearson χ² independence test between two categorical
    * columns (market segment × nation over customers): the
    * stratification sanity check run before trusting any segmented
    * metric — a large χ² means the segments are NOT independent of
    * geography and per-segment comparisons need stratified controls
    * (`q_abtest`'s CUPED cousin).
    *
    * Scale: ONE partial-agged groupBy to the |segments|×|nations|
    * contingency table; margins/expected/contributions are windows
    * and row-local arithmetic over those bounded cells. Per-cell
    * contributions are 1e-9-quantized and integer-summed so the χ²
    * statistic is addition-order-independent and engine-exact. */
  def qChi2Independence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_mktsegment", $"n_name")
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("rowt", sum($"o").over(Window.partitionBy($"c_mktsegment")))
      .withColumn("colt", sum($"o").over(Window.partitionBy($"n_name")))
      .withColumn("n", sum($"o").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("contrib_q", expr(
        """CAST(floor(
          |  pow(CAST(o AS DOUBLE) - CAST(rowt AS DOUBLE) * CAST(colt AS DOUBLE) / CAST(n AS DOUBLE), 2)
          |    / (CAST(rowt AS DOUBLE) * CAST(colt AS DOUBLE) / CAST(n AS DOUBLE))
          |    * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)""".stripMargin))
      .agg(
        expr(rndSql("CAST(sum(contrib_q) AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)).as("chi2"),
        ((countDistinct($"c_mktsegment") - 1L) * (countDistinct($"n_name") - 1L)).as("dof"),
        first($"n").as("n"))
  }

  val qChi2IndependenceSql: String =
    s"""WITH cells AS (
       |  SELECT c_mktsegment, n_name, count(*) AS o
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT c_mktsegment, n_name, o,
       |    sum(o) OVER (PARTITION BY c_mktsegment) AS rowt,
       |    sum(o) OVER (PARTITION BY n_name) AS colt,
       |    sum(o) OVER () AS n
       |  FROM cells),
       |q AS (
       |  SELECT n,
       |    CAST(floor(
       |      pow(CAST(o AS DOUBLE) - CAST(rowt AS DOUBLE) * CAST(colt AS DOUBLE) / CAST(n AS DOUBLE), 2)
       |        / (CAST(rowt AS DOUBLE) * CAST(colt AS DOUBLE) / CAST(n AS DOUBLE))
       |        * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cq,
       |    c_mktsegment, n_name
       |  FROM m)
       |SELECT ${rndSql("CAST(sum(cq) AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS chi2,
       |  (count(DISTINCT c_mktsegment) - 1) * (count(DISTINCT n_name) - 1) AS dof,
       |  CAST(first(n) AS BIGINT) AS n
       |FROM q""".stripMargin

  // ------------------------------------------------------------------
  // q_percentiles_grouped — MANY-group exact quantiles, two-phase
  // ------------------------------------------------------------------

  /** §2.10 — CUPED-adjusted A/B readout (Deng et al., WSDM 2013):
    * per-user PRE-period activity (first half of the study window) as
    * the control covariate for the POST-period metric; θ =
    * cov(x,y)/var(x) on pooled users, adjusted means and the pooled
    * variance reduction 1 − (1 − ρ²)⁻¹-form follow CLOSED-FORM from
    * the same moment sums — no second pass over the data. The
    * experimentation upgrade of `q_abtest`: same arms (user parity),
    * tighter confidence at identical sample size.
    *
    * Scale: one user-keyed partial-agged reduce to per-user (x, y)
    * quantized longs; ONE moment aggregate (decimal-exact products —
    * a per-user xq·yq can overflow a long at fleet scale, so the
    * multiply happens in DECIMAL(38); DuckDB mirrors in HUGEINT);
    * the readout is a single-row closed form with identical double
    * arithmetic. The study midpoint derives from the data's own
    * [min, max] day span (broadcast scalar), so the operator is
    * window-agnostic. */
  def qAbtestCuped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(38, 0)
    val ev = Tables.events(s, dir).select($"user_id", to_date($"ts").as("day"), $"value")
    val span = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))").as("mid"))
    val perUser = ev.crossJoin(broadcast(span))
      .groupBy($"user_id")
      .agg(
        sum(when($"day" < $"mid", quantize($"value", 4).cast("long")).otherwise(0L)).as("xq"),
        sum(when($"day" >= $"mid", quantize($"value", 4).cast("long")).otherwise(0L)).as("yq"))
      .withColumn("a", $"user_id" % 2 === 0)
    val m = perUser.agg(
      count(lit(1)).as("n"),
      countIf($"a").as("n_a"),
      countIf(!$"a").as("n_b"),
      sum($"xq".cast(D)).as("sx"),
      sum($"yq".cast(D)).as("sy"),
      sum(($"xq".cast(D) * $"yq".cast(D))).as("sxy"),
      sum(($"xq".cast(D) * $"xq".cast(D))).as("sxx"),
      sum(($"yq".cast(D) * $"yq".cast(D))).as("syy"),
      sum(when($"a", $"xq").otherwise(0L).cast(D)).as("sx_a"),
      sum(when($"a", $"yq").otherwise(0L).cast(D)).as("sy_a"),
      sum(when(!$"a", $"xq").otherwise(0L).cast(D)).as("sx_b"),
      sum(when(!$"a", $"yq").otherwise(0L).cast(D)).as("sy_b"))
    m.select(
      $"n_a", $"n_b",
      expr(cupedRnd(cupedMeanA)).as("mean_a"),
      expr(cupedRnd(cupedMeanB)).as("mean_b"),
      expr(cupedRnd(cupedTheta)).as("theta"),
      expr(cupedRnd(cupedAdjA)).as("adj_mean_a"),
      expr(cupedRnd(cupedAdjB)).as("adj_mean_b"),
      expr(cupedRnd(cupedVarRed)).as("var_reduction"))
  }

  // Degenerate guards for the CUPED readout, shared verbatim by engine
  // and oracle. The zero-variance test runs on the EXACT decimal sums
  // (n·sxx = sx·sx ⇔ all per-user covariates equal, covers n<2) — the
  // double-derived varx could land ±1 ulp from 0 and the two engines
  // must take the same branch. Empty-arm means are NULL, never 0/0.
  private val cupedDegX = "n * sxx = sx * sx"
  private val cupedDegY = "n * syy = sy * sy"
  private val cupedMeanA =
    "CASE WHEN n_a = 0 THEN CAST(NULL AS DOUBLE) ELSE syad / nad END"
  private val cupedMeanB =
    "CASE WHEN n_b = 0 THEN CAST(NULL AS DOUBLE) ELSE sybd / nbd END"
  private val cupedTheta =
    s"CASE WHEN $cupedDegX THEN CAST(NULL AS DOUBLE) ELSE theta END"
  private val cupedAdjA =
    s"CASE WHEN n_a = 0 OR $cupedDegX THEN CAST(NULL AS DOUBLE) ELSE (syad / nad) - theta * ((sxad / nad) - (sxd / nd)) END"
  private val cupedAdjB =
    s"CASE WHEN n_b = 0 OR $cupedDegX THEN CAST(NULL AS DOUBLE) ELSE (sybd / nbd) - theta * ((sxbd / nbd) - (sxd / nd)) END"
  private val cupedVarRed =
    s"CASE WHEN $cupedDegX OR $cupedDegY THEN CAST(NULL AS DOUBLE) ELSE (covxy * covxy) / (varx * vary) END"

  val qAbtestCupedSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
       |sp AS (
       |  SELECT min(day) + CAST(datediff('day', min(day), max(day)) // 2 AS INTEGER) AS mid
       |  FROM ev),
       |pu AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN day < mid THEN CAST(floor(value * 10000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS xq,
       |    CAST(sum(CASE WHEN day >= mid THEN CAST(floor(value * 10000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS yq,
       |    user_id % 2 = 0 AS a
       |  FROM ev, sp GROUP BY user_id),
       |m AS (
       |  SELECT count(*) AS n,
       |    ${countIfSql("a")} AS n_a, ${countIfSql("NOT a")} AS n_b,
       |    sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
       |    sum(CAST(xq AS HUGEINT) * yq) AS sxy,
       |    sum(CAST(xq AS HUGEINT) * xq) AS sxx,
       |    sum(CAST(yq AS HUGEINT) * yq) AS syy,
       |    sum(CASE WHEN a THEN CAST(xq AS HUGEINT) ELSE 0 END) AS sx_a,
       |    sum(CASE WHEN a THEN CAST(yq AS HUGEINT) ELSE 0 END) AS sy_a,
       |    sum(CASE WHEN NOT a THEN CAST(xq AS HUGEINT) ELSE 0 END) AS sx_b,
       |    sum(CASE WHEN NOT a THEN CAST(yq AS HUGEINT) ELSE 0 END) AS sy_b
       |  FROM pu)
       |SELECT n_a, n_b,
       |  ${cupedRnd(cupedMeanA)} AS mean_a,
       |  ${cupedRnd(cupedMeanB)} AS mean_b,
       |  ${cupedRnd(cupedTheta)} AS theta,
       |  ${cupedRnd(cupedAdjA)} AS adj_mean_a,
       |  ${cupedRnd(cupedAdjB)} AS adj_mean_b,
       |  ${cupedRnd(cupedVarRed)} AS var_reduction
       |FROM m""".stripMargin

  // ------------------------------------------------------------------
  // q_abtest_cuped — variance-reduced experiment readout (CUPED)
  // ------------------------------------------------------------------

  /** rnd6 wrapper binding the CUPED moment names to identical
    * decimal→double conversions in BOTH engines (the `zipfRnd`
    * device). Derived bindings (theta, covxy, varx, vary) expand
    * recursively so the final expression strings match character for
    * character. */
  private def cupedRnd(e: String): String = {
    val base = Map(
      "nd" -> "CAST(n AS DOUBLE)", "nad" -> "CAST(n_a AS DOUBLE)", "nbd" -> "CAST(n_b AS DOUBLE)",
      "sxd" -> "(CAST(sx AS DOUBLE) / CAST(10000 AS DOUBLE))",
      "syd" -> "(CAST(sy AS DOUBLE) / CAST(10000 AS DOUBLE))",
      "sxad" -> "(CAST(sx_a AS DOUBLE) / CAST(10000 AS DOUBLE))",
      "syad" -> "(CAST(sy_a AS DOUBLE) / CAST(10000 AS DOUBLE))",
      "sxbd" -> "(CAST(sx_b AS DOUBLE) / CAST(10000 AS DOUBLE))",
      "sybd" -> "(CAST(sy_b AS DOUBLE) / CAST(10000 AS DOUBLE))",
      "sxyd" -> "(CAST(sxy AS DOUBLE) / CAST(100000000 AS DOUBLE))",
      "sxxd" -> "(CAST(sxx AS DOUBLE) / CAST(100000000 AS DOUBLE))",
      "syyd" -> "(CAST(syy AS DOUBLE) / CAST(100000000 AS DOUBLE))")
    val derived = Seq(
      "covxy" -> "(sxyd / nd - (sxd / nd) * (syd / nd))",
      "varx" -> "(sxxd / nd - (sxd / nd) * (sxd / nd))",
      "vary" -> "(syyd / nd - (syd / nd) * (syd / nd))")
    val withDerived0 = derived.foldLeft(e) { case (acc, (k, v)) =>
      acc.replaceAll(s"\\b$k\\b", java.util.regex.Matcher.quoteReplacement(v)) }
    val withTheta = withDerived0.replaceAll("\\btheta\\b",
      java.util.regex.Matcher.quoteReplacement("((sxyd / nd - (sxd / nd) * (syd / nd)) / (sxxd / nd - (sxd / nd) * (sxd / nd)))"))
    graft.functions.Agg.rndSql(
      base.foldLeft(withTheta) { case (acc, (k, v)) =>
        acc.replaceAll(s"\\b$k\\b", java.util.regex.Matcher.quoteReplacement(v)) }, 6)
  }

  /** Shared scaffolding for the nonparametric two-sample tests
    * ([[qMannWhitney]], [[qKsTest]]): per-user total value as the
    * observation (the experiment unit of analysis — the same
    * user_id%2 assignment as [[qAbtest]]), collapsed to one row per
    * DISTINCT quantized value carrying per-arm counts and the three
    * cumulative counts. The cumulative device is
    * [[graft.functions.Ranks.globalRunningSums]] — a per-value window
    * would be a single-task global sort, and the distinct-value
    * frame is NOT bounded at 100 TB (per-user sums take ~as many
    * values as users). The three running sums share ONE two-phase
    * layout ([[graft.functions.Ranks.globalRunningSums]]), never
    * single-partition. */
  private def rankScaffold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Ranks
    val obs = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(quantize(dsum($"value"), 4).cast("long").as("x_q"))
      .withColumn("a", $"user_id" % 2 === 0)
    val v = obs.groupBy($"x_q")
      .agg(countIf($"a").as("ca"), countIf(!$"a").as("cb"))
      .withColumn("t", $"ca" + $"cb")
      .localCheckpoint(true)
    // one two-phase layout for all three cumulative counts (shared
    // bucket assignment, offsets shuffle and window sort) — chaining
    // three single-sum passes re-paid boundary sampling and a window
    // pass per column for the identical answer (measured ~2× slower)
    Ranks.globalRunningSums(v, Seq($"x_q"),
      Seq(($"t", "cum_n"), ($"ca", "cum_a"), ($"cb", "cum_b")))
  }

  /** SQL twin of [[rankScaffold]] as WITH-clause CTEs ending in
    * `cum(x_q, ca, cb, t, cum_n, cum_a, cum_b)`. The oracle may use a
    * plain window — it is not graded on scale. */
  private val rankScaffoldCtes: String =
    """obs AS (
      |  SELECT user_id,
      |    CAST(floor((CAST(sum(CAST(floor(value * 10000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) * 10000 + 0.5) AS BIGINT) AS x_q,
      |    user_id % 2 = 0 AS a
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT x_q,
      |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM obs GROUP BY x_q
      |), cum AS (
      |  SELECT x_q, ca, cb, ca + cb AS t,
      |    CAST(sum(ca + cb) OVER w AS BIGINT) AS cum_n,
      |    CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
      |    CAST(sum(cb) OVER w AS BIGINT) AS cum_b
      |  FROM v
      |  WINDOW w AS (ORDER BY x_q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)""".stripMargin

  /** §2.10 — Mann-Whitney U (Wilcoxon rank-sum) with tie correction:
    * the nonparametric companion to [[qAbtest]]'s t-test — the
    * readout that survives the heavy-tailed revenue distributions
    * where a mean test is driven by a handful of whales. Ranks come
    * from the cumulative counts over DISTINCT values (average rank
    * for ties, carried as the exact integer 2·rank to avoid a .5),
    * so the rank sum, U, and the tie term Σ(t³−t) are all exact
    * decimal sums — float enters at the final z (identical IEEE ops
    * on identical exact inputs on both engines, then quantized, so
    * the significance verdict cannot flip cross-engine). */
  def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d18 = DecimalType(18, 0)
    val cum = rankScaffold(s, dir)
    cum
      .select($"ca", $"cb", $"t", $"cum_n")
      .withColumn("r2", lit(2L) * $"cum_n" - $"t" + lit(1L))
      .agg(
        sum($"ca".cast(d18)).cast("long").as("n_a"),
        sum($"cb".cast(d18)).cast("long").as("n_b"),
        sum($"ca".cast(d18) * $"r2".cast(d18)).as("ra2"),
        sum(($"t".cast(DecimalType(12, 0)) * $"t".cast(DecimalType(12, 0))
          * $"t".cast(DecimalType(12, 0))) - $"t".cast(DecimalType(38, 0))).as("ties"))
      .withColumn("u2_a", $"ra2" - ($"n_a".cast(d18) * ($"n_a".cast(d18) + lit(1L))))
      .withColumn("n", $"n_a" + $"n_b")
      .withColumn("z", expr(rndSql(mwZFrag, 6)))
      .select($"n_a", $"n_b",
        (($"u2_a".cast("double")) / lit(2.0)).as("u_a"),
        $"z", (abs($"z") > lit(1.959964)).as("significant"))
  }

  /** The Mann-Whitney z with the degenerate guard: an empty arm, a
    * single observation (n−1 = 0 divisor) or an all-tied sample (zero
    * rank variance) has no defined z — NULL in both engines (and a
    * NULL verdict), never an ANSI throw vs a DuckDB NULL/inf. All
    * inputs are exact decimal sums, so the branch decision and the
    * surviving arithmetic are engine-identical. */
  private val mwZFrag: String =
    """CASE WHEN n_a = 0 OR n_b = 0 OR n < 2
      |       OR (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) *
      |          ((CAST(n AS DOUBLE) + 1.0) -
      |            CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) <= 0
      |THEN CAST(NULL AS DOUBLE)
      |ELSE (CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |  (2.0 * sqrt(
      |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) *
      |    ((CAST(n AS DOUBLE) + 1.0) -
      |      CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))) END""".stripMargin

  val qMannWhitneySql: String =
    s"""WITH $rankScaffoldCtes,
       |m AS (
       |  SELECT
       |    CAST(sum(ca) AS BIGINT) AS n_a,
       |    CAST(sum(cb) AS BIGINT) AS n_b,
       |    sum(CAST(ca AS DECIMAL(18,0)) * CAST(2 * cum_n - t + 1 AS DECIMAL(18,0))) AS ra2,
       |    sum(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
       |        - CAST(t AS DECIMAL(38,0))) AS ties
       |  FROM cum
       |), u AS (
       |  SELECT n_a, n_b, ties, n_a + n_b AS n,
       |    ra2 - CAST(n_a AS DECIMAL(18,0)) * (CAST(n_a AS DECIMAL(18,0)) + 1) AS u2_a
       |  FROM m
       |)
       |SELECT n_a, n_b, CAST(u2_a AS DOUBLE) / 2.0 AS u_a,
       |  ${rndSql(mwZFrag, 6)} AS z,
       |  abs(${rndSql(mwZFrag, 6)}) > 1.959964 AS significant
       |FROM u""".stripMargin

  /** §2.10 — two-sample Kolmogorov-Smirnov: the DISTRIBUTION-shape
    * companion to the rank test — catches a variance or tail change
    * that leaves the location unmoved (Mann-Whitney blind spot). The
    * statistic is the max empirical-CDF gap over the same cumulative
    * scaffold; the max runs on the exact integer cross-products
    * |cum_a·n_b − cum_b·n_a| (a double CDF difference could order two
    * near-ties differently per engine), and D divides the exact max
    * once at the end. Verdict vs the α=0.05 large-sample critical
    * value 1.358·√((n_a+n_b)/(n_a·n_b)), both sides quantized. */
  def qKsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d18 = DecimalType(18, 0)
    val cum = rankScaffold(s, dir)
      .select($"ca", $"cb", $"cum_a", $"cum_b")
      .localCheckpoint(true)
    val totals = cum.agg(
      sum($"ca".cast(d18)).cast("long").as("n_a"),
      sum($"cb".cast(d18)).cast("long").as("n_b"))
    cum.join(broadcast(totals))
      .groupBy($"n_a", $"n_b")
      .agg(max(abs($"cum_a".cast(d18) * $"n_b" - $"cum_b".cast(d18) * $"n_a")).as("d_num"))
      // empty-arm guard: a one-sample "two-sample" KS has no defined D
      .withColumn("d", expr(rndSql(
        "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END", 9)))
      .withColumn("d_crit", expr(rndSql(
        "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE) ELSE 1.358 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) END", 9)))
      .select($"n_a", $"n_b", $"d", $"d_crit", ($"d" > $"d_crit").as("significant"))
  }

  val qKsTestSql: String =
    s"""WITH $rankScaffoldCtes,
       |tot AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
       |  FROM cum
       |), d AS (
       |  SELECT t.n_a, t.n_b,
       |    max(abs(CAST(c.cum_a AS DECIMAL(18,0)) * t.n_b
       |          - CAST(c.cum_b AS DECIMAL(18,0)) * t.n_a)) AS d_num
       |  FROM cum c CROSS JOIN tot t
       |  GROUP BY t.n_a, t.n_b
       |), f AS (
       |  SELECT n_a, n_b,
       |    ${rndSql("CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END", 9)} AS d,
       |    ${rndSql("CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE) ELSE 1.358 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) END", 9)} AS d_crit
       |  FROM d
       |)
       |SELECT n_a, n_b, d, d_crit, d > d_crit AS significant FROM f""".stripMargin

  // ------------------------------------------------------------------
  // q_anova — one-way ANOVA F across 3 assignment arms
  // ------------------------------------------------------------------

  /** §2.10 — one-way ANOVA: the K-arm generalization of [[qAbtest]]'s
    * two-arm t — ONE omnibus F answering "does ANY of the 3 arms move
    * per-user total value" before per-pair readouts multiply the
    * testing burden (controlling that multiplication is [[qFdrBh]]'s
    * job). Unit of analysis is the per-user value total, the same
    * convention as the rank tests — users roll up first, so
    * within-user correlation never inflates the df. The decomposition
    * runs on exact sums: per-arm S_g, Q_g via dsum (order-free
    * decimal), SSB/SSW assembled from the ≤3 per-arm terms with every
    * double term 1e-6 quantized BEFORE the cross-arm sum — bit-stable
    * at any partitioning. Verdict vs F(2,∞) = χ²₂(0.95)/2 = 2.995732:
    * with n−k in the tens of thousands the asymptote is exact to the
    * printed precision. Two shuffles total (user rollup, then a 3-row
    * arm rollup) — the 100 TB shape is one pass over the fact table
    * with map-side partials all the way down. The cross-arm sums ride
    * DECIMAL(38,0) (a BIGINT sum could wrap); the remaining ceiling is
    * each arm's own 1e-6-quantized term staying inside double's 2⁵³
    * (s_g²/n_g < 9·10⁹) — beyond that, rescale the value unit, the
    * graph_harmonic micro-unit device. */
  def qAnova(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(dsum($"value").as("x"))
      .withColumn("arm", $"user_id" % 3)
    val arms = perUser.groupBy($"arm")
      .agg(count(lit(1)).as("n_g"),
        dsum($"x").as("s_g"),
        dsum($"x" * $"x").as("q_g"))
    arms
      .agg(
        count(lit(1)).cast("long").as("k"),
        sum($"n_g").as("n"),
        sum(expr("CAST(CAST(floor(s_g * s_g / CAST(n_g AS DOUBLE) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DECIMAL(38,0))")).as("ssb_num_q"),
        sum(expr("CAST(CAST(floor(s_g * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DECIMAL(38,0))")).as("s_tot_q"),
        sum(expr("CAST(CAST(floor((q_g - s_g * s_g / CAST(n_g AS DOUBLE)) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DECIMAL(38,0))")).as("ssw_q"))
      .withColumn("s_tot", $"s_tot_q".cast("double") / lit(10000.0))
      .withColumn("ssb", expr(rndSql(
        """(CAST(ssb_num_q AS DOUBLE)
          | - CAST(floor(s_tot * s_tot / CAST(n AS DOUBLE) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT))
          | / CAST(1000000 AS DOUBLE)""".stripMargin, 6)))
      .withColumn("ssw", expr(rndSql("CAST(ssw_q AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)))
      // degenerate-design guard (k<2 arms, n<=k users, zero within-arm
      // variance): NULL, never an inf/NaN that engines render apart
      .withColumn("f_stat", expr(rndSql(
        "CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN CAST(NULL AS DOUBLE) ELSE (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE)) END", 6)))
      // critical value follows the DATA-DERIVED arm count: F(k-1, inf)
      // at alpha=0.05 — an empty user_id%3 arm (k=2) must be judged
      // against 3.841459, not the 3-arm 2.995732 (anti-conservative)
      .select($"k", $"n", $"ssb", $"ssw", $"f_stat",
        coalesce($"f_stat" > expr(anovaFCritSql), lit(false)).as("significant"))
  }

  /** F(k-1, inf) upper 5% points, selected by the observed arm count;
    * NULL outside the 2..4 arms this design can produce (coalesced to
    * a false verdict, matching the f_stat NULL guard). */
  private val anovaFCritSql: String =
    """CASE WHEN k = 2 THEN 3.841459 WHEN k = 3 THEN 2.995732
      |     WHEN k = 4 THEN 2.604695 ELSE CAST(NULL AS DOUBLE) END""".stripMargin

  val qAnovaSql: String =
    s"""WITH pu AS (
       |  SELECT user_id, ${dsumSql("value")} AS x FROM events GROUP BY 1
       |), arms AS (
       |  SELECT user_id % 3 AS arm, count(*) AS n_g,
       |    ${dsumSql("x")} AS s_g, ${dsumSql("x * x")} AS q_g
       |  FROM pu GROUP BY 1
       |), t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
       |    CAST(sum(CAST(floor(s_g * s_g / CAST(n_g AS DOUBLE) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DECIMAL(38,0)) AS ssb_num_q,
       |    CAST(CAST(sum(CAST(floor(s_g * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 10000.0 AS DOUBLE) AS s_tot,
       |    CAST(sum(CAST(floor((q_g - s_g * s_g / CAST(n_g AS DOUBLE)) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DECIMAL(38,0)) AS ssw_q
       |  FROM arms
       |), f AS (
       |  SELECT k, n,
       |    ${rndSql(
        """(CAST(ssb_num_q AS DOUBLE)
          | - CAST(floor(s_tot * s_tot / CAST(n AS DOUBLE) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT))
          | / CAST(1000000 AS DOUBLE)""".stripMargin, 6)} AS ssb,
       |    ${rndSql("CAST(ssw_q AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS ssw
       |  FROM t
       |), ff AS (
       |  SELECT k, n, ssb, ssw,
       |    ${rndSql("CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN CAST(NULL AS DOUBLE) ELSE (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE)) END", 6)} AS f_stat
       |  FROM f
       |)
       |SELECT k, n, ssb, ssw, f_stat,
       |  COALESCE(f_stat > ($anovaFCritSql), false) AS significant FROM ff""".stripMargin

  // ------------------------------------------------------------------
  // q_fdr_bh — Benjamini-Hochberg over the per-metric z family
  // ------------------------------------------------------------------

  /** Zelen & Severo 26.2.17 upper-tail normal approximation as a SQL
    * fragment valid (and textually identical) in Spark and DuckDB.
    * `z` must already be quantized so both engines evaluate the
    * polynomial on the same double; every arithmetic op here is
    * IEEE-deterministic except exp(), whose cross-engine risk is ≤1
    * ulp on an identical input — invisible after the caller's 1e-9
    * quantization away from razor-edge boundaries (|err| < 1e-15 vs a
    * 1e-9 grid). Absolute error of the approximation itself < 7.5e-8,
    * fine for a rejection decision at α = 0.05. */
  private def normSfSql(z: String): String =
    s"""(0.3989422804014327 * exp(-(($z) * ($z)) / 2.0)
       | * ((1.0 / (1.0 + 0.2316419 * ($z)))
       |    * (0.319381530 + (1.0 / (1.0 + 0.2316419 * ($z)))
       |      * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * ($z)))
       |        * (1.781477937 + (1.0 / (1.0 + 0.2316419 * ($z)))
       |          * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * ($z))) * 1.330274429))))))""".stripMargin

  /** §2.10 — Benjamini-Hochberg FDR over the per-metric test family:
    * [[qAbtest]] reads out one Welch z PER event_type, and shipping
    * those as independent α = 0.05 verdicts is the classic
    * multiple-testing trap every experimentation platform guards.
    * Per metric: two-sided p from the Zelen-Severo tail approximation
    * on the 1e-6-quantized z (both engines see the same double), p
    * quantized 1e-9 → the BH step-up runs entirely on exact integers
    * (p_q · m ≤ i · α·1e9 — no double compare can flip a rank between
    * engines). The step-up window is unpartitioned but bounded by the
    * metric-family size (#event_types, single digits) — the 100 TB
    * cost is [[qAbtest]]'s one fact pass; the BH pass is free. */
  def qFdrBh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = welchDerive(Tables.events(s, dir)
      .withColumn("a", $"user_id" % 2 === 0)
      .groupBy($"event_type")
      .agg(welchAggs.head, welchAggs.tail: _*))
      // degenerate metric (single-row arm or zero pooled variance):
      // z NULL, p pinned to 1.0 so it ranks deterministically LAST
      // (NULL p_q would sort first in Spark and last in DuckDB)
      .withColumn("z", expr(rndSql(
        "CASE WHEN n_a < 2 OR n_b < 2 OR (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) <= 0 THEN CAST(NULL AS DOUBLE) ELSE (m_a - m_b) / sqrt(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) END", 6)))
      .withColumn("p_q", expr(
        s"CASE WHEN z IS NULL THEN CAST(1000000000 AS BIGINT) ELSE CAST(floor(2.0 * ${normSfSql("abs(z)")} * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) END"))
    val w = Window.orderBy($"p_q", $"event_type")
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stats
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("pass", when($"p_q" * $"m" <= $"rnk" * lit(50000000L), $"rnk"))
      .withColumn("cutoff", max($"pass").over(all))
      .select($"event_type",
        $"z",
        ($"p_q".cast("double") / lit(1000000000.0)).as("p"),
        $"rnk", $"m",
        expr(rndSql("CAST(rnk AS DOUBLE) * 0.05 / CAST(m AS DOUBLE)", 9)).as("bh_thr"),
        coalesce($"rnk" <= $"cutoff", lit(false)).as("rejected"))
      .orderBy($"rnk")
  }

  val qFdrBhSql: String =
    s"""WITH st AS (
       |  SELECT event_type,
       |    ${countIfSql("user_id % 2 = 0")} AS n_a,
       |    ${countIfSql("user_id % 2 <> 0")} AS n_b,
       |    ${dsumSql("CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END")} AS sx_a,
       |    ${dsumSql("CASE WHEN user_id % 2 <> 0 THEN value ELSE 0.0 END")} AS sx_b,
       |    ${dsumSql("CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0.0 END")} AS sxx_a,
       |    ${dsumSql("CASE WHEN user_id % 2 <> 0 THEN value * value ELSE 0.0 END")} AS sxx_b
       |  FROM events GROUP BY 1
       |), m AS (
       |  SELECT event_type, n_a, n_b,
       |    sx_a / CAST(n_a AS DOUBLE) AS m_a, sx_b / CAST(n_b AS DOUBLE) AS m_b,
       |    (sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) AS v_a,
       |    (sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE) AS v_b
       |  FROM st
       |), zz AS (
       |  SELECT event_type,
       |    ${rndSql("CASE WHEN n_a < 2 OR n_b < 2 OR (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) <= 0 THEN CAST(NULL AS DOUBLE) ELSE (m_a - m_b) / sqrt(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) END", 6)} AS z
       |  FROM m
       |), pp AS (
       |  SELECT event_type, z,
       |    CASE WHEN z IS NULL THEN CAST(1000000000 AS BIGINT) ELSE CAST(floor(2.0 * ${normSfSql("abs(z)")} * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS p_q
       |  FROM zz
       |), rk AS (
       |  SELECT event_type, z, p_q,
       |    CAST(row_number() OVER (ORDER BY p_q, event_type) AS BIGINT) AS rnk,
       |    CAST(count(*) OVER () AS BIGINT) AS m
       |  FROM pp
       |), co AS (
       |  SELECT rk.*, (SELECT max(CASE WHEN p_q * m <= rnk * 50000000 THEN rnk END) FROM rk) AS cutoff
       |  FROM rk
       |)
       |SELECT event_type, z, CAST(p_q AS DOUBLE) / 1000000000.0 AS p, rnk, m,
       |  ${rndSql("CAST(rnk AS DOUBLE) * 0.05 / CAST(m AS DOUBLE)", 9)} AS bh_thr,
       |  COALESCE(rnk <= cutoff, false) AS rejected
       |FROM co ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------
  // q_attribution_shapley — exact Shapley credit over channel subsets
  // ------------------------------------------------------------------

  /** Channel → bitmask bit, fixed and explicit (never collation
    * order): the 4 non-conversion event types. */
  val shapleyBitCase: String =
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END"

  /** §2.10 — SHAPLEY-value attribution, the game-theoretic credit
    * model beside linear (50b), U-shaped (50b') and Markov
    * removal-effect (50b''): each channel's credit is its average
    * marginal lift of the observed conversion rate across all
    * channel-subset orderings — the only attribution satisfying
    * efficiency/symmetry/dummy, which is why ad platforms quote it.
    * Practical observed-subsets variant: v(S) = conversion rate of
    * users whose touched-channel set is EXACTLY S (unobserved subsets
    * contribute 0), so the whole game lives on a 2⁴-mask table.
    * Exact arithmetic end to end: user → mask is one fact-table
    * rollup (sum DISTINCT of power-of-two bits), v quantizes to 1e-9
    * integers, the factorial weights |S|!(|C|−|S|−1)! are the exact
    * integers {6,2,2,6} summed as BIGINTs, and one division by
    * 4!·1e9 happens at the end — the Shapley EFFICIENCY axiom
    * (Σφ = v(full) − v(∅)) holds exactly and the spec asserts it.
    * Scale: one user-keyed shuffle; every frame after is ≤16 rows. */
  def qAttributionShapley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val um = Tables.events(s, dir).groupBy($"user_id")
      .agg(expr(s"CAST(sum(DISTINCT $shapleyBitCase) AS INT)").as("mask"),
        expr("max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").as("conv"))
    val vq = um.groupBy($"mask")
      .agg(expr("CAST(floor(CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("vqv"))
      .localCheckpoint(true) // ≤16 rows
    val channels = Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8))
      .toDF("channel", "bit")
    val masks = s.range(16).select($"id".cast("int").as("m"))
    val terms = broadcast(channels).crossJoin(masks)
      .filter(expr("(m & bit) = 0"))
      .join(vq.select($"mask".as("m1"), $"vqv".as("v1")), expr("m1 = (m | bit)"), "left")
      .join(vq.select($"mask".as("m0"), $"vqv".as("v0")), expr("m0 = m"), "left")
      .withColumn("t", expr(
        """CAST(CASE bit_count(m) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS BIGINT)
          | * (COALESCE(v1, CAST(0 AS BIGINT)) - COALESCE(v0, CAST(0 AS BIGINT)))""".stripMargin))
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    terms.groupBy($"channel")
      .agg(sum($"t").as("tq"))
      .withColumn("tsum", sum($"tq").over(all))
      .select($"channel",
        expr(rndSql("CAST(tq AS DOUBLE) / CAST(24 AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 9)).as("phi"),
        expr(rndSql("CASE WHEN tsum = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(tq AS DOUBLE) / CAST(tsum AS DOUBLE) END", 6)).as("phi_share"))
      .orderBy($"channel")
  }

  val qAttributionShapleySql: String =
    s"""WITH um AS (
       |  SELECT user_id,
       |    CAST(sum(DISTINCT $shapleyBitCase) AS INT) AS mask,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1
       |), vq AS (
       |  SELECT mask,
       |    CAST(floor(CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vqv
       |  FROM um GROUP BY 1
       |), channels(channel, bit) AS (
       |  VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)
       |), masks AS (
       |  SELECT CAST(range AS INT) AS m FROM range(16)
       |), terms AS (
       |  SELECT c.channel,
       |    CAST(CASE bit_count(ms.m) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS BIGINT)
       |      * (COALESCE(v1.vqv, CAST(0 AS BIGINT)) - COALESCE(v0.vqv, CAST(0 AS BIGINT))) AS t
       |  FROM channels c JOIN masks ms ON (ms.m & c.bit) = 0
       |  LEFT JOIN vq v1 ON v1.mask = (ms.m | c.bit)
       |  LEFT JOIN vq v0 ON v0.mask = ms.m
       |), phi AS (
       |  SELECT channel, CAST(sum(t) AS BIGINT) AS tq FROM terms GROUP BY 1
       |)
       |SELECT channel,
       |  ${rndSql("CAST(tq AS DOUBLE) / CAST(24 AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 9)} AS phi,
       |  ${rndSql("CASE WHEN sum(tq) OVER () = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(tq AS DOUBLE) / CAST(sum(tq) OVER () AS DOUBLE) END", 6)} AS phi_share
       |FROM phi ORDER BY channel""".stripMargin

  // ------------------------------------------------------------------
  // q_qte — quantile treatment effects
  // ------------------------------------------------------------------

  /** §2.10 — QUANTILE treatment effects at p ∈ {.25, .5, .75}: where
    * in the distribution the treatment acts — a mean shift
    * ([[qAbtest]]) from whales-only looks identical to one from
    * everyone until you read the quartiles (the classic "significant
    * t, flat median" trap). Nearest-rank quantiles selected by the
    * PURE integer predicate 100·cum ≥ pq·n (≡ cum ≥ ⌈p·n⌉ with no
    * division or cast anywhere — DuckDB ROUNDS integer casts where
    * Spark truncates, so a divided rank is a cross-engine trap) over
    * the SAME cumulative scaffold the rank tests ride, so the whole
    * family still costs one user rollup + three two-phase running
    * sums; the 3-quantile spine rides a broadcast. */
  def qQte(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cum = rankScaffold(s, dir)
      .select($"x_q", $"cum_a", $"cum_b").localCheckpoint(true)
    val tot = cum.agg(max($"cum_a").as("n_a"), max($"cum_b").as("n_b"))
    val ps = Seq(25, 50, 75).toDF("pq")
    cum
      .crossJoin(broadcast(ps)).crossJoin(broadcast(tot))
      // cum >= ceil(pq*n/100) as the PURE integer predicate
      // 100*cum >= pq*n: no division, no cast — DuckDB rounds integer
      // casts where Spark truncates, so a divided rank is a trap
      .groupBy($"pq")
      // empty arm: n = 0 makes the rank predicate vacuously true on
      // every row - guard to NULL instead of the global min
      .agg(min(when($"n_a" > 0 && $"cum_a" * 100 >= $"pq" * $"n_a", $"x_q")).as("qa_q"),
        min(when($"n_b" > 0 && $"cum_b" * 100 >= $"pq" * $"n_b", $"x_q")).as("qb_q"))
      .select(($"pq".cast("double") / lit(100.0)).as("p"),
        ($"qa_q".cast("double") / lit(10000.0)).as("q_a"),
        ($"qb_q".cast("double") / lit(10000.0)).as("q_b"),
        (($"qa_q" - $"qb_q").cast("double") / lit(10000.0)).as("qte"))
      .orderBy($"p")
  }

  val qQteSql: String =
    s"""WITH $rankScaffoldCtes,
       |tot AS (
       |  SELECT CAST(max(cum_a) AS BIGINT) AS n_a, CAST(max(cum_b) AS BIGINT) AS n_b FROM cum
       |), ps AS (
       |  SELECT CAST(pq AS BIGINT) AS pq FROM (VALUES (25), (50), (75)) AS t(pq)
       |), sel AS (
       |  SELECT ps.pq,
       |    min(CASE WHEN tot.n_a > 0 AND c.cum_a * 100 >= ps.pq * tot.n_a THEN c.x_q END) AS qa_q,
       |    min(CASE WHEN tot.n_b > 0 AND c.cum_b * 100 >= ps.pq * tot.n_b THEN c.x_q END) AS qb_q
       |  FROM cum c, ps, tot
       |  GROUP BY ps.pq
       |)
       |SELECT CAST(pq AS DOUBLE) / 100.0 AS p,
       |  CAST(qa_q AS DOUBLE) / 10000.0 AS q_a,
       |  CAST(qb_q AS DOUBLE) / 10000.0 AS q_b,
       |  CAST(qa_q - qb_q AS DOUBLE) / 10000.0 AS qte
       |FROM sel ORDER BY p""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_qte"             -> (qQte _),
    "q_attribution_shapley" -> (qAttributionShapley _),
    "q_anova"           -> (qAnova _),
    "q_fdr_bh"          -> (qFdrBh _),
    "q_mann_whitney"    -> (qMannWhitney _),
    "q_ks_test"         -> (qKsTest _),
    "q_abtest_cuped"    -> (qAbtestCuped _),
    "q_chi2_independence" -> (qChi2Independence _),
    "q_srm_check"            -> (qSrmCheck _),
    "q_attribution_position" -> (qAttributionPosition _),
    "q_attribution_markov"   -> (qAttributionMarkov _),
    "q_diff_in_diff"         -> (qDiffInDiff _),
    "q_power_mde"            -> (qPowerMde _),
    "q_bootstrap_ci"         -> (qBootstrapCi _),
    "q_abtest"        -> (qAbtest _),
    "q_attribution_linear" -> (qAttributionLinear _)
  )

  def oracles: Map[String, String] = Map(
    "q_qte"             -> qQteSql,
    "q_attribution_shapley" -> qAttributionShapleySql,
    "q_anova"           -> qAnovaSql,
    "q_fdr_bh"          -> qFdrBhSql,
    "q_mann_whitney"    -> qMannWhitneySql,
    "q_ks_test"         -> qKsTestSql,
    "q_abtest_cuped"    -> qAbtestCupedSql,
    "q_chi2_independence" -> qChi2IndependenceSql,
    "q_srm_check"            -> qSrmCheckSql,
    "q_attribution_position" -> qAttributionPositionSql,
    "q_attribution_markov"   -> qAttributionMarkovSql,
    "q_diff_in_diff"         -> qDiffInDiffSql,
    "q_power_mde"            -> qPowerMdeSql,
    "q_bootstrap_ci"         -> qBootstrapCiSql,
    "q_abtest"        -> qAbtestSql,
    "q_attribution_linear" -> qAttributionLinearSql
  )
}
