package graft

import org.apache.spark.sql.functions._

import graft.functions.Skew
import graft.operators.Relational
import graft.sources.{Sinks, Tables}

/** The co-location and skew layouts: results must equal their naive
  * formulations AND the plans must show the scale-shaped shuffle. */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join without an exchange") {
    val s = spark; import s.implicits._
    Sinks.writeBucketed(Tables.orders(s, sfDir), "orders_b", "o_custkey", 8)
    Sinks.writeBucketed(Tables.customer(s, sfDir), "customer_b", "c_custkey", 8)
    val j = s.table("orders_b").hint("merge")
      .join(s.table("customer_b"), $"o_custkey" === $"c_custkey")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"bucketed join must be exchange-free:\n$plan")
    // same rows as the plain join
    val expected = Tables.orders(s, sfDir)
      .join(Tables.customer(s, sfDir), $"o_custkey" === $"c_custkey").count()
    assert(j.count() == expected)
  }

  test("partitioned write prunes directories on the partition filter") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Sinks.writePartitioned(Tables.events(s, sfDir)
      .withColumn("ts", $"ts".cast("string")), s"$dir/events", "event_type")
    val q = s.read.parquet(s"$dir/events").filter($"event_type" === "click")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    assert(q.count() ==
      Tables.events(s, sfDir).filter($"event_type" === "click").count())
  }

  test("salted distinct count is exact and shuffles on (key, salt) first") {
    val s = spark; import s.implicits._
    val got = Skew.saltedDistinctCount(
        Tables.events(s, sfDir), $"event_type", $"user_id", 8, "n_users")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(s, sfDir)
      .groupBy($"event_type").agg(count_distinct($"user_id").as("n_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    val plan = Skew.saltedDistinctCount(
      Tables.events(s, sfDir), $"event_type", $"user_id", 8, "n_users")
      .queryExecution.executedPlan.toString
    // the inner (phase-1) exchange must partition on (key, salt) —
    // Catalyst renames the salt to _groupingexpression
    val phase1 = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning(event_type"))
      .toList
    assert(phase1.exists(_.contains("_groupingexpression")),
      s"phase-1 shuffle must include the salt key:\n$plan")
  }

  test("csv and json roundtrip the orders table losslessly") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val orders = Tables.orders(s, sfDir)
      .withColumn("o_orderdate", $"o_orderdate".cast("string"))
    orders.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    orders.write.mode("overwrite").json(s"$dir/json")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(orders.columns.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    val want = rows(orders)
    assert(rows(Tables.readCsv(s, s"$dir/csv", orders.schema)) == want)
    assert(rows(Tables.readJsonLines(s, s"$dir/json", orders.schema)) == want)
  }

  test("approx percentiles sit inside the sketch's rank-error bound of exact") {
    val s = spark; import s.implicits._
    // sf0.1 (~600k lineitem rows): large enough that the sketch
    // actually compresses, per the VERDICT's accuracy-bound ask
    val dir = "/root/testdata/sf0.1"
    // guarantee is rank error <= 1/accuracy; allow 10x slack so the
    // spec pins the contract, not one sketch's lucky layout
    val eps = 10.0 / Relational.percentileAccuracy
    def exactAt(p: Double, name: String) =
      expr(s"percentile(l_extendedprice, CAST($p AS DOUBLE))").as(name)
    val bounds = Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(exactAt(0.5 - eps, "p50_lo"), exactAt(0.5 + eps, "p50_hi"),
           exactAt(0.95 - eps, "p95_lo"), exactAt(0.95 + eps, "p95_hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val rows = Relational.qPercentilesApprox(s, dir).collect()
    // the emitted GK rank-bound verdicts are the oracle-gated
    // accuracy tripwire — all true on a healthy sketch
    rows.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5), s"rank bound tripped: $r")
    }
    val approx = rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(approx.nonEmpty)
    approx.foreach { case (flag, p50, p95) =>
      val (lo50, hi50, lo95, hi95) = bounds(flag)
      assert(p50 >= lo50 && p50 <= hi50, s"$flag p50=$p50 outside [$lo50,$hi50]")
      assert(p95 >= lo95 && p95 <= hi95, s"$flag p95=$p95 outside [$lo95,$hi95]")
    }
  }

  test("approx distinct is inside the HLL rsd bound and partition-invariant") {
    val s = spark; import s.implicits._
    val dir = "/root/testdata/sf0.01"
    val exact = Tables.events(s, dir).groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val adRows = Relational.qApproxDistinct(s, dir).collect()
    // the emitted bound verdict is the oracle-gated accuracy tripwire
    adRows.foreach(r => assert(r.getBoolean(5), s"rsd bound tripped: $r"))
    val approx = adRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (et, a) =>
      val rel = math.abs(a.toDouble - exact(et)) / exact(et)
      // 5x rsd slack: pin the contract, not one sketch's luck
      assert(rel <= 5 * Relational.approxDistinctRsd,
        s"$et approx=$a exact=${exact(et)} rel=$rel")
    }
    // HLL merge is register-wise max — result must not depend on the
    // partial-aggregation tree shape
    val repart = Tables.events(s, dir).repartition(13)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", Relational.approxDistinctRsd).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(repart == approx)
  }

  test("distributed exact percentiles equal the percentile aggregate bit for bit") {
    val s = spark
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val a = Relational.qPercentiles(s, dir).collect().map(_.toSeq).toList
      val b = Relational.qPercentilesDist(s, dir).collect().map(_.toSeq).toList
      assert(b == a, s"mismatch at $dir")
    }
  }

  test("two-phase layouts are invariant to the shuffle-partition setting") {
    val s = spark
    // the range-partition counts derive from spark.sql.shuffle.partitions
    // (Ranks' bucket count); the layouts claim the result does not
    // depend on how many range partitions the rank spreads over
    val key = "spark.sql.shuffle.partitions"
    val orig = s.conf.get(key)
    def run() = (
      graft.operators.Pipeline.docPack(s, sfDir).collect().map(_.toSeq).toList,
      graft.operators.Accumulator.accSizeFlush(s, sfDir).collect().map(_.toSeq).toList,
      graft.operators.Pipeline.corpusShuffle(s, sfDir).collect().map(_.toSeq).toList)
    try {
      s.conf.set(key, "4")
      val (pack4, acc4, shuf4) = run()
      s.conf.set(key, "13")
      val (pack13, acc13, shuf13) = run()
      assert(pack4 == pack13)
      assert(acc4 == acc13)
      assert(shuf4 == shuf13)
    } finally s.conf.set(key, orig)
  }

  test("reservoir sample and embedding clusters are invariant to the shuffle-partition setting") {
    val s = spark
    // sample_reservoir claims PRF determinism (no per-partition RNG
    // state) and dedup_clusters_embedding claims hash-min propagation
    // reaches the same fixpoint under any partitioning
    val key = "spark.sql.shuffle.partitions"
    val orig = s.conf.get(key)
    def run() = (
      graft.operators.Pipeline.sampleReservoir(s, sfDir).collect().map(_.toSeq).toList,
      graft.operators.Dedup.dedupClustersEmbedding(s, sfDir).collect().map(_.toSeq).toList)
    try {
      s.conf.set(key, "4")
      val (res4, cl4) = run()
      s.conf.set(key, "13")
      val (res13, cl13) = run()
      assert(res4 == res13)
      assert(cl4 == cl13)
    } finally s.conf.set(key, orig)
  }

  test("quantized-sum operators are invariant to the shuffle-partition setting") {
    val s = spark
    // the round-3 float-carrying aggregates (KL drift terms, funnel
    // window chain, resample ffill) all claim partition-independence
    // via exact long sums of quantized terms — prove it at two
    // partition settings
    val key = "spark.sql.shuffle.partitions"
    val orig = s.conf.get(key)
    def run() = (
      graft.operators.Pipeline.corpusDrift(s, sfDir).collect().map(_.toSeq).toList,
      graft.operators.Behavioral.qFunnel(s, sfDir).collect().map(_.toSeq).toList,
      graft.operators.Behavioral.qTimeResample(s, sfDir).collect().map(_.toSeq).toList)
    try {
      s.conf.set(key, "4")
      val a = run()
      s.conf.set(key, "13")
      val b = run()
      assert(a == b)
    } finally s.conf.set(key, orig)
  }

  test("round-8 statistical operators are invariant to the shuffle-partition setting") {
    val s = spark
    // every round-8 operator claims an exact-integer / quantized-
    // before-sum / PRF-deterministic layout — prove bit-equality for
    // ALL of them at two partition settings
    val key = "spark.sql.shuffle.partitions"
    val orig = s.conf.get(key)
    def run() = List(
      graft.operators.Experimentation.qAnova(s, sfDir),
      graft.operators.Experimentation.qFdrBh(s, sfDir),
      graft.operators.Experimentation.qQte(s, sfDir),
      graft.operators.Experimentation.qAttributionShapley(s, sfDir),
      graft.operators.Behavioral.qChangepoint(s, sfDir),
      graft.operators.Behavioral.qHoltWinters(s, sfDir),
      graft.operators.Behavioral.qForecastBacktest(s, sfDir),
      graft.operators.Similarity.embedJl(s, sfDir),
      graft.operators.Similarity.annHardNegatives(s, sfDir),
      graft.operators.Graph.graphDegreeStats(s, sfDir),
      graft.operators.Graph.graphPpr(s, sfDir)
    ).map(_.collect().map(_.toSeq).toList)
    try {
      s.conf.set(key, "4")
      val a = run()
      s.conf.set(key, "13")
      val b = run()
      assert(a == b)
    } finally s.conf.set(key, orig)
  }

  test("sweep-line interval overlap honors inclusive endpoints") {
    val s = spark; import s.implicits._
    // user 0: events at 00:00 and 00:10 → one session [00:00, 00:10]
    // user 1: one event at 00:10 → point session [00:10, 00:10]
    // actives: e1@00:00 → 1; e2@00:10 and e3@00:10 → 2 (u0's session
    // by its inclusive END, u1's by its inclusive START)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t10 = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    Seq((0L, 1L, "click", t0, 1.0), (0L, 2L, "click", t10, 1.0),
        (1L, 3L, "click", t10, 1.0))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = graft.operators.Relational.qIntervalOverlap(s, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("__graft_pid"), p)
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L), out.toString)
  }

  test("salted join returns exactly the plain join's rows") {
    val s = spark; import s.implicits._
    val plain = Tables.orders(s, sfDir)
      .join(Tables.customer(s, sfDir), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList
    val salted = Skew.saltedJoin(
        Tables.orders(s, sfDir), Tables.customer(s, sfDir),
        "o_custkey", "c_custkey", 4)
      .select($"o_orderkey", $"c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList
    assert(salted == plain)
  }
}
