package graft

import org.apache.spark.sql.functions._

import graft.functions.Quantiles

/** Contract tests for the distributed bracketing-quantile helper. */
class QuantilesSpec extends SparkSpec {

  private def interp = (lower: Long, higher: Long, pos: Double,
                        vlo: Double, vhi: Double) =>
    if (lower == higher) vlo else (higher - pos) * vlo + (pos - lower) * vhi

  test("unbounded group count: a per-key grouping (one tiny group per key) stays exact") {
    val s = spark; import s.implicits._
    // 500 groups of 3 rows each — the shape whose group-proportional
    // `wanted` frame must NEVER be force-broadcast (the helper's
    // broadcast hints are gated on a measured bound; the contract is
    // that correctness never depends on the hint firing).
    val df = (0 until 1500).map(i => (i % 500, (i * 2654435761L % 997).toDouble))
      .toDF("g", "x")
    val got = withShufflePartitions(8) {
      Quantiles.bracketed(df, Seq("g"), "x", Seq(0.5))
        .select($"g", $"lower", $"higher", $"pos", $"vlo", $"vhi")
        .collect()
        .map(r => r.getInt(0) ->
          interp(r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
    }
    val want = df.groupBy($"g")
      .agg(expr("percentile(x, 0.5)").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.size == 500)
    for ((g, m) <- want)
      assert(math.abs(got(g) - m) < 1e-12, s"group $g: ${got(g)} vs $m")
  }

  test("NULL values are skipped, matching percentile()") {
    val s = spark; import s.implicits._
    val df = Seq[(Int, java.lang.Double)](
      (0, 1.0), (0, null), (0, 3.0), (0, null), (0, 2.0),
      (1, null), (1, 10.0)).toDF("g", "x")
    val got = withShufflePartitions(4) {
      Quantiles.bracketed(df, Seq("g"), "x", Seq(0.5))
        .collect()
        .map(r => r.getInt(0) ->
          interp(r.getLong(3), r.getLong(4), r.getDouble(2), r.getDouble(6), r.getDouble(7)))
        .toMap
    }
    val want = df.groupBy($"g")
      .agg(expr("percentile(x, 0.5)").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(0) == want(0) && got(1) == want(1),
      s"got $got want $want")
  }
}
