package graft

import graft.sources.OracleStage

class OracleStageSpec extends SparkSpec {

  test("datasets whose paths share a 32-bit hashCode stage to separate artifacts") {
    val (a, b) = ("/data/Aa", "/data/BB")
    assert(a.hashCode == b.hashCode)
    OracleStage.stage(spark, "collide", a)(spark.range(0, 3).toDF("id"))
    OracleStage.stage(spark, "collide", b)(spark.range(10, 12).toDF("id"))
    def ids(dir: String) =
      spark.read.parquet(OracleStage.pathOf(spark, "collide", dir).get).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(a) == Seq(0L, 1L, 2L))
    assert(ids(b) == Seq(10L, 11L))
  }
}
