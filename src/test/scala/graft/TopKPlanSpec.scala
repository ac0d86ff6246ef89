package graft

import java.io.File

import scala.io.Source

import graft.operators.Relational
import graft.plans.TopK
import graft.sources.Tables

class TopKPlanSpec extends SparkSpec {

  test("native top-k equals the window formulation row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toList
    val native = rows(Relational.qTopkNative(spark, sfDir))
    val window = rows(Relational.qTopkPerGroup(spark, sfDir)
      .selectExpr("p_brand", "CAST(rk AS BIGINT) AS rk", "p_partkey", "p_name", "p_retailprice"))
    assert(native.nonEmpty)
    assert(native == window)
  }

  test("plan is partial heap -> exchange -> final heap, no window sort") {
    val df = TopK.perGroup(Tables.part(spark, sfDir),
      Seq("p_brand"), Seq(("p_retailprice", true), ("p_partkey", false)), 3, "rk")
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerGroup \\[".r.findAllIn(plan).length == 2, plan)
    assert(plan.contains("Exchange hashpartitioning(p_brand"), plan)
    assert(!plan.contains("Window"), s"must not fall back to WindowExec:\n$plan")
    assert(!plan.contains("Sort "), s"no full sort stages:\n$plan")
  }

  test("k larger than any group returns whole groups, fully ranked") {
    val s = spark; import s.implicits._
    val df = TopK.perGroup(Tables.nation(s, sfDir),
      Seq("n_regionkey"), Seq(("n_nationkey", false)), 100, "rk")
    val byRegion = df.select($"n_regionkey", $"rk", $"n_nationkey")
      .collect().groupBy(_.getAs[Number](0).longValue())
    val total = Tables.nation(s, sfDir).count()
    assert(byRegion.values.map(_.length).sum.toLong == total)
    byRegion.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toList == (1L to rs.length).toList)
      // ascending nationkey order within each region
      val keys = sorted.map(_.getAs[Number](2).longValue())
      assert(keys.zip(keys.tail).forall { case (a, b) => a < b })
    }
  }

  test("ties and duplicate sort values rank deterministically via the tiebreak") {
    val s = spark; import s.implicits._
    val df = Seq(("g", 1.0, 1L), ("g", 1.0, 2L), ("g", 1.0, 3L), ("g", 2.0, 4L))
      .toDF("grp", "score", "id")
    val got = TopK.perGroup(df, Seq("grp"), Seq(("score", true), ("id", false)), 3, "rk")
      .select($"rk", $"id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList
    assert(got == List((1L, 4L), (2L, 1L), (3L, 2L)))
  }

  test("TopK.perGroup rejects empty group columns with a clear error") {
    val e = intercept[IllegalArgumentException] {
      TopK.perGroup(Tables.part(spark, sfDir), Seq.empty, Seq(("p_retailprice", true)), 3)
    }
    assert(e.getMessage.contains("orderBy"))
  }

  test("an ambiguous column name throws AMBIGUOUS_REFERENCE, as orderBy does") {
    val s = spark; import s.implicits._
    val a = Seq(("g", 1L, 0.5)).toDF("grp", "id", "score")
    val b = Seq((1L, 0.9)).toDF("id", "score")
    val joined = a.join(b, "id") // two `score` columns
    intercept[org.apache.spark.sql.AnalysisException](joined.orderBy("score"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      TopK.perGroup(joined, Seq("grp"), Seq(("score", true)), 1, "rk")
    }
    assert(e.getMessage.contains("AMBIGUOUS_REFERENCE"), e.getMessage)
  }

  test("column names resolve by the session's case sensitivity") {
    assert(!spark.conf.get("spark.sql.caseSensitive").toBoolean)
    def ranked(group: String, price: String) = TopK.perGroup(Tables.part(spark, sfDir),
        Seq(group), Seq((price, true), ("p_partkey", false)), 3, "rk")
      .collect().map(_.toSeq).toSet
    val want = ranked("p_brand", "p_retailprice")
    assert(want.nonEmpty)
    assert(ranked("P_BRAND", "P_RetailPrice") == want)
  }

  test("src/main installs no optimizer rule and reads no spark.graft.* conf key") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala) else Seq(f).filter(_.getName.endsWith(".scala"))
    def offenders(needle: String) = scala(root).filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.mkString.contains(needle) finally src.close()
    }
    assert(offenders("injectOptimizerRule").isEmpty,
      s"optimizer rule installed in: ${offenders("injectOptimizerRule").mkString(", ")}")
    assert(offenders("\"spark.graft.").isEmpty,
      s"engine conf key read in: ${offenders("\"spark.graft.").mkString(", ")}")
  }
}
