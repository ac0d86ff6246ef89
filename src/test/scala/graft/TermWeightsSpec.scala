package graft

import java.io.File
import scala.io.Source

import org.apache.spark.sql.functions._

import graft.functions.{TermWeights => TW}

class TermWeightsSpec extends SparkSpec {

  private def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("engine and SQL forms give the same weights, and the policy's values") {
    val s = spark; import s.implicits._
    val cases = Seq((10L, 3L, 2L, 7L, 5.5), (10L, 0L, 1L, 1L, 5.5), (1L, 1L, 4L, 9L, 2.25))
    val rows = cases.toDF("n", "df", "tf", "dl", "avgdl")
      .select(
        TW.bm25Idf($"n", $"df").as("idf_col"),
        expr(TW.bm25IdfSql("n", "df")).as("idf_sql"),
        TW.bm25Weight($"tf", $"dl", TW.bm25Idf($"n", $"df"), $"avgdl").as("w_col"),
        expr(TW.bm25WeightSql("tf", "dl", TW.bm25IdfSql("n", "df"), "avgdl")).as("w_sql"),
        expr(TW.tfidfIdfSql("n", "df")).as("tfidf_sql"))
      .collect()
    val tfidfCol = TW.tfidfIdf(Seq(("a", 3L), ("b", 0L), ("c", 1L)).toDF("term", "df"),
        Seq(10L).toDF("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.zip(cases).foreach { case (r, (n, df, tf, dl, avgdl)) =>
      val idf = q6(StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5)))
      val w = q6(idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))))
      assert(r.getDouble(0) == idf && r.getDouble(1) == idf)
      assert(r.getDouble(2) == w && r.getDouble(3) == w)
      assert(r.getDouble(4) == q6(StrictMath.log((n + 1.0) / (df + 1.0)) + 1.0))
    }
    assert(tfidfCol == Map("a" -> 3L, "b" -> 0L, "c" -> 1L)
      .map { case (t, df) => t -> q6(StrictMath.log(11.0 / (df + 1.0)) + 1.0) })
    assert((TW.k1, TW.b) == ((1.2, 0.75)))
  }

  test("src/main spells the term-weighting formulas only in functions/TermWeights.scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala) else Seq(f).filter(_.getName.endsWith(".scala"))
    val home = "functions/TermWeights.scala"
    assert(scala(root).exists(_.getPath.endsWith(home)))
    val formulas = Seq(
      "the BM25 constants" -> """\bbm25(K1|B)\b""".r,
      "the BM25 idf" -> """log\(lit\(1\.0\) \+ \(|ln\(1\.0 \+ \(""".r,
      "the TF-IDF idf" -> """log\(\(\$"n" \+ lit\(1\.0\)\)|ln\(\(n\.n \+ 1\.0\)""".r,
      "the BM25 weight's locals" -> """k1p1|oneMinusB""".r)
    val offenders = for {
      f <- scala(root) if !f.getPath.endsWith(home)
      (line, i) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toList.zipWithIndex finally src.close()
      }
      (what, re) <- formulas if re.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1} ($what)"
    assert(offenders.isEmpty,
      s"term weighting spelled outside $home (use graft.functions.TermWeights):\n${offenders.mkString("\n")}")
  }
}
