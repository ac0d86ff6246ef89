package graft

import java.io.File

import scala.io.Source

import graft.operators.Relational
import graft.sources.Memo

class MemoSpec extends SparkSpec {

  test("one (name, dataKey, session) builds once") {
    var builds = 0
    def get() = Memo("memospec.once", "/data/a", spark) { builds += 1; builds }
    assert(get() == 1)
    assert(get() == 1)
    assert(builds == 1)
  }

  test("a different name or dataKey builds again") {
    var builds = 0
    def get(name: String, dataKey: String) = Memo(name, dataKey, spark) { builds += 1; builds }
    assert(get("memospec.keys", "/data/a") == 1)
    assert(get("memospec.keys2", "/data/a") == 2)
    assert(get("memospec.keys", "/data/b") == 3)
    assert(get("memospec.keys", "/data/a") == 1)
    assert(builds == 3)
  }

  test("another session misses") {
    var builds = 0
    val other = spark.newSession()
    assert(Memo("memospec.session", "/data/a", spark) { builds += 1; "first" } == "first")
    assert(Memo("memospec.session", "/data/a", other) { builds += 1; "other" } == "other")
    assert(Memo("memospec.session", "/data/a", spark) { builds += 1; "again" } == "first")
    assert(builds == 2)
    assert(Memo.get[String]("memospec.session", "/data/a", other).contains("other"))
    assert(Memo.get[String]("memospec.session", "/data/b", other).isEmpty)
  }

  test("refresh overwrites the entry; cached calls its fallback only on a miss") {
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq
    var fallbacks = 0
    def fallback() = { fallbacks += 1; spark.range(100, 101).toDF("id") }
    assert(ids(Memo.cached("memospec.tier", "/data/a", spark)(fallback())) == Seq(100L))
    assert(fallbacks == 1)
    assert(ids(Memo.refresh("memospec.tier", "/data/a", spark)(spark.range(0, 2).toDF("id"))) == Seq(0L, 1L))
    assert(ids(Memo.cached("memospec.tier", "/data/a", spark)(fallback())) == Seq(0L, 1L))
    Memo.refresh("memospec.tier", "/data/a", spark)(spark.range(5, 6).toDF("id"))
    assert(ids(Memo.cached("memospec.tier", "/data/a", spark)(fallback())) == Seq(5L))
    assert(fallbacks == 1)
  }

  test("q_bucketed_join on dataset A, then B, then A again reads A's tables") {
    val (a, b) = (sfDir, sfDir.replace("sf0.001", "sf0.01"))
    def rows(dir: String) = Relational.qBucketedJoin(spark, dir).collect().toSeq
    val first = rows(a)
    val other = rows(b)
    assert(other != first)
    assert(rows(a) == first)
  }

  test("src/main keeps TrieMaps only in Memo and the four non-memo maps' files") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala) else Seq(f).filter(_.getName.endsWith(".scala"))
    val allowed = Seq("sources/Memo.scala", "sources/Sinks.scala",
      "sources/OracleStage.scala", "functions/Ranks.scala")
    val offenders = scala(root).filterNot(f => allowed.exists(f.getPath.endsWith)).filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.mkString.contains("TrieMap") finally src.close()
    }
    assert(offenders.isEmpty,
      s"per-dataset memo outside sources/Memo.scala (use graft.sources.Memo) in: ${offenders.mkString(", ")}")
  }
}
