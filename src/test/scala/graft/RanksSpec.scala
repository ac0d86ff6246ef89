package graft

import java.io.File

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ranks
import graft.sources.Tables

class RanksSpec extends SparkSpec {

  test("a hot key spreads across buckets — no single-task sort at any skew") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // 100k rows of ONE key: the shape that makes a per-key window a
    // single-task sort. perKeyRowNumber must spread it over many
    // buckets and still produce the exact dense 1..n arrival rank.
    val n = 100000L
    val df = s.range(n).select(lit("hot").as("k"), $"id".as("ord"))
    val ranked = graft.functions.Ranks.perKeyRowNumber(
      df, Seq("k"), Seq(col("ord")), "rn")
    // bucket balance: the internal pid is dropped, so measure through
    // the public contract — within-bucket work equals within-bucket
    // count; check the largest contiguous rank run assigned to one
    // bucket by re-deriving the bucket split from rank jumps is not
    // observable here, so assert balance on the bucketed frame itself
    val bucketed = graft.functions.Ranks.withBucket(
      df, Seq(col("k"), col("ord")), "pid")
    val sizes = bucketed.groupBy($"pid").count().collect().map(_.getLong(1))
    assert(sizes.length > 1, s"hot key stayed in one bucket: ${sizes.toSeq}")
    assert(sizes.max < n, s"one bucket holds everything: ${sizes.toSeq}")
    // and correctness: exact dense arrival rank
    val ranks = ranked.select($"rn").as[Long].collect().sorted
    assert(ranks.head == 1L && ranks.last == n && ranks.length == n.toInt)
    assert(ranks.toSet.size == n.toInt)
  }

  test("globalRowNumber matches single-partition row_number") {
    val s = spark; import s.implicits._
    val df = Tables.orders(s, sfDir).select($"o_orderkey")
    val expected = df
      .withColumn("rn", row_number().over(Window.orderBy($"o_orderkey")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = withShufflePartitions(7) {
      Ranks.globalRowNumber(df, Seq($"o_orderkey"), "rn")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("globalRunningSum matches single-partition cumulative sum") {
    val s = spark; import s.implicits._
    val df = Tables.orders(s, sfDir).select($"o_orderkey", $"o_custkey")
    val expected = df
      .withColumn("run", sum($"o_custkey").over(Window.orderBy($"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = withShufflePartitions(7) {
      Ranks.globalRunningSums(df, Seq($"o_orderkey"), Seq($"o_custkey" -> "run"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("globalRunningSums: N columns in one layout match N chained passes") {
    val s = spark; import s.implicits._
    val df = Tables.orders(s, sfDir)
      .select($"o_orderkey", $"o_custkey",
        ($"o_custkey" % 7).as("v2"), lit(1L).as("one"))
    val w = Window.orderBy($"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("r1", sum($"o_custkey").over(w))
      .withColumn("r2", sum($"v2").over(w))
      .withColumn("r3", sum($"one").over(w))
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val got = withShufflePartitions(7) {
      Ranks.globalRunningSums(df, Seq($"o_orderkey"),
          Seq(($"o_custkey", "r1"), ($"v2", "r2"), ($"one", "r3")))
        .select($"o_orderkey", $"r1", $"r2", $"r3")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("perKeyRowNumber matches a per-key window row_number") {
    val s = spark; import s.implicits._
    val df = Tables.events(s, sfDir).select($"event_type", $"ts", $"event_id")
    val expected = df
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"ts", $"event_id")).cast("long"))
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val got = withShufflePartitions(7) {
      Ranks.perKeyRowNumber(df, Seq("event_type"), Seq($"ts", $"event_id"), "rn")
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    }
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("null keys rank first, as ORDER BY ... NULLS FIRST, with null bucket bounds") {
    val s = spark; import s.implicits._
    // a third of the keys null, so at 4 or 7 buckets some sampled
    // bound holds a null; non-null keys repeat
    val df = s.range(300).select($"id",
      when($"id" % 3 === 0, lit(null).cast("long")).otherwise(($"id" * 7) % 101).as("k"),
      ($"id" % 2).as("g"))
    def kOf(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    for (parts <- Seq(4, 7)) withShufflePartitions(parts) {
      // one key: ties make the row order inside a key arbitrary, so
      // compare the (key, rank) pairs
      val oneExpected = df
        .withColumn("rn", row_number().over(Window.orderBy($"k".asc_nulls_first)).cast("long"))
        .collect().map(r => (kOf(r, 1), r.getLong(3))).sortBy(_._2).toSeq
      val oneGot = Ranks.globalRowNumber(df, Seq($"k"), "rn")
        .collect().map(r => (kOf(r, 1), r.getLong(3))).sortBy(_._2).toSeq
      assert(oneGot == oneExpected, s"[one key, parts=$parts]")
      // two keys, unique as a composite: the exact rank per row
      val twoW = Window.orderBy($"k".asc_nulls_first, $"id")
      val twoExpected = df
        .withColumn("rn", row_number().over(twoW).cast("long"))
        .withColumn("run", sum($"id").over(twoW.rowsBetween(Window.unboundedPreceding, 0)))
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      val twoGot = Ranks.globalRunningSums(
          Ranks.globalRowNumber(df, Seq($"k", $"id"), "rn"),
          Seq($"k", $"id"), Seq($"id" -> "run"))
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      assert(twoGot == twoExpected, s"[two keys, parts=$parts]")
      // a null bound splits the null keys by id instead of emptying a
      // bucket: every bucket holds rows, and the id stays monotone
      val pids = Ranks.withBucket(df, Seq($"k", $"id"), "pid")
        .orderBy($"k".asc_nulls_first, $"id").select($"pid").as[Int].collect().toSeq
      assert(pids.distinct.size == parts && pids == pids.sorted, s"[buckets, parts=$parts]")
      val perKeyExpected = df
        .withColumn("rn", row_number().over(
          Window.partitionBy($"g").orderBy($"k".asc_nulls_first, $"id")).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val perKeyGot = Ranks.perKeyRowNumber(df, Seq("g"), Seq($"k", $"id"), "rn")
        .select($"id", $"rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perKeyGot == perKeyExpected, s"[per key, parts=$parts]")
    }
  }

  test("globalRowNumber survives partition counts larger than the data") {
    val s = spark; import s.implicits._
    val df = Seq(5L, 1L, 9L, 3L).toDF("k")
    val got = withShufflePartitions(16) {
      Ranks.globalRowNumber(df, Seq($"k"), "rn")
        .orderBy($"rn").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    }
    assert(got == List((1L, 1L), (3L, 2L), (5L, 3L), (9L, 4L)))
  }

  test("seeded property sweep: adversarial key distributions × partition counts") {
    // the two-phase primitives sample bucket boundaries from the
    // data, so the rarity class to hunt is duplicate-heavy keys
    // landing ON sampled boundaries. Sweep hostile shapes (all-equal,
    // two-valued, modular dups, head-skew, signed randoms, singleton)
    // across partition counts and demand exact equality with the
    // single-partition window reference — rank AND running sum.
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "all-equal"  -> Seq.fill(4000)((7L, 1L)),
      "two-values" -> Seq.fill(4000)((rnd.nextInt(2).toLong, rnd.nextInt(5).toLong)),
      "mod-dups"   -> (0 until 6000).map(i => ((i % 37).toLong, (i % 11).toLong - 5L)),
      "head-skew"  -> ((0 until 5000).map(_ => (0L, 2L)) ++
        (0 until 100).map(i => (i.toLong + 1, 3L))),
      "signed-rnd" -> (0 until 4000).map(_ =>
        (rnd.nextLong() % 1000L, rnd.nextLong() % 50L)),
      "singleton"  -> Seq((5L, 9L))
    )
    for ((name, data) <- shapes; parts <- Seq(1, 2, 7, 32)) withShufflePartitions(parts) {
      val df = data.zipWithIndex
        .map { case ((k, v), id) => (k, v, id.toLong) }
        .toDF("k", "v", "id")
      val w = Window.orderBy($"k", $"id")
      val refRows = df
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("run", sum($"v").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap
      val gotRn = Ranks.globalRowNumber(df, Seq($"k", $"id"), "rn")
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
      val gotRun = Ranks.globalRunningSums(df, Seq($"k", $"id"), Seq($"v" -> "run"))
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
      refRows.foreach { case (id, (rn, run)) =>
        assert(gotRn(id) == rn,
          s"[$name parts=$parts] rank diverges at id=$id: ${gotRn(id)} vs $rn")
        assert(gotRun(id) == run,
          s"[$name parts=$parts] running sum diverges at id=$id: ${gotRun(id)} vs $run")
      }
    }
  }

  /** Driver-side chunk ends: sort the non-null keys, take the key at
    * every `every`-th rank once with the rank of its last occurrence,
    * close with (max key, count). */
  private def sortAndPick(keys: Seq[Option[Long]], every: Long): Seq[(Long, Long)] = {
    val sorted = keys.flatten.sorted.toIndexedSeq
    val n = sorted.length.toLong
    val lastRank = sorted.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
    val picked = (every to n by every).map(r => sorted((r - 1).toInt)).distinct.map(k => (k, lastRank(k)))
    if (n == 0) Nil else if (picked.lastOption.forall(_._2 < n)) picked :+ ((sorted.last, n)) else picked
  }

  test("chunkEnds matches a driver-side sort-and-pick") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val shapes: Seq[(String, Seq[Option[Long]])] = Seq(
      "empty"        -> Nil,
      "single"       -> Seq(Some(5L)),
      "all-equal"    -> Seq.fill(3000)(Some(7L)),
      "mod-dups"     -> (0 until 6000).map(i => Some((i % 37).toLong)),
      "head-skew"    -> ((0 until 4000).map(_ => Some(0L)) ++ (1 to 100).map(i => Some(i.toLong))),
      "runs-of-1-7"  -> (0 until 900).flatMap(i => Seq.fill(1 + i % 7)(Some(i.toLong * 3))),
      "null-signed"  -> (0 until 3000).map(_ =>
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextLong() % 500L)),
      "all-null"     -> Seq.fill(10)(None))
    for ((name, keys) <- shapes; parts <- Seq(1, 7, 32); every <- Seq(1L, 7L, 1000L, 100000L)) {
      val df = keys.toDF("k")
      val got = withShufflePartitions(parts)(Ranks.chunkEnds(df, $"k", every))
      assert(got == sortAndPick(keys, every), s"[$name parts=$parts every=$every]")
    }
  }

  test("the bucket count is the session's spark.sql.shuffle.partitions") {
    val s = spark; import s.implicits._
    val df = s.range(5000).select(($"id" * 7919 % 5000).as("k"))
    for (n <- Seq(1, 7, 32)) withShufflePartitions(n) {
      val pids = Ranks.withBucket(df, Seq($"k"), "pid")
        .select($"pid").distinct().as[Int].collect().sorted.toSeq
      assert(pids.forall(p => p >= 0 && p < n), s"[n=$n] bucket ids outside [0, $n): $pids")
      if (n > 1) assert(pids.size > 1, s"[n=$n] every row in one bucket: $pids")
    }
  }

  private def text(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** Name and parameter lists of every `def` in `src` not marked
    * `private` or `protected`. */
  private def publicDefs(src: String): Seq[(String, String)] =
    """(?m)^[ \t]*((?:private|protected)\S*\s+)?def\s+(\w+)""".r.findAllMatchIn(src)
      .filter(_.group(1) == null).map { m =>
        var i = m.end
        var depth = 0
        while (i < src.length && (depth > 0 || src(i) == '(' || src(i) == '[')) {
          if (src(i) == '(' || src(i) == '[') depth += 1
          else if (src(i) == ')' || src(i) == ']') depth -= 1
          i += 1
        }
        m.group(2) -> src.substring(m.end, i)
      }.toSeq

  test("functions/ has one exclusive prefix window, and no public Ranks or Quantiles def takes numPartitions") {
    val root = new File("src/main/scala/graft/functions")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val prefix = "rowsBetween(Window.unboundedPreceding, -1)"
    val sites = root.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> text(f).sliding(prefix.length).count(_ == prefix))
      .filter(_._2 > 0)
    assert(sites.map(_._2).sum == 1,
      s"a second exclusive prefix (build it on Ranks.bucketOffsets): ${sites.mkString(", ")}")
    for (name <- Seq("Ranks.scala", "Quantiles.scala")) {
      val offenders = publicDefs(text(new File(root, name))).filter(_._2.contains("numPartitions"))
      assert(offenders.isEmpty,
        s"$name: public defs take a bucket count (read the session's instead): ${offenders.map(_._1)}")
    }
  }
}
