package graft

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.functions.Loop

/** [[Loop.fixed]]: which cuts it frees, what it returns, and that the
  * iterative keys it drives launch no more jobs than their hand-written
  * loops did. */
class LoopSpec extends SparkSpec {

  private def jobsOf(body: => Any): Int = TestBus.jobsOf(spark.sparkContext)(body)

  /** The RDDs behind a frame's `LogicalRDD` leaves (a cut is one). */
  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  /** One BFS-shaped round: the rows at depth i − 1 each add a row one
    * key further on at depth i. */
  private def grow(state: DataFrame, i: Int): DataFrame =
    state.unionAll(state.filter(col("depth") === i - 1)
      .select((col("k") + 1).as("k"), lit(i.toLong).as("depth")))

  private def seeds: DataFrame = {
    val s = spark; import s.implicits._
    Seq(1L, 10L).toDF("k").withColumn("depth", lit(0L))
  }

  test("a run frees every cut but the last round's input and never init") {
    val init = seeds.localCheckpoint(true)
    val seen = ArrayBuffer.empty[DataFrame]
    val out = Loop.fixed(init, 4) { (state, i) => seen += state; grow(state, i) }
    assert(out.count() == 10L)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(seen.head eq init)
    assert(rddIds(init).nonEmpty && rddIds(init).forall(live))
    val cuts = seen.tail.toSeq // rounds 2..4 read cuts 1..3
    assert(cuts.size == 3 && cuts.forall(c => rddIds(c).size == 1))
    for (c <- cuts.init) assert(!live(rddIds(c).head), "a superseded cut is still persisted")
    assert(live(rddIds(cuts.last).head), "the cut the result reads was freed")
  }

  test("rounds = 0 returns init and launches no job; rounds = 1 returns the step uncut") {
    val init = seeds
    var out: DataFrame = null
    assert(jobsOf { out = Loop.fixed(init, 0)((_, _) => fail("no round runs")) } == 0)
    assert(out eq init)
    var stepped: DataFrame = null
    assert(jobsOf { out = Loop.fixed(init, 1) { (state, i) => stepped = grow(state, i); stepped } } == 0)
    assert(out eq stepped)
  }

  test("the result equals a hand-written loop") {
    var hand = seeds
    for (i <- 1 to 5) hand = grow(hand, i)
    def rows(df: DataFrame) = df.orderBy("k", "depth").collect().toSeq
    assert(rows(Loop.fixed(seeds, 5)(grow)) == rows(hand))
  }

  /** Warm jobs per call (build plus a `noop` write) at `sfDir` before
    * these loops ran through [[Loop.fixed]]; a key is held to the
    * fewer of two warm calls. `graph_modularity` read 40 or 41 and
    * `graph_kcore` 51 or 52 from run to run (one adaptive-execution
    * job comes and goes), so theirs is the higher count. */
  private val handLoopJobs = Map(
    "graph_pagerank" -> 27, "graph_pagerank_indexed" -> 26, "graph_ppr" -> 26,
    "graph_label_prop" -> 31, "graph_modularity" -> 41, "graph_kcore" -> 52,
    "graph_bfs" -> 30, "graph_harmonic" -> 32, "graph_random_walk" -> 20,
    "ann_knn_graph" -> 4, "ann_graph_search" -> 53, "ann_graph_filtered" -> 58,
    "ann_graph_retract" -> 58, "ann_graph_append" -> 48)

  /** The keys whose loops dropped a cut: they must stay below. */
  private val fewer = Set("graph_label_prop", "graph_modularity", "graph_bfs",
    "graph_harmonic", "graph_random_walk")

  for ((key, before) <- handLoopJobs.toSeq.sortBy(_._1))
    test(s"a warm $key launches no more jobs than its hand-written loop") {
      def run(): Unit = SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()
      run()
      val n = jobsOf(run()) min jobsOf(run())
      if (fewer(key)) assert(n < before, s"$key: $n jobs, $before before")
      else assert(n <= before, s"$key: $n jobs, $before before")
    }

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources) else Seq(f).filter(_.getName.endsWith(".scala"))

  private def text(f: File): String = {
    val src = Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("src/main frees local checkpoints only in Loop and Dedup, and Graph has no round loop") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val callers = sources(root).filter(f => text(f).contains("unpersistLocalCheckpoint("))
      .map(_.getName).toSet - "GraftPlans.scala"
    assert(callers == Set("Loop.scala", "Dedup.scala"),
      s"a loop that frees its own cuts (run it through graft.functions.Loop.fixed): ${callers.mkString(", ")}")
    val graph = text(new File(root, "graft/operators/Graph.scala"))
    assert(!graph.contains("<- 1 to"), "Graph.scala keeps a hand-written round loop")
  }
}
