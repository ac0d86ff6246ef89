package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}

import graft.operators.{AccBatchRow, AccBatchStatus, AccSnapshot, AccStore, BatchAccumulator, FlushRecord,
  IterJobRow, IterStateStore, TableIterator}
import graft.sources.{Parquet, Tables}

/** Control-plane snapshots are written and read on the driver
  * ([[Parquet.writeRows]] / [[Parquet.readRows]]). A driver-written
  * generation must be what Spark's own writer makes of the same rows,
  * and a generation Spark's writer left behind must still load. */
class SnapshotRowsSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private val snaps = Seq(
    AccSnapshot(
      Seq(AccBatchRow("b", 3L, "flushing", 2L, 7L, Some("boom"), 1L, Seq("chunk-1", "chunk-2"), Seq("chunk-0")),
        AccBatchRow("c", 0L, "accumulating", 0L, 8L, None, 0L, Nil, Nil)),
      Seq(AccBatchStatus("a", 1L, "completed", 5L)),
      Seq(FlushRecord("a", 1L, 5L, 9L, 2L, success = true), FlushRecord("b", 2L, 4L, 11L, 0L, success = false)),
      3L),
    AccSnapshot(Nil, Nil, Nil, 0L))

  private val jobs = Seq(
    IterJobRow("j", "paused", 42L, Some(7L), 2L, 0L, 1L, Seq(0L, 10L), Seq(20L, 42L)),
    IterJobRow("k", "pending", 0L, None, 0L, 3L, 0L, Nil, Nil))

  /** Spark's own write of `rows`: one task, so one part file, plus
    * `_SUCCESS` and the checksum files. */
  private def sparkWrite[A: Encoder](rows: Seq[A], dir: String): Unit =
    spark.createDataset(rows).coalesce(1).write.parquet(dir)

  /** The parquet schema and key-value metadata (Spark's row schema and
    * version) in the footer of the one data file under `dir`. */
  private def footer(dir: String): (MessageType, java.util.Map[String, String]) = {
    val f = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), spark.sessionState.newHadoopConf()))
    try { val md = r.getFooter.getFileMetaData; (md.getSchema, md.getKeyValueMetaData) } finally r.close()
  }

  private def assertParity[A: Encoder](rows: Seq[A]): Unit = {
    val ours = s"${tmp("graft-rows-driver")}/gen-0"
    val theirs = s"${tmp("graft-rows-spark")}/gen-0"
    Parquet.writeRows(spark, ours, rows)
    sparkWrite(rows, theirs)
    assert(spark.read.parquet(ours).schema == spark.read.parquet(theirs).schema)
    assert(footer(ours) == footer(theirs))
    for (dir <- Seq(ours, theirs)) {
      assert(Parquet.readRows[A](spark, dir) == rows, dir)
      assert(spark.read.parquet(dir).as[A].collect().toSeq == rows, dir)
    }
  }

  test("driver-written and Spark-written AccSnapshot generations read back alike") {
    import spark.implicits._
    for (snap <- snaps) assertParity(Seq(snap))
  }

  test("driver-written and Spark-written IterJobRow generations read back alike") {
    import spark.implicits._
    assertParity(jobs)
    assertParity(Seq.empty[IterJobRow])
  }

  /** Replaces the newest committed generation under `dir` by Spark's
    * write of the same rows: the layout the store had before saves
    * moved to the driver. */
  private def rewriteWithSpark[A: Encoder](dir: String): Unit = {
    val gen = new File(dir).listFiles().filter(_.getName.matches("gen-\\d+"))
      .maxBy(_.getName.stripPrefix("gen-").toLong)
    val rows = Parquet.readRows[A](spark, gen.getPath)
    val staged = s"${tmp("graft-rows-stage")}/gen"
    sparkWrite(rows, staged)
    assert(Seq("_SUCCESS", "._SUCCESS.crc").forall(new File(staged, _).exists()))
    assert(new File(staged).list().exists(n => n.startsWith(".part-") && n.endsWith(".crc")))
    org.apache.commons.io.FileUtils.deleteDirectory(gen)
    assert(new File(staged).renameTo(gen))
  }

  private def items(lo: Long, hi: Long): Dataset[java.lang.Long] = {
    val s = spark; import s.implicits._
    s.range(lo, hi).map(java.lang.Long.valueOf(_))
  }

  test("an accumulator whose newest generation Spark wrote resumes with equal state") {
    import spark.implicits._
    val dir = tmp("graft-rows-acc")
    val flushed = collection.mutable.Buffer.empty[Set[Long]]
    def make() = new BatchAccumulator[java.lang.Long](
      threshold = 1000, process = ds => flushed += ds.collect().map(Long.unbox).toSet,
      clock = () => 7L, store = AccStore.parquet[java.lang.Long](spark, dir)(org.apache.spark.sql.Encoders.LONG))
    val a = make()
    a.addItems("b", items(0, 10)); a.flush("b")
    a.addItems("b", items(10, 14)); a.addItems("c", items(14, 15))
    rewriteWithSpark[AccSnapshot](s"$dir/control")
    val b = make()
    for (id <- Seq("b", "c")) {
      assert(b.getAllBatchesForBaseId(id) == a.getAllBatchesForBaseId(id), id)
      assert(b.getFlushHistory(id) == a.getFlushHistory(id), id)
    }
    assert(b.flush("b"))
    assert(flushed.toList == List((0L until 10L).toSet, (10L until 14L).toSet))
  }

  test("an iterator whose newest generation Spark wrote resumes with equal state") {
    import spark.implicits._
    val dir = tmp("graft-rows-iter")
    val orders: DataFrame = Tables.orders(spark, sfDir)
    def make() = new TableIterator(orders, "o_orderkey", 400, process = _ => (), clock = () => 7L,
      store = IterStateStore.parquet(spark, dir))
    val a = make()
    a.start("j"); a.step("j"); a.step("j")
    a.start("p"); a.step("p"); a.pause("p")
    rewriteWithSpark[IterJobRow](dir)
    val b = make()
    for (id <- Seq("j", "p")) assert(b.status(id) == a.status(id), id)
    assert(b.runAll("j").processedCount == orders.count())
  }

  test("an iterator over a generation without chunk counts fails loudly instead of restarting") {
    import spark.implicits._
    val orders: DataFrame = Tables.orders(spark, sfDir)
    val old = Seq(IterJobRowWithoutEnds("j", "paused", 800L, Some(800L), 2L, 0L, 1L, Seq(400L, 800L, 1200L)))
    for (write <- Seq[(Seq[IterJobRowWithoutEnds], String) => Unit]((rows, dir) => Parquet.writeRows(spark, dir, rows), sparkWrite(_, _))) {
      val dir = tmp("graft-rows-old-iter")
      write(old, s"$dir/gen-0")
      val e = intercept[IllegalStateException] {
        new TableIterator(orders, "o_orderkey", 400, process = _ => (), store = IterStateStore.parquet(spark, dir))
      }
      assert(e.getMessage.contains("chunk counts"), e.getMessage)
    }
  }

  test("a generation whose data file is gone fails to load") {
    val dir = tmp("graft-rows-gone")
    val store = IterStateStore.parquet(spark, dir)
    store.save(jobs)
    new File(dir).listFiles().filter(_.getName.matches("gen-\\d+")).flatMap(_.listFiles())
      .filter(_.getName.contains(".parquet")).foreach(f => assert(f.delete(), f))
    intercept[java.io.FileNotFoundException](store.load())
  }

  // The snapshot rewrites the whole flush history on every save, so a
  // save is O(history). Timed, not asserted: host speed varies.
  test("a snapshot with 10, 1,000 and 10,000 flush records saves and loads intact") {
    val sizes = Seq(10, 1000, 10000)
    val stores = sizes.map { n =>
      val snap = AccSnapshot(Nil, Nil,
        (0 until n).map(i => FlushRecord(s"b${i % 7}", i.toLong, 250L, 1000L + i, 3L, success = i % 11 != 0)), n.toLong)
      val store = AccStore.parquet[Long](spark, tmp("graft-rows-growth"))(org.apache.spark.sql.Encoders.scalaLong)
      store.save(snap) // warm-up
      (n, snap, store)
    }
    for ((n, snap, store) <- stores) {
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        store.save(snap)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(store.load().get == snap)
      info(f"$n%,d flush records: median ${ms(10)}%.1f ms per save (min ${ms.head}%.1f)")
    }
  }
}

/** The iterator-job row as persisted before the per-chunk row counts
  * (`IterJobRow.ends`) were added. */
final case class IterJobRowWithoutEnds(
  jobId: String, status: String, processedCount: Long, cursor: Option[Long],
  batchesDone: Long, retries: Long, lastRunAt: Long, boundaries: Seq[Long])
