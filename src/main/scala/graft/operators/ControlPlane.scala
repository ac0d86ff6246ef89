package graft.operators

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import graft.sources.Parquet

/** Durable driver control-plane state — parity with the reference's
  * Convex-table persistence (reference: src/component/schema.ts:1-72,
  * lib.ts:1073-1119). The reference's accumulator batches and
  * iterator jobs live in database tables, so a process restart
  * resumes pause/resume/cursor state from storage; the in-memory maps
  * of [[BatchAccumulator]]/[[TableIterator]] lose that on a driver
  * bounce — a real operational gap for a multi-hour 100 TB iterator
  * job. These stores persist the O(#jobs)/O(#batches) control rows
  * (and, for the accumulator, the buffered items themselves — the
  * reference parks items in tables too) to parquet on every
  * checkpoint-able transition, with load-on-construct.
  *
  * Layout: each store's control rows are write-once generations,
  * `<dir>/gen-<n>` (the iterator's job rows; the accumulator's one
  * [[AccSnapshot]] row under `<dir>/control/`). A save writes the whole
  * row set as one parquet write into `gen-<n>.tmp` and renames it to
  * `gen-<n>`: the rename is the commit point, as one Convex mutation
  * commits atomically. A driver that dies inside a save leaves the
  * previous generation loadable; load reads the highest committed
  * generation and ignores `.tmp` leftovers, which the next save sweeps
  * along with the superseded generations.
  *
  * The writes are tiny (control rows; item chunks are whatever the
  * caller buffered) and happen at batch boundaries — the same cadence
  * the reference commits its mutations at. A cluster deploy points
  * `dir` at durable shared storage whose directory rename is atomic
  * (HDFS, local disk); the default [[IterStateStore.none]] /
  * [[AccStore.none]] keep the in-memory-only behavior. */

/** Persistable iterator-job row ([[TableIterator]] state; mirrors the
  * reference iteratorJobs table, schema.ts:34-55). */
final case class IterJobRow(
  jobId: String, status: String, processedCount: Long, cursor: Option[Long],
  batchesDone: Long, retries: Long, lastRunAt: Long, boundaries: Seq[Long])

/** Write-once generations of one row set under `dir` (layout above). */
private[operators] final class Snapshots[A: Encoder](spark: SparkSession, dir: String) {
  private val root = new Path(dir)
  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val Committed = """gen-(\d+)""".r

  private def entries: Seq[String] =
    if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq.map(_.getPath.getName)
  private def generations: Seq[Long] = entries.collect { case Committed(n) => n.toLong }

  def save(rows: Seq[A]): Unit = {
    val n = generations.maxOption.fold(0L)(_ + 1)
    val tmp = new Path(root, s"gen-$n.tmp")
    fs.delete(tmp, true) // a leftover of an interrupted save
    spark.createDataset(rows).coalesce(1).write.parquet(tmp.toString)
    if (!fs.rename(tmp, new Path(root, s"gen-$n")))
      throw new java.io.IOException(s"could not commit $tmp")
    entries.filter(e => e != s"gen-$n" && e.startsWith("gen-"))
      .foreach(e => fs.delete(new Path(root, e), true))
  }

  // No generation = fresh run → None. An UNREADABLE generation must
  // propagate: swallowing it would silently restart every multi-hour
  // job from cursor 0, re-running all process() side effects — the
  // worst possible answer to a corrupt checkpoint.
  def load(): Option[Seq[A]] = generations.maxOption.map { n =>
    Parquet.read(spark, s"$dir/gen-$n").as[A].collect().toSeq
  }
}

trait IterStateStore {
  /** Replace the full job snapshot (O(#jobs × #chunks) longs). */
  def save(rows: Seq[IterJobRow]): Unit
  /** The persisted snapshot, if any (None on first run). */
  def load(): Option[Seq[IterJobRow]]
}

object IterStateStore {
  /** In-memory only — the pre-durability behavior. */
  val none: IterStateStore = new IterStateStore {
    def save(rows: Seq[IterJobRow]): Unit = ()
    def load(): Option[Seq[IterJobRow]] = None
  }

  /** Parquet-backed job state at `dir` (a durable shared path on a
    * cluster). Each save commits a new generation — last committed
    * transition wins, exactly the reference's row-update semantics. */
  def parquet(spark: SparkSession, dir: String): IterStateStore = new IterStateStore {
    import spark.implicits._
    private val snaps = new Snapshots[IterJobRow](spark, dir)
    def save(rows: Seq[IterJobRow]): Unit = snaps.save(rows)
    def load(): Option[Seq[IterJobRow]] = snaps.load()
  }
}

/** Persistable accumulator-batch row (mirrors the reference batches
  * table, schema.ts:1-33). Buffered items are persisted separately as
  * chunks; `bufferHandles`/`inFlightHandles` name them in add order. */
final case class AccBatchRow(
  batchId: String, seq: Long, status: String, count: Long, openedAt: Long,
  lastError: Option[String], inFlightCount: Long,
  bufferHandles: Seq[String], inFlightHandles: Seq[String])

final case class AccSnapshot(
  batches: Seq[AccBatchRow], completed: Seq[AccBatchStatus],
  history: Seq[FlushRecord], nextChunk: Long)

trait AccStore[T] {
  /** Persist an added item chunk under `handle`; returns the frame a
    * restarted process would read — so the live buffers and the
    * recovered buffers are THE SAME data by construction. */
  def writeChunk(handle: String, items: Dataset[T]): Dataset[T]
  def readChunk(handle: String): Dataset[T]
  def deleteChunks(handles: Seq[String]): Unit
  def save(snap: AccSnapshot): Unit
  def load(): Option[AccSnapshot]
}

object AccStore {
  /** In-memory only — items stay lazy Dataset lineage. */
  def none[T]: AccStore[T] = new AccStore[T] {
    def writeChunk(handle: String, items: Dataset[T]): Dataset[T] = items
    def readChunk(handle: String): Dataset[T] =
      throw new IllegalStateException("in-memory store has no chunks")
    def deleteChunks(handles: Seq[String]): Unit = ()
    def save(snap: AccSnapshot): Unit = ()
    def load(): Option[AccSnapshot] = None
  }

  /** Parquet-backed accumulator state at `dir`: the snapshot row under
    * `control/`, item chunks under `chunks/<handle>`. Items are
    * persisted because durability REQUIRES it — a lazy Dataset's
    * lineage dies with the driver; the reference stores items in its
    * batches table for the same reason (lib.ts:24-109). Chunk writes
    * overwrite: after a crash, a recovered `nextChunk` may reuse the
    * handle of an orphaned chunk that no snapshot references. */
  def parquet[T](spark: SparkSession, dir: String)(implicit enc: Encoder[T]): AccStore[T] =
    new AccStore[T] {
      import spark.implicits._
      private val snaps = new Snapshots[AccSnapshot](spark, s"$dir/control")
      private def chunkPath(h: String) = s"$dir/chunks/$h"
      def writeChunk(handle: String, items: Dataset[T]): Dataset[T] = {
        items.write.mode("overwrite").parquet(chunkPath(handle))
        readChunk(handle)
      }
      def readChunk(handle: String): Dataset[T] =
        Parquet.read(spark, chunkPath(handle)).as[T]
      def deleteChunks(handles: Seq[String]): Unit = {
        val conf = spark.sparkContext.hadoopConfiguration
        handles.foreach { h =>
          val p = new Path(chunkPath(h))
          Try(p.getFileSystem(conf).delete(p, true))
        }
      }
      def save(snap: AccSnapshot): Unit = snaps.save(Seq(snap))
      def load(): Option[AccSnapshot] = snaps.load().map(_.head)
    }
}
