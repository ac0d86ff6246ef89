package graft.functions

import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable ranking helpers.
  *
  * A bare `row_number().over(Window.orderBy(k))` collapses the whole
  * dataset into ONE partition — fine at 60k rows, fatal at 100 TB.
  * These helpers use the classic two-phase distributed layout
  * instead: split the key space into `numPartitions` ordered buckets,
  * number rows within each bucket, and add per-bucket offsets
  * computed from a tiny (numPartitions-row) broadcast side.
  *
  * The bucket id is a DETERMINISTIC pure function of the row —
  * boundaries are sampled once, collected to the driver (bounded:
  * ≤ 100·numPartitions keys), and embedded as literals — NOT
  * `spark_partition_id()` over `repartitionByRange`. The physical-pid
  * formulation is subtly unsound: its correctness requires the
  * offsets branch and the row branch to observe THE SAME sampled
  * range boundaries, which holds only while the optimizer reuses one
  * exchange for both. Catalyst column pruning broke that silently —
  * two consumers needing different column sets canonicalize to
  * different exchanges, each samples its own boundaries (seeded by
  * rdd id), and every position downstream is corrupted (caught at
  * sf0.1 by the corpus_shuffle oracle; positions were not even a
  * permutation). A bucket id computed from the row's own key cannot
  * disagree with itself, whatever the optimizer does — correctness no
  * longer depends on plan shape.
  */
object Ranks {
  private val PID = "__graft_pid"
  private val OFF = "__graft_off"
  private val CNT = "__graft_cnt"
  private val KEY = "__graft_key"

  /** The deploy-time parallelism knob: two-phase layouts derive their
    * bucket counts from `spark.sql.shuffle.partitions` instead of a
    * hard-coded local constant — 32 buckets over a 10¹¹-row table
    * would be ~3×10⁹ rows each; a cluster deploy that sets
    * shuffle.partitions for its executor count scales these layouts
    * with it (AQE coalesces the excess locally). */
  def defaultPartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Lexicographic driver-side ordering over sampled key tuples,
    * nulls first (Spark's ascending default). Key columns are simple
    * orderable types (long, int, double, string, timestamp, decimal)
    * by contract; each implements Comparable. */
  private val rowOrd: Ordering[Seq[Any]] = new Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int = {
      var i = 0
      while (i < a.length) {
        val c = (a(i), b(i)) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
        }
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  /** Boundary memo. Boundaries are a deterministic artifact of
    * (key-projection plan, bucket count) — a split of the key space —
    * so they are sampled once per session and reused, the same
    * session-scoped artifact store the PQ codebooks use
    * (EmbedPq.trainCodebooks). Keyed by the CANONICALIZED plan of
    * `df.select(keys)` (structural equality — source paths, pushed
    * filters and the projection all participate), so two frames share
    * an entry only when they would scan identical data. Staleness
    * (a path rewritten mid-session) can skew bucket balance but never
    * correctness: the bucket id is a pure row function and the rank
    * layouts are output-invariant to the split points. */
  private val boundsCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int), Seq[Seq[Any]]]

  /** Sample `numPartitions − 1` key-space boundaries (each a key
    * tuple) in ONE pass: a per-partition reservoir with counts, then
    * weighted bound selection on the driver — the RangePartitioner
    * sketch (Spark's Partitioner.scala rangeBounds/determineBounds)
    * without its separate count job, collected once so every consumer
    * sees the same split. The collect is bounded:
    * ≤ 3·min(100·numPartitions, 100k) tuples. Returns Nil on an empty
    * frame (single bucket). */
  private def sampleBounds(df: DataFrame, keys: Seq[Column],
                           numPartitions: Int): Seq[Seq[Any]] = {
    if (numPartitions <= 1) return Nil
    val proj = df.select(keys: _*)
    val cacheKey = (proj.queryExecution.analyzed.canonicalized, numPartitions)
    boundsCache.getOrElseUpdate(cacheKey, {
      val target = math.min(100L * numPartitions, 100000L)
      val rdd = proj.rdd
      val perPart = math.max(1, math.ceil(
        3.0 * target / math.max(1, rdd.getNumPartitions)).toInt)
      val sketched = rdd.mapPartitionsWithIndex { (pid, it) =>
        val rng = new java.util.Random(42L * 1000003 + pid)
        val reservoir = new Array[Seq[Any]](perPart)
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (n < perPart) reservoir(n.toInt) = r.toSeq
          else {
            val j = (rng.nextDouble() * (n + 1)).toLong
            if (j < perPart) reservoir(j.toInt) = r.toSeq
          }
          n += 1
        }
        if (n == 0) Iterator.empty
        else Iterator((n, reservoir.take(math.min(n, perPart.toLong).toInt)))
      }.collect()
      val total = sketched.map(_._1).sum
      if (total == 0) Nil
      else {
        // Each sampled tuple stands for count/sampleLen source rows;
        // walk the weight-sorted candidates emitting a bound every
        // total/numPartitions rows (determineBounds' layout).
        val candidates = sketched.flatMap { case (cnt, sample) =>
          sample.map(s => (s, cnt.toDouble / sample.length))
        }.sortBy(_._1)(rowOrd)
        val step = candidates.map(_._2).sum / numPartitions
        val bounds = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        var cum = 0.0
        var next = step
        for ((key, w) <- candidates if bounds.size < numPartitions - 1) {
          cum += w
          if (cum >= next &&
              (bounds.isEmpty || rowOrd.compare(key, bounds.last) > 0)) {
            bounds += key
            next += step
          }
        }
        bounds.toSeq
      }
    })
  }

  /** Bucket id: how many boundaries the row's key tuple exceeds
    * (lexicographically). Monotone in the key order and a pure
    * function of the row — consistent across any number of plan
    * branches by construction. Codegen-friendly: a chain of
    * comparisons against literals, no lambda, no shuffle. */
  private def pidExpr(keys: Seq[Column], bounds: Seq[Seq[Any]]): Column = {
    // nulls first, as rowOrd sorts the bounds: a non-null key exceeds a
    // null bound and a null key equals one. Against a non-null bound a
    // null key compares to null, which `when` reads as "not above".
    def gt(i: Int, v: Any): Column = if (v == null) keys(i).isNotNull else keys(i) > lit(v)
    def eq(i: Int, v: Any): Column = if (v == null) keys(i).isNull else keys(i) === lit(v)
    def gtBound(b: Seq[Any], i: Int): Column =
      if (i == keys.length - 1) gt(i, b(i))
      else gt(i, b(i)) || (eq(i, b(i)) && gtBound(b, i + 1))
    bounds.map(b => when(gtBound(b, 0), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
  }

  /** df + a `PID` bucket column over `keys`. Exposed within the
    * engine for operators that inline the two-phase layout
    * (Relational.qPercentilesDist).
    *
    * `bucketKeys` may be a PREFIX of the rank ordering: bucket
    * monotonicity only needs the leading sort component(s), and a
    * short prefix keeps the boundary-comparison expression small
    * enough for whole-stage codegen (31 boundaries × a 5-deep
    * lexicographic tree fell out of codegen and ran interpreted —
    * measured 4× slower on layout_zorder). Rows tied on the prefix
    * stay in one bucket, so prefix cardinality must be high enough to
    * spread the data (unique-ish leading key by contract). */
  private[graft] def withBucket(df: DataFrame, keys: Seq[Column],
                                numPartitions: Int, out: String): DataFrame =
    df.withColumn(out, pidExpr(keys, sampleBounds(df, keys, numPartitions)))

  /** Routes a `(bucket id, key)` pair to the partition of its bucket. */
  private final class BucketPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(k: Any): Int = k.asInstanceOf[(Int, Long)]._1
  }

  /** Chunk ends of the `key` order (cast to long, nulls dropped) cut
    * every `every` rows: for each key holding a rank that is a multiple
    * of `every`, `(key, rank of its last occurrence)`, then `(max key,
    * row count)` if the last such rank is below the count. Keys are
    * distinct and ascending, so the closed key ranges between
    * consecutive ends never split a tie. O(#chunks) pairs reach the
    * driver; Nil on a frame with no non-null key.
    *
    * Two jobs over the [[withBucket]] layout (its sampled bounds are
    * memoized, so a warm frame samples nothing): per-bucket counts and
    * the max key, read on the driver as bucket rank offsets; then the
    * buckets whose rank range holds a multiple of `every` are sorted,
    * one per partition, and walked in key order. Ties never straddle a
    * bucket: the bucket id is a pure function of the key. The second
    * job is skipped when no bucket needs a walk. */
  private[graft] def chunkEnds(df: DataFrame, key: Column, every: Long,
                               numPartitions: Int): Seq[(Long, Long)] = {
    require(every > 0, s"chunk size must be positive, got $every")
    val keys = df.select(key.cast("long").as(KEY)).filter(col(KEY).isNotNull)
    val pairs = withBucket(keys, Seq(col(KEY)), numPartitions, PID)
      .select(col(PID), col(KEY)).rdd.map(r => (r.getInt(0), r.getLong(1)))
    val nb = math.max(1, numPartitions)
    val perTask = pairs.mapPartitions { it =>
      val c = new Array[Long](nb)
      var mx = Long.MinValue
      it.foreach { case (p, k) => c(p) += 1; if (k > mx) mx = k }
      Iterator((c, mx))
    }.collect()
    val counts = perTask.map(_._1).transpose.map(_.sum)
    val total = counts.sum
    if (total == 0) return Nil
    val maxKey = perTask.map(_._2).max
    // offsets(p) = rows in the buckets below p; bucket p holds ranks
    // offsets(p)+1 .. offsets(p+1)
    val offsets = counts.scanLeft(0L)(_ + _)
    val walk = (0 until nb).filter(p => offsets(p + 1) / every > offsets(p) / every).toSet
    val found =
      if (walk.isEmpty) Seq.empty[(Long, Long)]
      else pairs.filter { case (p, _) => walk(p) }.map(pk => (pk, ()))
        .repartitionAndSortWithinPartitions(new BucketPartitioner(nb))
        .mapPartitionsWithIndex { (p, it) =>
          val sorted = it.map(_._1._2).buffered
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var rank = offsets(p)
          while (sorted.hasNext) {
            val k = sorted.next()
            val first = rank + 1
            rank += 1
            while (sorted.hasNext && sorted.head == k) { sorted.next(); rank += 1 }
            if (rank / every > (first - 1) / every) out += ((k, rank))
          }
          out.iterator
        }.collect().toSeq
    if (found.lastOption.forall(_._2 < total)) found :+ ((maxKey, total)) else found
  }

  def globalRowNumber(df: DataFrame, key: Column, numPartitions: Int, out: String): DataFrame =
    globalRowNumber(df, Seq(key), numPartitions, out)

  def globalRowNumber(df: DataFrame, keys: Seq[Column], numPartitions: Int,
                      out: String): DataFrame =
    globalRowNumber(df, keys, numPartitions, out, keys)

  /** Adds a 1-based global row number `out` ordered by `keys`
    * (lexicographic). The composite must be unique for a
    * deterministic result (ties would land in bucket-dependent
    * order). `bucketKeys` — see [[withBucket]]. */
  def globalRowNumber(df: DataFrame, keys: Seq[Column], numPartitions: Int,
                      out: String, bucketKeys: Seq[Column]): DataFrame = {
    val parted = df.withColumn(PID,
      pidExpr(bucketKeys, sampleBounds(df, bucketKeys, numPartitions)))
    // Per-bucket counts → exclusive prefix sum. numPartitions rows:
    // the single-partition window here is over driver-scale data.
    val offsets = parted.groupBy(col(PID)).agg(count(lit(1)).as(CNT))
      .withColumn(OFF, coalesce(
        sum(col(CNT)).over(
          Window.orderBy(col(PID)).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop(CNT)
    parted.join(broadcast(offsets), PID)
      .withColumn(out,
        row_number().over(Window.partitionBy(col(PID)).orderBy(keys: _*)).cast("long") + col(OFF))
      .drop(PID, OFF)
  }

  /** Per-key arrival rank: a 1-based row number `out` within each
    * `keyCols` group ordered by `order` — the skew-safe replacement
    * for `row_number().over(Window.partitionBy(key).orderBy(order))`,
    * which hands EVERY row of one key to a single task's sort (fatal
    * when keys are low-cardinality "types": one hot key at 100 TB is
    * a multi-TB single-task sort). Buckets split on the FULL
    * (key ++ order) tuple, so a hot key spreads over many buckets;
    * per-(key, bucket) counts → per-key exclusive prefix sum over
    * ≤ numPartitions rows per key (tiny, broadcast back); finish with
    * a within-(key, bucket) row_number plus the offset. Every
    * row-bearing stage is data-parallel. (key ++ order) must be a
    * unique composite or ties land in bucket-dependent order. */
  def perKeyRowNumber(df: DataFrame, keyCols: Seq[String], order: Seq[Column],
                      numPartitions: Int, out: String): DataFrame =
    perKeyRowNumber(df, keyCols, order, numPartitions, out, None)

  /** `bucketPrefix` — optional PREFIX of (keys ++ order) to bucket on
    * (the [[globalRowNumber]] bucketKeys contract): the full tuple's
    * boundary-comparison tree can exceed whole-stage codegen limits
    * and run interpreted on every row; a high-cardinality prefix
    * keeps it codegen-sized while rows tied on the prefix still land
    * in one bucket (correct at any split). */
  def perKeyRowNumber(df: DataFrame, keyCols: Seq[String], order: Seq[Column],
                      numPartitions: Int, out: String,
                      bucketPrefix: Option[Seq[Column]]): DataFrame = {
    val keys = keyCols.map(col)
    val parted = withBucket(df, bucketPrefix.getOrElse(keys ++ order),
      numPartitions, PID)
    val cnt = parted.groupBy(keys :+ col(PID): _*).agg(count(lit(1)).as(CNT))
    val offsets = cnt.withColumn(OFF, coalesce(
        sum(col(CNT)).over(
          Window.partitionBy(keys: _*).orderBy(col(PID))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop(CNT)
    parted.join(broadcast(offsets), keyCols :+ PID)
      .withColumn(out,
        row_number().over(
          Window.partitionBy(keys :+ col(PID): _*).orderBy(order: _*))
          .cast("long") + col(OFF))
      .drop(PID, OFF)
  }

  def globalRunningSum(df: DataFrame, key: Column, value: Column,
                       numPartitions: Int, out: String): DataFrame =
    globalRunningSum(df, Seq(key), value, numPartitions, out)

  /** Adds a global running sum `out` of `value` ordered by the `keys`
    * tuple — same two-phase layout as [[globalRowNumber]]: per-bucket
    * sums → exclusive prefix over numPartitions rows, broadcast the
    * offsets back and finish with a within-bucket running sum. No
    * row-bearing stage is ever a single partition. `keys` must be
    * unique as a composite (ties would sum in bucket-dependent
    * order). */
  def globalRunningSum(df: DataFrame, keys: Seq[Column], value: Column,
                       numPartitions: Int, out: String): DataFrame =
    globalRunningSum(df, keys, value, numPartitions, out, df)

  /** Several global running sums over ONE two-phase layout: each
    * `(value, out)` pair gets its running sum ordered by `keys`, all
    * sharing a single bucket assignment, one per-bucket offsets
    * aggregate, and one within-bucket Window operator (identical
    * window spec → Spark evaluates every frame in the same sort).
    * Chaining N single-value [[globalRunningSum]] calls costs N
    * boundary samples + N offset shuffles + N window passes for the
    * same answer — the rank-test scaffold measured 2× faster through
    * this. Semantics per column are exactly [[globalRunningSum]]. */
  def globalRunningSums(df: DataFrame, keys: Seq[Column],
                        values: Seq[(Column, String)],
                        numPartitions: Int): DataFrame = {
    val parted = df.withColumn(PID,
      pidExpr(keys, sampleBounds(df, keys, numPartitions)))
    val aggs = values.map { case (v, o) => sum(v).as(CNT + o) }
    val offsets = parted.groupBy(col(PID))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(PID) +: values.map { case (_, o) =>
        coalesce(
          sum(col(CNT + o)).over(
            Window.orderBy(col(PID)).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as(OFF + o)
      }: _*)
    val w = Window.partitionBy(col(PID)).orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.foldLeft(parted.join(broadcast(offsets), PID)) {
      case (acc, (v, o)) => acc.withColumn(o, sum(v).over(w) + col(OFF + o))
    }.drop(PID +: values.map { case (_, o) => OFF + o }: _*)
  }

  /** `boundsFrom` variant: sample the bucket boundaries from a CHEAPER
    * frame with the same key columns (boundaries are just split
    * points of the key space — they need not come from the ranked
    * data itself). Lets a caller whose input is expensive to compute
    * (a union over a sessionization, say) pay the two sampling scans
    * on its cheap component instead. */
  def globalRunningSum(df: DataFrame, keys: Seq[Column], value: Column,
                       numPartitions: Int, out: String,
                       boundsFrom: DataFrame): DataFrame =
    globalRunningSum(df, keys, value, numPartitions, out, boundsFrom, keys)

  /** `bucketKeys` — a PREFIX of the sum ordering, same contract as
    * [[globalRowNumber]]'s: a deep lexicographic boundary tree (31
    * boundaries × a 3-deep compare) falls out of whole-stage codegen
    * and runs interpreted on every row of both the offsets and the
    * main branch; a near-unique leading key alone keeps the
    * comparison chain codegen-sized. */
  def globalRunningSum(df: DataFrame, keys: Seq[Column], value: Column,
                       numPartitions: Int, out: String,
                       boundsFrom: DataFrame, bucketKeys: Seq[Column]): DataFrame = {
    val parted = df.withColumn(PID,
      pidExpr(bucketKeys, sampleBounds(boundsFrom, bucketKeys, numPartitions)))
    val offsets = parted.groupBy(col(PID)).agg(sum(value).as(CNT))
      .withColumn(OFF, coalesce(
        sum(col(CNT)).over(
          Window.orderBy(col(PID)).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop(CNT)
    parted.join(broadcast(offsets), PID)
      .withColumn(out,
        sum(value).over(Window.partitionBy(col(PID)).orderBy(keys: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) + col(OFF))
      .drop(PID, OFF)
  }
}
