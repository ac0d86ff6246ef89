package graft.functions

import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Scalable ranking helpers.
  *
  * A bare `row_number().over(Window.orderBy(k))` collapses the whole
  * dataset into ONE partition — fine at 60k rows, fatal at 100 TB.
  * These helpers use the classic two-phase distributed layout
  * instead, written once in [[twoPhase]]: split the key space into
  * ordered buckets, aggregate per bucket, take an exclusive prefix
  * over the tiny per-bucket table, broadcast it back, and finish with
  * a window inside each bucket plus the bucket's offset. The bucket
  * count is the session's `spark.sql.shuffle.partitions`.
  *
  * The bucket id is a DETERMINISTIC pure function of the row —
  * boundaries are sampled once, collected to the driver (bounded:
  * ≤ 100 keys per bucket), and embedded as literals — NOT
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
  private val AGG = "__graft_agg_"
  private val KEY = "__graft_key"

  /** The bucket count: the deploy-time parallelism knob
    * `spark.sql.shuffle.partitions` instead of a hard-coded local
    * constant — 32 buckets over a 10¹¹-row table would be ~3×10⁹ rows
    * each; a cluster deploy that sets shuffle.partitions for its
    * executor count scales these layouts with it (AQE coalesces the
    * excess locally). */
  private def buckets(df: DataFrame): Int =
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

  /** Boundary cache, keyed by the CANONICALIZED plan of
    * `df.select(keys)` and the bucket count. Boundaries are a split of
    * the key space, a deterministic artifact of that pair, so they are
    * sampled once and reused. Not a per-dataset [[graft.sources.Memo]]
    * entry: a rank input has no dataset name to key on, only its plan
    * (structural equality — source paths, pushed filters and the
    * projection all participate), so two frames share an entry only
    * when they would scan identical data. Staleness (a path rewritten
    * mid-session) can skew bucket balance but never correctness: the
    * bucket id is a pure row function and the rank layouts are
    * output-invariant to the split points. */
  private val boundsCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int), Seq[Seq[Any]]]

  /** Sample `buckets − 1` key-space boundaries (each a key
    * tuple) in ONE pass: a per-partition reservoir with counts, then
    * weighted bound selection on the driver — the RangePartitioner
    * sketch (Spark's Partitioner.scala rangeBounds/determineBounds)
    * without its separate count job, collected once so every consumer
    * sees the same split. The collect is bounded:
    * ≤ 3·min(100·buckets, 100k) tuples. Returns Nil on an empty
    * frame (single bucket). */
  private def sampleBounds(df: DataFrame, keys: Seq[Column]): Seq[Seq[Any]] = {
    val nb = buckets(df)
    if (nb <= 1) return Nil
    val proj = df.select(keys: _*)
    val cacheKey = (proj.queryExecution.analyzed.canonicalized, nb)
    boundsCache.getOrElseUpdate(cacheKey, {
      val target = math.min(100L * nb, 100000L)
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
        // total/nb rows (determineBounds' layout).
        val candidates = sketched.flatMap { case (cnt, sample) =>
          sample.map(s => (s, cnt.toDouble / sample.length))
        }.sortBy(_._1)(rowOrd)
        val step = candidates.map(_._2).sum / nb
        val bounds = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        var cum = 0.0
        var next = step
        for ((key, w) <- candidates if bounds.size < nb - 1) {
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

  /** df + an `out` bucket column over `keys`, its bounds sampled from
    * `boundsFrom` (default `df`: boundaries are only split points of
    * the key space, so a CHEAPER frame with the same key columns
    * serves). [[twoPhase]]'s first step, also under [[chunkEnds]]'
    * RDD walk; [[Quantiles.bracketed]] (behind
    * `Relational.qPercentilesDist`) takes the whole first phase from
    * [[bucketOffsets]].
    *
    * `keys` may be a PREFIX of the rank ordering: bucket
    * monotonicity only needs the leading sort component(s), and a
    * short prefix keeps the boundary-comparison expression small
    * enough for whole-stage codegen (31 boundaries × a 5-deep
    * lexicographic tree fell out of codegen and ran interpreted —
    * measured 4× slower on layout_zorder). Rows tied on the prefix
    * stay in one bucket, so prefix cardinality must be high enough to
    * spread the data (unique-ish leading key by contract). */
  private[graft] def withBucket(df: DataFrame, keys: Seq[Column], out: String,
                                boundsFrom: Option[DataFrame] = None): DataFrame =
    df.withColumn(out, pidExpr(keys, sampleBounds(boundsFrom.getOrElse(df), keys)))

  /** Name of the exclusive prefix [[bucketOffsets]] takes of the
    * aggregate named `agg`. */
  private[graft] def offsetOf(agg: String): String = s"${agg}_off"

  /** The first phase of the layout: `df` with the bucket column `pid`
    * over `bucketPrefix` (Nil: all of `partKeys ++ order`; see
    * [[withBucket]]), and the per-(`partKeys`, `pid`) table holding
    * each `(aggregate, name)` of `aggs` as `name` and its exclusive
    * prefix over the buckets of its `partKeys` group as
    * [[offsetOf]]`(name)`. The table has ≤ buckets rows per group:
    * with no `partKeys` its prefix window is a single partition over
    * driver-scale data. */
  private[graft] def bucketOffsets(df: DataFrame, partKeys: Seq[String], order: Seq[Column],
                                   bucketPrefix: Seq[Column], boundsFrom: Option[DataFrame],
                                   pid: String, aggs: Seq[(Column, String)]): (DataFrame, DataFrame) = {
    val bucketOn = if (bucketPrefix.isEmpty) partKeys.map(col) ++ order else bucketPrefix
    val parted = withBucket(df, bucketOn, pid, boundsFrom)
    val group = partKeys.map(col) :+ col(pid)
    val prior = Window.partitionBy(partKeys.map(col): _*).orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val named = aggs.map { case (a, n) => a.as(n) }
    val offsets = parted.groupBy(group: _*).agg(named.head, named.tail: _*)
      .select(group ++ aggs.map { case (_, n) => col(n) } ++ aggs.map { case (_, n) =>
        coalesce(sum(col(n)).over(prior), lit(0L)).as(offsetOf(n))
      }: _*)
    (parted, offsets)
  }

  /** The two-phase layout every entry point is: [[bucketOffsets]] per
    * (`partKeys`, bucket), the offsets broadcast back, and for each
    * `(aggregate, inBucket, out)` of `outs` the column `out` =
    * `inBucket` over the rows of its (`partKeys`, bucket) ordered by
    * `order`, plus the bucket's offset. Every row-bearing stage is
    * data-parallel. */
  private def twoPhase(df: DataFrame, partKeys: Seq[String], order: Seq[Column],
                       bucketPrefix: Seq[Column], boundsFrom: Option[DataFrame],
                       outs: Seq[(Column, WindowSpec => Column, String)]): DataFrame = {
    val aggs = outs.map { case (a, _, o) => (a, AGG + o) }
    val (parted, offsets) = bucketOffsets(df, partKeys, order, bucketPrefix, boundsFrom, PID, aggs)
    val inBucket = Window.partitionBy(partKeys.map(col) :+ col(PID): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = parted.join(broadcast(offsets.drop(aggs.map(_._2): _*)), partKeys :+ PID)
    outs.foldLeft(joined) { case (acc, (_, fn, o)) =>
      acc.withColumn(o, fn(inBucket) + col(offsetOf(AGG + o)))
    }.drop(PID +: aggs.map(a => offsetOf(a._2)): _*)
  }

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
  private[graft] def chunkEnds(df: DataFrame, key: Column, every: Long): Seq[(Long, Long)] = {
    require(every > 0, s"chunk size must be positive, got $every")
    val keys = df.select(key.cast("long").as(KEY)).filter(col(KEY).isNotNull)
    val pairs = withBucket(keys, Seq(col(KEY)), PID)
      .select(col(PID), col(KEY)).rdd.map(r => (r.getInt(0), r.getLong(1)))
    val nb = math.max(1, buckets(df))
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

  /** Adds a 1-based global row number `out` ordered by `keys`
    * (lexicographic). The composite must be unique for a
    * deterministic result (ties would land in bucket-dependent
    * order). `bucketPrefix` — see [[withBucket]]. */
  def globalRowNumber(df: DataFrame, keys: Seq[Column], out: String,
                      bucketPrefix: Seq[Column] = Nil): DataFrame =
    perKeyRowNumber(df, Nil, keys, out, bucketPrefix)

  /** Per-key arrival rank: a 1-based row number `out` within each
    * `keyCols` group ordered by `order` — the skew-safe replacement
    * for `row_number().over(Window.partitionBy(key).orderBy(order))`,
    * which hands EVERY row of one key to a single task's sort (fatal
    * when keys are low-cardinality "types": one hot key at 100 TB is
    * a multi-TB single-task sort). Buckets split on the FULL
    * (key ++ order) tuple, or on `bucketPrefix` when given, so a hot
    * key spreads over many buckets; only the per-(key, bucket) counts
    * converge. (key ++ order) must be a unique composite or ties land
    * in bucket-dependent order. */
  def perKeyRowNumber(df: DataFrame, keyCols: Seq[String], order: Seq[Column],
                      out: String, bucketPrefix: Seq[Column] = Nil): DataFrame =
    twoPhase(df, keyCols, order, bucketPrefix, None,
      Seq((count(lit(1)), w => row_number().over(w).cast("long"), out)))

  /** Global running sums over ONE layout: each `(value, out)` pair
    * gets the running sum `out` of `value` ordered by the `keys`
    * tuple, all sharing a single bucket assignment, one per-bucket
    * offsets aggregate and one within-bucket Window operator
    * (identical window spec → Spark evaluates every frame in the same
    * sort; chaining single-value passes re-paid sampling, an offsets
    * shuffle and a window pass per column — the rank-test scaffold
    * measured 2× faster). `keys` must be unique as a composite (ties
    * would sum in bucket-dependent order). `bucketPrefix` — see
    * [[withBucket]]; `boundsFrom` samples the bucket bounds from a
    * cheaper frame with the same key columns, so a caller whose input
    * is expensive (a union over a sessionization, say) pays the
    * sampling scans on its cheap component instead. */
  def globalRunningSums(df: DataFrame, keys: Seq[Column], values: Seq[(Column, String)],
                        bucketPrefix: Seq[Column] = Nil,
                        boundsFrom: Option[DataFrame] = None): DataFrame =
    twoPhase(df, Nil, keys, bucketPrefix, boundsFrom,
      values.map { case (v, o) => (sum(v), (w: WindowSpec) => sum(v).over(w), o) })
}
