package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact-quantile SELECTION with bounded task memory.
  *
  * The first phase is [[Ranks.bucketOffsets]]: deterministic
  * key-space buckets, per-(group, bucket) counts and their per-group
  * exclusive prefix. Instead of ranking every row, this helper then
  * *locates* each target rank's bucket with a bounded range join
  * (targets × the groups×buckets count table — both tiny) and sorts
  * ONLY the located buckets: the row-bearing work is one counting
  * scan plus a selection over ~|groups|·|ps|·2 buckets, instead of a
  * full-data sort. No driver collect anywhere, so the group count is
  * unbounded (the q_percentiles_grouped contract).
  *
  * Returns one row per (group, p):
  * `groupCols ++ (p, pos, lower, higher, n, vlo, vhi)` where
  * vlo/vhi are the values at global ranks lower+1 / higher+1 of the
  * group ordered by `xCol` — exactly the bracketing values Spark's
  * own Percentile interpolates between, so callers reproduce
  * percentile()/quantile_cont bit-for-bit with
  * `when(lower === higher, vlo).otherwise((higher-pos)*vlo + (pos-lower)*vhi)`.
  */
object Quantiles {

  def bracketed(v0: DataFrame, groupCols: Seq[String], xCol: String,
                ps: Seq[Double], bucketPrefix: Seq[Column] = Nil): DataFrame = {
    val s = v0.sparkSession
    import s.implicits._
    val pid = "__q_pid"
    val gcols = groupCols.map(col)
    val x = col(xCol)
    // percentile()/quantile_cont skip NULLs; rank NULL-free so the
    // bit-for-bit claim holds for nullable callers too (NULLs would
    // otherwise sort first and shift every rank).
    val v = v0.filter(x.isNotNull)
    // `bucketPrefix` may drop group columns from the bucket key (the
    // Ranks bucketPrefix rationale: a wide lexicographic boundary
    // tree falls out of codegen): any subset of the group columns
    // plus x stays monotone in x WITHIN a group, which is all the
    // per-group offsets require.
    val (parted, counts) = Ranks.bucketOffsets(v, groupCols, Seq(x), bucketPrefix,
      None, pid, Seq(count(lit(1)) -> "__c"))
    val off = counts.localCheckpoint(true)
    val lo = col(Ranks.offsetOf("__c"))
    val tot = off.groupBy(gcols: _*).agg(sum($"__c").as("n"))
    val targets = tot.crossJoin(ps.toDF("p"))
      .withColumn("pos", $"p" * ($"n" - 1).cast("double"))
      .withColumn("lower", floor($"pos"))
      .withColumn("higher", ceil($"pos"))
    // each (group, p) contributes its two bracketing GLOBAL ranks;
    // locate each rank's bucket with a range join against the count
    // table (both sides are groups×buckets-bounded, never data-sized)
    val wantRanks = targets.select(gcols ++ Seq($"p", $"pos", $"lower",
        $"higher", $"n",
        explode(array($"lower".cast("long") + 1,
          $"higher".cast("long") + 1)).as("__r")): _*)
      // lower==higher explodes the same rank twice for one p — dedup
      // PER (group, p): two different ps sharing a rank must keep
      // their own target rows
      .dropDuplicates(groupCols ++ Seq("p", "__r"))
    val wanted = wantRanks.join(off.withColumnRenamed(pid, "__wpid"),
        groupCols)
      .filter($"__r" > lo && $"__r" <= lo + $"__c")
      .select(gcols ++ Seq(col("__wpid").as(pid), ($"__r" - lo).as("__lr"),
        $"p", $"pos", $"lower", $"higher", $"n", $"__r"): _*)
    // sort ONLY the buckets holding a target rank. The broadcast of
    // `wanted` is |groups|·|ps|·2-proportional while the helper's
    // contract is an UNBOUNDED group count — so the hint is GATED on a
    // measured bound instead of forced: `off` is already checkpointed,
    // its row count (groups × non-empty buckets ≥ |groups|) is a free
    // upper bound, and past the cap the hint is dropped and AQE picks
    // the strategy from runtime sizes (broadcast while it fits, shuffle
    // join when a 100 TB high-cardinality group key would OOM the
    // driver). At test SFs the bound always holds, so the plan keeps
    // the exact pre-gate shape.
    val smallWanted = off.count() * ps.size * 2 <= (1L << 20)
    def bcast(df: DataFrame): DataFrame = if (smallWanted) broadcast(df) else df
    val slice = parted.join(
      bcast(wanted.select((groupCols :+ pid).map(col): _*).distinct()),
      groupCols :+ pid)
    val ranked = slice.withColumn("__lr",
      row_number().over(Window.partitionBy((groupCols :+ pid).map(col): _*)
        .orderBy(x)).cast("long"))
    val hits = ranked.join(bcast(wanted), (groupCols :+ pid) :+ "__lr")
    hits.groupBy((gcols ++ Seq($"p", $"pos", $"lower", $"higher", $"n")): _*)
      .agg(min(when($"__r" === $"lower".cast("long") + 1, x)).as("vlo"),
           min(when($"__r" === $"higher".cast("long") + 1, x)).as("vhi"))
  }
}
