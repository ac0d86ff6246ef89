package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator top-k-per-group (SURVEY §4 path (c): custom
  * LogicalPlan + Strategy + SparkPlan via SparkSessionExtensions).
  *
  * The window formulation (`row_number().over(partitionBy(g).orderBy(o))
  * .filter(rk <= k)`) must SORT every partition's full data before it
  * can rank — at 100 TB that is a complete sort-and-spill of the fact
  * table to keep 3 rows per group. This operator instead keeps a
  * bounded k-row heap per group: a partial pass per input partition
  * (before the shuffle — only ≤ k·groups rows ever enter the
  * exchange), then a final pass per hash partition. Memory is
  * O(groups·k) per task, no sort, no spill. Ranks are row numbers:
  * ties in the order key break arbitrarily but deterministically, so
  * a group returns exactly min(k, size) rows.
  *
  * [[TopK.perGroup]] is the one way to build this node; it requires
  * non-empty `groupExprs`, since a global top-k is an
  * `orderBy(...).limit(k)` (TakeOrderedAndProject), not this operator.
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr

  // rankAttr rides in the constructor even on the partial stage (so
  // partial/final stay one case class); declare it produced in both
  // or the plan checker flags a dangling reference
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  /** Bounded k-row heap per group. */
  override protected def doExecute(): RDD[InternalRow] = {
    val (groupE, orderE, kk, isPartial) = (groupExprs, order, k, partial)
    val childOutput = child.output
    val rank = rankAttr
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      val ord: Ordering[InternalRow] =
        GenerateOrdering.generate(orderE, childOutput)
      // PriorityQueue dequeues the MAX per ordering; with "better
      // rows compare less", the head is the current worst — the
      // eviction candidate.
      val heaps = new java.util.LinkedHashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]]()
      while (it.hasNext) {
        val row = it.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = mutable.PriorityQueue.empty(ord)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      if (isPartial) {
        heaps.values().iterator().asScala.flatMap(_.iterator)
      } else {
        val emit = emitter(childOutput, rank)
        heaps.values().iterator().asScala.flatMap { heap =>
          heap.toArray.sorted(ord).iterator.zipWithIndex.map { case (r, i) =>
            emit(r, i + 1)
          }
        }
      }
    }
  }

  /** Appends the Long rank column and projects to unsafe. */
  private def emitter(childOutput: Seq[Attribute], rank: Attribute): (InternalRow, Long) => InternalRow = {
    val join = new JoinedRow
    val rankRow = new GenericInternalRow(1)
    val outProj = UnsafeProjection.create(childOutput :+ rank, childOutput :+ rank)
    (r, rk) => {
      rankRow.update(0, rk)
      outProj(join(r, rankRow)).copy()
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Plans the logical node as partial → (exchange on group keys,
  * inserted by EnsureRequirements) → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, rank, child) =>
      val part = TopKPerGroupExec(g, o, k, partial = true, rank, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, rank, part) :: Nil
    case _ => Nil
  }
}

/** User-facing builder. */
object TopK {
  /** Top `k` rows per group, ranked 1..k by `sortCols`
    * ((name, descending)); appends `rankName`. `groupCols` must be
    * non-empty — for a global top-k use orderBy + limit, which Spark
    * already plans as TakeOrderedAndProject. Names resolve as
    * `df.col` would: by the session's case sensitivity, and an
    * ambiguous name throws Spark's AMBIGUOUS_REFERENCE. */
  def perGroup(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[(String, Boolean)], k: Int,
      rankName: String = "rank"): DataFrame = {
    require(groupCols.nonEmpty,
      "TopK.perGroup needs at least one group column; use df.orderBy(...).limit(k) for a global top-k")
    val analyzed = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    def attr(n: String): Attribute = analyzed.resolveQuoted(n, resolver) match {
      case Some(a: Attribute) => a
      case _ => throw new IllegalArgumentException(
        s"no column '$n' in ${analyzed.output.map(_.name).mkString(", ")}")
    }
    val so = sortCols.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending) }
    val rank = AttributeReference(rankName, LongType, nullable = false)()
    org.apache.spark.sql.classic.GraftPlans.ofRows(df.sparkSession,
      TopKPerGroupNode(groupCols.map(attr), so, k, rank, analyzed))
  }
}
