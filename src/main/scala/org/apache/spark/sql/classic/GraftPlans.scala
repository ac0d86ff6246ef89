package org.apache.spark.sql.classic

import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal shim into the classic session: `Dataset.ofRows` is
  * private[sql], and building a DataFrame from a custom LogicalPlan
  * (graft.plans.TopKPerGroupNode) needs it. This is the standard
  * extension-library pattern for attaching custom logical nodes. The
  * listener bus [[observed]] waits on is private[spark]. */
object GraftPlans {
  def ofRows(session: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(session.asInstanceOf[SparkSession], plan)

  /** Frees the RDD blocks behind a `localCheckpoint(true)`'d frame.
    * `Dataset.unpersist` only clears CacheManager entries; a local
    * checkpoint is RDD-level storage referenced by a LogicalRDD leaf,
    * which must be unpersisted directly or it lingers until GC. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** The row `obs` collected, or None if no action over its frame has
    * run. An `Observation` completes on the listener bus after its
    * action returns, so a miss first waits until the bus has delivered
    * every event posted so far. None is then definite, unless a listener
    * held the bus past the wait's 10 s limit, so a caller keeps a
    * fallback that is correct either way (`addItems` counts). */
  def observed(session: org.apache.spark.sql.SparkSession, obs: Observation): Option[Row] =
    obs.future.value.orElse {
      try session.sparkContext.listenerBus.waitUntilEmpty()
      catch { case _: java.util.concurrent.TimeoutException => () }
      obs.future.value
    }.map(_.get)
}
