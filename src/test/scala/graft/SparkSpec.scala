package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate dedups, so suites don't pay repeated startup). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with `spark.sql.shuffle.partitions` (the bucket count
    * of `Ranks`' layouts) set to `n`, then restores the previous value. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }
}
