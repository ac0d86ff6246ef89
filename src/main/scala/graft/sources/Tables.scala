package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the test-data star schema.
  *
  * Reads go through [[Parquet.read]], which resolves the schema from
  * one footer on the driver instead of an inference job; the scan is
  * still Spark's, so Catalyst owns pushdown: any filter / projection
  * applied downstream reaches the scan (verified in PlanSpec). At
  * deployment scale the same loaders point at partitioned parquet
  * roots and partition pruning applies unchanged.
  */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame     = read(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = read(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = read(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = read(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = read(s, dir, "lineitem")
  /** Normalizes the events `ts` column to TIMESTAMP (µs, session-tz)
    * regardless of how the parquet writer encoded it. Three shapes have
    * shipped in the test data across rounds:
    *   - TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong
    *     (set in GraftSession) it reads as LONG nanos → floor-divide to
    *     µs. DuckDB's native resolution is µs, so the oracle agrees.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *     TIMESTAMP_NTZ → cast to TIMESTAMP. Under the session's pinned
    *     UTC zone (GraftSession) the cast is value-identical, and it
    *     restores `unix_micros`/watermark compatibility for the 35
    *     downstream call sites.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TIMESTAMP.
    * Anything else fails HERE, loudly, instead of as 28 scattered
    * analysis errors downstream. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val out = df.schema("ts").dataType match {
      case LongType          => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType     => df
      case other => throw new IllegalStateException(
        s"events.ts: expected TIMESTAMP/TIMESTAMP_NTZ/LONG(nanos), got $other — " +
          "test-data generator changed shape again; extend Tables.normalizeEventTs")
    }
    assert(out.schema("ts").dataType == TimestampType,
      s"events.ts normalization failed: ${out.schema("ts").dataType}")
    out
  }

  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(read(s, dir, "events"))
  def documents(s: SparkSession, dir: String): DataFrame  = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** Generic loaders for non-parquet landing formats. Schema is
    * mandatory: schema inference reads the data twice and guesses —
    * at 100 TB both are unacceptable. */
  def readCsv(s: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): DataFrame =
    s.read.schema(schema).option("header", header.toString).csv(path)

  def readJsonLines(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).json(path)
}
