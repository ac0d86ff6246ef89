package graft.sources

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet staging of oracle-checkable intermediate artifacts.
  *
  * The hash-family operators (MinHash / SimHash / LSH buckets / PQ
  * codebooks) compute signatures no DuckDB SQL can replicate — the
  * hashes are XXH64 ([[graft.functions]]). Everything DOWNSTREAM of
  * the signature is plain relational work (banding, bucket joins,
  * pair dedup, sketch union, argmin encode, ADC sums), so staging the
  * computed signature table to parquet lets the oracle recompute that
  * whole pipeline independently and hash-check it — the hash itself
  * stays covered by ExpressionsSpec's property tests.
  *
  * This is also the production shape: signatures and codebooks are
  * persisted index artifacts, written once per corpus and reused by
  * every downstream query ([[Sinks.writeBucketed]] is the bucketed
  * sibling for exchange-free probes). The write is memoized per
  * (key, dataset, session) in [[Memo]]; [[stage]] returns a frame
  * READING the artifact, so consumers in the same session reuse the
  * computed signatures instead of re-deriving them. `coalesce(1)` is
  * test-scale convenience for the single-file glob — a cluster deploy
  * drops it and globs the directory.
  *
  * Oracle SQL interpolation works because Verify/VerifyOne dump
  * `SparkEntry.oracleSql` AFTER running the queries: by dump time the
  * staged paths for every query that ran are recorded here, and
  * [[globOf]] is None for queries that never staged (their oracle
  * entry is simply omitted → driver records a rows-only check, the
  * pre-staging behavior).
  */
object OracleStage {
  private lazy val root = Files.createTempDirectory("graft-oracle-stage").toString
  /** key -> the path this JVM staged last, read when the oracle SQL
    * is interpolated at dump time. Not a per-dataset [[Memo]] entry
    * (the staged artifact itself is one): it keeps one path per key,
    * whichever dataset staged it last, because the dump names a key,
    * not a dataset. */
  private val last = TrieMap.empty[String, String]

  private def memoName(key: String) = s"oracle.$key"

  /** Write `df` once per (key, dataset dir, session), record the path
    * for oracle interpolation, and return a frame reading the artifact. */
  def stage(s: SparkSession, key: String, dir: String)(df: => DataFrame): DataFrame = {
    val path = Memo(memoName(key), dir, s) {
      val p = s"$root/${key}_${Sinks.pathDigest(dir)}"
      df.coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    last.put(key, path)
    Parquet.read(s, path)
  }

  /** The parquet glob DuckDB should read for `key`, if staged. */
  def globOf(key: String): Option[String] =
    last.get(key).map(p => s"$p/*.parquet")

  /** The staged path for (key, dataset), if this session staged it —
    * lets a consumer read an existing artifact without constructing
    * (or re-running) the builder frame. */
  def pathOf(s: SparkSession, key: String, dir: String): Option[String] =
    Memo.get[String](memoName(key), dir, s)
}
