package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Agg.{rnd, rndSql}

/** The term-weighting policy every lexical retrieval key scores with:
  * the smoothed TF-IDF idf ln((n+1)/(df+1)) + 1, and BM25 (Robertson
  * & Zaragoza, "The Probabilistic Relevance Framework: BM25 and
  * Beyond", 2009) with [[k1]] and [[b]]. Idfs and BM25 weights are
  * 1e-6-quantized ([[Agg.rnd]]) after the transcendental, so a weight
  * is the same double on every engine and at any parallelism.
  *
  * Each statistic has an engine form (a DataFrame or a `Column`) and a
  * DuckDB SQL form for the oracles; the two spell the same arithmetic
  * in the same order. A unit is what a weight scores: `doc_id`, or
  * `doc_id, chunk_idx` for the chunk index. Callers keep their own
  * join order and their own one-row statistics frame. */
object TermWeights {

  /** BM25 term-frequency saturation. */
  val k1 = 1.2
  /** BM25 length normalization. */
  val b = 0.75

  /** (unit…, term, tf) from (unit…, term) rows, one row per token. */
  def termCounts(rows: DataFrame, unit: String*): DataFrame =
    rows.groupBy((unit :+ "term").map(col): _*).agg(count(lit(1)).as("tf"))

  /** (unit…, dl): each unit's length in tokens, from its term counts. */
  def unitLengths(tf: DataFrame, unit: String*): DataFrame =
    tf.groupBy(unit.map(col): _*).agg(sum(col("tf")).as("dl"))

  /** (term, df) from rows with one row per (unit, term). */
  def docFreqs(rows: DataFrame): DataFrame =
    rows.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** (term, idf): the smoothed TF-IDF idf of a (term, df) frame
    * against a one-row `n` frame. */
  def tfidfIdf(dfs: DataFrame, n: DataFrame): DataFrame =
    dfs.crossJoin(broadcast(n))
      .select(col("term"),
        rnd(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0), 6).as("idf"))

  def tfidfIdfSql(n: String, df: String): String =
    rndSql(s"ln(($n + 1.0) / ($df + 1.0)) + 1.0", 6)

  /** BM25 idf of `n` units of which `df` hold the term. A term the
    * statistics never saw takes df = 0. */
  def bm25Idf(n: Column, df: Column): Column =
    rnd(log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5))), 6)

  /** (term, idf, avgdl): the BM25 idf of a (term, df) frame against a
    * one-row (avgdl, n) statistics frame. */
  def bm25Idf(dfs: DataFrame, stats: DataFrame): DataFrame =
    dfs.crossJoin(broadcast(stats))
      .select(col("term"), bm25Idf(col("n"), col("df")).as("idf"), col("avgdl"))

  def bm25IdfSql(n: String, df: String): String =
    rndSql(s"ln(1.0 + ($n - $df + 0.5) / ($df + 0.5))", 6)

  /** The BM25 weight idf·(tf·(k1+1))/(tf + k1·(1−b + b·dl/avgdl)). */
  def bm25Weight(tf: Column, dl: Column, idf: Column, avgdl: Column): Column =
    rnd(idf * ((tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl.cast("double") / avgdl)))), 6)

  def bm25WeightSql(tf: String, dl: String, idf: String, avgdl: String): String =
    rndSql(s"$idf * (($tf * ${k1 + 1.0}) / ($tf + $k1 * " +
      s"(${1.0 - b} + $b * (CAST($dl AS DOUBLE) / $avgdl))))", 6)
}
