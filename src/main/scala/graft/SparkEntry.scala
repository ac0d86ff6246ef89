package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators.{Accumulator, Behavioral, Bpe, Dedup, Experimentation, RelationalTpch, EmbedPq, Graph, HybridSearch, Iterators, Layout, Multimodal, Pipeline, QualityModel, Relational, Similarity, SimilarityIvf, SimilarityKnn, Sequences, SourceFormats, TextAnalysis, Unigram}
import graft.streaming.{StreamAcc, StreamOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalTpch.q5RegionVolume(spark, "/root/testdata/sf0.001")

  /** The single authoritative module list — the merge below and
    * KeyCheckSpec's shadowing audit both iterate THIS, so a module added
    * here is audited automatically (and one added anywhere else
    * cannot exist). A `def`, NOT a val: the staged-artifact oracles
    * (Similarity/SimilarityIvf/EmbedPq/Dedup) register their SQL at
    * DUMP time via OracleStage — freezing the maps at object init
    * would silently drop every staged oracle. */
  def modules: Seq[(String, (Map[String, (SparkSession, String) => DataFrame], Map[String, String]))] = Seq(
    "Relational" -> (Relational.queries, Relational.oracles),
    "RelationalTpch" -> (RelationalTpch.queries, RelationalTpch.oracles),
    "Accumulator" -> (Accumulator.queries, Accumulator.oracles),
    "Iterators" -> (Iterators.queries, Iterators.oracles),
    "TextAnalysis" -> (TextAnalysis.queries, TextAnalysis.oracles),
    "Dedup" -> (Dedup.queries, Dedup.oracles),
    "Similarity" -> (Similarity.queries, Similarity.oracles),
    "SimilarityIvf" -> (SimilarityIvf.queries, SimilarityIvf.oracles),
    "SimilarityKnn" -> (SimilarityKnn.queries, SimilarityKnn.oracles),
    "HybridSearch" -> ((HybridSearch.queries, HybridSearch.oracles)),
    "EmbedPq" -> (EmbedPq.queries, EmbedPq.oracles),
    "Pipeline" -> (Pipeline.queries, Pipeline.oracles),
    "QualityModel" -> (QualityModel.queries, QualityModel.oracles),
    "Bpe" -> (Bpe.queries, Bpe.oracles),
    "Unigram" -> ((Unigram.queries, Unigram.oracles)),
    "Layout" -> (Layout.queries, Layout.oracles),
    "Multimodal" -> (Multimodal.queries, Multimodal.oracles),
    "StreamAcc" -> (StreamAcc.queries, StreamAcc.oracles),
    "StreamOps" -> (StreamOps.queries, StreamOps.oracles),
    "Behavioral" -> (Behavioral.queries, Behavioral.oracles),
    "Experimentation" -> (Experimentation.queries, Experimentation.oracles),
    "SourceFormats" -> (SourceFormats.queries, SourceFormats.oracles),
    "Graph" -> (Graph.queries, Graph.oracles),
    "Sequences" -> (Sequences.queries, Sequences.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._2._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2._2).reduce(_ ++ _)
}
