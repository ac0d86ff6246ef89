package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` for named queries to
  * plans/<tag>/<name>_<suffix>.txt (the optimization-round evidence
  * files). Usage:
  *   sbt "Test/runMain graft.PlanDump <tag> <suffix> [query...]"
  * (no query: every key in `SparkEntry.queries`).
  * e.g. `Test/runMain graft.PlanDump r13 before graph_pagerank`.
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.1) so the plan is the
  * bench-scale plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0); val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.tune(SparkSession.builder().master("local[8]"), 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"PLANDUMP wrote plans/$tag/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
