package graft

import java.io.File
import java.nio.file.Files

import scala.io.Source

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AccBatchRow, AccBatchStatus, AccSnapshot, AccStore, FlushRecord, Layout}
import graft.sources.Parquet

/** [[Parquet.read]] resolves a source's schema from one footer on the
  * driver; every read must see exactly the schema and rows that
  * Spark's own inference (`spark.read.parquet`) gives, and keep its
  * errors. */
class ParquetSchemaSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def sample(df: DataFrame): Seq[Row] = df.limit(100).collect().toSeq

  private def assertParity(path: String): Unit = {
    val ours = Parquet.read(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, s"$path:\n${ours.schema.treeString}\nvs\n${theirs.schema.treeString}")
    assert(sample(ours) == sample(theirs), path)
  }

  /** Every scale next to the default one (sf0.001, sf0.01, sf0.1): their
    * events files carry the three `ts` encodings EventsSchemaSpec pins. */
  private val sfDirs = Option(new File(sfDir).getParentFile.listFiles()).toSeq.flatten
    .filter(d => d.isDirectory && d.getName.startsWith("sf")).sortBy(_.getName)

  test("every test-data table file reads with Spark's inferred schema and rows") {
    assert(sfDirs.nonEmpty, "no test-data dir found")
    for (d <- sfDirs; f <- d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName))
      assertParity(f.getPath)
  }

  test("a Spark-written AccSnapshot generation keeps its nested schema") {
    val dir = tmp("graft-parquet-snap")
    import spark.implicits._
    val store = AccStore.parquet[Long](spark, dir)
    store.save(AccSnapshot(
      Seq(AccBatchRow("b", 3L, "flushing", 2L, 7L, Some("boom"), 1L, Seq("chunk-1", "chunk-2"), Seq("chunk-0")),
        AccBatchRow("c", 0L, "accumulating", 0L, 8L, None, 0L, Nil, Nil)),
      Seq(AccBatchStatus("a", 1L, "completed", 5L)),
      Seq(FlushRecord("a", 1L, 5L, 9L, 2L, success = true)), 3L))
    val gen = new File(s"$dir/control").listFiles().filter(_.getName.startsWith("gen-")).head
    assertParity(gen.getPath)
    assert(store.load().get.batches.map(_.lastError) == Seq(Some("boom"), None))
  }

  test("a Hive-partitioned directory infers its partition column") {
    val path = Layout.stagePartitioned(spark, sfDir) + "/events_by_type"
    assertParity(path)
    assert(Parquet.read(spark, path).schema.fieldNames.last == "event_type")
  }

  test("a file-sink directory is read through its _spark_metadata log") {
    val src = tmp("graft-parquet-src")
    spark.read.parquet(s"$sfDir/region.parquet").write.mode("overwrite").parquet(src)
    val out = tmp("graft-parquet-sink")
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // a file the sink never committed, first by name, with another schema
    spark.range(3).toDF("stray").coalesce(1).write.parquet(s"$out/stray")
    val stray = new File(s"$out/stray").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(stray.toPath, new File(s"$out/data/a-stray.parquet").toPath)
    assertParity(s"$out/data")
    assert(Parquet.read(spark, s"$out/data").count() == spark.read.parquet(src).count())
  }

  test("the first file by path decides the schema; schema merging and globs defer to Spark") {
    val dir = tmp("graft-parquet-merge")
    spark.range(2).toDF("a").write.parquet(s"$dir/t/k=1")
    spark.range(2).selectExpr("id AS a", "id AS b").write.parquet(s"$dir/t/k=2")
    assertParity(s"$dir/t")
    assert(Parquet.read(spark, s"$dir/t").schema.fieldNames.toSeq == Seq("a", "k"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertParity(s"$dir/t")
      assert(Parquet.read(spark, s"$dir/t").schema.fieldNames.toSeq == Seq("a", "b", "k"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assertParity(s"$dir/t/k=*")
  }

  test("an empty directory fails with Spark's own condition") {
    val dir = tmp("graft-parquet-empty")
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    val ours = intercept[AnalysisException](Parquet.read(spark, dir))
    assert(ours.getCondition == theirs.getCondition && ours.getCondition == "UNABLE_TO_INFER_SCHEMA")
    val missing = s"$dir/missing"
    assert(intercept[AnalysisException](Parquet.read(spark, missing)).getCondition ==
      intercept[AnalysisException](spark.read.parquet(missing)).getCondition)
  }

  test("a part file overwritten with garbage throws") {
    val dir = tmp("graft-parquet-garbage")
    spark.range(10).coalesce(1).write.parquet(s"$dir/t")
    val part = new File(s"$dir/t").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.write(part.toPath, "not a parquet file, just long enough to have a tail".getBytes("UTF-8"))
    new File(part.getParentFile, s".${part.getName}.crc").delete()
    intercept[Exception](Parquet.read(spark, s"$dir/t"))
  }

  test("src/main reads parquet only through sources/Parquet.scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala) else Seq(f).filter(_.getName.endsWith(".scala"))
    val bare = """read\s*\.\s*parquet\s*\(""".r
    val offenders = scala(root).filterNot(_.getPath.endsWith("sources/Parquet.scala")).filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try bare.findFirstIn(src.mkString).isDefined finally src.close()
    }
    assert(offenders.isEmpty, s"bare read.parquet( (a schema-inference job per call) in: ${offenders.mkString(", ")}")
  }
}
