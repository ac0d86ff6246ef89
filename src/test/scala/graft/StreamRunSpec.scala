package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.io.Source

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.streaming.StreamRun

class StreamRunSpec extends SparkSpec {

  private val schema = new StructType()
    .add("k", LongType).add("v", DoubleType).add("ts", TimestampType)

  private def columns(t: StructType) = t.fields.map(f => (f.name, f.dataType)).toSeq

  test("an empty source reads back as an empty frame of the stream's schema") {
    val s = spark; import s.implicits._
    val empty = Files.createTempDirectory("graft-streamrun-empty").toString
    val raw = s.readStream.schema(schema).parquet(empty)
    val appended = StreamRun.toCompletion(raw.select($"k", $"ts"), OutputMode.Append)
    assert(columns(appended.schema) == Seq("k" -> LongType, "ts" -> TimestampType))
    assert(appended.count() == 0L)
    val agg = raw.groupBy($"k").agg(sum($"v").as("sv"), count(lit(1)).as("n"))
    val completed = StreamRun.toCompletion(agg, OutputMode.Complete)
    assert(columns(completed.schema) == columns(agg.schema))
    assert(completed.count() == 0L)
  }

  test("complete mode over several micro-batches returns the final result, not their union") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-streamrun-complete").toString
    val staged = Files.createDirectory(Paths.get(dir, "staged"))
    val files = Seq(Seq(1L -> 1.0, 2L -> 2.0), Seq(2L -> 3.0, 3L -> 4.0))
    files.zipWithIndex.foreach { case (rows, i) =>
      val f = s"$dir/f$i"
      rows.toDF("k", "v").withColumn("ts", current_timestamp()).coalesce(1).write.parquet(f)
      val src = new File(f).listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = staged.resolve(f"part-$i%02d.parquet")
      Files.copy(src.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val batchesWithData = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batchesWithData.incrementAndGet()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    val got = try {
      val agg = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(staged.toString)
        .groupBy($"k").agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      val out = StreamRun.toCompletion(agg, OutputMode.Complete)
      // progress events reach listeners asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (batchesWithData.get < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    } finally s.streams.removeListener(listener)
    assert(batchesWithData.get >= 2, "the stream ran in one micro-batch")
    assert(got == Set((1L, 1.0, 1L), (2L, 5.0, 2L), (3L, 4.0, 1L)))
  }

  test("frames returned by two runs both stay readable after the second run") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-streamrun-two").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").withColumn("ts", current_timestamp())
      .write.parquet(s"$dir/a")
    Seq((3L, 3.0)).toDF("k", "v").withColumn("ts", current_timestamp())
      .write.parquet(s"$dir/b")
    def run(sub: String) = StreamRun.toCompletion(
      s.readStream.schema(schema).parquet(s"$dir/$sub").select($"k"), OutputMode.Append)
    val first = run("a")
    val second = run("b")
    assert(first.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(second.as[Long].collect().toSeq == Seq(3L))
  }

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
    else Seq(f).filter(_.getName.endsWith(".scala"))

  private def occurrences(f: File, needle: String): Int = {
    val src = Source.fromFile(f, "UTF-8")
    try java.util.regex.Pattern.quote(needle).r.findAllMatchIn(src.mkString).size
    finally src.close()
  }

  test("src/main runs streams only through StreamRun and the three index writers") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val memory = sources(root).filter(occurrences(_, "format(\"memory\")") > 0)
    assert(memory.isEmpty, s"memory sink (collects every row on the driver) in: ${memory.mkString(", ")}")
    val writeStreams = sources(root).map(f => f -> occurrences(f, "writeStream")).filter(_._2 > 0)
      .map { case (f, n) => f.getPath.stripPrefix(root.getPath + "/") -> n }.toMap
    // runIvfIngest, runBm25Ingest and runTakedown append to bucketed
    // catalog tables, not to a result
    assert(writeStreams == Map("graft/streaming/StreamRun.scala" -> 1,
      "graft/streaming/StreamOps.scala" -> 3),
      s"writeStream outside StreamRun.toCompletion: $writeStreams")
  }
}
