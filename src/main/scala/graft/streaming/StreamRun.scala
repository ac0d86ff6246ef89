package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Runs a streaming frame to completion over the files present at
  * start (`Trigger.AvailableNow`) and returns its result as a lazy
  * parquet read. Every micro-batch lands through the batch parquet
  * writer inside `foreachBatch`, executor-side — no result row passes
  * through driver memory. Append mode appends each batch; complete
  * mode overwrites the directory with the batch's full result (the
  * file sink cannot take complete mode).
  *
  * Each call gets a fresh run directory (data + checkpoint) under one
  * per-JVM root. The returned frames stay readable until the JVM
  * exits, when one shutdown hook deletes the root. A call never
  * restarts from an earlier checkpoint, so `foreachBatch`'s
  * at-least-once replay never happens and the output is exact. */
object StreamRun {
  private lazy val root: Path = {
    val d = Files.createTempDirectory("graft-stream-run")
    sys.addShutdownHook(FileUtils.deleteQuietly(d.toFile))
    d
  }

  /** `statePartitions` caps `spark.sql.shuffle.partitions` while the
    * query starts, which pins its state partition count for the run. */
  def toCompletion(df: DataFrame, mode: OutputMode,
                   statePartitions: Option[Int] = None): DataFrame = {
    val s = df.sparkSession
    val run = Files.createTempDirectory(root, "run")
    // created before start: a source with no data still reads back
    // as an empty frame of df's schema
    val out = Files.createDirectory(run.resolve("data")).toString
    val saveMode = if (mode == OutputMode.Complete) "overwrite" else "append"
    val writer = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(saveMode).parquet(out)
      }
    val key = "spark.sql.shuffle.partitions"
    val orig = s.conf.get(key)
    val q = try {
      statePartitions.foreach(n => s.conf.set(key, math.min(n, orig.toInt).toString))
      writer.start()
    } finally s.conf.set(key, orig)
    q.awaitTermination()
    s.read.schema(df.schema).parquet(out)
  }
}
