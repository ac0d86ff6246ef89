package graft.sources

import java.io.Closeable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet I/O without the jobs Spark launches around it.
  *
  * Given no schema, `spark.read.parquet(path)` infers one by launching
  * a one-task Spark job that reads a single footer — on every call,
  * even for a single file. [[read]] reads that same footer on the
  * driver and passes the schema to Spark, so the read plans without a
  * job. Partition discovery, filter pushdown and the scan stay
  * Spark's; a corrupt or unreadable footer still throws.
  *
  * A handful of rows needs no job at all. [[writeRows]] and
  * [[readRows]] move a small typed row set between the driver and one
  * directory through Spark's own `ParquetFileFormat` writer and reader,
  * so the files and schemas are exactly what Spark writes and reads. */
object Parquet {
  private val CommonMetadata = ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  private val Metadata = ParquetFileWriter.PARQUET_METADATA_FILE
  private val Summaries = Set(CommonMetadata, Metadata)

  def read(s: SparkSession, path: String): DataFrame =
    footerSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))

  /** Writes `rows` on the driver as one parquet file under `dir`,
    * encoded by `A`'s encoder. Nothing commits the file: the caller
    * writes into a scratch directory and publishes it (a rename). */
  def writeRows[A: Encoder](s: SparkSession, dir: String, rows: Seq[A]): Unit = {
    val enc = encoderFor[A]
    val job = Job.getInstance(s.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(s, job, Map.empty, enc.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID, TaskType.MAP, 0), 0))
    val file = new Path(dir, s"part-00000${factory.getFileExtension(ctx)}")
    val out = factory.newInstance(file.toString, enc.schema, ctx)
    val toRow = enc.createSerializer()
    try rows.foreach(r => out.write(toRow(r))) finally out.close()
  }

  /** Every row of the parquet files under `dir`, read on the driver and
    * decoded by `A`'s encoder; hidden files (`_SUCCESS`, `.crc`) are
    * skipped as Spark's file index skips them. A directory with no data
    * file throws, as Spark's read of it does. */
  def readRows[A: Encoder](s: SparkSession, dir: String): Seq[A] = {
    val enc = encoderFor[A]
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(dir)
    val files = leaves(root.getFileSystem(conf), root).filterNot(f => Summaries(f.getPath.getName))
    if (files.isEmpty) throw new java.io.FileNotFoundException(s"no parquet file under $dir")
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(s, enc.schema, new StructType,
      enc.schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val fromRow = enc.resolveAndBind().createDeserializer()
    files.sortBy(_.getPath.toString).flatMap { f =>
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0, f.getLen,
        Array.empty, f.getModificationTime, f.getLen))
      try rows.map(fromRow).toVector
      finally rows match { case c: Closeable => c.close(); case _ => () }
    }
  }

  /** The schema Spark's inference would return with `mergeSchema` off:
    * that of `_common_metadata`, else `_metadata`, else the first data
    * file by path. None defers to Spark: schema merging, a glob, a
    * file-sink directory (its `_spark_metadata` log, not the listing,
    * names the files), a missing path or no file to read — the last
    * two keep Spark's own errors. */
  private def footerSchema(s: SparkSession, path: String): Option[StructType] = {
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (s.sessionState.conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)) ||
        !fs.exists(root) || fs.exists(new Path(root, "_spark_metadata"))) None
    else {
      val files = leaves(fs, root).sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named(CommonMetadata).orElse(named(Metadata))
        .orElse(files.find(f => !Summaries(f.getPath.getName)))
        .map { f =>
          val md = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, md),
            new ParquetToSparkSchemaConverter(s.sessionState.conf))
        }
    }
  }

  /** Leaf files under `p` (or `p` itself), hidden ones skipped by
    * `InMemoryFileIndex`'s rule; Hive `k=v` directories are entered. */
  private def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.filterNot(f => hidden(f.getPath.getName)).flatMap { f =>
      if (f.isDirectory) leaves(fs, f.getPath) else Seq(f)
    }

  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith(CommonMetadata) || name.startsWith(Metadata))
}
