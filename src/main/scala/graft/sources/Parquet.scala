package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads without a schema-inference job.
  *
  * Given no schema, `spark.read.parquet(path)` infers one by launching
  * a one-task Spark job that reads a single footer — on every call,
  * even for a single file. [[read]] reads that same footer on the
  * driver and passes the schema to Spark, so the read plans without a
  * job. Partition discovery, filter pushdown and the scan stay
  * Spark's; a corrupt or unreadable footer still throws. */
object Parquet {
  private val CommonMetadata = ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  private val Metadata = ParquetFileWriter.PARQUET_METADATA_FILE
  private val Summaries = Set(CommonMetadata, Metadata)

  def read(s: SparkSession, path: String): DataFrame =
    footerSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))

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
