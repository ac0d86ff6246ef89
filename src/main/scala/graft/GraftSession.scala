package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExpressions
import graft.sources.{GraftLocalFileSystem, GraftLocalFs}

/** Session factory with the engine's tuned defaults.
  *
  * Settings chosen for the target deployment (many-executor cluster,
  * ~100 TB scans) but applied identically in local mode:
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, dynamic broadcast conversion.
  *   - shuffle.partitions sized to cores locally (a cluster deploy
  *     overrides via spark-submit; AQE coalesces either way).
  *   - UTC session time zone so results are environment-independent.
  *   - `file://` served by [[graft.sources.LocalFs]]: without the
  *     native-hadoop library, Hadoop's own local file system launches
  *     a `chmod` process per file create or mkdir and four `readlink`
  *     processes per `FileContext.rename`, and state-store commits,
  *     checkpoint logs and parquet commits wait on them. LocalFs keeps
  *     its checksums, permissions and atomic rename without forking.
  */
object GraftSession {

  /** Per-JVM warehouse (managed/bucketed tables): a stable path
    * collides with leftovers from previous runs on saveAsTable. */
  private lazy val warehouseDir: String =
    s"${sys.props("java.io.tmpdir")}/graft-warehouse-${java.util.UUID.randomUUID()}"

  /** Apply graft's defaults to an arbitrary builder. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(GraftExpressions.install)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Exchange reuse ON (the default) — a perf setting only. The
      // two-phase rank layouts (graft.functions.Ranks) once DEPENDED
      // on it for correctness (physical spark_partition_id consistency
      // across branches); they now derive buckets from deterministic
      // sampled boundaries, a pure row function, so no result depends
      // on whether an exchange is reused.
      .config("spark.sql.exchange.reuse", "true")
      .config("spark.sql.warehouse.dir", warehouseDir)
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
