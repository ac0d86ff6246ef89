package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.functions.Agg.{countIf, dsum, dsumSql}
import graft.sources.Tables
import graft.streaming.StreamRun

/** §2.11 Landing-format sources — CSV and JSON-lines ingestion.
  *
  * A batch engine's tables rarely start life as parquet: crawls and
  * event logs land as CSV / JSONL. The engine's readers
  * ([[Tables.readCsv]] / [[Tables.readJsonLines]]) are
  * schema-mandatory (inference double-reads and guesses — both
  * unacceptable at 100 TB) and both formats are line-splittable, so a
  * 1 TB landing file parallelizes across tasks like parquet does,
  * minus the column pruning.
  *
  * [[sourceFormats]] is the roundtrip PROOF, not just a reader smoke
  * test: events are serialized to both text formats once, read back
  * through the engine's readers, and aggregated per (format, type)
  * with exact sums and timestamp extrema. The DuckDB oracle computes
  * the same aggregate from the original PARQUET — hash-equality holds
  * only if text serialization round-trips every long, double
  * (shortest-roundtrip rendering on both write paths) and µs
  * timestamp bit-exactly through parse → aggregate.
  */
object SourceFormats {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Staged text copies of events, written once per dataset (the
    * production analog: the landing files simply EXIST; nothing
    * re-serializes per query). Timestamps ride as µs longs — the
    * lossless wire form of a TIMESTAMP(NANOS)-floored-to-µs column. */
  private def staged(s: SparkSession, dir: String): String =
    graft.sources.Memo("sourceformats.landing", dir, s) {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft-landing").toString
      val ev = Tables.events(s, dir).select($"event_id",
        unix_micros($"ts").as("us"), $"user_id", $"event_type", $"value")
      ev.write.option("header", "true").mode("overwrite").csv(s"$out/events_csv")
      ev.write.mode("overwrite").json(s"$out/events_jsonl")
      out
    }

  /** Per-(format, event_type) rollup of both text-format reads:
    * row count, exact value sum, µs-timestamp extrema. */
  def sourceFormats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = staged(s, dir)
    val csv = Tables.readCsv(s, s"$root/events_csv", eventSchema)
      .withColumn("format", lit("csv"))
    val jsonl = Tables.readJsonLines(s, s"$root/events_jsonl", eventSchema)
      .withColumn("format", lit("jsonl"))
    csv.unionByName(jsonl)
      .groupBy($"format", $"event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        dsum($"value").as("sum_value"),
        min($"us").as("min_us"),
        max($"us").as("max_us"))
      .orderBy($"format", $"event_type")
  }

  val sourceFormatsSql: String =
    s"""WITH agg AS (
       |  SELECT event_type, count(*) AS n_rows,
       |    ${dsumSql("value")} AS sum_value,
       |    min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
       |  FROM events GROUP BY event_type
       |)
       |SELECT f.format, a.event_type, a.n_rows, a.sum_value, a.min_us, a.max_us
       |FROM (VALUES ('csv'), ('jsonl')) f(format)
       |CROSS JOIN agg a
       |ORDER BY f.format, a.event_type""".stripMargin

  /** Generation split instant for the schema-evolution staging. */
  val evolutionCutoff = "2024-01-16 00:00:00"

  /** Two parquet "generations" under one table root: generation 1
    * (rows before the cutoff) WITHOUT the `value` column — the schema
    * as it shipped — and generation 2 with it. The production reality
    * of any long-lived landing table: columns get added; old files
    * never get rewritten. */
  private def evoStaged(s: SparkSession, dir: String): String =
    graft.sources.Memo("sourceformats.evolution", dir, s) {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft-evo").toString
      val cut = lit(evolutionCutoff).cast("timestamp")
      val ev = Tables.events(s, dir)
        .select($"event_id", unix_micros($"ts").as("us"), $"user_id",
          $"event_type", $"value", $"ts")
      ev.filter($"ts" < cut).drop("value", "ts")
        .write.mode("overwrite").parquet(s"$out/t/gen=1")
      ev.filter($"ts" >= cut).drop("ts")
        .write.mode("overwrite").parquet(s"$out/t/gen=2")
      out
    }

  /** §2.11 — schema-evolution read: both generations scanned through
    * ONE `mergeSchema` read — generation-1 rows surface `value` as
    * null, nothing is rewritten, and the aggregate is oracle-checked
    * against the original single-schema table (null-ness must land on
    * exactly the pre-cutoff rows). mergeSchema costs a footer read
    * per file at planning — acceptable nightly, which is why the
    * readers don't default to it. */
  def sourceEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = evoStaged(s, dir)
    s.read.option("mergeSchema", "true").parquet(s"$root/t")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        countIf($"value".isNotNull).as("n_with_value"),
        dsum(coalesce($"value", lit(0.0))).as("sum_value"),
        min($"us").as("min_us"))
      .orderBy($"event_type")
  }

  val sourceEvolutionSql: String = {
    import graft.functions.Agg.countIfSql
    s"""SELECT event_type, count(*) AS n_rows,
       |  ${countIfSql(s"ts >= TIMESTAMP '$evolutionCutoff'")} AS n_with_value,
       |  ${dsumSql(s"CASE WHEN ts >= TIMESTAMP '$evolutionCutoff' THEN value ELSE 0.0 END")} AS sum_value,
       |  min(epoch_us(ts)) AS min_us
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------------------
  // source_bad_records — corrupt-line quarantine on ingest
  // ------------------------------------------------------------------

  /** Every event with id ≡ 0 (mod [[badRecordMod]]) is serialized as
    * a BROKEN JSON line in the staged landing file — a deterministic
    * corruption model, so the quarantine counts are oracle-checkable
    * from the clean parquet. */
  val badRecordMod = 97L

  private def stagedBad(s: SparkSession, dir: String): String =
    graft.sources.Memo("sourceformats.bad_landing", dir, s) {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft-badlanding").toString
      Tables.events(s, dir)
        .select($"event_id", unix_micros($"ts").as("us"), $"user_id",
          $"event_type", $"value")
        .select(when($"event_id" % badRecordMod === 0L,
            concat(lit("{\"event_id\":"), $"event_id", lit(",CORRUPT")))
          .otherwise(to_json(struct($"event_id", $"us", $"user_id",
            $"event_type", $"value"))).as("value"))
        .write.mode("overwrite").text(s"$out/events_jsonl")
      out
    }

  /** §2.11 — corrupt-record quarantine: the landing JSONL contains
    * deterministically broken lines (1 in [[badRecordMod]]); the read
    * runs PERMISSIVE with a `_corrupt_record` column so bad lines
    * land in quarantine instead of failing the job or silently
    * vanishing (FAILFAST kills a 100 TB ingest for one bad shard;
    * DROPMALFORMED loses data with no audit trail). Output: per-type
    * good-row counts + exact value sums, plus the quarantine row —
    * the reconciliation a production ingest publishes next to every
    * load. Oracle recomputes both from the clean parquet and the
    * corruption rule. */
  /** Quarantine schema + PERMISSIVE parser options and the
    * reconciliation rollup, shared VERBATIM by the batch and
    * streaming reads — the "shares the oracle" guarantee depends on
    * the two paths not diverging. */
  private val quarantineSchema = eventSchema.add("_corrupt_record", StringType)

  private def quarantineReconcile(parsed: DataFrame): DataFrame = {
    import parsed.sparkSession.implicits._
    parsed
      .withColumn("status",
        when($"_corrupt_record".isNotNull, "corrupt").otherwise("ok"))
      .groupBy($"status", $"event_type")
      .agg(count(lit(1)).as("n_rows"), dsum($"value").as("sum_value"))
  }

  def sourceBadRecords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = stagedBad(s, dir)
    quarantineReconcile(
      s.read.schema(quarantineSchema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$root/events_jsonl"))
      .orderBy($"status", $"event_type")
  }

  val sourceBadRecordsSql: String =
    s"""WITH ok AS (
       |  SELECT 'ok' AS status, event_type, count(*) AS n_rows,
       |    ${dsumSql("value")} AS sum_value
       |  FROM events WHERE event_id % $badRecordMod <> 0
       |  GROUP BY 2),
       |bad AS (
       |  SELECT 'corrupt' AS status, CAST(NULL AS VARCHAR) AS event_type,
       |    count(*) AS n_rows, CAST(NULL AS DOUBLE) AS sum_value
       |  FROM events WHERE event_id % $badRecordMod = 0
       |  -- no quarantine row at all when nothing landed (the engine's
       |  -- grouped reconcile emits none on an empty source)
       |  HAVING count(*) > 0)
       |SELECT * FROM ok UNION ALL SELECT * FROM bad
       |ORDER BY status, event_type""".stripMargin

  /** §2.11 — the same corrupt-line quarantine as a CONTINUOUS ingest:
    * `readStream` over the landing directory in PERMISSIVE mode —
    * broken lines flow to the quarantine column inside each
    * micro-batch (row-local, stateless, no watermark needed), good
    * rows flow through typed. Run to completion the reconciliation
    * equals the batch read's, so this shares `source_bad_records`'
    * oracle verbatim — the landing-zone tail a production pipeline
    * actually runs (files arrive continuously; FAILFAST on one bad
    * shard would kill the whole tail). */
  def streamBadRecords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = stagedBad(s, dir)
    // the reconciliation aggregate runs INSIDE the stream (complete
    // mode): each micro-batch rewrites |types|+1 rows, not one row
    // per event. Shares quarantineReconcile with the batch read.
    val agg = quarantineReconcile(
      s.readStream.schema(quarantineSchema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$root/events_jsonl"))
    StreamRun.toCompletion(agg, OutputMode.Complete)
      .orderBy($"status", $"event_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_formats"   -> (sourceFormats _),
    "source_evolution" -> (sourceEvolution _),
    "source_bad_records" -> (sourceBadRecords _),
    "stream_bad_records" -> (streamBadRecords _)
  )

  def oracles: Map[String, String] = Map(
    "source_formats"   -> sourceFormatsSql,
    "source_evolution" -> sourceEvolutionSql,
    "source_bad_records" -> sourceBadRecordsSql,
    // stateless stream run to completion == the batch read: shares
    // the quarantine reconciliation oracle verbatim
    "stream_bad_records" -> sourceBadRecordsSql
  )
}
