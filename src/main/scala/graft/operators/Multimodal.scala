package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** A binary media asset with typed metadata — the row shape a
  * multimodal training pipeline carries (payload stays an opaque
  * binary column; metadata is queryable). */
final case class MediaAsset(
  asset_id: Long, mime: String, byte_size: Long, payload: Array[Byte])

/** One sampled frame/window from an asset. The decode step is a
  * deterministic STUB (no media codecs in this container) — the
  * Spark-side plumbing (typed Dataset, per-partition batching,
  * schema, output shape) is the real, tested part. */
final case class Frame(
  asset_id: Long, frame_idx: Long, offset: Long,
  width: Int, height: Int, checksum: Long)

/** One stub-inference output: 4 stride-summed byte statistics
  * standing in for a model embedding. */
final case class InferOut(
  asset_id: Long, n_bytes: Long, e0: Double, e1: Double, e2: Double, e3: Double)

/** §2.7 Multimodal columns.
  *
  * Media payloads are opaque `binary` columns + typed metadata —
  * Spark's parquet binary type maps 1:1 to how image/audio bytes
  * ship at 100 TB (payload never parsed by Catalyst, metadata fully
  * prunable: a query on `mime`/`byte_size` never reads payload bytes
  * thanks to parquet column pruning).
  *
  * Payloads here are deterministic fakes built from document text
  * (magic header + UTF-8 bytes) so every stage is oracle-checkable.
  * The decode/frame-sample stage runs as typed `mapPartitions` — the
  * Scala analog of `mapInPandas` batch UDFs: per-partition iterator,
  * codec state initialized once per partition, no driver round-trip.
  */
object Multimodal {

  /** magic-number → mime, cycled by asset id (deterministic fake). */
  private val magics = Seq(
    ("89504e47", "image/png"),
    ("ffd8ffe0", "image/jpeg"),
    ("52494646", "audio/wav"))

  /** Frame sampling geometry: one frame per `frameStride` payload
    * bytes, each `frameSize` bytes long. */
  val frameSize = 64
  val frameStride = 48

  /** doc_id + mime + raw payload (magic header ++ text bytes) over
    * ANY documents-shaped frame — shared by the batch readers and the
    * streaming ingest gate (every expression is row-local). */
  private[graft] def withPayloadOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val magicExpr = magics.zipWithIndex.foldRight(lit(null): org.apache.spark.sql.Column) {
      case (((hexs, _), i), alt) => when(pmod($"doc_id", lit(magics.size)) === i, unhex(lit(hexs))).otherwise(alt)
    }
    val mimeExpr = magics.zipWithIndex.foldRight(lit("application/octet-stream")) {
      case (((_, mime), i), alt) => when(pmod($"doc_id", lit(magics.size)) === i, lit(mime)).otherwise(alt)
    }
    docs
      .withColumn("payload", concat(magicExpr, $"text".cast("binary")))
      .withColumn("mime", mimeExpr)
  }

  private def withPayload(s: SparkSession, dir: String): DataFrame =
    withPayloadOf(Tables.documents(s, dir))

  /** [[assets]] over ANY documents-shaped frame (streaming included). */
  private[graft] def assetsOf(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    withPayloadOf(docs)
      .select($"doc_id".as("asset_id"), $"mime",
        length($"payload").cast("long").as("byte_size"), $"payload")
      .as[MediaAsset]
  }

  /** Manifest: typed metadata columns (payload digest, not bytes).
    * Sorted BEFORE deriving the digest: the range-sort's sampling
    * pass re-executes its child, so keeping md5 above the sort
    * boundary computes it exactly once. */
  def mmManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPayload(s, dir)
      .select($"doc_id".as("asset_id"), $"mime", $"payload")
      .orderBy($"asset_id")
      .select(
        $"asset_id",
        $"mime",
        lower(hex(expr("substring(payload, 1, 4)"))).as("magic_hex"),
        length($"payload").cast("long").as("byte_size"),
        // digest, not raw bytes: BLOB columns aren't hashable by the
        // oracle compare (and DuckDB only digests VARCHAR), so hash
        // the hex encoding; the raw payload ships via assets()
        md5(hex($"payload")).as("payload_md5"))
  }

  val mmManifestSql: String = {
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    val mimeCase = magics.zipWithIndex.map { case ((_, mime), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN '$mime'"
    }.mkString("CASE ", " ", " ELSE 'application/octet-stream' END")
    s"""WITH m AS (
       |  SELECT doc_id, $magicCase || encode(text) AS payload,
       |    $mimeCase AS mime
       |  FROM documents)
       |SELECT doc_id AS asset_id, mime,
       |  lower(substring(hex(payload), 1, 8)) AS magic_hex,
       |  octet_length(payload) AS byte_size, md5(hex(payload)) AS payload_md5
       |FROM m ORDER BY asset_id""".stripMargin
  }

  /** Caption gates for [[mmCaptionPairs]]. */
  val captionMinTokens = 3L
  val captionMaxTokens = 256L
  val captionMinBytes = 16L

  /** §2.7 — image-text PAIR construction (the LAION-style curation
    * step): each image asset joined to its caption document, gated by
    * the TRAINED quality model's verdict (45p — the modern pipeline
    * gates captions with a learned scorer, not a heuristic) plus
    * caption-length and asset-size floors. Emits the pair manifest a
    * contrastive trainer consumes, with the gate verdict kept as a
    * column so the drop reasons stay auditable. All row-local
    * projections over doc-keyed 1:1 joins — payload bytes never load
    * (metadata-only scan), captions score against broadcast-literal
    * weights; at 100 TB this is a metadata join, not a media job. */
  def mmCaptionPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = withPayload(s, dir)
      .select($"doc_id".as("asset_id"), $"mime",
        length($"payload").cast("long").as("byte_size"))
      .filter($"mime".startsWith("image/"))
    val caps = Tables.documents(s, dir)
      .select($"doc_id".as("asset_id"),
        size(expr(TextAnalysis.toksExpr)).cast("long").as("n_caption_tokens"))
    val sc = QualityModel.scoreDocs(s, dir, Tables.documents(s, dir))
      .select($"doc_id".as("asset_id"), $"score", $"keep")
    a.join(caps, "asset_id").join(sc, "asset_id")
      .select($"asset_id", $"mime", $"byte_size", $"n_caption_tokens", $"score",
        when($"keep" === 1L &&
          $"n_caption_tokens" >= captionMinTokens &&
          $"n_caption_tokens" <= captionMaxTokens &&
          $"byte_size" >= captionMinBytes, lit(1L)).otherwise(lit(0L))
          .as("keep_pair"))
      .orderBy($"asset_id")
  }

  val mmCaptionPairsSql: String = {
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    val mimeCase = magics.zipWithIndex.map { case ((_, mime), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN '$mime'"
    }.mkString("CASE ", " ", " ELSE 'application/octet-stream' END")
    val toks = TextAnalysis.duckToks
    s"""WITH sc0 AS MATERIALIZED (${QualityModel.qualityScoreSql}),
       |m AS (
       |  SELECT doc_id, $magicCase || encode(text) AS payload,
       |    $mimeCase AS mime
       |  FROM documents),
       |a AS (
       |  SELECT doc_id AS asset_id, mime, octet_length(payload) AS byte_size
       |  FROM m WHERE mime LIKE 'image/%'),
       |c AS (
       |  SELECT doc_id AS asset_id, CAST(len($toks) AS BIGINT) AS n_caption_tokens
       |  FROM documents)
       |SELECT a.asset_id, a.mime, a.byte_size, c.n_caption_tokens, sc0.score,
       |  CASE WHEN sc0.keep = 1
       |        AND c.n_caption_tokens >= $captionMinTokens
       |        AND c.n_caption_tokens <= $captionMaxTokens
       |        AND a.byte_size >= $captionMinBytes
       |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep_pair
       |FROM a JOIN c USING (asset_id) JOIN sc0 ON sc0.doc_id = a.asset_id
       |ORDER BY a.asset_id""".stripMargin
  }

  /** Typed manifest for the decode stage. */
  def assets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    withPayload(s, dir)
      .select($"doc_id".as("asset_id"), $"mime",
        length($"payload").cast("long").as("byte_size"), $"payload")
      .as[MediaAsset]
  }

  /** STUBBED per-frame "decode": a real pipeline would hand the bytes
    * to a codec here; the stub derives deterministic fake dimensions
    * and a rolling checksum so outputs are assertable. */
  private[graft] def decodeFrame(a: MediaAsset, idx: Long, off: Long): Frame = {
    val end = math.min(off + frameSize, a.payload.length).toInt
    var sum = 0L
    var i = off.toInt
    while (i < end) { sum = (sum * 31 + (a.payload(i) & 0xff)) & 0x7fffffffffffffffL; i += 1 }
    Frame(a.asset_id, idx, off,
      width = 16 + (sum % 16).toInt, height = 16 + ((sum >> 8) % 16).toInt,
      checksum = sum)
  }

  /** Frame/window sampling over the binary column: one pass per
    * partition, codec-style (iterator in, iterator out — the
    * mapInPandas batch shape). */
  def frameExtract(s: SparkSession, dir: String): Dataset[Frame] = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      it.flatMap { a =>
        val n = math.max(1L, (a.byte_size + frameStride - 1) / frameStride)
        (0L until n).iterator.map(i => decodeFrame(a, i, i * frameStride))
      }
    }
  }

  def mmFrameExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    frameExtract(s, dir).toDF().orderBy($"asset_id", $"frame_idx")
  }

  /** Hard oracle for the frame extraction: the stub decode is
    * deterministic integer arithmetic, so DuckDB can replicate it —
    * bytes out of the hex encoding, per-frame slices, and the rolling
    * `sum*31 + byte` checksum as a `list_reduce` in HUGEINT with the
    * 63-bit mask as `% 2^63` (equivalent to the Long `& 0x7fff…`
    * because the mask keeps exactly the low 63 bits). */
  val mmFrameExtractSql: String = {
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    s"""WITH m AS (
       |  SELECT doc_id AS asset_id, $magicCase || encode(text) AS payload
       |  FROM documents),
       |b AS (
       |  SELECT asset_id, hex(payload) AS h, octet_length(payload) AS len FROM m),
       |bl AS (
       |  SELECT asset_id, len,
       |    list_transform(range(1, len + 1), i ->
       |      (strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1)) - 1) * 16 +
       |      (strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1)) - 1)) AS bytes
       |  FROM b),
       |f AS (
       |  SELECT asset_id, len, bytes,
       |    unnest(range(0, greatest(1, (len + ${frameStride - 1}) // $frameStride))) AS frame_idx
       |  FROM bl),
       |c AS (
       |  SELECT asset_id, frame_idx, frame_idx * $frameStride AS "offset",
       |    CAST(list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        list_transform(list_slice(bytes, CAST(frame_idx*$frameStride + 1 AS BIGINT),
       |                                  CAST(least(frame_idx*$frameStride + $frameSize, len) AS BIGINT)),
       |          x -> CAST(x AS HUGEINT))),
       |      (acc, x) -> (acc * 31 + x) % 9223372036854775808) AS BIGINT) AS checksum
       |  FROM f)
       |SELECT asset_id, frame_idx, "offset",
       |  CAST(16 + checksum % 16 AS INT) AS width,
       |  CAST(16 + (checksum >> 8) % 16 AS INT) AS height,
       |  checksum
       |FROM c ORDER BY asset_id, frame_idx""".stripMargin
  }

  /** Thumbnail stride: keep every `thumbStride`-th payload byte. */
  val thumbStride = 8

  /** The "resize" stage of the media pipeline, stubbed as
    * nearest-neighbor byte decimation: every [[thumbStride]]-th
    * payload byte survives (a real pipeline hands the bytes to an
    * image library here — the Spark-side shape is identical: row-local
    * transform of one binary column into a smaller one, metadata
    * updated, original never mutated). Emits the thumb digest rather
    * than raw bytes (BLOBs aren't hashable by the oracle compare).
    * Pure codegen'd column arithmetic over the hex encoding — no
    * shuffle, no UDF. */
  def mmThumbnail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPayload(s, dir)
      .select($"doc_id".as("asset_id"), $"mime", $"payload")
      .withColumn("h", hex($"payload"))
      .withColumn("thumb_hex", expr(
        s"""array_join(transform(
           |  sequence(0, CAST(ceil(length(h) / ${2 * thumbStride}.0) AS INT) - 1),
           |  i -> substring(h, i * ${2 * thumbStride} + 1, 2)), '')""".stripMargin))
      .select($"asset_id", $"mime",
        (length($"h") / 2).cast("long").as("byte_size"),
        (length($"thumb_hex") / 2).cast("long").as("thumb_size"),
        md5($"thumb_hex".cast("binary")).as("thumb_md5"))
      .orderBy($"asset_id")
  }

  val mmThumbnailSql: String = {
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    val mimeCase = magics.zipWithIndex.map { case ((_, mime), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN '$mime'"
    }.mkString("CASE ", " ", " ELSE 'application/octet-stream' END")
    s"""WITH m AS (
       |  SELECT doc_id AS asset_id, $mimeCase AS mime,
       |    hex($magicCase || encode(text)) AS h
       |  FROM documents),
       |t AS (
       |  SELECT asset_id, mime, h,
       |    list_aggregate(list_transform(
       |      range(0, CAST(ceil(length(h) / ${2 * thumbStride}.0) AS BIGINT)),
       |      i -> substr(h, CAST(i * ${2 * thumbStride} + 1 AS INT), 2)),
       |      'string_agg', '') AS thumb_hex
       |  FROM m)
       |SELECT asset_id, mime,
       |  length(h) // 2 AS byte_size,
       |  length(thumb_hex) // 2 AS thumb_size,
       |  md5(thumb_hex) AS thumb_md5
       |FROM t ORDER BY asset_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // mm_batch_infer — batched model-inference plumbing
  // -------------------------------------------------------------------

  /** Inference micro-batch size (a real pipeline sizes this to GPU
    * memory). */
  val inferBatchSize = 32

  /** §2.7 #37c — the batched-inference execution shape: assets
    * grouped into fixed-size micro-batches per partition
    * (`iterator.grouped`), one stub "forward pass" per BATCH — the
    * exact structure of GPU inference over `mapPartitions` /
    * `mapInPandas`: model state initialized once per partition,
    * amortized over batches, no driver round-trips. The stub "model"
    * embeds each payload as 4 stride-summed byte statistics — a pure
    * per-asset function, so results are independent of batch
    * composition AND partitioning (exactly the property a real
    * inference stage must hold), which is what makes the hard DuckDB
    * oracle possible. MultimodalSpec asserts the batching itself:
    * every micro-batch is full except possibly the last per
    * partition. */
  def mmBatchInfer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      // per-partition "model init" happens here (stub: nothing to load)
      it.grouped(inferBatchSize).flatMap { batch =>
        // one stub forward pass over the whole batch
        batch.iterator.map(inferOne)
      }
    }.toDF().orderBy($"asset_id")
  }

  /** The stub embedding: e_k = Σ bytes[i where i≡k (mod 4)] /
    * (255·count_k) — deterministic, SQL-replicable arithmetic. */
  private[graft] def inferOne(a: MediaAsset): InferOut = {
    val sums = new Array[Long](4)
    val cnts = new Array[Long](4)
    var i = 0
    while (i < a.payload.length) {
      sums(i % 4) += (a.payload(i) & 0xff); cnts(i % 4) += 1; i += 1
    }
    def e(k: Int): Double =
      if (cnts(k) == 0) 0.0 else sums(k).toDouble / (255.0 * cnts(k))
    InferOut(a.asset_id, a.payload.length.toLong, e(0), e(1), e(2), e(3))
  }

  /** Batch-size observability for the spec (not a query): the sizes
    * of every inference micro-batch, tagged by partition. */
  private[graft] def inferBatchSizes(s: SparkSession, dir: String): Seq[(Int, Int)] = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.grouped(inferBatchSize).map(b => (pid, b.size))
    }.collect().toSeq
  }

  val mmBatchInferSql: String = {
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    def cnt(k: Int) = s"(CASE WHEN len > $k THEN (len - 1 - $k) // 4 + 1 ELSE 0 END)"
    def e(k: Int) =
      s"""CASE WHEN ${cnt(k)} = 0 THEN CAST(0.0 AS DOUBLE)
         |  ELSE CAST(list_sum(list_transform(
         |    list_filter(range(1, len + 1), i -> (i - 1) % 4 = $k),
         |    i -> (strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1)) - 1) * 16 +
         |         (strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1)) - 1))) AS DOUBLE)
         |    / (255.0 * ${cnt(k)}) END AS e$k""".stripMargin
    s"""WITH m AS (
       |  SELECT doc_id AS asset_id, $magicCase || encode(text) AS payload
       |  FROM documents),
       |b AS (
       |  SELECT asset_id, hex(payload) AS h,
       |    CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       |    octet_length(payload) AS len
       |  FROM m)
       |SELECT asset_id, n_bytes,
       |  ${e(0)},
       |  ${e(1)},
       |  ${e(2)},
       |  ${e(3)}
       |FROM b ORDER BY asset_id""".stripMargin
  }

  /** §2.7 — exact media dedup by content digest: the multimodal
    * sibling of [[Pipeline]]'s text dedup — identical image/audio
    * payloads crawled from N URLs should store once. The 100 TB
    * property is WHAT moves: the digest is computed row-local on the
    * scan and only (32-char digest, id, size) ride the shuffle — the
    * payload bytes never leave their input partition. `mime` rides as
    * a group key (a digest collision across mimes is impossible here
    * since mime is a payload function, and grouping on both keeps the
    * check honest). bytes_reclaimed is what a storage planner bills:
    * (copies−1)·size. */
  def mmDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPayload(s, dir)
      .select($"doc_id", $"mime",
        md5(hex($"payload")).as("payload_md5"),
        length($"payload").cast("long").as("byte_size"))
      .groupBy($"payload_md5", $"mime")
      .agg(
        min($"doc_id").as("canonical_id"),
        count(lit(1)).as("n_copies"),
        max($"byte_size").as("byte_size"))
      .withColumn("bytes_reclaimed", ($"n_copies" - 1L) * $"byte_size")
      .select($"payload_md5", $"mime", $"canonical_id", $"n_copies",
        $"byte_size", $"bytes_reclaimed")
      .orderBy($"canonical_id")
  }

  val mmDedupSql: String = {
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    val mimeCase = magics.zipWithIndex.map { case ((_, mime), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN '$mime'"
    }.mkString("CASE ", " ", " ELSE 'application/octet-stream' END")
    s"""WITH m AS (
       |  SELECT doc_id, $magicCase || encode(text) AS payload,
       |    $mimeCase AS mime
       |  FROM documents)
       |SELECT md5(hex(payload)) AS payload_md5, mime,
       |  min(doc_id) AS canonical_id, count(*) AS n_copies,
       |  max(octet_length(payload)) AS byte_size,
       |  (count(*) - 1) * max(octet_length(payload)) AS bytes_reclaimed
       |FROM m GROUP BY 1, 2 ORDER BY canonical_id""".stripMargin
  }

  /** Target shard size: bytes of the virtual concatenated payload
    * stream per shard. 64 KiB at test scale; a deploy sets ~1 GiB. */
  val shardBytes = 64 * 1024L

  /** §2.7 — webdataset-style shard index: every asset assigned to a
    * fixed-size training shard with its offset — THE storage layout
    * multimodal loaders stream (sequential reads of ~1 GiB shard
    * files, no per-asset object-store round trips). Assets pack in
    * asset_id order into a virtual byte stream; an asset belongs to
    * the shard containing its START byte (boundary drift bounded by
    * one max payload — the classic tar-shard convention). The global
    * byte position is the two-phase distributed prefix sum
    * ([[graft.functions.Ranks.globalRunningSums]], never a one-task
    * window), and the payload NEVER rides the shuffle — only
    * (asset_id, mime, n_bytes) rank; byte lengths come from the scan
    * row-locally. Writing the actual shard files is then an
    * embarrassingly-parallel per-shard job over this index. */
  /** §2.7 — shard balance audit over the webdataset-style assignment
    * ([[mmShardIndex]]): per shard its asset count, byte fill, and
    * fill ratio against the target shard size, plus the dominant mime
    * — the check a data-loading team runs before training: a ragged
    * tail shard or a mime-skewed shard shows up here, not at step
    * 40k of a run. Rolls the shard index up with one partial-agged
    * groupBy to a #shards-bounded table; the dominant mime is a
    * bounded top-1 per shard. */
  def mmShardBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val idx = mmShardIndex(s, dir)
    val perMime = idx.groupBy($"shard_id", $"mime").agg(count(lit(1)).as("cm"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"shard_id").orderBy($"cm".desc, $"mime")))
      .filter($"rn" === 1)
      .select($"shard_id".as("ms"), $"mime".as("top_mime"))
    idx.groupBy($"shard_id")
      .agg(count(lit(1)).as("n_assets"), sum($"n_bytes").as("shard_bytes"))
      .join(perMime, $"shard_id" === $"ms")
      .select($"shard_id", $"n_assets", $"shard_bytes",
        expr(graft.functions.Agg.rndSql(
          s"CAST(shard_bytes AS DOUBLE) / CAST($shardBytes AS DOUBLE)", 6)).as("fill_ratio"),
        $"top_mime")
      .orderBy($"shard_id")
  }

  lazy val mmShardBalanceSql: String =
    s"""WITH idx AS ($mmShardIndexBodySql),
       |pm AS (
       |  SELECT shard_id, mime AS top_mime FROM (
       |    SELECT shard_id, mime,
       |      row_number() OVER (PARTITION BY shard_id
       |        ORDER BY count(*) DESC, mime) AS rn
       |    FROM idx GROUP BY shard_id, mime)
       |  WHERE rn = 1)
       |SELECT idx.shard_id,
       |  count(*) AS n_assets,
       |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       |  ${graft.functions.Agg.rndSql(
         s"CAST(CAST(sum(n_bytes) AS BIGINT) AS DOUBLE) / CAST($shardBytes AS DOUBLE)", 6)} AS fill_ratio,
       |  first(pm.top_mime) AS top_mime
       |FROM idx JOIN pm USING (shard_id)
       |GROUP BY idx.shard_id
       |ORDER BY idx.shard_id""".stripMargin

  def mmShardIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = withPayload(s, dir)
      .select($"doc_id".as("asset_id"), $"mime",
        octet_length($"payload").cast("long").as("n_bytes"))
    graft.functions.Ranks.globalRunningSums(assets, Seq($"asset_id"),
        Seq($"n_bytes" -> "cum_after"))
      .withColumn("cum_before", $"cum_after" - $"n_bytes")
      .select($"asset_id", $"mime", $"n_bytes",
        expr(s"cum_before div $shardBytes").as("shard_id"),
        expr(s"cum_before % $shardBytes").as("offset_in_shard"))
      .orderBy($"asset_id")
  }

  /** CTE chain + projection WITHOUT the presentation sort — embeddable
    * as a sub-select by consumers (mm_shard_balance) without touching
    * the cumulative-bytes window's own ORDER BY. */
  private val mmShardIndexBodySql: String = {
    val mimeCase = magics.zipWithIndex.map { case ((_, mime), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN '$mime'"
    }.mkString("CASE ", " ", " ELSE 'application/octet-stream' END")
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, $mimeCase AS mime,
       |    4 + octet_length(encode(text)) AS n_bytes
       |  FROM documents),
       |c AS (
       |  SELECT asset_id, mime, n_bytes,
       |    CAST(sum(n_bytes) OVER (ORDER BY asset_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - n_bytes AS cum_before
       |  FROM a)
       |SELECT asset_id, mime, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  cum_before // $shardBytes AS shard_id,
       |  cum_before % $shardBytes AS offset_in_shard
       |FROM c""".stripMargin
  }

  val mmShardIndexSql: String = s"$mmShardIndexBodySql ORDER BY asset_id"

  /** §2.7 — tar-entry layout inside each webdataset shard: the exact
    * byte offset every asset's ustar entry starts at (512-byte
    * header + payload padded to the 512 block, the tar format's
    * invariant), making [[mmShardIndex]]'s "writing the shards is
    * embarrassingly parallel" claim concrete — with this manifest a
    * per-shard writer seeks straight to its offsets, and a trainer
    * random-accesses any asset with one ranged read, no tar scan.
    * The intra-shard prefix sum runs per shard (each shard is
    * size-bounded by construction, so the window partition is
    * bounded); the two trailing 512-byte end-of-archive blocks are
    * the writer's epilogue, not a row here. */
  def mmTarManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val entry = "CAST(512 AS BIGINT) + ((n_bytes + 511) div 512) * 512"
    val w = Window.partitionBy($"shard_id").orderBy($"asset_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mmShardIndex(s, dir)
      .withColumn("entry_bytes", expr(entry))
      .withColumn("tar_offset", sum($"entry_bytes").over(w) - $"entry_bytes")
      .select($"asset_id", $"shard_id", $"mime", $"n_bytes",
        $"entry_bytes", $"tar_offset")
      .orderBy($"asset_id")
  }

  lazy val mmTarManifestSql: String = {
    val entry = "CAST(512 AS BIGINT) + ((n_bytes + 511) // 512) * 512"
    s"""WITH idx AS ($mmShardIndexBodySql)
       |SELECT asset_id, shard_id, mime, n_bytes,
       |  $entry AS entry_bytes,
       |  CAST(sum($entry) OVER (PARTITION BY shard_id ORDER BY asset_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    - ($entry) AS tar_offset
       |FROM idx ORDER BY asset_id""".stripMargin
  }

  /** Merge two wanted ranges when the unwanted gap between them is
    * below this: one 7 KiB-wasting read beats a second request
    * round-trip on any object store. */
  val readPlanGapBytes = 7168L

  /** Deterministic ~1/7 "the trainer wants these assets" query set —
    * Fibonacci-hashed with a LOW-RANGE compare (the CDC-boundary
    * device), NOT a plain modulus: `id % 7` wants exactly every 7th
    * entry, so with near-uniform entry sizes every gap is identical
    * and the plan degenerates to all-merge or all-split at any
    * threshold; the hashed set has geometric spacing (1, 2, … wanted
    * runs and long holes), which is both what random access actually
    * looks like and what exercises BOTH plan regimes. */
  val readPlanHashCut = 613566757L // 2^32 / 7

  /** §2.7 — the RANGED-READ PLAN a dataloader executes against the
    * tar shards: given the wanted asset subset, the minimal set of
    * coalesced byte ranges per shard — adjacent wanted entries whose
    * gap is under [[readPlanGapBytes]] merge into one read (one
    * slightly-wasteful GET beats a second round-trip), with the
    * wasted-byte accounting that tells the loader owner whether the
    * shard layout still matches the access pattern. Completes the
    * multimodal story: 36e makes random access POSSIBLE (exact
    * offsets), this op makes it CHEAP (request count).
    *
    * Scale: runs entirely on the asset-manifest frame (never payload
    * bytes); the gap test and read numbering are per-SHARD windows —
    * bounded partitions by shard construction — and the rollup is
    * one partial-agged (shard, read) groupBy. */
  def mmShardReadPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wanted = mmTarManifest(s, dir)
      .filter(expr(s"(asset_id * 2654435761) % 4294967296 < $readPlanHashCut"))
      .select($"shard_id", $"asset_id", $"tar_offset", $"entry_bytes")
    val w = Window.partitionBy($"shard_id").orderBy($"tar_offset")
    val marked = wanted
      .withColumn("prev_end",
        lag($"tar_offset" + $"entry_bytes", 1).over(w))
      .withColumn("new_read",
        when($"prev_end".isNull ||
          $"tar_offset" - $"prev_end" > readPlanGapBytes, 1L).otherwise(0L))
      .withColumn("read_idx",
        sum($"new_read").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1L)
    marked.groupBy($"shard_id", $"read_idx")
      .agg(
        min($"tar_offset").as("start_off"),
        max($"tar_offset" + $"entry_bytes").as("end_off"),
        count(lit(1)).as("n_assets"),
        sum($"entry_bytes").cast("long").as("wanted_bytes"))
      .select($"shard_id", $"read_idx", $"start_off", $"end_off", $"n_assets",
        ($"end_off" - $"start_off").as("read_bytes"),
        ($"end_off" - $"start_off" - $"wanted_bytes").as("wasted_bytes"))
      .orderBy($"shard_id", $"read_idx")
  }

  lazy val mmShardReadPlanSql: String =
    s"""WITH idx AS ($mmShardIndexBodySql),
       |man AS (
       |  SELECT asset_id, shard_id,
       |    CAST(512 AS BIGINT) + ((n_bytes + 511) // 512) * 512 AS entry_bytes,
       |    CAST(sum(CAST(512 AS BIGINT) + ((n_bytes + 511) // 512) * 512)
       |      OVER (PARTITION BY shard_id ORDER BY asset_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - (CAST(512 AS BIGINT) + ((n_bytes + 511) // 512) * 512) AS tar_offset
       |  FROM idx
       |), wanted AS (
       |  SELECT shard_id, asset_id, tar_offset, entry_bytes
       |  FROM man WHERE (asset_id * 2654435761) % 4294967296 < $readPlanHashCut
       |), marked AS (
       |  SELECT shard_id, tar_offset, entry_bytes,
       |    CASE WHEN lag(tar_offset + entry_bytes) OVER w IS NULL
       |           OR tar_offset - lag(tar_offset + entry_bytes) OVER w > $readPlanGapBytes
       |         THEN 1 ELSE 0 END AS new_read
       |  FROM wanted
       |  WINDOW w AS (PARTITION BY shard_id ORDER BY tar_offset)
       |), numbered AS (
       |  SELECT shard_id, tar_offset, entry_bytes,
       |    CAST(sum(new_read) OVER (PARTITION BY shard_id ORDER BY tar_offset
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS read_idx
       |  FROM marked
       |)
       |SELECT shard_id, read_idx,
       |  CAST(min(tar_offset) AS BIGINT) AS start_off,
       |  CAST(max(tar_offset + entry_bytes) AS BIGINT) AS end_off,
       |  count(*) AS n_assets,
       |  CAST(max(tar_offset + entry_bytes) - min(tar_offset) AS BIGINT) AS read_bytes,
       |  CAST(max(tar_offset + entry_bytes) - min(tar_offset)
       |    - sum(entry_bytes) AS BIGINT) AS wasted_bytes
       |FROM numbered
       |GROUP BY shard_id, read_idx
       |ORDER BY shard_id, read_idx""".stripMargin

  // ------------------------------------------------------------------
  // mm_dedup_near — perceptual near-duplicate media detection
  // ------------------------------------------------------------------

  /** Max Hamming distance for a reported near-dup pair. Unrelated
    * payloads land near 32/64 differing bits; a local edit flips only
    * the buckets it touches. */
  val mmNearMaxHamming = 6L
  /** Banding geometry over the 64-bit signature: 4 bands × 16 bits —
    * any pair within Hamming 6 shares at least one intact band
    * whenever its flips cluster in ≤3 bands; the same (bands, rows)
    * trade [[Dedup.dedupSimhash]] documents.
    * `private[graft]` so the streaming probe ([[graft.streaming
    * .StreamOps.mmNearDupStream]]) derives its band explode from the
    * SAME constant — a banding change can never desync the ingest
    * gate from the persisted index or the oracle. */
  private[graft] val mmNearBands = 4

  /** STUBBED perceptual signature — the byte-stride-stats device of
    * [[inferOne]] bit-packed: payload bytes fall into 64
    * position-proportional buckets, bit k = 1 iff bucket k's mean
    * byte exceeds the whole-payload mean (the aHash recipe on raw
    * bytes instead of decoded pixels — no codecs in this container;
    * a real deploy swaps `phashOne` for a decode+DCT without touching
    * the banding/verify plan around it). The comparison is
    * integer-exact (sums·len, never a float mean), so the signature
    * is deterministic on any host. */
  private[graft] def phashOne(a: MediaAsset): (Long, String, Long) = {
    val p = a.payload
    val len = p.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < len) {
      val b = p(i) & 0xff
      val k = ((i.toLong << 6) / len).toInt
      sums(k) += b; cnts(k) += 1; tot += b
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (cnts(k) > 0 && sums(k) * len > tot * cnts(k)) sig |= (1L << k)
      k += 1
    }
    (a.asset_id, a.mime, sig)
  }

  /** Staged signature artifact (asset_id, mime, phash) — computed in
    * the same per-partition batch shape as [[mmBatchInfer]], persisted
    * like the SimHash signatures so the oracle recomputes banding +
    * verify from it. */
  private[graft] def phashSignatures(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "mm_phash_sigs", dir) {
      import s.implicits._
      assets(s, dir).mapPartitions(_.map(phashOne))
        .toDF("asset_id", "mime", "phash")
    }

  /** §2.7 #36g — PERCEPTUAL near-dup over media payloads: exact
    * digests ([[mmDedup]]) only catch byte-identical copies; a
    * LAION-class pipeline also drops re-encoded/cropped/watermarked
    * copies, which land within a few bits in perceptual-hash space.
    * Candidates come from 16-bit Hamming banding over the staged
    * signatures ([[Dedup.dedupSimhash]]'s layout verbatim — only
    * (band, bucket) rows ride the shuffle, the corpus never
    * self-joins); survivors verify with an exact bit_count ≤
    * [[mmNearMaxHamming]] within the same mime.
    *
    * RECALL CONTRACT (the standard LSH trade, stated here because it
    * is part of the QUERY's semantics, not just the constant's): with
    * [[mmNearBands]] = 4 bands the gate reports a qualifying pair only
    * when its ≤6 flipped bits leave at least one 16-bit band intact —
    * i.e. flips clustered in ≤3 bands. A pair whose flips spread
    * across all 4 bands (e.g. 2+2+1+1) is NOT emitted, by both the
    * engine and the oracle (which replays the same banding). Total
    * recall at Hamming 6 would need ≥7 bands (pigeonhole) at ~1.75×
    * the candidate volume; the cluster ([[mmDedupNearClusters]]) and
    * e2e tiers inherit whichever geometry is configured here. */
  def mmDedupNear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = phashSignatures(s, dir)
    val banded = sigs.select($"asset_id", $"mime", $"phash",
        posexplode(expr(s"transform(sequence(0, ${mmNearBands - 1}), b -> (phash >> (b * 16)) & 65535L)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.mime" === $"b.mime" && $"a.asset_id" < $"b.asset_id")
      .select($"a.asset_id".as("id1"), $"b.asset_id".as("id2"),
        $"a.mime".as("mime"),
        bit_count($"a.phash".bitwiseXOR($"b.phash")).cast("long").as("hamming"))
      .filter($"hamming" <= mmNearMaxHamming)
      .dropDuplicates("id1", "id2")
      .orderBy($"id1", $"id2")
  }

  /** Arrival shard for the STREAMING near-dup gate: assets with
    * doc_id % mod == rem play "freshly crawled", the rest are the
    * established corpus behind the persisted index. */
  val mmNearShardMod = 5L
  val mmNearShardRem = 4L

  val mmNearIndexTable = "graft_mm_phash_idx"
  val mmNearIndexBuckets = 16

  /** Persisted Hamming-band index over the CORPUS-shard signatures:
    * one row per (band, bucket) assignment, bucketed+sorted on the
    * band keys so the streaming probe join reads it exchange-free —
    * the multimodal sibling of [[graft.operators.Dedup
    * .buildEmbedProbeIndex]]. */
  def buildMmNearIndex(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    // mime rides in the BUCKETING keys: the probe joins on all three,
    // and a (band, bucket)-only layout can't satisfy the 3-key
    // partitioning requirement — the planner silently disables the
    // bucketed read and reshuffles the index (caught by PlanSpec's
    // exchange-free assertion)
    graft.sources.Sinks.writeBucketedOnce(dir, mmNearIndexTable,
        Seq("band", "bucket", "mime"), mmNearIndexBuckets) {
      phashSignatures(s, dir)
        .filter($"asset_id" % mmNearShardMod =!= mmNearShardRem)
        .select($"asset_id", $"mime", $"phash",
          posexplode(expr(s"transform(sequence(0, ${mmNearBands - 1}), b -> (phash >> (b * 16)) & 65535L)")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    }
  }

  def mmDedupNearSql(glob: String): String =
    s"""WITH sigs AS (SELECT asset_id, mime, phash FROM read_parquet('$glob')),
       |banded AS (
       |  SELECT asset_id, mime, phash, b AS band,
       |    (phash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, $mmNearBands)) AS u(b)),
       |pairs AS (
       |  SELECT DISTINCT a.asset_id AS id1, b.asset_id AS id2, a.mime AS mime,
       |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.mime = b.mime AND a.asset_id < b.asset_id)
       |SELECT id1, id2, mime, hamming FROM pairs
       |WHERE hamming <= $mmNearMaxHamming
       |ORDER BY id1, id2""".stripMargin

  /** §2.7 #36h — media near-dup CANONICALIZATION: connected
    * components over the [[mmDedupNear]] pair graph, every asset
    * labelled with its component's minimum id — the keep-one-
    * representative step completing the media dedup ladder (exact
    * digest → perceptual pairs → clusters), exactly as
    * dedup_clusters/dedup_clusters_embedding complete the text and
    * embedding ladders. Identical propagation machinery and scale
    * layout ([[graft.operators.Dedup.clustersOf]] — per-round state
    * is the pair-graph vertices, singletons rejoin at the end);
    * universe = every asset. Oracle = WITH RECURSIVE closure over the
    * banding pairs recomputed from the staged signatures. */
  def mmDedupNearClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = mmDedupNear(s, dir).select($"id1".as("doc1"), $"id2".as("doc2"))
    Dedup.clustersOf(s,
        Tables.documents(s, dir).select($"doc_id"),
        pairs, Dedup.maxClusterIters)
      .select($"doc_id".as("asset_id"), $"canonical_id", $"cluster_size")
  }

  def mmDedupNearClustersSql(glob: String): String =
    s"""WITH RECURSIVE sigs AS (
       |  SELECT asset_id, mime, phash FROM read_parquet('$glob')),
       |banded AS (
       |  SELECT asset_id, mime, phash, b AS band,
       |    (phash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, $mmNearBands)) AS u(b)),
       |pairs AS (
       |  SELECT DISTINCT a.asset_id AS id1, b.asset_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.mime = b.mime AND a.asset_id < b.asset_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $mmNearMaxHamming),
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM pairs
       |  UNION ALL
       |  SELECT id2, id1 FROM pairs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labs AS (SELECT id, min(lab) AS canonical_id FROM reach GROUP BY 1)
       |SELECT id AS asset_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM labs ORDER BY asset_id""".stripMargin

  /** §2.7 #36i — the END-TO-END media curation pass in one auditable
    * per-mime report: what the full dedup ladder keeps and why each
    * dropped asset fell. Canonical = the near-dup cluster label
    * ([[mmDedupNearClusters]]) — exact copies collide at Hamming 0,
    * so the cluster tier SUBSUMES the digest tier and the report
    * attributes each dropped asset to the FIRST tier that would have
    * caught it (exact digest twin of its canonical vs perceptual-
    * only), the same tier-attribution read as dedup_cost_report.
    * Everything joins on asset_id/digest keys — payload bytes never
    * ride a shuffle; byte sums are exact longs. */
  def mmPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val m = withPayload(s, dir)
      .select($"doc_id".as("asset_id"), $"mime",
        md5(hex($"payload")).as("payload_md5"),
        length($"payload").cast("long").as("byte_size"))
    val clusters = mmDedupNearClusters(s, dir)
      .select($"asset_id", $"canonical_id")
    val canonDigest = m.select($"asset_id".as("canonical_id"),
      $"payload_md5".as("canon_md5"))
    m.join(clusters, "asset_id")
      .join(canonDigest, "canonical_id")
      .withColumn("kept", ($"asset_id" === $"canonical_id").cast("long"))
      .withColumn("exact_dup",
        ($"asset_id" =!= $"canonical_id" && $"payload_md5" === $"canon_md5").cast("long"))
      .withColumn("near_only",
        ($"asset_id" =!= $"canonical_id" && $"payload_md5" =!= $"canon_md5").cast("long"))
      .groupBy($"mime")
      .agg(
        count(lit(1)).as("n_assets"),
        sum($"kept").as("n_kept"),
        sum($"exact_dup").as("n_dropped_exact"),
        sum($"near_only").as("n_dropped_near"),
        sum($"kept" * $"byte_size").as("bytes_kept"),
        sum(($"exact_dup" + $"near_only") * $"byte_size").as("bytes_dropped"))
      .withColumn("keep_ratio",
        expr(rndSql("CAST(n_kept AS DOUBLE) / CAST(n_assets AS DOUBLE)", 6)))
      .orderBy($"mime")
  }

  def mmPipelineE2eSql(glob: String): String = {
    import graft.functions.Agg.rndSql
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    val mimeCase = magics.zipWithIndex.map { case ((_, mime), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN '$mime'"
    }.mkString("CASE ", " ", " ELSE 'application/octet-stream' END")
    s"""WITH RECURSIVE sigs AS (
       |  SELECT asset_id, mime, phash FROM read_parquet('$glob')),
       |banded AS (
       |  SELECT asset_id, mime, phash, b AS band,
       |    (phash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, $mmNearBands)) AS u(b)),
       |prs AS (
       |  SELECT DISTINCT a.asset_id AS id1, b.asset_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.mime = b.mime AND a.asset_id < b.asset_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $mmNearMaxHamming),
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM prs
       |  UNION ALL SELECT id2, id1 FROM prs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labs AS (SELECT id, min(lab) AS canonical_id FROM reach GROUP BY 1),
       |m AS (
       |  SELECT doc_id AS asset_id, $mimeCase AS mime,
       |    md5(hex($magicCase || encode(text))) AS payload_md5,
       |    CAST(octet_length($magicCase || encode(text)) AS BIGINT) AS byte_size
       |  FROM documents),
       |j AS (
       |  SELECT m.mime, m.byte_size,
       |    CASE WHEN m.asset_id = l.canonical_id THEN 1 ELSE 0 END AS kept,
       |    CASE WHEN m.asset_id <> l.canonical_id AND m.payload_md5 = cm.payload_md5
       |      THEN 1 ELSE 0 END AS exact_dup,
       |    CASE WHEN m.asset_id <> l.canonical_id AND m.payload_md5 <> cm.payload_md5
       |      THEN 1 ELSE 0 END AS near_only
       |  FROM m
       |  JOIN labs l ON l.id = m.asset_id
       |  JOIN m cm ON cm.asset_id = l.canonical_id)
       |SELECT mime, count(*) AS n_assets,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  CAST(sum(exact_dup) AS BIGINT) AS n_dropped_exact,
       |  CAST(sum(near_only) AS BIGINT) AS n_dropped_near,
       |  CAST(sum(kept * byte_size) AS BIGINT) AS bytes_kept,
       |  CAST(sum((exact_dup + near_only) * byte_size) AS BIGINT) AS bytes_dropped,
       |  ${rndSql("CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS keep_ratio
       |FROM j GROUP BY mime ORDER BY mime""".stripMargin
  }

  /** §2.7 #36j — the MEDIA dedup-ladder COST report (the 36-family
    * analog of [[Dedup.dedupCostReport]]): what each tier of the media
    * ladder removes, in one table — assets dropped, payload BYTES
    * dropped (the number a storage bill reads), and their corpus
    * shares, per tier. Tiers, each a canonicalization the registered
    * operators themselves produce, in increasing reach:
    *   - `digest` — byte-identical copies only (min asset_id per
    *     payload digest, [[mmDedup]]'s grouping);
    *   - `near_pairs` — single-hop perceptual: an asset drops iff a
    *     SMALLER-id direct near-dup partner exists ([[mmDedupNear]]'s
    *     pair graph without closure — what a pair-at-a-time reviewer
    *     tool would act on);
    *   - `near_clusters` — the full connected-component
    *     canonicalization ([[mmDedupNearClusters]]).
    * Identical payloads share a phash (Hamming 0) and a mime, so
    * drops are monotone nondecreasing down the ladder — the spec pins
    * it. The delta between rows is the read: if near_clusters only
    * drops 1% more bytes than digest, the perceptual pipeline isn't
    * paying for itself on this corpus. Each rollup is one aggregate
    * over an asset-keyed mapping join; payload bytes never ride a
    * shuffle (byte sizes are metadata longs). Oracle shares the
    * recursive-closure device of [[mmDedupNearClustersSql]]. */
  def mmDedupCostReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val m = withPayload(s, dir)
      .select($"doc_id".as("asset_id"),
        md5(hex($"payload")).as("payload_md5"),
        length($"payload").cast("long").as("byte_size"))
    def report(tier: String, mapping: DataFrame): DataFrame =
      mapping.join(m.select($"asset_id", $"byte_size"), "asset_id")
        .agg(
          count(lit(1)).as("n_assets"),
          sum(when($"asset_id" =!= $"canonical_id", 1L).otherwise(0L))
            .as("n_dropped"),
          sum(when($"asset_id" =!= $"canonical_id", $"byte_size").otherwise(0L))
            .as("bytes_dropped"),
          sum($"byte_size").as("bytes_total"))
        // empty corpus: no per-tier row (the oracle's grouped rollups
        // emit none), and no 0/0 share — the dedup_cost_report device
        .filter($"n_assets" > 0)
        .select(lit(tier).as("tier"), $"n_assets", $"n_dropped",
          expr(rndSql("CAST(n_dropped AS DOUBLE) / CAST(n_assets AS DOUBLE)", 6))
            .as("pct_assets_dropped"),
          $"bytes_dropped",
          expr(rndSql("CAST(bytes_dropped AS DOUBLE) / CAST(bytes_total AS DOUBLE)", 6))
            .as("pct_bytes_dropped"))
    val digest = m.select($"asset_id", $"payload_md5")
      .join(m.groupBy($"payload_md5").agg(min($"asset_id").as("canonical_id")),
        "payload_md5")
      .select($"asset_id", $"canonical_id")
    // ONE banded pair join feeds both perceptual tiers instead of the
    // pair-min and the closure each re-paying the self-join. At the
    // shared-axis sf≈10 worst case (every asset a 100-way dup, 25M
    // pairs) the checkpoint materialization costs what the saved join
    // did — a wash there; at realistic density the pair set is sparse
    // and the saved self-join dominates.
    val pairs = mmDedupNear(s, dir)
      .select($"id1", $"id2").localCheckpoint(true)
    val pairMin = pairs
      .groupBy($"id2".as("asset_id")).agg(min($"id1").as("nbr_min"))
    val nearPairs = m.select($"asset_id")
      .join(pairMin, Seq("asset_id"), "left")
      .select($"asset_id",
        coalesce($"nbr_min", $"asset_id").as("canonical_id"))
    val clusters = Dedup.clustersOf(s,
        Tables.documents(s, dir).select($"doc_id"),
        pairs.select($"id1".as("doc1"), $"id2".as("doc2")),
        Dedup.maxClusterIters)
      .select($"doc_id".as("asset_id"), $"canonical_id")
    report("digest", digest)
      .unionByName(report("near_pairs", nearPairs))
      .unionByName(report("near_clusters", clusters))
      .orderBy($"tier")
  }

  def mmDedupCostReportSql(glob: String): String = {
    import graft.functions.Agg.rndSql
    val magicCase = magics.zipWithIndex.map { case ((hexs, _), i) =>
      s"WHEN doc_id % ${magics.size} = $i THEN unhex('$hexs')"
    }.mkString("CASE ", " ", " END")
    s"""WITH RECURSIVE sigs AS (
       |  SELECT asset_id, mime, phash FROM read_parquet('$glob')),
       |banded AS (
       |  SELECT asset_id, mime, phash, b AS band,
       |    (phash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, $mmNearBands)) AS u(b)),
       |prs AS (
       |  SELECT DISTINCT a.asset_id AS id1, b.asset_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.mime = b.mime AND a.asset_id < b.asset_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $mmNearMaxHamming),
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM prs
       |  UNION ALL SELECT id2, id1 FROM prs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labs AS (SELECT id, min(lab) AS canonical_id FROM reach GROUP BY 1),
       |m AS (
       |  SELECT doc_id AS asset_id,
       |    md5(hex($magicCase || encode(text))) AS payload_md5,
       |    CAST(octet_length($magicCase || encode(text)) AS BIGINT) AS byte_size
       |  FROM documents),
       |dg AS (
       |  SELECT asset_id,
       |    min(asset_id) OVER (PARTITION BY payload_md5) AS canonical_id
       |  FROM m),
       |pm AS (SELECT id2 AS asset_id, min(id1) AS nbr_min FROM prs GROUP BY 1),
       |np AS (
       |  SELECT m.asset_id, coalesce(pm.nbr_min, m.asset_id) AS canonical_id
       |  FROM m LEFT JOIN pm USING (asset_id)),
       |u AS (
       |  SELECT 'digest' AS tier, asset_id, canonical_id FROM dg
       |  UNION ALL SELECT 'near_pairs', asset_id, canonical_id FROM np
       |  UNION ALL SELECT 'near_clusters', id, canonical_id FROM labs)
       |SELECT tier, count(*) AS n_assets,
       |  CAST(sum(CASE WHEN u.asset_id <> canonical_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  ${rndSql("CAST(sum(CASE WHEN u.asset_id <> canonical_id THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
       |    AS pct_assets_dropped,
       |  CAST(sum(CASE WHEN u.asset_id <> canonical_id THEN byte_size ELSE 0 END) AS BIGINT)
       |    AS bytes_dropped,
       |  ${rndSql("CAST(sum(CASE WHEN u.asset_id <> canonical_id THEN byte_size ELSE 0 END) AS DOUBLE) / CAST(sum(byte_size) AS DOUBLE)", 6)}
       |    AS pct_bytes_dropped
       |FROM u JOIN m USING (asset_id)
       |GROUP BY tier ORDER BY tier""".stripMargin
  }

  /** The near-dup stream's probe join in batch shape, which PlanSpec
    * asserts exchange-free (the index side must never reshuffle).
    * Requires [[buildMmNearIndex]] to have run. */
  private[graft] def mmNearProbePlan(s: SparkSession, dir: String): DataFrame =
    mmNearProbeOf(s, Tables.documents(s, dir))

  /** The arrival shard of `docs`, signed and banded, joined to the
    * persisted band index within the same mime: the probe of
    * `StreamOps.mmNearDupStream` over a stream and of
    * [[mmNearProbePlan]] over the batch table. */
  private[graft] def mmNearProbeOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val probe = assetsOf(docs.filter($"doc_id" % mmNearShardMod === mmNearShardRem))
      .mapPartitions(_.map(phashOne))
      .toDF("new_id", "new_mime", "new_phash")
      .select($"new_id", $"new_mime", $"new_phash",
        posexplode(expr(s"transform(sequence(0, ${mmNearBands - 1}), b -> (new_phash >> (b * 16)) & 65535L)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    s.table(mmNearIndexTable).as("i").join(probe.as("p"),
      $"i.band" === $"p.band" && $"i.bucket" === $"p.bucket" &&
        $"i.mime" === $"p.new_mime")
  }

  /** Oracle for the STREAMING gate: the cross-shard banding cut over
    * the staged signatures (incoming shard probes the corpus shard —
    * identical candidates and verify as the stream, batch-replayed). */
  def streamMmDedupNearSql(glob: String): String =
    s"""WITH sigs AS (SELECT asset_id, mime, phash FROM read_parquet('$glob')),
       |cb AS (
       |  SELECT asset_id, mime, phash, b AS band,
       |    (phash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, $mmNearBands)) AS u(b)
       |  WHERE asset_id % $mmNearShardMod <> $mmNearShardRem),
       |ib AS (
       |  SELECT asset_id, mime, phash, b AS band,
       |    (phash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, $mmNearBands)) AS u(b)
       |  WHERE asset_id % $mmNearShardMod = $mmNearShardRem),
       |pairs AS (
       |  SELECT DISTINCT c.asset_id AS corpus_id, i.asset_id AS new_id,
       |    c.mime AS mime,
       |    CAST(bit_count(xor(c.phash, i.phash)) AS BIGINT) AS hamming
       |  FROM cb c JOIN ib i
       |    ON c.band = i.band AND c.bucket = i.bucket AND c.mime = i.mime)
       |SELECT corpus_id, new_id, mime, hamming FROM pairs
       |WHERE hamming <= $mmNearMaxHamming
       |ORDER BY new_id, corpus_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_dedup_near"    -> (mmDedupNear _),
    "mm_dedup_near_clusters" -> (mmDedupNearClusters _),
    "mm_dedup_cost_report" -> (mmDedupCostReport _),
    "mm_pipeline_e2e"  -> (mmPipelineE2e _),
    "mm_shard_read_plan" -> (mmShardReadPlan _),
    "mm_tar_manifest"  -> (mmTarManifest _),
    "mm_shard_balance" -> (mmShardBalance _),
    "mm_shard_index"   -> (mmShardIndex _),
    "mm_manifest"      -> (mmManifest _),
    "mm_caption_pairs" -> (mmCaptionPairs _),
    "mm_frame_extract" -> (mmFrameExtract _),
    "mm_thumbnail"     -> (mmThumbnail _),
    "mm_batch_infer"   -> (mmBatchInfer _),
    "mm_dedup"         -> (mmDedup _)
  )

  def oracles: Map[String, String] = {
    import graft.sources.OracleStage.globOf
    globOf("mm_phash_sigs")
      .map(g => "mm_dedup_near" -> mmDedupNearSql(g)).toMap ++
    globOf("mm_phash_sigs")
      .map(g => "mm_dedup_near_clusters" -> mmDedupNearClustersSql(g)).toMap ++
    globOf("mm_phash_sigs")
      .map(g => "mm_pipeline_e2e" -> mmPipelineE2eSql(g)).toMap ++
    globOf("mm_phash_sigs")
      .map(g => "mm_dedup_cost_report" -> mmDedupCostReportSql(g)).toMap ++
    Map(
    "mm_shard_read_plan" -> mmShardReadPlanSql,
    "mm_tar_manifest"  -> mmTarManifestSql,
    "mm_shard_balance" -> mmShardBalanceSql,
    "mm_shard_index"   -> mmShardIndexSql,
    "mm_manifest"      -> mmManifestSql,
    "mm_caption_pairs" -> mmCaptionPairsSql,
    "mm_frame_extract" -> mmFrameExtractSql,
    "mm_thumbnail"     -> mmThumbnailSql,
    "mm_batch_infer"   -> mmBatchInferSql,
    "mm_dedup"         -> mmDedupSql
    )
  }
}
