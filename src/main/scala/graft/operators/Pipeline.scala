package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{TextAnalysis => TA}

/** Corpus-preparation pipeline operators over `documents` — the
  * composed passes a training-data build runs after per-document
  * scoring: stratified downsampling, corpus-level n-gram statistics,
  * and the end-to-end keep/drop filter.
  *
  * Scale layout: everything here is row-local arithmetic plus one
  * bounded aggregation. [[sampleStratified]] joins a broadcast
  * per-stratum rate table (|sources| rows); [[corpusNgrams]] is a
  * partial-aggregated explode→count with a TakeOrdered top-N (no
  * global sort); [[qualityFilter]] is a single pass over the corpus
  * plus one hash-shuffle join against the (equally partitioned)
  * canonical-id side. Reference analog: the client-side batch filter
  * hooks around processBatch (client/index.ts:204-328) — here the
  * filter itself is the declarative operator.
  */
object Pipeline {

  /** Per-stratum sample target: strata larger than this many expected
    * keeps are downsampled to it, smaller strata pass whole. */
  val targetPerStratum = 15
  /** Composite-quality keep threshold ([[TA.qualityExpr]] scale). */
  val qualityTau = 0.68
  val minTokens = 20
  val maxTokens = 1000
  /** Top-N bigrams reported by [[corpusNgrams]]. */
  val ngramTopN = 50

  /** Deterministic stratified sampling: keep a document iff its
    * content fingerprint lands under the stratum's permille
    * threshold, thr = 1000·target/|stratum|. Hash-mod sampling is the
    * 100 TB layout — no shuffle of the corpus, no per-partition RNG
    * state, reproducible across cluster sizes and reruns; the only
    * exchanged data is the |sources|-row rate table, broadcast. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    sampleStratifiedOn(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The sampling transform over any documents frame — reused by the
    * composed pipeline, which samples the admission-filtered corpus
    * rather than the raw one. */
  private[graft] def sampleStratifiedOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val strata = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("thr_permille",
        expr(s"least(1000L, ${1000L * targetPerStratum} div n_docs)"))
      .select($"source", $"thr_permille")
    // coalesce makes bucket non-nullable: without it the join's
    // inferred isnotnull(bucket) constraint is pushed into a Filter
    // where `toks` gets inlined — re-running the regex split inside
    // every fingerprint lambda iteration (measured 23x slower)
    docs.withColumn("toks", expr(TA.toksExpr))
      .withColumn("bucket", expr(s"coalesce((${TA.fingerprintExpr}) % 1000, 0L)"))
      .join(broadcast(strata), "source")
      .filter($"bucket" < $"thr_permille")
      .select($"doc_id", $"source", $"bucket", $"thr_permille")
  }

  /** Reservoir size per group for [[sampleReservoir]]. */
  val reservoirK = 100

  /** §2.8 #38b — deterministic fixed-k-per-group reservoir sample:
    * the OTHER sampling shape next to [[sampleStratified]]'s rate
    * sampling — "exactly k events per type", regardless of how skewed
    * the group sizes are. Classic distributed equivalence: top-k by a
    * uniform random key IS a uniform sample without replacement, so
    * the reservoir becomes a bounded-heap top-k
    * ([[graft.plans.TopK.perGroup]]) on a per-row PRF rank — each
    * partition ships at most k rows per group, no per-group sort, no
    * RNG state, reproducible across cluster sizes and reruns. The
    * PRF is a Lehmer step ((id mod 2³¹−1)·48271 mod 2³¹−1): chosen
    * over xxhash64 because it is exactly replicable in the DuckDB
    * oracle with overflow-safe BIGINT arithmetic (< 2⁴⁷); a deploy
    * preferring xxhash64 swaps one expression. */
  def sampleReservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", $"event_id", $"user_id",
        expr("(event_id % 2147483647L) * 48271L % 2147483647L").as("h"))
    graft.plans.TopK.perGroup(ev, Seq("event_type"),
        Seq("h" -> false, "event_id" -> false), reservoirK)
      .select($"event_type", $"rank", $"event_id", $"user_id")
      .orderBy($"event_type", $"rank")
  }

  val sampleReservoirSql: String =
    s"""WITH h AS (
       |  SELECT event_type, event_id, user_id,
       |    (event_id % 2147483647) * 48271 % 2147483647 AS h
       |  FROM events)
       |SELECT event_type,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rank,
       |  event_id, user_id
       |FROM h
       |QUALIFY rank <= $reservoirK
       |ORDER BY event_type, rank""".stripMargin

  /** Sample size per source for [[sampleWeighted]]. */
  val weightedK = 50
  import graft.functions.Agg.{rndSql => wRndSql}

  /** §2.8 #38c — deterministic WEIGHTED sampling without replacement
    * (the third sampling shape: stratified = rate, reservoir =
    * uniform fixed-k, this = importance-weighted fixed-k): per source,
    * the k docs with the largest priority w/u — Duffield–Lund–Thorup
    * priority sampling, where w = n_chars (longer docs proportionally
    * likelier) and u is a per-doc uniform from the same Lehmer PRF as
    * [[sampleReservoir]]. Needs only one IEEE double division (exact,
    * correctly rounded — bit-identical cross-engine; no ln/pow, whose
    * libm implementations may differ by an ulp), so the rank order is
    * deterministic everywhere; ties broken by doc_id for a total
    * order. Runs on the bounded-heap [[graft.plans.TopK.perGroup]]:
    * ≤k rows per partition per source ship, no per-source sort. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"source", $"doc_id", $"n_chars",
        expr("(doc_id % 2147483647L) * 48271L % 2147483647L").as("h"))
      .withColumn("priority",
        $"n_chars".cast("double") / ($"h" + 1L).cast("double"))
    graft.plans.TopK.perGroup(docs, Seq("source"),
        Seq("priority" -> true, "doc_id" -> false), weightedK)
      .select($"source", $"rank", $"doc_id", $"n_chars",
        expr(wRndSql("priority", 9)).as("priority"))
      .orderBy($"source", $"rank")
  }

  val sampleWeightedSql: String =
    s"""WITH p AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(n_chars AS DOUBLE) /
       |      CAST((doc_id % 2147483647) * 48271 % 2147483647 + 1 AS DOUBLE) AS priority
       |  FROM documents)
       |SELECT source,
       |  row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rank,
       |  doc_id, n_chars, ${wRndSql("priority", 9)} AS priority
       |FROM p
       |QUALIFY rank <= $weightedK
       |ORDER BY source, rank""".stripMargin

  /** Hashed feature space for [[sampleDsir]]: 16³ md5-prefix buckets. */
  val dsirBuckets = 4096
  /** Docs returned by the DSIR importance ranking. */
  val dsirN = 100
  /** The target-domain slice: what the selected data should look
    * like. `en` stands in for "the high-resource domain the model
    * trains toward" — any deterministic predicate slots in. */
  val dsirTargetLang = "en"

  /** §2.8 — DSIR data selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): rank raw-corpus
    * documents by how target-domain-like their hashed n-gram profile
    * is. Features are unigrams + bigrams of the shared whitespace
    * tokenizer hashed into [[dsirBuckets]] md5-prefix buckets (the
    * 45g CMS device — a string bucket key, identical in both
    * engines, no numeric hash conversion); the target distribution
    * is the [[dsirTargetLang]] slice, the raw distribution the whole
    * corpus, both add-1 smoothed over the bucket space; a document's
    * importance logweight is Σ_b count_b(doc)·(ln p̂_target(b) −
    * ln p̂_raw(b)) — the hashed bag-of-grams log-likelihood ratio —
    * and the output is the top-[[dsirN]] by logweight (tie → lowest
    * doc_id), the deterministic-ranking face of importance
    * resampling. Scale: ONE corpus-linear exploded-gram partial-agg
    * shuffle on (doc, bucket); the bucket-ratio table is ≤
    * [[dsirBuckets]] rows broadcast back; the global top-N is
    * TakeOrderedAndProject (no full sort). ln stays cross-engine
    * safe under the repo's 1e-6 quantize-before-compare rule (the
    * BM25-idf precedent). */
  def sampleDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{dsum, rnd}
    import graft.operators.{TextAnalysis => TA}
    val toks = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        expr(s"filter(${TA.toksExpr}, t -> t <> '')").as("tk"))
    // unigrams + bigrams; sequence() would count DOWN for size<2, so
    // the bigram arm is guarded (DuckDB's generate_series is empty)
    val grams = toks.select($"doc_id", $"lang", explode(concat(
      $"tk",
      expr("""CASE WHEN size(tk) >= 2
             |  THEN transform(sequence(2, size(tk)),
             |         i -> concat(element_at(tk, i - 1), ' ', element_at(tk, i)))
             |  ELSE array() END""".stripMargin))).as("g"))
    val db = grams
      .select($"doc_id", $"lang",
        substring(md5($"g".cast("binary")), 1, 3).as("b"))
      .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // raw and target bucket counts in ONE aggregate over the
    // checkpoint (the target slice is a sum-filter of the same rows),
    // replacing two separate scans + a bucket-keyed FULL join — the
    // target buckets are a subset of the raw buckets by construction,
    // so the single frame carries exactly the full join's key set.
    val byB = db.groupBy($"b").agg(sum($"cnt").as("cr"),
      sum(when($"lang" === dsirTargetLang, $"cnt")).as("ct"))
    val tots = byB.agg(sum($"cr").as("crt"),
      coalesce(sum($"ct"), lit(0L)).as("ctt"))
    val lamb = byB
      .crossJoin(broadcast(tots))
      .select($"b", rnd(
        log((coalesce($"ct", lit(0L)).cast("double") + 1.0)
          / ($"ctt".cast("double") + lit(dsirBuckets.toDouble)))
          - log((coalesce($"cr", lit(0L)).cast("double") + 1.0)
            / ($"crt".cast("double") + lit(dsirBuckets.toDouble))), 6).as("lam"))
    db.join(broadcast(lamb), "b")
      .groupBy($"doc_id")
      .agg(dsum(rnd($"cnt".cast("double") * $"lam", 6)).as("logw"),
        sum($"cnt").as("n_grams"))
      .orderBy($"logw".desc, $"doc_id")
      .limit(dsirN)
      .select($"doc_id", $"logw", $"n_grams")
  }

  val sampleDsirSql: String = {
    import graft.functions.Agg.{dsumSql, rndSql}
    import graft.operators.{TextAnalysis => TA}
    val bd = dsirBuckets.toDouble
    s"""WITH dtoks AS (
       |  SELECT doc_id, lang,
       |    list_filter(${TA.duckToks}, t -> t <> '') AS tk
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, lang, unnest(tk) AS g FROM dtoks
       |  UNION ALL
       |  SELECT doc_id, lang,
       |    unnest(list_transform(generate_series(2, len(tk)),
       |      i -> tk[i - 1] || ' ' || tk[i])) AS g
       |  FROM dtoks),
       |db AS MATERIALIZED (
       |  SELECT doc_id, lang, substr(md5(g), 1, 3) AS b, count(*) AS cnt
       |  FROM grams GROUP BY 1, 2, 3),
       |rawb AS (SELECT b, sum(cnt) AS cr FROM db GROUP BY 1),
       |tgtb AS (SELECT b, sum(cnt) AS ct FROM db
       |         WHERE lang = '$dsirTargetLang' GROUP BY 1),
       |tots AS (
       |  SELECT (SELECT CAST(sum(cnt) AS DOUBLE) FROM db) AS crt,
       |         (SELECT CAST(coalesce(sum(cnt), 0) AS DOUBLE) FROM db
       |          WHERE lang = '$dsirTargetLang') AS ctt),
       |lamb AS (
       |  SELECT coalesce(r.b, t.b) AS b,
       |    ${rndSql(s"ln((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0) / (ctt + $bd))" +
            s" - ln((CAST(coalesce(cr, 0) AS DOUBLE) + 1.0) / (crt + $bd))", 6)} AS lam
       |  FROM rawb r FULL JOIN tgtb t ON r.b = t.b, tots)
       |SELECT doc_id, logw, n_grams FROM (
       |  SELECT db.doc_id,
       |    ${dsumSql(rndSql("CAST(cnt AS DOUBLE) * lam", 6))} AS logw,
       |    CAST(sum(cnt) AS BIGINT) AS n_grams
       |  FROM db JOIN lamb USING (b)
       |  GROUP BY 1)
       |ORDER BY logw DESC, doc_id
       |LIMIT $dsirN""".stripMargin
  }

  /** §2.8 — duplicate-TEMPERING sampler ("soft dedup"): exact-dup
    * clusters are flattened instead of eliminated — the canonical doc
    * of every content-hash cluster ALWAYS survives (unique content is
    * never lost, unlike admit-all-with-prob-1/n, which drops whole
    * clusters at rate (1−1/n)ⁿ → 1/e), and each extra copy is
    * admitted with probability 1/cluster_size via the same Lehmer PRF
    * as the other samplers — expected copies per cluster temper from
    * n to 1 + (n−1)/n < 2. The recipe between hard dedup (row 25:
    * keep exactly one) and no dedup: duplicated mass stops scaling
    * with n while mild duplication signal survives. Deterministic and
    * exact: the admission test is the INTEGER compare u·n < 2³¹−1
    * where u is a TWO-step Lehmer draw (a single step leaves
    * u ≈ id·48271 for ids below ~44k, so small sequential ids would
    * never drop; the second multiply mixes them) — no float
    * thresholds, bit-identical cross-engine. One shuffle on the
    * content hash (the dedup_exact layout: window count + min share
    * the partitioning). */
  def sampleDedupFlatten(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", md5($"text".cast("binary")).as("h"))
      .withColumn("canonical_id", min($"doc_id").over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("u", expr(
        "(doc_id % 2147483647L) * 48271L % 2147483647L * 48271L % 2147483647L"))
      .filter($"doc_id" === $"canonical_id" ||
        $"u" * $"cluster_size" < lit(2147483647L))
      .select($"doc_id", $"source", $"canonical_id", $"cluster_size",
        ($"doc_id" === $"canonical_id").as("is_canonical"))
      .orderBy($"doc_id")
  }

  val sampleDedupFlattenSql: String =
    """WITH h AS (
      |  SELECT doc_id, source, md5(text) AS h FROM documents),
      |cl AS (
      |  SELECT doc_id, source,
      |    min(doc_id) OVER (PARTITION BY h) AS canonical_id,
      |    count(*) OVER (PARTITION BY h) AS cluster_size
      |  FROM h)
      |SELECT doc_id, source, canonical_id, cluster_size,
      |  doc_id = canonical_id AS is_canonical
      |FROM cl
      |WHERE doc_id = canonical_id
      |   OR (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
      |      * cluster_size < 2147483647
      |ORDER BY doc_id""".stripMargin

  val sampleStratifiedSql: String =
    s"""WITH st AS (
       |  SELECT source,
       |    least(1000, ${1000L * targetPerStratum} // count(*)) AS thr_permille
       |  FROM documents GROUP BY 1),
       |fp AS (
       |  SELECT doc_id, source,
       |    coalesce(${TA.fingerprintDuck} % 1000, 0) AS bucket
       |  FROM (SELECT doc_id, source, ${TA.duckToks} AS toks FROM documents))
       |SELECT fp.doc_id, fp.source, fp.bucket, st.thr_permille
       |FROM fp JOIN st ON fp.source = st.source
       |WHERE fp.bucket < st.thr_permille
       |ORDER BY fp.doc_id""".stripMargin

  /** Corpus-wide bigram statistics: total occurrences and document
    * frequency for the top-N bigrams. Partial (map-side) aggregation
    * on the bigram, two-phase distinct for df, TakeOrdered top-N —
    * never a global sort of the n-gram space. */
  def corpusNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
        .as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("cnt"), countDistinct($"doc_id").as("doc_freq"))
      .orderBy($"cnt".desc, $"bigram")
      .limit(ngramTopN)
  }

  val corpusNgramsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${TA.duckToks} AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
       |  FROM t WHERE len(toks) >= 2)
       |SELECT bigram, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
       |FROM bg GROUP BY 1
       |ORDER BY cnt DESC, bigram LIMIT $ngramTopN""".stripMargin

  /** The end-to-end training-data admission filter: language guess,
    * token-length band, composite quality, exact-dup canonicalization
    * — every document labelled keep/drop with the FIRST failing rule
    * as its reason (rule order: lang → length → quality → duplicate).
    *
    * Skew shape: the canonical id comes from a partial-aggregated
    * `groupBy(text_hash).agg(min(doc_id))` joined back onto the
    * scored frame — never a `min().over(Window.partitionBy(hash))`.
    * WindowExec hands a hash's ENTIRE group to one task, and
    * exact-dup groups are exactly where a real crawl's mass
    * duplication lives (10⁸ copies of one boilerplate page is
    * normal); the groupBy side collapses those copies map-side before
    * any exchange, and the join itself is AQE-skew-splittable. Costs
    * a second (doc_id, text)-only scan of the corpus — the price of
    * no skew cliff. Same lookup-join shape as the streaming variant
    * ([[qualityFilterOn]] under [[graft.streaming.StreamOps]]), which
    * shares this query's oracle. */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    qualityFilterOn(docs, canonicalIds(docs)).orderBy(col("doc_id"))
  }

  /** content-hash → min doc_id lookup side of the duplicate rule. */
  private[graft] def canonicalIds(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"))

  /** The filter transform itself, source-agnostic: `docs` may be a
    * batch frame or a stream (the canon side must then be a static
    * lookup — a stream-static broadcast join, stateless under append
    * mode; see [[graft.streaming.StreamOps]]). No ordering applied —
    * streaming sinks can't sort; batch callers order at the edge. */
  private[graft] def qualityFilterOn(docs: DataFrame, canon: DataFrame): DataFrame =
    verdict(scoredDocs(docs)
      // LEFT join: under the streaming shape the canon side is a
      // static snapshot — a document whose hash is absent (arrived
      // after the snapshot) must still get a verdict, as its own
      // canonical, never be silently dropped
      .join(canon, Seq("text_hash"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col("doc_id"))))

  /** Per-document scoring columns + content hash (source-agnostic). */
  private def scoredDocs(docs: DataFrame): DataFrame =
    TA.withLangGuess(
        TA.withQualityMetrics(docs.withColumn("toks", expr(TA.toksExpr))))
      .withColumn("quality", expr(TA.qualityExpr))
      .withColumn("text_hash", md5(col("text").cast("binary")))

  /** The shared rule cascade over a scored frame with canonical_id. */
  private def verdict(scored: DataFrame): DataFrame =
    scored
      .withColumn("reason",
        when(col("lang_guess") =!= "en", "lang")
          .when(col("n_tokens") < minTokens || col("n_tokens") > maxTokens, "length")
          .when(col("quality") < qualityTau, "quality")
          .when(col("doc_id") =!= col("canonical_id"), "duplicate")
          .otherwise("kept"))
      .select(col("doc_id"),
        when(col("reason") === "kept", 1L).otherwise(0L).as("keep"),
        col("reason"))

  val qualityFilterSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, ${TA.duckToks} AS toks,
       |    len(${TA.duckToks}) AS n_tokens
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, toks, n_tokens,
       |    ${TA.qualityMetricsDuck}
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text, n_tokens,
       |    ${TA.qualityDuck} AS quality,
       |    ${TA.langScoreColsDuck}
       |  FROM m),
       |c AS (
       |  SELECT md5(text) AS h, min(doc_id) AS canonical_id
       |  FROM documents GROUP BY 1),
       |r AS (
       |  SELECT q.doc_id,
       |    CASE WHEN (${TA.langGuessDuck}) <> 'en' THEN 'lang'
       |         WHEN n_tokens < $minTokens OR n_tokens > $maxTokens THEN 'length'
       |         WHEN quality < CAST($qualityTau AS DOUBLE) THEN 'quality'
       |         WHEN q.doc_id <> c.canonical_id THEN 'duplicate'
       |         ELSE 'kept' END AS reason
       |  FROM q JOIN c ON md5(q.text) = c.h)
       |SELECT doc_id,
       |  CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS BIGINT) AS keep,
       |  reason
       |FROM r ORDER BY doc_id""".stripMargin

  /** Token budget of one packed training sequence. */
  val packBudget = 2048L

  /** Packs a `(doc_id, n_tokens)` frame: lays the documents out as
    * one contiguous token stream (deterministic doc_id order) and
    * chunks it into [[packBudget]]-token bins — each document labelled
    * with its start offset, bin, and position within the bin. The
    * running offset is [[graft.functions.Ranks.globalRunningSums]]'
    * two-phase prefix sum (bucket → per-bucket sums → broadcast
    * offsets), so no row-bearing stage is single-partition — the same
    * layout that makes `iter_progress` scale. The one projection
    * behind `doc_pack`, `doc_pack_bpe` and `doc_pack_unigram`, which
    * differ only in how they count a document's tokens. */
  private[operators] def packed(d: DataFrame): DataFrame =
    graft.functions.Ranks.globalRunningSums(d, Seq(col("doc_id")), Seq(col("n_tokens") -> "cum"))
      .withColumn("start_offset", col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div $packBudget").as("bin_id"),
        expr(s"start_offset % $packBudget").as("bin_pos"))
      .orderBy(col("doc_id"))

  /** Sequence packing in whitespace tokens ([[packed]]). */
  def docPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packed(Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .select($"doc_id", size($"toks").cast("long").as("n_tokens")))
  }

  val docPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, len(${TA.duckToks}) AS n_tokens FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t)
       |SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
       |  (cum - n_tokens) // $packBudget AS bin_id,
       |  (cum - n_tokens) % $packBudget AS bin_pos
       |FROM c ORDER BY doc_id""".stripMargin

  /** Vocabulary size for [[tokenIds]]. */
  val vocabSize = 256

  /** Corpus-frequency tokenization: build the top-[[vocabSize]] token
    * vocabulary (rank = count desc, token asc), then map every token
    * position to its vocab id (0 = OOV). Vocab build is a bounded
    * top-N (TakeOrdered + a window over [[vocabSize]] rows); the
    * mapping join broadcasts the vocabulary — the corpus side stays
    * embarrassingly parallel, exactly how a fixed BPE vocab ships to
    * 1000 executors. */
  def tokenIds(s: SparkSession, dir: String): DataFrame =
    tokenIds(s, dir, vocabSize)

  def tokenIds(s: SparkSession, dir: String, nVocab: Int): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .select($"doc_id", posexplode($"toks").as(Seq("pos0", "tok")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"tok")
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(nVocab)
      .withColumn("vid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"c".desc, $"tok")).cast("long"))
      .select($"tok", $"vid")
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select($"doc_id", $"pos", coalesce($"vid", lit(0L)).as("token_id"))
      .orderBy($"doc_id", $"pos")
  }

  val tokenIdsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${TA.duckToks} AS toks FROM documents),
       |e AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) AS pos,
       |    unnest(toks) AS tok
       |  FROM t),
       |cnt AS (SELECT tok, count(*) AS c FROM e GROUP BY 1),
       |top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT $vocabSize),
       |vocab AS (
       |  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS vid FROM top)
       |SELECT e.doc_id, CAST(e.pos AS BIGINT) AS pos,
       |  coalesce(v.vid, 0) AS token_id
       |FROM e LEFT JOIN vocab v ON e.tok = v.tok
       |ORDER BY doc_id, pos""".stripMargin

  /** Documents with doc_id below this are the designated eval set. */
  val evalMaxId = 10L

  /** Eval-set decontamination: flag every training document sharing at
    * least one word-3-gram with the (small, designated) eval set — the
    * standard "did the benchmark leak into the training corpus" pass.
    * Eval shingles are bounded by eval-set size → broadcast; the
    * corpus side is a row-local explode + broadcast equi-join + one
    * doc_id-keyed aggregate. The corpus is never self-joined and never
    * shuffled on shingles — at 100 TB only (doc_id, count) pairs move. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Dedup.shingled(s, dir)
    val ev = sh.filter($"doc_id" < evalMaxId)
      .select(explode($"shingles").as("s")).distinct()
    val corpus = sh.filter($"doc_id" >= evalMaxId)
      .select($"doc_id", explode($"shingles").as("s"))
    val hits = corpus.join(broadcast(ev), "s")
      .groupBy($"doc_id").agg(countDistinct($"s").as("n_shared"))
    Tables.documents(s, dir).filter($"doc_id" >= evalMaxId).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"n_shared".isNotNull, 1L).otherwise(0L).as("contaminated"),
        coalesce($"n_shared", lit(0L)).as("n_shared"))
      .orderBy($"doc_id")
  }

  val decontaminateSql: String =
    s"""WITH sh AS (
       |  ${Dedup.shingledSql}),
       |ev AS (
       |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < $evalMaxId),
       |hits AS (
       |  SELECT e.doc_id, count(DISTINCT e.s) AS n_shared
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
       |        WHERE doc_id >= $evalMaxId) e
       |  JOIN ev ON e.s = ev.s
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN h.n_shared IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS contaminated,
       |  coalesce(h.n_shared, 0) AS n_shared
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id >= $evalMaxId
       |ORDER BY d.doc_id""".stripMargin

  /** §2.8 — bloom-prefiltered decontamination, the scale path when
    * the eval shingle set outgrows an exact broadcast (a 10M-doc eval
    * suite is ~10⁹ shingles — too big to ship to every task as a hash
    * set, but 1–2 bytes/key as a bloom): the eval shingles aggregate
    * into ONE mergeable bloom blob (`graft_bloom_agg`, the same
    * internal pair [[graft.operators.Relational.qBloomPrejoin]]
    * surfaces), the corpus's exploded shingles are might_contain-
    * filtered BEFORE any join or shuffle — at a 1e-4 false-positive
    * rate ~all clean shingles die row-locally at the scan — and the
    * tiny survivor set is exactly confirmed against the real eval
    * set, so false positives cannot flag a document. Result is
    * bit-identical to [[decontaminate]] and shares its oracle. */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Dedup.shingled(s, dir)
    val ev = sh.filter($"doc_id" < evalMaxId)
      .select(explode($"shingles").as("s")).distinct()
    val bloom = ev
      .agg(expr("graft_bloom_agg(xxhash64(s), 100000L, 800000L)"))
      .head.getAs[Array[Byte]](0)
    val corpus = sh.filter($"doc_id" >= evalMaxId)
      .select($"doc_id", explode($"shingles").as("s"))
      .filter(call_function("graft_might_contain", lit(bloom), xxhash64($"s")))
    val hits = corpus.join(broadcast(ev), "s")
      .groupBy($"doc_id").agg(countDistinct($"s").as("n_shared"))
    Tables.documents(s, dir).filter($"doc_id" >= evalMaxId).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"n_shared".isNotNull, 1L).otherwise(0L).as("contaminated"),
        coalesce($"n_shared", lit(0L)).as("n_shared"))
      .orderBy($"doc_id")
  }

  /** Contiguous-window length for [[decontaminateSpan]] — the
    * industry-standard eval-overlap gate (a shared ≥13-token
    * contiguous span, vs 44's far-too-aggressive any-3-gram rule). */
  val spanN = 13

  /** §2.8 — span-based decontamination: flag training documents
    * sharing a CONTIGUOUS [[spanN]]-token window with the eval set.
    * Any-3-gram overlap (44) flags half a crawl on idiom alone; the
    * 13-token contiguous gate is what real release pipelines ship.
    * Same scale layout as 44: stride-1 windows are row-local
    * explodes, the eval window set is bounded → broadcast, the
    * corpus is never self-joined and only (doc_id, count, pos) rows
    * move after the broadcast probe. Reports the matched-window
    * count and the first matching window position (1-based; NULL
    * when clean). */
  def decontaminateSpan(s: SparkSession, dir: String): DataFrame =
    decontaminateSpanOf(s, Tables.documents(s, dir))

  /** Span decontamination over ANY documents frame (spec seam — the
    * boundary-straddling crafted corpus drives this directly). */
  private[graft] def decontaminateSpanOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val win = docs
      .withColumn("toks", expr(TA.toksExpr))
      .filter(size($"toks") >= spanN)
      .select($"doc_id", explode(expr(
        s"""transform(sequence(1, size(toks) - ${spanN - 1}),
           |  i -> struct(i AS pos, concat_ws(' ', slice(toks, i, $spanN)) AS w))"""
          .stripMargin)).as("t"))
      .select($"doc_id", $"t.pos".cast("long").as("pos"), $"t.w".as("w"))
    val ev = win.filter($"doc_id" < evalMaxId).select($"w").distinct()
    val hits = win.filter($"doc_id" >= evalMaxId)
      .join(broadcast(ev), "w")
      .groupBy($"doc_id")
      .agg(countDistinct($"w").as("n_spans"),
        min($"pos").as("first_span_pos"))
    docs.filter($"doc_id" >= evalMaxId).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"n_spans".isNotNull, 1L).otherwise(0L).as("contaminated"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        $"first_span_pos")
      .orderBy($"doc_id")
  }

  val decontaminateSpanSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${TA.duckToks} AS toks FROM documents),
       |e AS (
       |  SELECT doc_id, unnest(range(1, len(toks) - ${spanN - 2})) AS i, toks
       |  FROM t WHERE len(toks) >= $spanN),
       |w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(toks[i:i + ${spanN - 1}], ' ') AS w
       |  FROM e),
       |ev AS (SELECT DISTINCT w FROM w WHERE doc_id < $evalMaxId),
       |hits AS (
       |  SELECT c.doc_id, count(DISTINCT c.w) AS n_spans,
       |    min(c.pos) AS first_span_pos
       |  FROM (SELECT * FROM w WHERE doc_id >= $evalMaxId) c
       |  JOIN ev ON c.w = ev.w
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN h.n_spans IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS contaminated,
       |  coalesce(h.n_spans, 0) AS n_spans,
       |  h.first_span_pos
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id >= $evalMaxId
       |ORDER BY d.doc_id""".stripMargin

  /** §2.8 — the EVAL-side leak report ("which benchmarks are
    * burned"): for every eval document, how many of its 13-token
    * windows appear anywhere in the training corpus, the leak ratio,
    * and how many distinct training documents carry them. 44c answers
    * "which training docs must go"; this answers the release
    * question in the other direction — an eval doc with leak_ratio
    * near 1 is memorized-by-construction and its benchmark numbers
    * are void. Same scale layout: the bounded eval window set is the
    * broadcast side, the corpus explodes row-locally and is never
    * self-joined; the rollup is eval-sized. Eval docs shorter than
    * [[spanN]] tokens carry no window identity and are excluded
    * (same convention as the shingle family). */
  def corpusContaminationReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val win = Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .filter(size($"toks") >= spanN)
      .select($"doc_id", explode(expr(
        s"""transform(sequence(1, size(toks) - ${spanN - 1}),
           |  i -> concat_ws(' ', slice(toks, i, $spanN)))""".stripMargin)).as("w"))
    val evW = win.filter($"doc_id" < evalMaxId)
      .select($"doc_id".as("eval_doc_id"), $"w").distinct()
    val hits = win.filter($"doc_id" >= evalMaxId)
      .select($"doc_id".as("train_doc_id"), $"w")
      .join(broadcast(evW), "w")
      .groupBy($"eval_doc_id")
      .agg(countDistinct($"w").as("leaked_windows"),
        countDistinct($"train_doc_id").as("n_hit_docs"))
    evW.groupBy($"eval_doc_id").agg(count(lit(1)).as("n_windows"))
      .join(hits, Seq("eval_doc_id"), "left")
      .select($"eval_doc_id", $"n_windows",
        coalesce($"leaked_windows", lit(0L)).as("leaked_windows"),
        expr(graft.functions.Agg.rndSql(
          "CAST(coalesce(leaked_windows, 0L) AS DOUBLE) / CAST(n_windows AS DOUBLE)", 6))
          .as("leak_ratio"),
        coalesce($"n_hit_docs", lit(0L)).as("n_hit_docs"))
      .orderBy($"eval_doc_id")
  }

  val corpusContaminationReportSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH t AS (
       |  SELECT doc_id, ${TA.duckToks} AS toks FROM documents),
       |e AS (
       |  SELECT doc_id, unnest(range(1, len(toks) - ${spanN - 2})) AS i, toks
       |  FROM t WHERE len(toks) >= $spanN),
       |w AS (
       |  SELECT doc_id, array_to_string(toks[i:i + ${spanN - 1}], ' ') AS w
       |  FROM e),
       |evw AS (
       |  SELECT DISTINCT doc_id AS eval_doc_id, w FROM w
       |  WHERE doc_id < $evalMaxId),
       |hits AS (
       |  SELECT evw.eval_doc_id, count(DISTINCT evw.w) AS leaked_windows,
       |    count(DISTINCT c.doc_id) AS n_hit_docs
       |  FROM (SELECT doc_id, w FROM w WHERE doc_id >= $evalMaxId) c
       |  JOIN evw ON c.w = evw.w
       |  GROUP BY 1),
       |tot AS (
       |  SELECT eval_doc_id, count(*) AS n_windows FROM evw GROUP BY 1)
       |SELECT tot.eval_doc_id, tot.n_windows,
       |  coalesce(h.leaked_windows, 0) AS leaked_windows,
       |  ${rndSql("CAST(coalesce(h.leaked_windows, 0) AS DOUBLE) / CAST(tot.n_windows AS DOUBLE)", 6)} AS leak_ratio,
       |  coalesce(h.n_hit_docs, 0) AS n_hit_docs
       |FROM tot LEFT JOIN hits h ON tot.eval_doc_id = h.eval_doc_id
       |ORDER BY tot.eval_doc_id""".stripMargin
  }

  // -------------------------------------------------------------------

  /** Embeddings with vec_id below this are the designated eval-set
    * representations for [[decontaminateSemantic]] (the embedding
    * counterpart of [[evalMaxId]]). */
  val evalVecMaxId = 25L
  /** Cosine threshold for paraphrase-level contamination. Well above
    * [[Dedup.cosineTau]]'s near-dup floor: a leak is a REWRITE of an
    * eval item, not merely a related document. At 0.8 the (48, 3)
    * banding's per-pair miss probability is (1 − 0.502³)^48 ≈ 3e-15 —
    * candidate recall is total for every pair the threshold keeps. */
  val semanticTau = 0.8

  /** §2.8 #44e — SEMANTIC decontamination: flag every training-corpus
    * vector whose embedding cosine to ANY designated eval vector is
    * ≥ τ. [[decontaminateSpan]] catches verbatim ≥13-token leaks;
    * this is the companion screen real release gates also run —
    * PARAPHRASED eval items share no 13-token window but land next to
    * the original in embedding space.
    *
    * Scale layout: the eval side is a benchmark suite — bounded,
    * thousands — so its LSH bucket assignment broadcasts; the corpus's
    * bucket assignment ([[Similarity.lshBucketsOf]], row-local) probes
    * it with an equi-join on (tbl, bucket), cosine evaluated inline,
    * τ-filter before the only corpus-keyed aggregate. The corpus is
    * never self-joined and never shuffled on buckets — the exchange
    * carries (vec_id, hits) pairs. Same candidate machinery as
    * [[Dedup.embeddingPairsUncached]] (Dedup.scala) with the
    * corpus×corpus banding join replaced by corpus×broadcast(eval).
    * Zero-norm vectors (a crashed encoder shard — see
    * embed_norm_audit) have no defined cosine and are reported
    * contaminated=0 with max_cosine NULL on the corpus side, and are
    * excluded as eval probes, identically in both engines.
    * Oracle: the all-pairs eval×corpus formulation (eval is small, so
    * the oracle stays quadratic-free in corpus size too). */
  def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val v = Similarity.vectors(s, dir)
    val bands = Similarity.lshBucketsOf(Similarity.nonDegenerate(v),
      Dedup.dedupLshTables, Dedup.dedupLshBits)
    // alias dance: lshBucketsOf emits (vec_id, v, nrm) on both sides —
    // rename the eval side before the join
    val evB = bands.filter($"vec_id" < evalVecMaxId)
      .select($"tbl", $"bucket", $"vec_id".as("eval_id"),
        $"v".as("ev"), $"nrm".as("enrm"))
    val hits = bands.filter($"vec_id" >= evalVecMaxId)
      .join(broadcast(evB), Seq("tbl", "bucket"))
      .withColumn("cosine",
        expr(rndSql(s"${graft.functions.VectorFns.dot("v", "ev")} / (nrm * enrm)", 6)))
      .filter($"cosine" >= semanticTau)
      // multi-table collisions duplicate a pair — count each eval id once
      .select($"vec_id", $"eval_id", $"cosine").dropDuplicates("vec_id", "eval_id")
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_matches"), max($"cosine").as("max_cosine"))
    // the report base is the UNFILTERED corpus: a zero-norm vector
    // can't be probed (Similarity.vectors excludes it) but still
    // appears, clean with NULL max_cosine — same base as the oracle
    Tables.embeddings(s, dir).select($"vec_id")
      .filter($"vec_id" >= evalVecMaxId)
      .join(hits, Seq("vec_id"), "left")
      .select($"vec_id",
        when($"n_matches".isNotNull, 1L).otherwise(0L).as("contaminated"),
        coalesce($"n_matches", lit(0L)).as("n_matches"),
        $"max_cosine")
      .orderBy($"vec_id")
  }

  val decontaminateSemanticSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v),
       |ev AS (SELECT vec_id AS eval_id, v AS evv, nrm AS enrm FROM n
       |       WHERE vec_id < $evalVecMaxId AND nrm > 0),
       |hits AS (
       |  SELECT c.vec_id, count(*) AS n_matches,
       |    max(${rndSql("list_dot_product(c.v, ev.evv) / (c.nrm * ev.enrm)", 6)}) AS max_cosine
       |  FROM n c JOIN ev ON c.vec_id >= $evalVecMaxId AND c.nrm > 0
       |  WHERE ${rndSql("list_dot_product(c.v, ev.evv) / (c.nrm * ev.enrm)", 6)} >= $semanticTau
       |  GROUP BY 1)
       |SELECT c.vec_id,
       |  CAST(CASE WHEN h.n_matches IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS contaminated,
       |  coalesce(h.n_matches, 0) AS n_matches,
       |  h.max_cosine
       |FROM (SELECT vec_id FROM n WHERE vec_id >= $evalVecMaxId) c
       |LEFT JOIN hits h ON c.vec_id = h.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** §2.8 #44f — the EVAL-side semantic burn report: per designated
    * eval vector, how many training-corpus vectors sit at cosine ≥ τ,
    * and the closest one — [[corpusContaminationReport]] answers
    * "which benchmarks are burned" for verbatim spans, this answers
    * it for PARAPHRASE-level leakage ([[decontaminateSemantic]] says
    * which corpus rows must go; this says whether the eval numbers
    * are void even after they do). Same bounded-broadcast LSH probe,
    * aggregated on the EVAL side (eval-sized rollup); zero-norm eval
    * vectors report clean with NULL max_cosine, identically in both
    * engines. */
  def semanticContaminationReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val v = Similarity.vectors(s, dir)
    val bands = Similarity.lshBucketsOf(Similarity.nonDegenerate(v),
      Dedup.dedupLshTables, Dedup.dedupLshBits)
    val evB = bands.filter($"vec_id" < evalVecMaxId)
      .select($"tbl", $"bucket", $"vec_id".as("eval_id"),
        $"v".as("ev"), $"nrm".as("enrm"))
    val hits = bands.filter($"vec_id" >= evalVecMaxId)
      .join(broadcast(evB), Seq("tbl", "bucket"))
      .withColumn("cosine",
        expr(rndSql(s"${graft.functions.VectorFns.dot("v", "ev")} / (nrm * enrm)", 6)))
      .filter($"cosine" >= semanticTau)
      .select($"eval_id", $"vec_id", $"cosine").dropDuplicates("eval_id", "vec_id")
      .groupBy($"eval_id")
      .agg(count(lit(1)).as("n_corpus_matches"), max($"cosine").as("max_cosine"))
    Tables.embeddings(s, dir).select($"vec_id".as("eval_id"))
      .filter($"eval_id" < evalVecMaxId)
      .join(hits, Seq("eval_id"), "left")
      .select($"eval_id",
        when($"n_corpus_matches".isNotNull, 1L).otherwise(0L).as("burned"),
        coalesce($"n_corpus_matches", lit(0L)).as("n_corpus_matches"),
        $"max_cosine")
      .orderBy($"eval_id")
  }

  val semanticContaminationReportSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v),
       |ev AS (SELECT vec_id AS eval_id, v AS evv, nrm AS enrm FROM n
       |       WHERE vec_id < $evalVecMaxId AND nrm > 0),
       |hits AS (
       |  SELECT ev.eval_id, count(*) AS n_corpus_matches,
       |    max(${rndSql("list_dot_product(c.v, ev.evv) / (c.nrm * ev.enrm)", 6)}) AS max_cosine
       |  FROM n c JOIN ev ON c.vec_id >= $evalVecMaxId AND c.nrm > 0
       |  WHERE ${rndSql("list_dot_product(c.v, ev.evv) / (c.nrm * ev.enrm)", 6)} >= $semanticTau
       |  GROUP BY 1)
       |SELECT e.eval_id,
       |  CAST(CASE WHEN h.n_corpus_matches IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS burned,
       |  coalesce(h.n_corpus_matches, 0) AS n_corpus_matches,
       |  h.max_cosine
       |FROM (SELECT vec_id AS eval_id FROM embeddings WHERE vec_id < $evalVecMaxId) e
       |LEFT JOIN hits h ON e.eval_id = h.eval_id
       |ORDER BY e.eval_id""".stripMargin
  }

  /** Misra-Gries capacity for [[corpusHeavyHitters]]: any term with
    * frequency > totalTokens/(hhK+1) is a heavy hitter. */
  val hhK = 32

  /** Per-partition Misra-Gries summary: O(k) state however many
    * tokens stream through, emitting the ≤ k surviving candidate
    * terms. Imperative by design — a frequency sketch is per-element
    * mutable state, the one shape mapPartitions is FOR. */
  private def mgCandidates(k: Int)(it: Iterator[String]): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      counts.get(t) match {
        case Some(c) => counts.update(t, c + 1)
        case None if counts.size < k => counts.update(t, 1L)
        case None =>
          // decrement-all; O(k) amortized against the k survivors
          val dead = List.newBuilder[String]
          counts.foreach { case (w, c) =>
            if (c == 1L) dead += w else counts.update(w, c - 1) }
          dead.result().foreach(counts.remove)
      }
    }
    counts.keysIterator
  }

  /** Exact corpus heavy hitters in two bounded passes — the top-word
    * question answered WITHOUT ever shuffling the full (term, count)
    * space or sorting it globally. Pass 1 streams every token through
    * a per-partition Misra-Gries sketch (O(k) state, no shuffle); by
    * the pigeonhole argument any term with global frequency
    * > n/(k+1) must survive SOME partition's sketch, so the ≤
    * partitions·k candidate union is a superset of the true heavy
    * hitters. Pass 2 exactly counts ONLY candidate terms (broadcast
    * semi-join before the partial agg) and keeps those over the
    * threshold — integer cross-multiplied, no division. Output is
    * exact and deterministic; the sketch only bounds the work. */
  /** Exact per-token counts over any documents frame — batch or
    * stream. The batch path prunes with a Misra-Gries candidate pass
    * first; a STREAMING aggregation needs no candidate pass at all:
    * the state store IS the exact count table, merged incrementally
    * per micro-batch (vocab-bounded by Heaps' law, not
    * corpus-bounded). */
  private[graft] def tokenCountsOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(explode(expr(TA.toksExpr)).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n_occurrences"))
  }

  def corpusHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(expr(TA.toksExpr)).as("term")).as[String]
    val candidates = broadcast(
      toks.mapPartitions(mgCandidates(hhK)).toDF("term").distinct())
    val total = Tables.documents(s, dir)
      .agg(sum(size(expr(TA.toksExpr))).as("n_total"))
    toks.toDF()
      .join(candidates, Seq("term"), "left_semi")
      .groupBy($"term").agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .filter($"n_occurrences" * (hhK + 1) > $"n_total")
      .select($"term", $"n_occurrences")
      .orderBy($"n_occurrences".desc, $"term")
  }

  val corpusHeavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(${TA.duckToks}) AS term FROM documents),
       |n AS (SELECT count(*) AS n_total FROM toks)
       |SELECT term, count(*) AS n_occurrences
       |FROM toks
       |GROUP BY term
       |HAVING count(*) * ${hhK + 1} > (SELECT n_total FROM n)
       |ORDER BY n_occurrences DESC, term""".stripMargin

  /** Corpus-LM quality scoring (the CCNet-style filter signal): a
    * bigram language model with add-one smoothing is fit on the
    * corpus itself, and every document gets its mean token
    * log-likelihood — documents whose word transitions are unlike
    * the corpus (boilerplate, gibberish, wrong domain) score low.
    *
    * lp(w1 w2) = ln((c(w1,w2) + 1) / (c(w1·) + V)), V = distinct
    * context words; score(doc) = mean over the doc's bigrams.
    *
    * Scale layout: one explode of the corpus into (doc, w1, bigram);
    * the model is two partial-aggregated counts over that frame
    * (bigram table is vocab²-bounded — large on a web corpus but far
    * smaller than the corpus, and it joins ON the bigram key with
    * AQE free to broadcast when it fits); per-occurrence log-probs
    * round at 1e-6 and sum through the exact decimal path so scores
    * are bit-stable at any parallelism. Docs under 2 tokens have no
    * bigram identity and are excluded (as in [[corpusNgrams]]). */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{dsum, rnd}
    val occ = Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1,
          |              concat(element_at(toks, i), ' ', element_at(toks, i + 1)) AS bigram))"""
          .stripMargin)).as("b"))
      .select($"doc_id", $"b.w1", $"b.bigram")
    val bc = occ.groupBy($"w1", $"bigram").agg(count(lit(1)).as("bc"))
    val uc = occ.groupBy($"w1".as("u_w1")).agg(count(lit(1)).as("uc"))
    val v = uc.agg(count(lit(1)).as("v"))
    val lp = bc.join(uc, $"w1" === $"u_w1").crossJoin(broadcast(v))
      .select($"bigram",
        rnd(log(($"bc" + lit(1.0)) / ($"uc" + $"v")), 6).as("lp"))
    occ.join(lp, "bigram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        rnd(dsum($"lp") / count(lit(1)), 6).as("lm_score"))
      .orderBy($"doc_id")
  }

  val textLmScoreSql: String = {
    import graft.functions.Agg.{dsumSql, rndSql}
    s"""WITH t AS (SELECT doc_id, ${TA.duckToks} AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, b['w1'] AS w1, b['bigram'] AS bigram
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(toks)),
       |            i -> {'w1': toks[i], 'bigram': toks[i] || ' ' || toks[i + 1]})) AS b
       |        FROM t WHERE len(toks) >= 2)),
       |bc AS (SELECT w1, bigram, count(*) AS bc FROM occ GROUP BY 1, 2),
       |uc AS (SELECT w1 AS u_w1, count(*) AS uc FROM occ GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM uc),
       |lp AS (
       |  SELECT bigram, ${rndSql("ln((bc + 1.0) / (uc + v))", 6)} AS lp
       |  FROM bc JOIN uc ON w1 = u_w1, v)
       |SELECT occ.doc_id, count(*) AS n_bigrams,
       |  ${rndSql(s"${dsumSql("lp.lp")} / count(*)", 6)} AS lm_score
       |FROM occ JOIN lp USING (bigram)
       |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin
  }

  /** §2.8 — per-source distribution-drift monitor: KL(source ‖
    * corpus) over add-one-smoothed unigram distributions. The signal
    * a continuously-ingesting pipeline watches per shard/source: a
    * crawler gone wrong, a domain shift, or an injected spam source
    * moves its KL away from the fleet baseline long before any
    * downstream metric does.
    *
    * KL = Σ_t p_s(t)·ln(p_s(t)/p_g(t)) over the FULL corpus vocab
    * (smoothing makes both sides strictly positive, so absent tokens
    * contribute too — a true KL, not a coverage-weighted proxy).
    *
    * Scale layout — CORPUS-LINEAR, never a sources × vocab spine.
    * Split the quantized sum into
    *   Σ_{t present} tq(c_s,c_g)            (corpus-linear: ≤ occ rows)
    * + Σ_{t ∈ vocab} tq(0,c_g)              (the absent-token mass)
    * − Σ_{t present} tq(0,c_g).             (corpus-linear correction)
    * The middle term depends on the token only through its GLOBAL
    * count c_g, so it reduces over the count-of-counts histogram —
    * one vocab-sized groupBy into ≤ O(√Σc) distinct-c_g rows, then a
    * tiny (#sources × #distinct-c_g) broadcast equi-join on a
    * constant key (a broadcast hash join in the plan — no
    * CartesianProduct/BNLJ anywhere; PlanSpec asserts it). Each KL
    * term is half-up-quantized at 1e-9 and summed exactly as LONG, so
    * the decomposition is bit-identical to the dense formulation (the
    * oracle keeps the dense SQL) and bit-stable under any
    * partitioning. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    // quantized KL term for per-source count `cs` (a column or 0):
    // identical arithmetic to the dense formulation, term for term
    def tq(cs: String): String =
      s"""CAST(floor(
         |  ((CAST($cs AS DOUBLE) + 1.0) / (CAST(tot_s AS DOUBLE) + CAST(v AS DOUBLE)))
         |  * ln(((CAST($cs AS DOUBLE) + 1.0) / (CAST(tot_s AS DOUBLE) + CAST(v AS DOUBLE)))
         |       / ((CAST(cg AS DOUBLE) + 1.0) / (CAST(tot_g AS DOUBLE) + CAST(v AS DOUBLE))))
         |  * 1000000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)""".stripMargin
    val occ = Tables.documents(s, dir)
      .select($"source", explode(expr(TA.toksExpr)).as("token"))
    val sc = occ.groupBy($"source", $"token").agg(count(lit(1)).as("cs"))
    val st = occ.groupBy($"source").agg(count(lit(1)).as("tot_s"))
    val gc = occ.groupBy($"token").agg(count(lit(1)).as("cg"))
    // the scalar/histogram frames attach via a constant-VALUED key
    // (pmod(hash(col), 1) ≡ 0) rather than lit(1): Catalyst folds a
    // literal key pair to a `true` join condition and degrades the
    // broadcast hash join to a nested loop — a non-foldable key keeps
    // the BroadcastHashJoin shape the plan spec asserts
    val g = occ.agg(count(lit(1)).as("tot_g"), count_distinct($"token").as("v"))
      .withColumn("k", pmod(hash($"tot_g"), lit(1)))
    // count-of-counts: vocab collapses to its distinct global counts
    val cgh = gc.groupBy($"cg").agg(count(lit(1)).as("n_toks"))
    // corpus-linear present terms: tq(cs) − tq(0), reduced per source
    val present = sc.join(gc, "token")
      .join(broadcast(st), "source")
      .withColumn("k", pmod(hash($"cs"), lit(1))).join(broadcast(g), "k")
      .select($"source", expr(s"${tq("cs")} - ${tq("0")}").as("dq"))
      .groupBy($"source").agg(sum($"dq").as("present_q"))
    // absent-token mass: ONE #sources × #distinct-c_g frame via a
    // constant-key broadcast hash join (never a vocab-wide spine)
    val absent = st.withColumn("k", pmod(hash($"tot_s"), lit(1)))
      .join(broadcast(cgh.withColumn("k", pmod(hash($"cg"), lit(1)))), "k")
      .join(broadcast(g), "k")
      .select($"source", $"tot_s", ($"n_toks" * expr(tq("0"))).as("zq"))
      .groupBy($"source").agg(max($"tot_s").as("n_tokens"), sum($"zq").as("absent_q"))
    absent.join(present, Seq("source"), "left")
      .select($"source", $"n_tokens",
        rnd(($"absent_q" + coalesce($"present_q", lit(0L))).cast("double") /
          lit(1000000000.0), 6).as("kl_nats"))
      .orderBy($"source")
  }

  val corpusDriftSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH occ AS (
       |  SELECT source, unnest(${TA.duckToks}) AS token FROM documents
       |), sc AS (SELECT source, token, count(*) AS cs FROM occ GROUP BY 1, 2),
       |st AS (SELECT source, count(*) AS tot_s FROM occ GROUP BY 1),
       |gc AS (SELECT token, count(*) AS cg FROM occ GROUP BY 1),
       |g AS (SELECT count(*) AS tot_g, count(DISTINCT token) AS v FROM occ),
       |terms AS (
       |  SELECT st.source, st.tot_s,
       |    CAST(floor(
       |      ((CAST(coalesce(sc.cs, 0) AS DOUBLE) + 1.0) / (CAST(st.tot_s AS DOUBLE) + CAST(g.v AS DOUBLE)))
       |      * ln(((CAST(coalesce(sc.cs, 0) AS DOUBLE) + 1.0) / (CAST(st.tot_s AS DOUBLE) + CAST(g.v AS DOUBLE)))
       |           / ((CAST(gc.cg AS DOUBLE) + 1.0) / (CAST(g.tot_g AS DOUBLE) + CAST(g.v AS DOUBLE))))
       |      * 1000000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS tq
       |  FROM st CROSS JOIN gc
       |  LEFT JOIN sc ON sc.source = st.source AND sc.token = gc.token, g
       |)
       |SELECT source, max(tot_s) AS n_tokens,
       |  ${rndSql("CAST(sum(tq) AS DOUBLE) / 1000000000.0", 6)} AS kl_nats
       |FROM terms GROUP BY source ORDER BY source""".stripMargin
  }

  /** §2.8 — the COMPOSED pipeline as one job: admission filter →
    * stratified sample of the kept docs → token budget of the sample,
    * reported as a one-row per-stage funnel (docs in, drops by
    * reason, sampled, tokens). This is the query a data-build
    * actually ships — and the proof the engine's operators compose
    * without materialization boundaries: Catalyst sees the whole
    * chain (the filter's scoring pass, the sample's fingerprint
    * arithmetic, the token count) as ONE plan, so column pruning and
    * partial aggregation apply across stage borders. The stage
    * rollups are group-/scalar-sized frames cross-joined at the
    * edge. */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.countIf
    val docs = Tables.documents(s, dir)
    val verdicts = qualityFilterOn(docs, canonicalIds(docs))
    val stageFilter = verdicts.agg(
      count(lit(1)).as("n_docs"),
      countIf($"reason" === "lang").as("drop_lang"),
      countIf($"reason" === "length").as("drop_length"),
      countIf($"reason" === "quality").as("drop_quality"),
      countIf($"reason" === "duplicate").as("drop_duplicate"),
      countIf($"reason" === "kept").as("n_kept"))
    val kept = docs.join(
      verdicts.filter($"keep" === 1L).select($"doc_id"), "doc_id")
    val sampledIds = sampleStratifiedOn(kept).select($"doc_id")
    val stageSample = kept.join(sampledIds, "doc_id")
      .withColumn("toks", expr(TA.toksExpr))
      .agg(count(lit(1)).as("n_sampled"),
        sum(size($"toks").cast("long")).as("n_tokens_sampled"))
    stageFilter.crossJoin(stageSample)
  }

  val pipelineE2eSql: String = {
    import graft.functions.Agg.countIfSql
    s"""WITH t AS (
       |  SELECT doc_id, text, ${TA.duckToks} AS toks,
       |    len(${TA.duckToks}) AS n_tokens
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, toks, n_tokens,
       |    ${TA.qualityMetricsDuck}
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text, n_tokens,
       |    ${TA.qualityDuck} AS quality,
       |    ${TA.langScoreColsDuck}
       |  FROM m),
       |c AS (
       |  SELECT md5(text) AS h, min(doc_id) AS canonical_id
       |  FROM documents GROUP BY 1),
       |r AS (
       |  SELECT q.doc_id,
       |    CASE WHEN (${TA.langGuessDuck}) <> 'en' THEN 'lang'
       |         WHEN n_tokens < $minTokens OR n_tokens > $maxTokens THEN 'length'
       |         WHEN quality < CAST($qualityTau AS DOUBLE) THEN 'quality'
       |         WHEN q.doc_id <> c.canonical_id THEN 'duplicate'
       |         ELSE 'kept' END AS reason
       |  FROM q JOIN c ON md5(q.text) = c.h),
       |kept AS (
       |  SELECT d.* FROM documents d JOIN r ON d.doc_id = r.doc_id
       |  WHERE r.reason = 'kept'),
       |st AS (
       |  SELECT source, least(1000, ${1000L * targetPerStratum} // count(*)) AS thr_permille
       |  FROM kept GROUP BY 1),
       |fp AS (
       |  SELECT doc_id, source, coalesce(${TA.fingerprintDuck} % 1000, 0) AS bucket
       |  FROM (SELECT doc_id, source, ${TA.duckToks} AS toks FROM kept)),
       |samp AS (
       |  SELECT fp.doc_id FROM fp JOIN st ON fp.source = st.source
       |  WHERE fp.bucket < st.thr_permille),
       |stok AS (
       |  SELECT count(*) AS n_sampled,
       |    CAST(sum(len(${TA.duckToks})) AS BIGINT) AS n_tokens_sampled
       |  FROM kept JOIN samp ON kept.doc_id = samp.doc_id)
       |SELECT
       |  (SELECT count(*) FROM r) AS n_docs,
       |  (SELECT ${countIfSql("reason = 'lang'")} FROM r) AS drop_lang,
       |  (SELECT ${countIfSql("reason = 'length'")} FROM r) AS drop_length,
       |  (SELECT ${countIfSql("reason = 'quality'")} FROM r) AS drop_quality,
       |  (SELECT ${countIfSql("reason = 'duplicate'")} FROM r) AS drop_duplicate,
       |  (SELECT ${countIfSql("reason = 'kept'")} FROM r) AS n_kept,
       |  stok.n_sampled, stok.n_tokens_sampled
       |FROM stok""".stripMargin
  }

  /** §2.8 — deterministic source-mixing order (the multilingual /
    * multi-source "temperature sampling" layout): each source's
    * documents interleave into the global training order at a rate
    * ∝ √|source| — small sources surface relatively MORE often than
    * their corpus share (temperature-2 mixing, the standard remedy
    * for big-source dominance), and the mix is a pure function of the
    * corpus: mix_key = rank_in_source / √|source|, quantized 1e-9 to
    * an integer so both engines order identically.
    *
    * Scale layout: rank-in-source via [[graft.functions.Ranks
    * .perKeyRowNumber]] — sources are exactly the low-cardinality hot
    * keys a per-source window would serialize; global position via
    * the two-phase bucketed rank. No row-bearing stage is
    * single-task. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"source")
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("ns"))
    val ranked = graft.functions.Ranks.perKeyRowNumber(
      docs, Seq("source"), Seq($"doc_id"), "rn")
    val keyed = ranked.join(broadcast(sizes), "source")
      .withColumn("mix_key", expr(
        "CAST(floor(CAST(rn AS DOUBLE) / sqrt(CAST(ns AS DOUBLE)) * 1000000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
    graft.functions.Ranks.globalRowNumber(keyed,
        Seq($"mix_key", $"source", $"doc_id"), "position")
      .select($"doc_id", $"source", $"mix_key", $"position")
      .orderBy($"position")
  }

  val corpusMixSql: String =
    """WITH n AS (
      |  SELECT source, count(*) AS ns FROM documents GROUP BY 1),
      |r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |k AS (
      |  SELECT r.doc_id, r.source,
      |    CAST(floor(CAST(rn AS DOUBLE) / sqrt(CAST(ns AS DOUBLE)) * 1000000000.0
      |               + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mix_key
      |  FROM r JOIN n ON r.source = n.source)
      |SELECT doc_id, source, mix_key,
      |  row_number() OVER (ORDER BY mix_key, source, doc_id) AS position
      |FROM k ORDER BY position""".stripMargin

  /** CMS geometry: depth (independent hash rows) × width (cells per
    * row, as 3 hex chars = 4096). */
  val cmsDepth = 4
  val cmsHexChars = 3
  val cmsTopN = 20

  /** §2.8 — count-min sketch term frequencies: the bounded-memory
    * frequency summary to [[corpusHeavyHitters]]' exact two-pass —
    * ONE pass, O(depth × width) state total, mergeable by cell-wise
    * addition (partials combine map-side like any groupBy), never an
    * exact per-term table. Estimates are biased UP only (collisions
    * add, never subtract): est(t) = min over rows of cell(h_i(t)) ≥
    * true(t) — PipelineSpec asserts the bound over every distinct
    * token. The cell hash is an md5-prefix, identical in both
    * engines, so the sketch and its estimates are fully
    * DuckDB-replicable: the query emits the [[cmsTopN]] most frequent
    * tokens with exact and estimated counts. */
  def corpusCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(expr(TA.toksExpr)).as("token"))
    val depths = (0 until cmsDepth).toDF("i")
    val cells = toks.crossJoin(broadcast(depths))
      .select($"i",
        substring(md5(concat($"i".cast("string"), lit(":"), $"token")), 1, cmsHexChars).as("cell"))
      .groupBy($"i", $"cell").agg(count(lit(1)).as("c"))
    val top = toks.groupBy($"token").agg(count(lit(1)).as("exact_count"))
      .orderBy($"exact_count".desc, $"token").limit(cmsTopN)
    top.crossJoin(broadcast(depths))
      .select($"token", $"exact_count", $"i",
        substring(md5(concat($"i".cast("string"), lit(":"), $"token")), 1, cmsHexChars).as("cell"))
      .join(cells, Seq("i", "cell"))
      .groupBy($"token", $"exact_count")
      .agg(min($"c").as("cms_estimate"))
      .orderBy($"exact_count".desc, $"token")
  }

  val corpusCmsSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(${TA.duckToks}) AS token FROM documents),
       |d AS (SELECT unnest(generate_series(0, ${cmsDepth - 1})) AS i),
       |cells AS (
       |  SELECT i, substr(md5(i || ':' || token), 1, $cmsHexChars) AS cell, count(*) AS c
       |  FROM tok, d GROUP BY 1, 2),
       |top AS (
       |  SELECT token, count(*) AS exact_count FROM tok GROUP BY 1
       |  ORDER BY exact_count DESC, token LIMIT $cmsTopN)
       |SELECT t.token, t.exact_count, min(c.c) AS cms_estimate
       |FROM top t
       |JOIN d ON TRUE
       |JOIN cells c ON c.i = d.i
       |  AND c.cell = substr(md5(d.i || ':' || t.token), 1, $cmsHexChars)
       |GROUP BY t.token, t.exact_count
       |ORDER BY t.exact_count DESC, t.token""".stripMargin

  /** Seed for the deterministic training-order shuffle. */
  val shuffleSeed = 42

  /** Deterministic global training-order shuffle: every epoch-0 data
    * loader wants the corpus in a reproducible pseudo-random order.
    * Sort key is md5(seed:doc_id) — change the seed, get an
    * independent permutation — suffixed with the zero-padded doc_id
    * so the composite is unique even under a digest collision. The
    * global position comes from [[graft.functions.Ranks.globalRowNumber]]
    * (range partition + per-partition offsets), NEVER a bare
    * `row_number() OVER (ORDER BY ...)` — that is a one-task sort of
    * the corpus. At 100 TB this is exactly a TeraSort: one range
    * shuffle, every stage data-parallel. */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = Tables.documents(s, dir)
      .withColumn("shuffle_key",
        concat(
          md5(concat(lit(s"$shuffleSeed:"), $"doc_id".cast("string")).cast("binary")),
          lit("-"), lpad($"doc_id".cast("string"), 20, "0")))
    graft.functions.Ranks.globalRowNumber(keyed, Seq($"shuffle_key"), "position")
      .select($"position", $"doc_id", $"source")
      .orderBy($"position")
  }

  val corpusShuffleSql: String =
    s"""SELECT row_number() OVER (ORDER BY
       |    md5('$shuffleSeed:' || CAST(doc_id AS VARCHAR))
       |      || '-' || lpad(CAST(doc_id AS VARCHAR), 20, '0')) AS position,
       |  doc_id, source
       |FROM documents ORDER BY position""".stripMargin

  /** Power-of-two sequence-length buckets for [[docLengthBuckets]]. */
  val lengthBuckets: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)

  /** §2.8 — sequence-length bucket audit: documents batched together
    * pad to their bucket's length, so the padding column IS the
    * wasted accelerator compute — the number a batching layout is
    * chosen by. Each doc lands in the smallest power-of-two bucket
    * holding its token count (row-local CASE chain — no float
    * log2/pow, whose engine-specific rounding could flip a doc at an
    * exact boundary); one partial-aggregated groupBy on ≤
    * |[[lengthBuckets]]| keys. waste_pct = padding / padded volume. */
  def docLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = $"n_tokens"
    val bucketCol = lengthBuckets.foldRight(lit(lengthBuckets.last)) {
      case (b, alt) => when(n <= b, lit(b)).otherwise(alt)
    }
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(expr(TA.toksExpr)).cast("long"))
      .withColumn("bucket", bucketCol)
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"bucket" - $"n_tokens").as("padding_tokens"))
      .withColumn("waste_pct", expr(wRndSql(
        "CAST(padding_tokens AS DOUBLE) / CAST(bucket * n_docs AS DOUBLE)", 4)))
      .orderBy($"bucket")
  }

  val docLengthBucketsSql: String = {
    val cases = lengthBuckets.map(b => s"WHEN n_tokens <= $b THEN $b")
      .mkString("CASE ", " ", s" ELSE ${lengthBuckets.last} END")
    s"""WITH t AS (
       |  SELECT len(${TA.duckToks}) AS n_tokens FROM documents),
       |b AS (SELECT n_tokens, CAST($cases AS BIGINT) AS bucket FROM t)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(bucket - n_tokens) AS BIGINT) AS padding_tokens,
       |  ${wRndSql("CAST(sum(bucket - n_tokens) AS DOUBLE) / CAST(bucket * count(*) AS DOUBLE)", 4)} AS waste_pct
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Split-assignment seed and hex thresholds: the first 4 md5 hex
    * chars partition [0, 65536) — test takes [0, 655) ≈ 1%, val
    * takes [655, 1310) ≈ 1%, train the rest. Lowercase-hex
    * lexicographic comparison IS numeric comparison, so the same
    * string thresholds evaluate identically in Spark and DuckDB with
    * no hex→int conversion. */
  val splitSeed = "graft-split-v1"
  private[operators] val splitTestHex = f"${(65536 * 0.01).toInt}%04x"
  private[operators] val splitValHex = f"${(65536 * 0.02).toInt}%04x"

  /** §2.8 — deterministic train/val/test assignment: the split every
    * training run must agree on. Membership is a pure function of
    * (seed, doc_id) — md5(seed:doc_id) hex-prefix against fixed
    * thresholds — so the assignment is reproducible across runs,
    * engines, and corpus versions: adding or removing OTHER documents
    * never reassigns an existing one (the property random-number
    * splits lack, and the reason eval sets stay uncontaminated as the
    * corpus grows — lib.ts:24-123's accumulate semantics assume
    * exactly this kind of append-stability). Row-local map, no
    * shuffle beyond the presentation sort; at 100 TB the sort drops
    * and the split column rides the corpus write. */
  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("h", substring(
        md5(concat(lit(s"$splitSeed:"), $"doc_id".cast("string")).cast("binary")), 1, 4))
      .withColumn("split",
        when($"h" < lit(splitTestHex), "test")
          .when($"h" < lit(splitValHex), "val")
          .otherwise("train"))
      .select($"doc_id", $"split")
      .orderBy($"doc_id")
  }

  val splitAssignSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN h < '$splitTestHex' THEN 'test'
       |       WHEN h < '$splitValHex' THEN 'val'
       |       ELSE 'train' END AS split
       |FROM (SELECT doc_id,
       |        substr(md5('$splitSeed:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** §2.8 — LEAKAGE-SAFE split: the SOURCE is the assignment unit.
    * Near-duplicate and template text clusters within a crawl source,
    * so a doc-level split ([[splitAssign]]) leaks train text into
    * eval through unsplit near-dups; grouping the split by source is
    * the standard defense (and the reason eval suites split by URL
    * domain). Each source draws its split from the seeded PRF coin
    * and every document INHERITS it — row-local (the hash is of the
    * source string on each row; no distinct, no join, no shuffle
    * beyond the output sort), deterministic, cluster-size-invariant.
    * Proportions hold in expectation at the SOURCE level, the price
    * of leakage safety. */
  def splitBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("h", substring(
        md5(concat(lit(s"$splitSeed:src:"), $"source").cast("binary")), 1, 4))
      .withColumn("split",
        when($"h" < lit(splitTestHex), "test")
          .when($"h" < lit(splitValHex), "val")
          .otherwise("train"))
      .select($"doc_id", $"source", $"split")
      .orderBy($"doc_id")
  }

  val splitBySourceSql: String =
    s"""SELECT doc_id, source,
       |  CASE WHEN h < '$splitTestHex' THEN 'test'
       |       WHEN h < '$splitValHex' THEN 'val'
       |       ELSE 'train' END AS split
       |FROM (SELECT doc_id, source,
       |        substr(md5('$splitSeed:src:' || source), 1, 4) AS h
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Co-occurrence window (max token distance) and minimum pair
    * support for [[corpusPmi]]. */
  val pmiMaxDist = 2
  val pmiMinCount = 5
  val pmiTopN = 50

  /** Collocation mining: pointwise mutual information of word pairs
    * co-occurring within [[pmiMaxDist]] tokens — the phrase/
    * multi-word-expression signal a tokenizer-training or phrase-
    * merging pass consumes. PMI compares the pair's observed rate to
    * the independence expectation:
    * pmi = ln(p(a,b) / (p(a)·p(b))), p(a,b)=c_ab/N_pairs,
    * p(w)=c_w/N_tok, reported for pairs with support ≥
    * [[pmiMinCount]], top-[[pmiTopN]] by (rounded) PMI with the pair
    * identity as the total-order tiebreak.
    *
    * Scale layout: pair generation is row-local (an explode of the
    * token array against itself at offsets 1..maxDist — never a
    * positions self-join); pair counts are one partial-aggregated
    * shuffle on (w1, w2); the unigram marginal table is vocab-bounded
    * and joins back onto the pair counts (AQE broadcasts it when it
    * fits); the two corpus totals ride in as a 1-row broadcast. The
    * PMI arithmetic runs entirely in doubles (a BIGINT product
    * c·N²_tok overflows 64 bits near ~10¹¹ tokens), left-to-right
    * identical on both engines, rounded 1e-6. TakeOrdered top-N —
    * no global sort of the pair space. */
  def corpusPmi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val toks = Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .filter(size($"toks") > pmiMaxDist)
      .select($"doc_id", $"toks")
    val uni = toks.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cw"))
    val nTok = uni.agg(sum($"cw").as("n_tok"))
    val pairs = toks.select(explode(expr(
      s"""flatten(transform(sequence(1, $pmiMaxDist), d ->
         |  transform(sequence(1, size(toks) - d),
         |    i -> struct(least(element_at(toks, i), element_at(toks, i + d)) AS w1,
         |                greatest(element_at(toks, i), element_at(toks, i + d)) AS w2))))"""
        .stripMargin)).as("p"))
      .select($"p.w1", $"p.w2")
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_cooccur"))
      .filter($"n_cooccur" >= pmiMinCount)
      .join(uni.select($"w".as("ua_w"), $"cw".as("ca")), $"w1" === $"ua_w")
      .join(uni.select($"w".as("ub_w"), $"cw".as("cb")), $"w2" === $"ub_w")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPairs))
      .select($"w1", $"w2", $"n_cooccur",
        rnd(log(($"n_cooccur".cast("double") * $"n_tok" * $"n_tok") /
                ($"ca".cast("double") * $"cb" * $"n_pairs")), 6).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(pmiTopN)
  }

  val corpusPmiSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH t AS (
       |  SELECT doc_id, ${TA.duckToks} AS toks FROM documents),
       |ft AS (SELECT * FROM t WHERE len(toks) > $pmiMaxDist),
       |uni AS (
       |  SELECT w, count(*) AS cw
       |  FROM (SELECT unnest(toks) AS w FROM ft) GROUP BY 1),
       |nt AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tok FROM uni),
       |pairs AS (
       |  SELECT least(toks[i], toks[i + d]) AS w1,
       |         greatest(toks[i], toks[i + d]) AS w2
       |  FROM ft,
       |       unnest(range(1, $pmiMaxDist + 1)) AS dd(d),
       |       unnest(range(1, len(toks) - d + 1)) AS u(i)),
       |np AS (SELECT count(*) AS n_pairs FROM pairs),
       |pc AS (
       |  SELECT w1, w2, count(*) AS n_cooccur FROM pairs GROUP BY 1, 2
       |  HAVING count(*) >= $pmiMinCount)
       |SELECT w1, w2, n_cooccur,
       |  ${rndSql("ln((CAST(n_cooccur AS DOUBLE) * n_tok * n_tok) / (CAST(ca.cw AS DOUBLE) * cb.cw * n_pairs))", 6)} AS pmi
       |FROM pc
       |JOIN uni ca ON pc.w1 = ca.w
       |JOIN uni cb ON pc.w2 = cb.w, nt, np
       |ORDER BY pmi DESC, w1, w2 LIMIT $pmiTopN""".stripMargin
  }

  // ------------------------------------------------------------------
  // corpus_vocab_growth — Heaps'-law vocabulary growth curve
  // ------------------------------------------------------------------

  /** Checkpoints on the vocabulary growth curve. */
  private[operators] val vocabCheckpoints = 10

  /** §2.8 — vocabulary growth (Heaps'-law) curve: distinct-term count
    * and cumulative token count at [[vocabCheckpoints]] doc-id
    * checkpoints — the corpus-health diagnostic (a flattening curve =
    * duplicated/templated content; super-linear = OCR noise or
    * language mixing).
    *
    * The naive formulation re-scans the corpus per checkpoint (or
    * sorts it globally for a running distinct). This one is two
    * bounded passes regardless of checkpoint count: (1) per-term
    * FIRST-OCCURRENCE doc id — a partial-agged `groupBy(term)
    * .agg(min(doc_id))`, the only term-level shuffle; (2) vocab at
    * checkpoint c = terms with first_doc ≤ c, computed as ONE
    * conditional aggregation over the first-occurrence table (10
    * sums in a single reduce to a 1-row frame — no 10× explode of
    * the vocab through a join). Doc/token counts per checkpoint come
    * from the same conditional-agg device over the doc-level frame.
    * Checkpoint literals derive from max(doc_id) — a bounded
    * single-scalar driver collect of a partial-agged max. */
  def corpusVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.countIf
    val docs = Tables.documents(s, dir)
      .select($"doc_id", size(expr(TextAnalysis.toksExpr)).cast("long").as("n_toks"))
    val maxRow = docs.agg(max($"doc_id")).head
    // empty corpus: the oracle emits one all-zero row per checkpoint
    // with a NULL checkpoint_id (ceil of a NULL max) — mirror it
    if (maxRow.isNullAt(0))
      return (1 to vocabCheckpoints)
        .map(_ => (None: Option[Long], 0L, 0L, 0L))
        .toDF("checkpoint_id", "n_docs", "n_tokens", "vocab")
    val maxId = maxRow.getLong(0)
    val cps = (1 to vocabCheckpoints)
      .map(i => math.ceil(i.toDouble * maxId / vocabCheckpoints).toLong)
    val firstDoc = Tables.documents(s, dir)
      .select($"doc_id", explode(expr(TextAnalysis.toksExpr)).as("term"))
      .groupBy($"term").agg(min($"doc_id").as("first_doc"))
    // generated columns are keyed by checkpoint INDEX, not value — a
    // tiny corpus can collapse several checkpoints onto one doc_id
    // (maxId=0 makes all ten equal) and value-keyed names collide
    val vCols = cps.zipWithIndex.map { case (c, i) =>
      countIf($"first_doc" <= c).as(s"v$i") }
    val vocabRow = firstDoc.agg(vCols.head, vCols.tail: _*)
    val dCols = cps.zipWithIndex.map { case (c, i) =>
      countIf($"doc_id" <= c).as(s"d$i") } ++
      cps.zipWithIndex.map { case (c, i) =>
        sum(when($"doc_id" <= c, $"n_toks").otherwise(0L)).as(s"t$i") }
    val docRow = docs.agg(dCols.head, dCols.tail: _*)
    val stacked = cps.zipWithIndex.map { case (c, i) =>
      s"struct(CAST($c AS BIGINT) AS checkpoint_id, d$i AS n_docs, t$i AS n_tokens, v$i AS vocab)" }
      .mkString("array(", ", ", ")")
    docRow.crossJoin(vocabRow)
      .select(explode(expr(stacked)).as("r"))
      .select($"r.checkpoint_id", $"r.n_docs", $"r.n_tokens", $"r.vocab")
      .orderBy($"checkpoint_id")
  }

  val corpusVocabGrowthSql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |cps AS (
       |  SELECT CAST(ceil(i * CAST(m AS DOUBLE) / $vocabCheckpoints) AS BIGINT) AS checkpoint_id
       |  FROM mx, unnest(range(1, $vocabCheckpoints + 1)) AS u(i)),
       |d AS (
       |  SELECT doc_id,
       |    CAST(len(${TextAnalysis.duckToks}) AS BIGINT) AS n_toks
       |  FROM documents),
       |fd AS (
       |  SELECT t AS term, min(doc_id) AS first_doc
       |  FROM (SELECT doc_id, unnest(${TextAnalysis.duckToks}) AS t FROM documents)
       |  GROUP BY 1)
       |SELECT c.checkpoint_id,
       |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id <= c.checkpoint_id) AS n_docs,
       |  (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM d WHERE doc_id <= c.checkpoint_id) AS n_tokens,
       |  (SELECT CAST(count(*) AS BIGINT) FROM fd WHERE first_doc <= c.checkpoint_id) AS vocab
       |FROM cps c ORDER BY checkpoint_id""".stripMargin

  /** §2.8 #45i — source-weighted epoch upsampling: materializes the
    * "source s is seen w_s epochs" training-mix recipe. Every doc
    * repeats ⌊w⌋ times, and a deterministic `doc_id mod 100` slice of
    * the source repeats once more, so a 1.5-epoch source emits every
    * doc once and half its docs twice — exact, reproducible, and
    * diffable run to run (the property a data recipe needs; random
    * sampling isn't). Weights cycle 1.0/1.5/2.0 by the source's
    * name-ordered ordinal — a stand-in for the recipe table a real
    * pipeline supplies.
    *
    * Scale layout: the weight table is source-count-sized (its
    * window sort is over ~dozens of rows) and broadcasts; the corpus
    * side is row-local — predicate + explode(sequence), zero
    * exchanges. 100 TB upsampling is a map-only job. */
  def corpusUpsample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // source-count-sized frame only — the global sort is over ~dozens
    // of distinct sources, never the corpus
    val w = org.apache.spark.sql.expressions.Window.orderBy($"source")
    val weights = Tables.documents(s, dir).select($"source").distinct()
      .withColumn("w", lit(1.0) + ((dense_rank().over(w) - 1) % 3).cast("double") * 0.5)
    Tables.documents(s, dir).select($"doc_id", $"source")
      .join(broadcast(weights), "source")
      .withColumn("n_rep", (floor($"w") +
        when(($"doc_id" % 100).cast("double") < round(($"w" - floor($"w")) * 100.0, 0), 1L)
          .otherwise(0L)).cast("long"))
      .select($"doc_id", $"source", $"w",
        explode(sequence(lit(1L), $"n_rep")).as("copy_idx"))
      .orderBy($"doc_id", $"copy_idx")
  }

  val corpusUpsampleSql: String =
    """WITH wt AS (
      |  SELECT source,
      |    1.0 + (CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) - 1) % 3 * 0.5 AS w
      |  FROM (SELECT DISTINCT source FROM documents)),
      |d AS (
      |  SELECT doc_id, doc.source, w,
      |    CAST(floor(w) + CASE WHEN CAST(doc_id % 100 AS DOUBLE) <
      |      round((w - floor(w)) * 100.0, 0) THEN 1 ELSE 0 END AS BIGINT) AS n_rep
      |  FROM documents doc JOIN wt ON doc.source = wt.source)
      |SELECT doc_id, source, w,
      |  unnest(range(1, n_rep + 1)) AS copy_idx
      |FROM d
      |ORDER BY doc_id, copy_idx""".stripMargin

  // ------------------------------------------------------------------
  // corpus_quality_buckets — CCNet-style head/middle/tail split
  // ------------------------------------------------------------------

  /** §2.8 — CCNet-style per-language quality tertiles: score every
    * document with the corpus bigram LM (`text_lm_score`), derive
    * per-language tertile thresholds, and split each language into
    * head (best-scored third) / middle / tail. The classic
    * "train on head+middle, drop tail" pretraining curation gate
    * (CCNet, Wenzek et al. 2020), here as an auditable aggregate:
    * bucket populations and mean score per (lang, bucket).
    *
    * Scale layout: scoring is the `text_lm_score` shape (corpus-
    * linear bigram joins); thresholds are one exact-percentile pass
    * over a BOUNDED group count (#languages), broadcast back; the
    * bucket assignment is row-local. Scores live on a 1e-6 grid and
    * the threshold compare quantizes both sides to the same grid, so
    * an interpolation ulp can't flip a bucket. At a vastly larger
    * language count the threshold pass swaps to the two-phase
    * distributed quantile layout (`q_percentiles_dist`), same
    * contract. */
  def corpusQualityBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{davg, quantize, rnd}
    val scored = Tables.documents(s, dir).select($"doc_id", $"lang")
      .join(textLmScore(s, dir).select($"doc_id", $"lm_score"), "doc_id")
    val th = scored.groupBy($"lang").agg(
      expr("percentile(lm_score, CAST(1 AS DOUBLE)/3)").as("t1"),
      expr("percentile(lm_score, CAST(2 AS DOUBLE)/3)").as("t2"))
    scored.join(broadcast(th), "lang")
      .withColumn("sq", quantize($"lm_score", 6).cast("long"))
      .withColumn("bucket",
        when($"sq" >= quantize($"t2", 6).cast("long"), "head")
          .when($"sq" >= quantize($"t1", 6).cast("long"), "middle")
          .otherwise("tail"))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        rnd(davg($"lm_score"), 6).as("mean_score"))
      .orderBy($"lang", $"bucket")
  }

  val corpusQualityBucketsSql: String = {
    import graft.functions.Agg.{davgSql, rndSql}
    s"""WITH lm0 AS ($textLmScoreSql),
       |scored AS (
       |  SELECT d.lang, l.doc_id, l.lm_score
       |  FROM documents d JOIN lm0 l USING (doc_id)),
       |th AS (
       |  SELECT lang,
       |    quantile_cont(lm_score, CAST(1 AS DOUBLE)/3) AS t1,
       |    quantile_cont(lm_score, CAST(2 AS DOUBLE)/3) AS t2
       |  FROM scored GROUP BY 1),
       |b AS (
       |  SELECT s.lang, s.lm_score,
       |    CASE
       |      WHEN CAST(floor(s.lm_score * 1000000.0 + 0.5) AS BIGINT) >=
       |           CAST(floor(t.t2 * 1000000.0 + 0.5) AS BIGINT) THEN 'head'
       |      WHEN CAST(floor(s.lm_score * 1000000.0 + 0.5) AS BIGINT) >=
       |           CAST(floor(t.t1 * 1000000.0 + 0.5) AS BIGINT) THEN 'middle'
       |      ELSE 'tail' END AS bucket
       |  FROM scored s JOIN th t USING (lang))
       |SELECT lang, bucket, count(*) AS n_docs,
       |  ${rndSql(davgSql("lm_score"), 6)} AS mean_score
       |FROM b GROUP BY lang, bucket
       |ORDER BY lang, bucket""".stripMargin
  }

  // ------------------------------------------------------------------
  // sample_entity — entity-coherent (per-user) sampling
  // ------------------------------------------------------------------

  /** Keep-fraction denominator: users whose multiplicative hash
    * falls in the lowest tenth of the modulus are kept — a
    * deterministic ~10% ENTITY sample. The multiplier is Knuth's
    * 2654435761 (golden-ratio scatter), NOT the samplers' small
    * Lehmer step: a rank PRF only needs a consistent ORDER, but a
    * THRESHOLD membership needs small ids to wrap the modulus too —
    * (id·48271) mod 2³¹−1 keeps every id < ~44k under any cut
    * (caught at sf0.01: the filter admitted 100% of users).
    * Overflow-safe: (id mod M)·A < 5.7e18 < 2⁶³. */
  val entitySampleMod = 2147483647L
  val entitySampleMult = 2654435761L
  val entitySampleCut = entitySampleMod / 10

  /** §2.8 — entity-coherent sampling: keep EVERY event of ~10% of
    * users, selected by a deterministic PRF of the user id — the
    * sampling shape behavioral analysis requires (funnels, sessions
    * and retention are meaningless on row-sampled events; they need
    * whole users). Complements the row samplers (38/38b/38c): same
    * Lehmer PRF, but keyed on the ENTITY. Row-local filter — zero
    * shuffles to select; the per-user audit rollup is one partial-
    * agged groupBy. Membership is stable under appends and cluster
    * sizes by construction (pure function of user_id). */
  def sampleEntity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter(expr(s"(user_id % ${entitySampleMod}L) * ${entitySampleMult}L % ${entitySampleMod}L") < entitySampleCut)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_type").as("n_types"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .orderBy($"user_id")
  }

  val sampleEntitySql: String =
    s"""SELECT user_id, count(*) AS n_events,
       |  count(DISTINCT event_type) AS n_types,
       |  min(ts) AS first_ts, max(ts) AS last_ts
       |FROM events
       |WHERE (user_id % $entitySampleMod) * $entitySampleMult % $entitySampleMod < $entitySampleCut
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // text_zipf_fit — Zipf's-law fit over the token frequency spectrum
  // ------------------------------------------------------------------

  /** §2.8 — Zipf's-law fit: log-log OLS of token frequency against
    * frequency rank over the whole vocabulary — the corpus-health
    * diagnostic next to `corpus_vocab_growth` (natural text slopes
    * ≈ −1; a flat slope means templated/duplicated content, a cliff
    * means OCR noise or truncation).
    *
    * Scale: token counts partial-aggregate to the VOCAB-sized
    * frequency table; ranking that table uses the two-phase bucketed
    * global row number on (−count, token) — never a one-task ORDER BY
    * window; the regression reduces vocab-sized (x, y) pairs with
    * per-term 1e-6 half-up quantization and exact DECIMAL(38) sums
    * (order-independent, and the quantized ln values are identical in
    * both engines — the `text_lm_score` precedent), then one
    * identical-arithmetic slope/intercept/r² evaluation. */
  def textZipfFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.Ranks
    // pinned: the rank's boundary sampling, offsets pass and final
    // scan would otherwise re-run the corpus explode+aggregate 3x
    val freq = Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val ranked = Ranks.globalRowNumber(
      freq.withColumn("negc", -$"c"), Seq($"negc", $"tok"), "rank")
    val terms = ranked.select(
      expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("xq"),
      expr("CAST(floor(ln(CAST(c AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("yq"))
      .select($"xq", $"yq",
        expr("CAST(floor((CAST(xq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(yq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("xyq"),
        expr("CAST(floor((CAST(xq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(xq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("xxq"),
        expr("CAST(floor((CAST(yq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(yq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("yyq"))
    val m = terms.agg(
      count(lit(1)).as("n"),
      sum($"xq".cast(DecimalType(38, 0))).as("sx"),
      sum($"yq".cast(DecimalType(38, 0))).as("sy"),
      sum($"xyq".cast(DecimalType(38, 0))).as("sxy"),
      sum($"xxq".cast(DecimalType(38, 0))).as("sxx"),
      sum($"yyq".cast(DecimalType(38, 0))).as("syy"))
    m.select($"n".as("n_tokens"),
      expr(zipfRnd(zipfSlope)).as("slope"),
      expr(zipfRnd(zipfIntercept)).as("intercept"),
      expr(zipfRnd(zipfR2)).as("r2"))
  }

  // Degenerate-vocabulary guards (a 1-distinct-token corpus has zero
  // rank variance; the fit is undefined): NULL in both engines, with
  // the branch decided on the EXACT decimal sums — the double-derived
  // denominator could sit ±1 ulp from 0 and the engines must agree.
  private val zipfDegX = "n < 2 OR n * sxx = sx * sx"
  private val zipfSlope =
    s"CASE WHEN $zipfDegX THEN CAST(NULL AS DOUBLE) ELSE (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END"
  private val zipfIntercept =
    s"CASE WHEN $zipfDegX THEN CAST(NULL AS DOUBLE) ELSE (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd END"
  private val zipfR2 =
    s"CASE WHEN $zipfDegX OR n * syy = sy * sy THEN CAST(NULL AS DOUBLE) ELSE ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) END"

  /** Shared rnd6 wrapper with the decimal-sum → double bindings
    * inlined, so Spark and DuckDB evaluate ONE identical expression
    * string. */
  private def zipfRnd(e: String): String = {
    val bind = Map(
      "nd" -> "CAST(n AS DOUBLE)",
      "sxd" -> "(CAST(sx AS DOUBLE) / CAST(1000000 AS DOUBLE))",
      "syd" -> "(CAST(sy AS DOUBLE) / CAST(1000000 AS DOUBLE))",
      "sxyd" -> "(CAST(sxy AS DOUBLE) / CAST(1000000 AS DOUBLE))",
      "sxxd" -> "(CAST(sxx AS DOUBLE) / CAST(1000000 AS DOUBLE))",
      "syyd" -> "(CAST(syy AS DOUBLE) / CAST(1000000 AS DOUBLE))")
    graft.functions.Agg.rndSql(
      bind.foldLeft(e) { case (acc, (k, v)) => acc.replaceAll(s"\\b$k\\b", java.util.regex.Matcher.quoteReplacement(v)) }, 6)
  }

  val textZipfFitSql: String =
    s"""WITH f AS (
       |  SELECT tok, count(*) AS c FROM (
       |    SELECT unnest(${TA.duckToks}) AS tok FROM documents)
       |  GROUP BY 1),
       |r AS (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM f),
       |t AS (
       |  SELECT
       |    CAST(floor(ln(CAST(rank AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xq,
       |    CAST(floor(ln(CAST(c AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS yq
       |  FROM r),
       |t2 AS (
       |  SELECT xq, yq,
       |    CAST(floor((CAST(xq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(yq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xyq,
       |    CAST(floor((CAST(xq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(xq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xxq,
       |    CAST(floor((CAST(yq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(yq AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS yyq
       |  FROM t),
       |m AS (
       |  SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
       |    sum(xyq) AS sxy, sum(xxq) AS sxx, sum(yyq) AS syy
       |  FROM t2)
       |SELECT n AS n_tokens,
       |  ${zipfRnd(zipfSlope)} AS slope,
       |  ${zipfRnd(zipfIntercept)} AS intercept,
       |  ${zipfRnd(zipfR2)} AS r2
       |FROM m""".stripMargin

  // ------------------------------------------------------------------
  // corpus_token_budget — temperature-mixing allocation plan
  // ------------------------------------------------------------------

  /** Mixing temperature exponent (weights ∝ n^τ) and the training
    * budget as a fraction of the corpus's total tokens. τ < 1
    * up-weights small sources relative to proportional sampling —
    * the standard multilingual/multi-source rebalancing. */
  val budgetTau = 0.7
  val budgetFrac = 0.5

  /** §2.8 — the data-mixing PLAN every pretraining run starts from:
    * per source its token count, its temperature-τ sampling
    * probability p_s ∝ n_s^τ, the token allocation against a budget
    * of [[budgetFrac]]·total, and the implied epoch count
    * (allocation/n_s — >1 means the source repeats). The planning
    * complement of `corpus_mix` (which ORDERS documents) and
    * `corpus_upsample` (which MATERIALIZES repeats).
    *
    * Scale: one partial-agged token count per source; everything else
    * is row-local arithmetic on the |sources|-sized frame. Weights
    * are 1e-6-quantized before the exact integer normalization sum,
    * so shares are addition-order-independent and engine-exact. */
  def corpusTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .withColumn("toks", expr(TA.toksExpr))
      .groupBy($"source").agg(sum(size($"toks").cast("long")).as("n_tokens"))
    budgetPlanOf(counts)
  }

  /** The temperature-mixing allocation formula over ANY
    * (source, n_tokens) frame — shared with the BPE-unit variant
    * ([[Bpe.corpusTokenBudgetBpe]]), which swaps in trained-tokenizer
    * counts. */
  private[graft] def budgetPlanOf(counts: DataFrame): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    import graft.functions.Agg.{rnd, rndSql}
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("wq", expr(
        s"CAST(floor(pow(CAST(n_tokens AS DOUBLE), CAST($budgetTau AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .withColumn("wsum", sum($"wq").over(wAll))
      .withColumn("total", sum($"n_tokens").over(wAll))
      .withColumn("p", expr(rndSql("CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)", 6)))
      .withColumn("alloc_tokens", expr(
        s"CAST(floor(CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) * (CAST($budgetFrac AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT)"))
      .withColumn("epochs",
        rnd($"alloc_tokens".cast("double") / $"n_tokens".cast("double"), 6))
      .select($"source", $"n_tokens", $"p", $"alloc_tokens", $"epochs")
      .orderBy($"source")
  }

  /** Oracle tail applying the allocation formula to a CTE named `c`
    * with columns (source, n_tokens) — shared with the BPE variant. */
  private[graft] val budgetPlanSqlTail: String = {
    import graft.functions.Agg.rndSql
    s"""w AS (
       |  SELECT source, n_tokens,
       |    CAST(floor(pow(CAST(n_tokens AS DOUBLE), CAST($budgetTau AS DOUBLE)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS wq
       |  FROM c),
       |t AS (
       |  SELECT source, n_tokens, wq,
       |    CAST(sum(wq) OVER () AS BIGINT) AS wsum,
       |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
       |  FROM w)
       |SELECT source, n_tokens,
       |  ${rndSql("CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)", 6)} AS p,
       |  CAST(floor(CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) * (CAST($budgetFrac AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT) AS alloc_tokens,
       |  ${rndSql(s"CAST(CAST(floor(CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) * (CAST($budgetFrac AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT) AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS epochs
       |FROM t ORDER BY source""".stripMargin
  }

  val corpusTokenBudgetSql: String =
    s"""WITH c AS (
       |  SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM (
       |    SELECT source, ${TA.duckToks} AS toks FROM documents) GROUP BY 1),
       |$budgetPlanSqlTail""".stripMargin

  /** Context-window chunk size / stride (tokens). Stride < size, so
    * consecutive chunks overlap by `chunkSize - chunkStride` tokens —
    * the retrieval-chunking convention that keeps a fact straddling a
    * boundary fully inside at least one chunk. */
  val chunkSize = 32
  val chunkStride = 24

  /** §2.8 — OVERLAPPING sliding-window chunking (the RAG / context-
    * window prep step): each document becomes ⌈(n−C)/S⌉+1 chunks of
    * ≤ C tokens starting every S tokens, with stable (doc_id,
    * chunk_idx) identity, token offsets, and the chunk text — the
    * frame a downstream embed-and-index pass consumes row-per-chunk.
    * Docs with zero tokens emit no chunks (nothing to embed).
    *
    * Scale layout: pure row-local array work — tokenize once, build
    * the ≤ w-element start list with `sequence`, one generator
    * explode; no shuffle at all before the presentation ORDER BY.
    * Window count w is exact integer arithmetic (`div`-based ceiling
    * — Spark CAST truncates where DuckDB rounds, so no double ever
    * touches an index). Chunk-count amplification is bounded: ~n/S
    * rows of ≤ C tokens each, i.e. ≤ C/S ≈ 1.33× the corpus bytes. */
  def corpusChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (c0, s0) = (chunkSize, chunkStride)
    // coalesce + outer explode defeat the inferred-constraint trap
    // (see dedupParagraph): otherwise the tokenize+window transform
    // inlines into per-row isnotnull filters and runs twice. The
    // token array rides THROUGH the generator (one row-local pass,
    // ≤ C/S ≈ 1.33× amplification) — never a re-tokenize + doc_id
    // self-join for the slice.
    Tables.documents(s, dir)
      .withColumn("toks", expr(s"coalesce(filter(${TA.toksExpr}, t -> t <> ''), array())"))
      .withColumn("n", size($"toks"))
      .withColumn("starts", expr(
        s"""coalesce(CASE WHEN n > 0 THEN
           |  transform(sequence(0, CASE WHEN n <= $c0 THEN 0
           |    ELSE (n - $c0 + $s0 - 1) div $s0 END),
           |    i -> i * $s0) END, array())""".stripMargin))
      .select($"doc_id", $"toks", $"n",
        posexplode_outer($"starts").as(Seq("chunk_idx", "start_tok")))
      .filter($"start_tok".isNotNull)
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        $"start_tok".cast("long").as("start_tok"),
        least(lit(c0), $"n" - $"start_tok").cast("long").as("n_toks"),
        expr(s"array_join(slice(toks, CAST(start_tok AS INT) + 1, $c0), ' ')").as("chunk"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val corpusChunkSql: String = {
    val (c0, s0) = (chunkSize, chunkStride)
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(${TA.duckToks}, t -> t <> '') AS toks
       |  FROM documents
       |), w AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    CASE WHEN len(toks) <= $c0 THEN 0
       |      ELSE (len(toks) - $c0 + $s0 - 1) // $s0 END AS last_w
       |  FROM t WHERE len(toks) > 0
       |), e AS (
       |  SELECT doc_id, toks, n, unnest(range(0, last_w + 1)) AS chunk_idx
       |  FROM w
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * $s0 AS BIGINT) AS start_tok,
       |  CAST(least($c0, n - chunk_idx * $s0) AS BIGINT) AS n_toks,
       |  array_to_string(toks[chunk_idx * $s0 + 1 : chunk_idx * $s0 + $c0], ' ') AS chunk
       |FROM e
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Expected CDC chunk length: a token closes a chunk with
    * probability 1/8 (the boundary PRF lands in the low eighth of
    * the 32-bit range). */
  val cdcAvgChunk = 8

  /** Token-identity boundary test for [[corpusCdcChunk]], as ONE SQL
    * fragment evaluated identically by Spark and DuckDB (exact
    * BIGINT arithmetic — `ascii` is the first code point in both,
    * `substring(tok, length(tok), 1)` the last character). Fibonacci
    * hashing with a LOW-RANGE compare, not `% 8` of the product: the
    * Knuth multiplier is odd ≡ 1 (mod 8), so a low-bits modulus
    * degrades to `x mod 8` — for same-first/last-char tokens that is
    * just `length mod 8`, and whole token families never cut
    * (caught by the resynchronization spec's crafted vocab). The
    * magnitude compare on the 32-bit product reads the HIGH bits,
    * where the multiplier actually mixes. */
  private def cdcBoundarySql(tok: String): String =
    s"""((((length($tok) * 131 +
       |  ascii(substring($tok, 1, 1)) * 31 +
       |  ascii(substring($tok, length($tok), 1))) * 2654435761)
       |  % 4294967296) < 536870912)""".stripMargin

  /** §2.8 — CONTENT-DEFINED chunking (the storage-dedup cut rule):
    * chunk boundaries fall AFTER tokens whose identity PRF lands in
    * the low 1/[[cdcAvgChunk]] of the hash range instead of at fixed
    * offsets, so an
    * insertion near a document's head shifts only the chunk it lands
    * in — every later boundary re-synchronizes, and unchanged tails
    * keep their chunk text verbatim (fixed-window chunking re-cuts
    * the whole suffix). Emits one row per chunk with its corpus-wide
    * occurrence count `n_occ` — the dedup signal CDC exists to
    * maximize.
    *
    * Scale layout: tokenize + PRF are row-local; the chunk-id prefix
    * sum is a PER-DOCUMENT window (frame bounded by doc length —
    * never a corpus-wide sort); reassembly is one partial-agged
    * shuffle on (doc_id, chunk_id); the occurrence count shuffles the
    * 64-bit chunk hash, never the chunk text (dedup_substring's
    * device — the oracle counts on the text itself, same counts
    * absent 64-bit collisions). */
  /** The CDC chunk frame (doc_id, chunk_id, n_toks, chunk) shared by
    * [[corpusCdcChunk]] and [[dedupCdc]]. */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .withColumn("toks", expr(s"coalesce(filter(${TA.toksExpr}, t -> t <> ''), array())"))
      .select($"doc_id", posexplode_outer($"toks").as(Seq("pos", "tok")))
      .filter($"tok".isNotNull)
      .withColumn("boundary", when(expr(cdcBoundarySql("tok")), 1L).otherwise(0L))
    val win = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id", coalesce(sum($"boundary").over(win), lit(0L)))
      .groupBy($"doc_id", $"chunk_id")
      .agg(
        count(lit(1)).as("n_toks"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"pos", $"tok"))), x => x("tok"))).as("chunk"))
  }

  /** SQL twin of [[cdcChunks]] as CTEs ending in
    * `ck(doc_id, chunk_id, n_toks, chunk)`. */
  private lazy val cdcChunksCtes: String =
    s"""t AS (
       |  SELECT doc_id, unnest(list_filter(${TA.duckToks}, t -> t <> '')) AS tok,
       |    generate_subscripts(list_filter(${TA.duckToks}, t -> t <> ''), 1) - 1 AS pos
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN ${cdcBoundarySql("tok")} THEN 1 ELSE 0 END AS boundary
       |  FROM t
       |), cid AS (
       |  SELECT doc_id, pos, tok,
       |    CAST(coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
       |  FROM b
       |), ck AS MATERIALIZED (
       |  SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_toks,
       |    string_agg(tok, ' ' ORDER BY pos) AS chunk
       |  FROM cid GROUP BY doc_id, chunk_id
       |)""".stripMargin

  def corpusCdcChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcChunks(s, dir)
    val occ = chunks
      .select(xxhash64($"chunk").as("ch"))
      .groupBy($"ch").agg(count(lit(1)).as("n_occ"))
    chunks.withColumn("ch", xxhash64($"chunk"))
      .join(occ, Seq("ch"))
      .select($"doc_id", $"chunk_id", $"n_toks", $"chunk", $"n_occ")
      .orderBy($"doc_id", $"chunk_id")
  }

  /** §2.8 — CDC-granularity cross-document dedup: every repeated CDC
    * chunk survives exactly ONCE corpus-wide (at its canonical
    * instance — lowest (doc_id, chunk_id)); other instances drop and
    * each document reassembles from its surviving chunks. This is
    * the dedup CDC cutting exists to enable: because boundaries are
    * content-defined, a shared passage embedded at DIFFERENT offsets
    * in different documents still chunks identically and dedups —
    * fixed windows only catch alignment-preserving duplication
    * ([[Dedup.dedupParagraph]]'s granularity) and a one-token prefix
    * insertion defeats them.
    *
    * Scale: canonicalization shuffles the 64-bit chunk hash with a
    * min-struct aggregate (never the text — dedup_substring's
    * device; the oracle groups on the text itself, same winners
    * absent collisions), the survivor probe is the hash-keyed join
    * back, reassembly one partial-agged doc shuffle. */
  def dedupCdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcChunks(s, dir)
      .withColumn("ch", xxhash64($"chunk"))
      .localCheckpoint(true)
    val canon = chunks.groupBy($"ch")
      .agg(min(struct($"doc_id", $"chunk_id")).as("c"))
      .select($"ch", $"c.doc_id".as("c_doc"), $"c.chunk_id".as("c_chunk"))
    chunks.join(canon, Seq("ch"))
      .withColumn("kept",
        ($"doc_id" === $"c_doc" && $"chunk_id" === $"c_chunk").cast("long"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum($"kept").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when($"kept" === 1L, struct($"chunk_id", $"chunk")))),
          x => x("chunk"))).as("clean_text"))
      .orderBy($"doc_id")
  }

  val dedupCdcSql: String =
    s"""WITH $cdcChunksCtes,
       |canon AS (
       |  SELECT chunk, min(doc_id * 1000000000 + chunk_id) AS c_key
       |  FROM ck GROUP BY chunk
       |)
       |SELECT doc_id, count(*) AS n_chunks,
       |  ${graft.functions.Agg.countIfSql("doc_id * 1000000000 + chunk_id = c_key")} AS n_kept,
       |  coalesce(string_agg(CASE WHEN doc_id * 1000000000 + chunk_id = c_key
       |    THEN chunk END, ' ' ORDER BY chunk_id), '') AS clean_text
       |FROM ck JOIN canon USING (chunk)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ck is MATERIALIZED in the shared CTEs: it is referenced twice
  // here (occ + the final join) and DuckDB inlines multiply-
  // referenced CTEs — the dedup_lsh_plan lesson
  lazy val corpusCdcChunkSql: String =
    s"""WITH $cdcChunksCtes,
       |occ AS (
       |  SELECT chunk, CAST(count(*) AS BIGINT) AS n_occ FROM ck GROUP BY chunk
       |)
       |SELECT doc_id, chunk_id, n_toks, ck.chunk, n_occ
       |FROM ck JOIN occ ON ck.chunk = occ.chunk
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------------------
  // sample_kcenter — diversity sampling by farthest-point traversal
  // ------------------------------------------------------------------

  /** Centers selected by [[sampleKcenter]]. */
  val kCenters = 8

  /** §2.8 — greedy k-center (farthest-point traversal) over the
    * embedding table: the DIVERSITY sampler next to the frequency/
    * quality ones (38-38g) — pick the point farthest from everything
    * chosen so far, k times. The classic 2-approximation to the
    * k-center objective, and the shape coreset/`diverse subset`
    * selection takes in curation pipelines (cover the embedding
    * space, don't resample the dense blob).
    *
    * Distribution shape: each round is ONE row-local pass over the
    * staged corpus — min-distance to the (broadcast-literal) chosen
    * centers, then a bounded top-1 — so k centers cost k linear
    * passes, never a corpus self-join. Driver state = k (vector,
    * norm) pairs, PQ-codebook-bounded. Distances are squared-L2 via
    * the codegen'd graft_dot (same left-to-right order as DuckDB's
    * list kernel), 1e-6-quantized before every comparison, ties by
    * vec_id — fully deterministic, so the oracle replays the greedy
    * loop in unrolled MATERIALIZED CTEs to the identical center set.
    * Output: (round, vec_id, radius) — the selection's max-min
    * distance sequence, non-increasing by the greedy invariant (the
    * k-center "coverage radius" curve a curator reads to pick k). */
  def sampleKcenter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    import graft.functions.VectorFns
    val cv = Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("n2", expr(VectorFns.dot("v", "v")))
      .localCheckpoint()
    val firstRows = cv.orderBy($"vec_id").limit(1).collect()
    // corpus smaller than the center budget: emit what exists (the
    // oracle's per-round LIMIT 1 CTEs go empty the same way)
    if (firstRows.isEmpty)
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("round", "vec_id", "radius")
    val first = firstRows(0)
    // (id, vector, |v|^2, selection radius)
    val centers = scala.collection.mutable.ArrayBuffer[
      (Long, Array[Double], Double, Option[Double])](
      (first.getLong(0), first.getSeq[Double](1).toArray, first.getDouble(2), None))
    var exhausted = false
    for (_ <- 2 to kCenters if !exhausted) {
      val dmin = centers.map { case (_, vc, n2c, _) =>
        rnd($"n2" + lit(n2c) - lit(2.0) *
          call_function("graft_dot", lit(vc), $"v"), 6)
      }.reduce(least(_, _))
      val chosen = centers.map(_._1)
      val rs = cv.filter(!$"vec_id".isin(chosen.toSeq: _*))
        .select($"vec_id", $"v", $"n2", dmin.as("dmin"))
        .orderBy($"dmin".desc, $"vec_id").limit(1).collect()
      if (rs.isEmpty) exhausted = true
      else {
        val r = rs(0)
        centers += ((r.getLong(0), r.getSeq[Double](1).toArray,
          r.getDouble(2), Some(r.getDouble(3))))
      }
    }
    centers.toSeq.zipWithIndex
      .map { case ((id, _, _, rad), i) => (i + 1, id, rad) }
      .toDF("round", "vec_id", "radius")
      .orderBy($"round")
  }

  lazy val sampleKcenterSql: String = {
    import graft.functions.Agg.rndSql
    def d2(c: String) =
      rndSql(s"n.n2 + $c.n2 - 2 * list_dot_product($c.v, n.v)", 6)
    val head =
      """v0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS MATERIALIZED (
        |  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v0),
        |c1 AS MATERIALIZED (
        |  SELECT vec_id, v, n2 FROM n ORDER BY vec_id LIMIT 1)""".stripMargin
    val rounds = (2 to kCenters).map { r =>
      val prev = (1 until r).map(i => s"c$i")
      val dmin = prev.map(d2).reduce((a, b) => s"least($a, $b)")
      val notIn = prev.map(c => s"SELECT vec_id FROM $c").mkString(" UNION ALL ")
      s"""c$r AS MATERIALIZED (
         |  SELECT n.vec_id, n.v, n.n2, $dmin AS dmin
         |  FROM n, ${prev.mkString(", ")}
         |  WHERE n.vec_id NOT IN ($notIn)
         |  ORDER BY dmin DESC, n.vec_id LIMIT 1)""".stripMargin
    }
    val uni = (Seq(
      "SELECT 1 AS round, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1") ++
      (2 to kCenters).map(r => s"SELECT $r, vec_id, dmin FROM c$r"))
      .mkString("\n  UNION ALL ")
    s"""WITH $head,
       |${rounds.mkString(",\n")}
       |$uni
       |ORDER BY round""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_kcenter"    -> (sampleKcenter _),
    "corpus_chunk"      -> (corpusChunk _),
    "corpus_cdc_chunk"  -> (corpusCdcChunk _),
    "dedup_cdc"         -> (dedupCdc _),
    "corpus_token_budget" -> (corpusTokenBudget _),
    "sample_entity"     -> (sampleEntity _),
    "text_zipf_fit"     -> (textZipfFit _),
    "corpus_quality_buckets" -> (corpusQualityBuckets _),
    "corpus_upsample"   -> (corpusUpsample _),
    "corpus_vocab_growth" -> (corpusVocabGrowth _),
    "corpus_pmi"        -> (corpusPmi _),
    "corpus_shuffle"    -> (corpusShuffle _),
    "corpus_heavy_hitters" -> (corpusHeavyHitters _),
    "text_lm_score"     -> (textLmScore _),
    "corpus_drift"      -> (corpusDrift _),
    "pipeline_e2e"      -> (pipelineE2e _),
    "corpus_mix"        -> (corpusMix _),
    "corpus_cms"        -> (corpusCms _),
    "sample_stratified" -> (sampleStratified _),
    "sample_reservoir"  -> (sampleReservoir _),
    "sample_weighted"   -> (sampleWeighted _),
    "sample_dsir"       -> (sampleDsir _),
    "sample_dedup_flatten" -> (sampleDedupFlatten _),
    "corpus_ngrams"     -> (corpusNgrams _),
    "quality_filter"    -> (qualityFilter _),
    "doc_pack"          -> (docPack _),
    "token_ids"         -> (tokenIds _),
    "decontaminate"     -> (decontaminate _),
    "decontaminate_bloom" -> (decontaminateBloom _),
    "decontaminate_span" -> (decontaminateSpan _),
    "decontaminate_semantic" -> (decontaminateSemantic _),
    "semantic_contamination_report" -> (semanticContaminationReport _),
    "corpus_contamination_report" -> (corpusContaminationReport _),
    "split_assign"      -> (splitAssign _),
    "split_by_source"   -> (splitBySource _),
    "doc_length_buckets" -> (docLengthBuckets _)
  )

  def oracles: Map[String, String] = Map(
    "sample_kcenter"    -> sampleKcenterSql,
    "corpus_chunk"      -> corpusChunkSql,
    "corpus_cdc_chunk"  -> corpusCdcChunkSql,
    "dedup_cdc"         -> dedupCdcSql,
    "corpus_token_budget" -> corpusTokenBudgetSql,
    "sample_entity"     -> sampleEntitySql,
    "text_zipf_fit"     -> textZipfFitSql,
    "corpus_quality_buckets" -> corpusQualityBucketsSql,
    "corpus_upsample"   -> corpusUpsampleSql,
    "corpus_vocab_growth" -> corpusVocabGrowthSql,
    "corpus_pmi"        -> corpusPmiSql,
    "corpus_shuffle"    -> corpusShuffleSql,
    "corpus_heavy_hitters" -> corpusHeavyHittersSql,
    "text_lm_score"     -> textLmScoreSql,
    "corpus_drift"      -> corpusDriftSql,
    "pipeline_e2e"      -> pipelineE2eSql,
    "corpus_mix"        -> corpusMixSql,
    "corpus_cms"        -> corpusCmsSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_reservoir"  -> sampleReservoirSql,
    "sample_weighted"   -> sampleWeightedSql,
    "sample_dsir"       -> sampleDsirSql,
    "sample_dedup_flatten" -> sampleDedupFlattenSql,
    "corpus_ngrams"     -> corpusNgramsSql,
    "quality_filter"    -> qualityFilterSql,
    "doc_pack"          -> docPackSql,
    "token_ids"         -> tokenIdsSql,
    "decontaminate"     -> decontaminateSql,
    // bit-identical scale path: shares the exact-broadcast oracle
    "decontaminate_bloom" -> decontaminateSql,
    "decontaminate_span" -> decontaminateSpanSql,
    "decontaminate_semantic" -> decontaminateSemanticSql,
    "semantic_contamination_report" -> semanticContaminationReportSql,
    "corpus_contamination_report" -> corpusContaminationReportSql,
    "split_assign"      -> splitAssignSql,
    "split_by_source"   -> splitBySourceSql,
    "doc_length_buckets" -> docLengthBucketsSql
  )
}
