package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg.{rnd, rndSql}
import graft.functions.VectorFns
import graft.sources.Tables

/** §2.4 Deduplication suite over `documents` (+ `embeddings`).
  *
  * Scale layout (SURVEY §5): signatures (MinHash, SimHash, hyperplane
  * LSH) are computed row-local in one codegen'd pass — no shuffle.
  * Candidate generation shuffles only (band, bucket) keys and pairs up
  * within buckets, the standard LSH near-dup pipeline; nothing ever
  * does a global cross join — [[dedupEmbedding]] included (its
  * all-pairs ground truth lives only in DedupSpec + the DuckDB
  * oracle). The shingle-Jaccard variant IS quadratic per shingle
  * bucket — it exists as the oracle-checkable ground truth; the
  * 100 TB path is [[dedupMinhash]].
  */
object Dedup {

  /** Jaccard threshold for the exact n-gram variant. */
  val jaccardTau = 0.6
  /** Document-frequency cap for [[dedupNgramJaccard]]: shingles that
    * appear in more than this many documents are dropped before the
    * self-join. One viral boilerplate 3-gram across a crawl otherwise
    * turns its bucket quadratic (df² pairs); the cap bounds any bucket
    * at C(cap, 2). Semantics shift only for degenerate shingles — a
    * shared 3-gram in >cap docs carries no near-dup signal — and the
    * oracle mirrors the cap. Max observed df on test data is 25, so
    * results are unchanged there. */
  val shingleDfCap = 128
  /** Embedding near-dup cosine threshold. */
  val cosineTau = 0.4
  /** MinHash signature length and LSH banding (8 bands × 8 rows). */
  val minhashK = 64
  val bands = 8
  val rowsPerBand = 8

  private val toksExpr = "split(trim(text), '\\\\s+')"
  private val duckToks = "string_split_regex(trim(text), '\\s+')"

  /** doc_id + distinct word-3-gram shingles via the native
    * [[graft.functions.WordShingles]] expression (docs shorter than 3
    * tokens are excluded — they have no 3-gram identity). */
  private[graft] def shingled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .filter(size($"toks") >= 3)
      .withColumn("shingles", expr("graft_shingles(toks)"))
      .select($"doc_id", $"shingles")
  }

  private[operators] val shingledSql: String =
    s"""SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
       |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
       |  WHERE len(toks) >= 3""".stripMargin

  /** Exact dedup: group by content hash, keep the smallest doc_id as
    * canonical. One shuffle on the hash — the 100 TB exact-dedup
    * layout (hash is uniform → no skew). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(md5($"text".cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy($"canonical_id")
  }

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin

  /** §2.4 — duplicate survivorship flow between sources: for every
    * NON-canonical member of a near-dup cluster (29c's ngram cluster
    * canonicalization — the corpus has no byte-exact duplicates, so
    * the flow is defined over the near-dup relation a curation
    * pipeline actually prunes on), which source loses the copy and
    * which source owns the surviving canonical. The
    * (loser_source, winner_source, n_lost) matrix a multi-crawl
    * pipeline audits after dedup: a source that consistently LOSES
    * its copies to another is pure overlap — a candidate to drop
    * from the crawl entirely. Costs nothing beyond the cluster build
    * (which 29c documents; the edges stage once per dataset): two
    * doc_id equi-joins to attach sources and a |sources|²-bounded
    * partial agg. */
  def dedupSourceFlow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    val clusters = dedupClusters(s, dir).select($"doc_id", $"canonical_id")
    val canonSrc = clusters.select($"canonical_id").distinct()
      .join(src, $"canonical_id" === $"doc_id")
      .select($"canonical_id", $"source".as("winner_source"))
    clusters.filter($"doc_id" =!= $"canonical_id")
      .join(src, "doc_id")
      .join(canonSrc, "canonical_id")
      .groupBy($"source".as("loser_source"), $"winner_source")
      .agg(count(lit(1)).as("n_lost"))
      .orderBy($"loser_source", $"winner_source")
  }

  lazy val dedupSourceFlowSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       |edges AS (
       |  SELECT doc1 AS src, doc2 AS dst FROM scored
       |  UNION ALL
       |  SELECT doc2, doc1 FROM scored),
       |reach(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labs AS (SELECT doc_id, min(lab) AS canonical_id FROM reach GROUP BY 1),
       |cs AS (
       |  SELECT l.canonical_id, d.source AS winner_source
       |  FROM (SELECT DISTINCT canonical_id FROM labs) l
       |  JOIN documents d ON l.canonical_id = d.doc_id)
       |SELECT d.source AS loser_source, cs.winner_source, count(*) AS n_lost
       |FROM labs
       |JOIN documents d USING (doc_id)
       |JOIN cs USING (canonical_id)
       |WHERE labs.doc_id <> labs.canonical_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** §2.4 #25' — exact dedup AFTER canonical normalization: the
    * production layering (normalize → hash → groupBy) where
    * byte-different spellings of the same content — case, ragged
    * whitespace, composed vs decomposed accents — collapse to one
    * canonical id that raw-byte [[dedupExact]] would keep apart.
    * The normalizer is the codegen'd row-local
    * [[graft.functions.TextNormalize]]; the shuffle is the same
    * single content-hash exchange as dedup_exact. */
  def dedupExactNormalized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(md5(expr("graft_normalize(text)").cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy($"canonical_id")
  }

  val dedupExactNormalizedSql: String =
    """SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)),
      |          '[ \t\n\r\f\x0b]+', ' ', 'g'))) AS text_hash,
      |  min(doc_id) AS canonical_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin

  /** Chunk size (tokens) and drop threshold for [[dedupParagraph]]. */
  val chunkTokens = 5
  val chunkDropDf = 4

  /** Paragraph/line-granularity boilerplate removal — the dedup the
    * document-level suite cannot do: a nav bar or cookie banner
    * repeated across a crawl never makes two DOCUMENTS near-identical,
    * but should still be cut from every one of them. Documents are
    * split into fixed [[chunkTokens]]-token chunks (the test corpus
    * has no newline/sentence structure; on real text the same layout
    * runs on line hashes), a chunk's distinct-document frequency is
    * computed by partial-aggregated groupBy — never a per-chunk
    * window — and chunks seen in ≥ [[chunkDropDf]] documents are
    * dropped before the document is reassembled in chunk order.
    *
    * Scale layout: the exploded corpus shuffles once on the chunk for
    * the df count; the boilerplate set (df ≥ threshold) is the tiny
    * side of the membership join (AQE broadcasts it when it fits, and
    * degrades to the hash join reusing the chunk partitioning when a
    * pathological crawl makes it large); reassembly is one shuffle on
    * doc_id with collect_list partials. No window, no self-join.
    */
  def dedupParagraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // coalesce + OUTER explode defeat the inferred-constraint trap: a
    // plain posexplode makes the optimizer inject isnotnull/size>0
    // data filters whose expressions INLINE the entire tokenize+chunk
    // transform into a per-row Filter below the projection — the whole
    // chunking computed twice per document on both consumer branches
    // (the same trap sample_stratified hit). After the coalesce the
    // chunk array is non-null and (sequence being ≥ 1 element for any
    // non-null text) non-empty, so outer ≡ inner on every input.
    val chunked = Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .withColumn("chunks", expr(
        s"""coalesce(transform(sequence(0, cast(ceil(size(toks) / $chunkTokens.0) AS INT) - 1),
           |  i -> array_join(slice(toks, i * $chunkTokens + 1, $chunkTokens), ' ')), array())""".stripMargin))
      .select($"doc_id", posexplode_outer($"chunks").as(Seq("idx", "chunk")))
    val boiler = chunked.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= chunkDropDf)
      .select($"chunk", lit(1L).as("is_boiler"))
    chunked.join(boiler, Seq("chunk"), "left")
      .groupBy($"doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when($"is_boiler".isNull, struct($"idx", $"chunk")))),
          x => x("chunk")), " ").as("clean_text"),
        sum(when($"is_boiler".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"is_boiler".isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"doc_id")
  }

  val dedupParagraphSql: String =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
       |chunks AS (
       |  SELECT doc_id, i, array_to_string(t[(i-1)*$chunkTokens+1 : i*$chunkTokens], ' ') AS c
       |  FROM toks, unnest(range(1, CAST(ceil(len(t) / $chunkTokens.0) AS BIGINT) + 1)) AS u(i)),
       |boiler AS (
       |  SELECT c FROM (SELECT c, count(DISTINCT doc_id) AS df FROM chunks GROUP BY c)
       |  WHERE df >= $chunkDropDf)
       |SELECT ch.doc_id,
       |  coalesce(string_agg(CASE WHEN b.c IS NULL THEN ch.c END, ' ' ORDER BY ch.i), '') AS clean_text,
       |  CAST(sum(CASE WHEN b.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN b.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM chunks ch LEFT JOIN boiler b ON ch.c = b.c
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin

  /** Ground-truth near-dup pairs: word-3-gram Jaccard ≥ τ over the
    * df-capped shingle space (explode → df window → equi-self-join on
    * the shingle). The df window hash-partitions the exploded corpus
    * on the shingle, and the self-join reuses that exact partitioning
    * (ReusedExchange — one shuffle of the exploded corpus, not two).
    * Per-doc sizes are recomputed post-cap and joined onto the pair
    * set, which is tiny next to the exploded corpus. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    dedupNgramJaccard(s, dir, shingleDfCap)

  def dedupNgramJaccard(s: SparkSession, dir: String, dfCap: Int): DataFrame = {
    import s.implicits._
    ngramPairs(s, dir, dfCap).orderBy($"doc1", $"doc2")
  }

  /** The τ-filtered pair set WITHOUT the presentation sort — consumers
    * that feed the pairs into further processing ([[dedupClusters]]'s
    * edge list) must not pay a global sort (twice, once per union
    * branch: EliminateSorts does not strip sorts under Union). Mirrors
    * the SQL side's shared `ngramPairCtes` core. */
  private[operators] def ngramPairs(s: SparkSession, dir: String, dfCap: Int): DataFrame = {
    import s.implicits._
    interPairs(s, dir, dfCap)
      .withColumn("jaccard",
        expr(rndSql("CAST(inter AS DOUBLE) / (n1 + n2 - inter)", 6)))
      .filter($"jaccard" >= jaccardTau)
      .select($"doc1", $"doc2", $"inter", $"jaccard")
  }

  /** Shared intersection core: undirected (doc1 < doc2) shingle-
    * overlap pairs with both endpoint sizes — Jaccard
    * ([[ngramPairs]]) and containment ([[dedupContainment]]) are two
    * normalizations of this one frame, and [[dedupClusters]] walks
    * its edges. At the default df-cap it stages once per dataset
    * (the exploded-corpus self-join is the dominant cost of all
    * three consumers — same amortization as [[embeddingPairs]]);
    * non-default caps (spec sweeps) compute live. */
  private[operators] def interPairs(s: SparkSession, dir: String, dfCap: Int): DataFrame =
    if (dfCap == shingleDfCap)
      graft.sources.OracleStage.stage(s, "ngram_inter", dir)(
        interPairsUncached(s, dir, dfCap))
    else interPairsUncached(s, dir, dfCap)

  private def interPairsUncached(s: SparkSession, dir: String, dfCap: Int): DataFrame = {
    import s.implicits._
    val ex = shingled(s, dir).select($"doc_id", explode($"shingles").as("s"))
    val capped = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
      .filter($"df" <= dfCap).drop("df")
    val sizes = capped.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    // shuffle-hash, never broadcast: the exploded corpus is the BIG
    // side at scale — AQE would happily broadcast it at test SF and
    // that plan dies at 100 TB
    val pairs = capped.as("a").hint("shuffle_hash").join(capped.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
  }

  /** Containment threshold for [[dedupContainment]]. */
  val containmentTau = 0.8

  /** §2.4 #26b — directional containment (quote/subset detection):
    * contained ⊂ container pairs where |A∩B|/|A| ≥ τ over the
    * df-capped shingle space. The asymmetric complement of Jaccard:
    * a short document wholly quoted inside a long one scores
    * containment ≈ 1 while its Jaccard stays far below any near-dup
    * threshold — so document-level dedup never sees it. Same single
    * shuffle of the exploded corpus as [[ngramPairs]] (one
    * [[interPairs]] frame, both directions emitted row-locally from
    * the undirected pair). */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = interPairs(s, dir, shingleDfCap)
    val fwd = p.select($"doc1".as("contained"), $"doc2".as("container"),
      $"inter", expr(rndSql("CAST(inter AS DOUBLE) / n1", 6)).as("containment"))
    val rev = p.select($"doc2".as("contained"), $"doc1".as("container"),
      $"inter", expr(rndSql("CAST(inter AS DOUBLE) / n2", 6)).as("containment"))
    fwd.unionByName(rev)
      .filter($"containment" >= containmentTau)
      .orderBy($"contained", $"container")
  }

  // lazy: ngramInterCtes is declared further down the object body
  lazy val dedupContainmentSql: String =
    s"""WITH $ngramInterCtes,
       |directed AS (
       |  SELECT doc1 AS contained, doc2 AS container, inter,
       |    ${rndSql("CAST(inter AS DOUBLE) / n1", 6)} AS containment
       |  FROM ip
       |  UNION ALL
       |  SELECT doc2, doc1, inter, ${rndSql("CAST(inter AS DOUBLE) / n2", 6)}
       |  FROM ip)
       |SELECT contained, container, inter, containment
       |FROM directed WHERE containment >= $containmentTau
       |ORDER BY contained, container""".stripMargin

  /** §2.4 — prefix-filtered exact Jaccard join (AllPairs/PPJoin
    * family, Bayardo et al., WWW'07): identical output to
    * [[dedupNgramJaccard]] (it shares that DuckDB oracle verbatim)
    * through a candidate generator that scales where the full
    * inverted-index self-join cannot.
    *
    * The full join pairs documents through EVERY shared shingle — a
    * shingle in df documents contributes C(df,2) candidate rows, so
    * common shingles dominate the shuffle even under the df cap. The
    * prefix filter orders each document's shingles by ascending
    * global df (ties by value — one total order for all documents)
    * and keeps only the first `n - ceil(τ·n) + 1`: if two documents
    * have Jaccard ≥ τ, their prefixes MUST share a shingle (were the
    * prefixes disjoint, each document would need all its matches
    * among its non-prefix suffix of ceil(τ·n)-1 shingles — too few
    * for the required overlap), so joining prefixes loses no τ-pair.
    * Because the order is df-ascending, prefixes concentrate on RARE
    * shingles: the quadratic blowup lands exactly where df is
    * smallest. Candidates are then verified exactly against the
    * capped per-document shingle sets (two doc-keyed array joins —
    * linear, AQE-skew-splittable).
    *
    * Reference behavior: lib.ts near-dup pipeline (same τ semantics
    * as rows 26/27); this row is the exact-result scale path between
    * the ground-truth join (row 26) and the probabilistic MinHash
    * route (row 27). */
  def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pinned: three consumers (prefix explode + both verify joins)
    // would otherwise each replay the shingle+window+groupBy build —
    // measured 8.6 s at sf0.1: the plan cost tripled through
    // lineage, not through data. (The eager checkpoints also hide
    // the stage plans from the final frame, so the stage builders
    // are split out for PlanSpec audit.)
    val docs = jaccardPrefixDocsCkpt(s, dir)
    val cand = jaccardPrefixCand(docs).localCheckpoint(true)
    // Pin the narrow scored frame BEFORE deriving jaccard: the
    // jaccard expression references `inter` twice and the τ-filter
    // once more, and after projection collapse each reference
    // duplicates the whole array_intersect — measured 4 evaluations
    // per candidate (8.2 s tail → 2.2). The checkpoint materializes
    // the per-pair intersection exactly once; at scale this IS the
    // persisted candidate-score table a dedup pipeline keeps anyway.
    val scored = cand
      .join(docs.select($"doc_id".as("doc1"), $"sh".as("sh1"), $"n_sh".as("n1")), "doc1")
      .join(docs.select($"doc_id".as("doc2"), $"sh".as("sh2"), $"n_sh".as("n2")), "doc2")
      .select($"doc1", $"doc2",
        size(array_intersect($"sh1", $"sh2")).cast("long").as("inter"),
        $"n1", $"n2")
      .localCheckpoint(true)
    scored
      .withColumn("jaccard",
        expr(rndSql("CAST(inter AS DOUBLE) / (n1 + n2 - inter)", 6)))
      .filter($"jaccard" >= jaccardTau)
      .select($"doc1", $"doc2", $"inter", $"jaccard")
      .orderBy($"doc1", $"doc2")
  }

  /** Candidate stage of [[dedupJaccardPrefix]]: prefix self-join
    * with PPJoin's conjoined length filter — Jaccard ≥ τ forces
    * inter ≥ τ·max(n1,n2) and inter ≤ min, so min ≥ τ·max and
    * size-mismatched pairs die inside the codegen'd join instead of
    * riding the pair aggregate (300k → 193k candidates at sf0.1) —
    * AND PPJoin's POSITIONAL filter: prefixes explode with their
    * 0-based position in the df-ascending order, and because that
    * order is ONE global total order, a pair's shared prefix tokens
    * appear in the same relative order in both documents, so
    * max(pa)/max(pb) name the SAME last shared prefix token t_last.
    * Every shared token ≤ t_last is necessarily in BOTH prefixes
    * (arrays are sorted: u ≤ t_last and u ∈ doc puts u at a position
    * ≤ that doc's t_last position, which is inside the prefix), so
    * |d1 ∩ d2| ≤ npfx + min(n1−1−max(pa), n2−1−max(pb)) — the shared
    * prefix tokens plus the shorter tail after t_last. J ≥ τ forces
    * inter·(1+τ) ≥ τ·(n1+n2); a pair whose UPPER BOUND cannot reach
    * that dies here, BEFORE the array-verify joins ship its shingle
    * arrays (193k → ~50k verified candidates at sf0.1). The 1e-9
    * slack guards double rounding — a surviving false candidate only
    * costs its exact verification, a dropped true pair would be a
    * recall bug. Shuffle-hash, never broadcast: prefixes are
    * corpus-sized. */
  private[graft] def jaccardPrefixCand(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val prefixEx = docs.select($"doc_id", $"n_sh",
      posexplode($"pfx").as(Seq("p", "s")))
    prefixEx.as("a").hint("shuffle_hash").join(prefixEx.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
          $"b.n_sh" >= $"a.n_sh" * jaccardTau &&
          $"a.n_sh" >= $"b.n_sh" * jaccardTau)
      .groupBy($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"))
      .agg(count(lit(1)).as("npfx"),
        max($"a.p").as("qa"), max($"b.p").as("qb"),
        max($"a.n_sh").as("n1"), max($"b.n_sh").as("n2"))
      .filter(($"npfx" + least($"n1" - 1 - $"qa", $"n2" - 1 - $"qb"))
          .cast("double") * (1.0 + jaccardTau) >=
        ($"n1" + $"n2").cast("double") * jaccardTau - 1e-9)
      .select($"doc1", $"doc2")
  }

  /** The pinned doc-array frame, memoized per (dataset, session): the
    * df-ordered shingle arrays are a static derived artifact of the
    * corpus (the prefix-filter literature's "inverted ordering" —
    * built once per index cycle in production), and each invocation
    * re-paid the shingle explode + df window + collect_list build. */
  private def jaccardPrefixDocsCkpt(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo("dedup.jaccard_prefix_docs", dir, s)(
      jaccardPrefixDocs(s, dir).localCheckpoint(true))

  /** The pinned doc-array frame [[dedupJaccardPrefix]] builds its
    * stages from — split out for spec access. */
  private[graft] def jaccardPrefixDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ex = shingled(s, dir).select($"doc_id", explode($"shingles").as("s"))
    val capped = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
      .filter($"df" <= shingleDfCap)
    capped.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"s"))).as("ord"))
      .withColumn("sh", expr("transform(ord, x -> x.s)"))
      .withColumn("n_sh", size($"sh"))
      .withColumn("pfx", expr(
        s"slice(sh, 1, size(sh) - cast(ceil($jaccardTau * size(sh)) AS INT) + 1)"))
      .select($"doc_id", $"sh", $"n_sh", $"pfx")
  }

  /** Shared CTE chain producing `scored(doc1, doc2, inter, jaccard)` —
    * the τ-filtered near-dup pair set. Used by both the pair oracle and
    * the cluster oracle's edge list. */
  private val ngramCoreCtes: String =
    s"""sh AS (
       |  $shingledSql),
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |capped AS (
       |  SELECT doc_id, s FROM (
       |    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM e)
       |  WHERE df <= $shingleDfCap),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
       |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** [[ngramCoreCtes]] + both endpoint sizes — mirrors [[interPairs]]. */
  private val ngramInterCtes: String =
    s"""$ngramCoreCtes,
       |ip AS (
       |  SELECT doc1, doc2, inter, s1.n_sh AS n1, s2.n_sh AS n2
       |  FROM pairs
       |  JOIN sz s1 ON doc1 = s1.doc_id
       |  JOIN sz s2 ON doc2 = s2.doc_id)""".stripMargin

  private val ngramPairCtes: String =
    s"""$ngramCoreCtes,
       |scored AS (
       |  SELECT doc1, doc2, inter,
       |    ${rndSql("CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter)", 6)} AS jaccard
       |  FROM pairs
       |  JOIN sz s1 ON doc1 = s1.doc_id
       |  JOIN sz s2 ON doc2 = s2.doc_id
       |  WHERE ${rndSql("CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter)", 6)} >= $jaccardTau)""".stripMargin

  val dedupNgramJaccardSql: String =
    s"""WITH $ngramPairCtes
       |SELECT doc1, doc2, inter, jaccard FROM scored
       |ORDER BY doc1, doc2""".stripMargin

  /** doc_id + MinHash signature (k=[[minhashK]]) via the native
    * single-pass [[graft.functions.MinHashSig]] expression. Staged as
    * a persisted artifact ([[graft.sources.OracleStage]]): computed
    * once per dataset, read back by every consumer, and the staged
    * table is what the banding oracles recompute candidates from. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "minhash_sigs", dir) {
      import s.implicits._
      shingled(s, dir)
        .withColumn("sig", expr("graft_minhash64(shingles)"))
        .select($"doc_id", $"sig")
    }

  /** (doc_id, sig, band, bucket) — one row per LSH band of each
    * signature; the banding layout shared by [[dedupMinhash]] and the
    * incremental probe. */
  private def bandedSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Signature-estimated Jaccard of two k-long MinHash columns. */
  private def estJaccard(sig1: String, sig2: String): String =
    rndSql(s"CAST(size(filter(zip_with($sig1, $sig2, (x, y) -> x = y), m -> m)) AS DOUBLE) / $minhashK", 4)

  /** MinHash + LSH banding candidate pairs with the signature-
    * estimated Jaccard. Shuffles only (band, bucket-hash) keys. */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = bandedSigs(minhashSignatures(s, dir))
    val cand = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
        $"a.sig".as("sig1"), $"b.sig".as("sig2"))
      // dedupe multi-band hits on the id pair only — hashing the two
      // 64-long signatures per row through the distinct shuffle would
      // triple the exchanged bytes for no semantic gain
      .dropDuplicates("doc1", "doc2")
    cand
      .withColumn("est_jaccard", expr(estJaccard("sig1", "sig2")))
      .select($"doc1", $"doc2", $"est_jaccard")
      .orderBy($"doc1", $"doc2")
  }

  /** Bits kept per MinHash value in the b-bit compression audit. */
  val bbitBits = 4
  private val bbitMask = (1L << bbitBits) - 1 // 15
  /** Collision floor 2^-b and its complement, exact in double. */
  private val bbitFloor = 1.0 / (1 << bbitBits) // 0.0625
  private val bbitSpan = 1.0 - bbitFloor // 0.9375

  /** §2.4 — b-bit MinHash compression audit (Li & König): keep only
    * the low [[bbitBits]] bits of each of the 64 MinHash values —
    * 16× smaller signatures (64×64 bits → 64×4), which at 100 TB is
    * the difference between an index that fits executor memory and
    * one that doesn't — and measure what the compression costs: per
    * estimated-similarity decile of the SAME banding candidates, the
    * mean full-precision estimate, the mean debiased b-bit estimate
    * ((r − 2⁻ᵇ)/(1 − 2⁻ᵇ), floored at 0 — random 4-bit values collide
    * 1/16 of the time and the correction removes exactly that), and
    * the mean absolute gap. One pass over the staged signatures; the
    * report is a ≤11-row frame. */
  def dedupMinhashBbit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = bandedSigs(minhashSignatures(s, dir))
    val cand = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
        $"a.sig".as("sig1"), $"b.sig".as("sig2"))
      .dropDuplicates("doc1", "doc2")
    cand
      .withColumn("est_full", expr(estJaccard("sig1", "sig2")))
      .withColumn("est_bbit", expr(rndSql(
        s"greatest(CAST(0 AS DOUBLE), (CAST(size(filter(zip_with(sig1, sig2, " +
          s"(x, y) -> (x & $bbitMask) = (y & $bbitMask)), m -> m)) AS DOUBLE) " +
          s"/ $minhashK - $bbitFloor) / $bbitSpan)", 4)))
      .withColumn("bin", floor($"est_full" * lit(10.0)).cast("long"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_pairs"),
        expr(rndSql(davgExpr("est_full"), 4)).as("mean_full"),
        expr(rndSql(davgExpr("est_bbit"), 4)).as("mean_bbit"),
        expr(rndSql(davgExpr("abs(est_full - est_bbit)"), 4)).as("mean_abs_err"))
      .orderBy($"bin")
  }

  /** [[graft.functions.Agg.davg]] as a SQL fragment valid in BOTH
    * engines (Spark parses the same text the oracle runs). */
  private def davgExpr(e: String): String =
    s"(CAST(sum(CAST(floor(($e) * 10000 + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 / count(*))"

  def dedupMinhashBbitSql(glob: String): String = {
    val bb = s"(CAST(len(list_filter(range(1, ${minhashK + 1}), " +
      s"i -> (s1.sig[i] & $bbitMask) = (s2.sig[i] & $bbitMask))) AS DOUBLE) " +
      s"/ $minhashK - $bbitFloor) / $bbitSpan"
    s"""WITH ${sigBandCtes(glob)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc1, doc2,
       |    ${estJaccardDuck("s1.sig", "s2.sig")} AS est_full,
       |    ${rndSql(s"greatest(CAST(0 AS DOUBLE), $bb)", 4)} AS est_bbit
       |  FROM cand JOIN sigs s1 ON cand.doc1 = s1.doc_id
       |            JOIN sigs s2 ON cand.doc2 = s2.doc_id)
       |SELECT CAST(floor(est_full * CAST(10 AS DOUBLE)) AS BIGINT) AS bin,
       |  count(*) AS n_pairs,
       |  ${rndSql(davgExpr("est_full"), 4)} AS mean_full,
       |  ${rndSql(davgExpr("est_bbit"), 4)} AS mean_bbit,
       |  ${rndSql(davgExpr("abs(est_full - est_bbit)"), 4)} AS mean_abs_err
       |FROM est GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Incoming-shard membership for [[dedupIncremental]]: every 10th
    * document plays the freshly-ingested batch; the rest are the
    * persisted corpus the index is built over. */
  val incrementalShardMod = 10L
  val incrementalShardRem = 5L
  /** Bucket count for the persisted index (a cluster deploy sizes
    * this to executor count; the test value keeps local files small). */
  val incrementalIndexBuckets = 16
  val incrementalIndexTable = "graft_minhash_index"

  private def isIncoming = col("doc_id") % incrementalShardMod === incrementalShardRem

  /** Builds the persisted corpus MinHash index: banded signatures,
    * written hash-bucketed and sorted on (band, bucket)
    * ([[graft.sources.Sinks.writeBucketed]]) so a probe join whose
    * equi-keys are exactly (band, bucket) reads the index
    * exchange-free. The banding shuffle of the corpus is paid ONCE
    * here, not per incoming batch. */
  def buildMinhashIndex(s: SparkSession, dir: String,
                        table: String = incrementalIndexTable): Unit =
    graft.sources.Sinks.writeBucketedOnce(dir, table,
        Seq("band", "bucket"), incrementalIndexBuckets) {
      val sigs = minhashSignatures(s, dir).filter(!isIncoming)
      bandedSigs(sigs)
        .select(col("band"), col("bucket"), col("doc_id"), col("sig"))
    }

  /** §2.4 #29d — incremental dedup: a freshly-ingested shard probed
    * against the PERSISTED corpus index, the first-class operation of
    * a continuously-ingesting pipeline ("is this new document already
    * in the corpus?") and the corpus-level analog of the reference's
    * accumulate-then-flush shape (lib.ts:24-123: new items accumulate
    * against established state; here state is the bucketed signature
    * index). The 100 TB property: the corpus side is NEVER re-read,
    * re-signed, or re-shuffled per batch — its banding shuffle was
    * paid once at [[buildMinhashIndex]] time, and the probe join's
    * only exchange is the (small) incoming shard hashing onto the
    * index's bucket layout. Candidate semantics match
    * [[dedupMinhash]] exactly (same bands, same bucket hash), so the
    * result equals the from-scratch pair set restricted to
    * corpus×shard pairs — DedupSpec asserts that equality. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildMinhashIndex(s, dir)
    incrementalProbePlan(s, dir)
      .select($"i.doc_id".as("corpus_id"), $"p.doc_id".as("new_id"),
        $"i.sig".as("sig1"), $"p.sig".as("sig2"))
      .dropDuplicates("corpus_id", "new_id")
      .withColumn("est_jaccard", expr(estJaccard("sig1", "sig2")))
      .select($"corpus_id", $"new_id", $"est_jaccard")
      .orderBy($"new_id", $"corpus_id")
  }

  // ---- index lifecycle: retraction + compaction (35m on dedup) ----

  /** The compacted signature index: [[incrementalIndexTable]]
    * rewritten minus tombstones, same (band, bucket) layout. */
  val retractCompactTable = "graft_minhash_index_cmp"

  /** The SAME takedown event as the text and vector indexes
    * ([[HybridSearch.retractMod]]/[[HybridSearch.retractRem]]): a
    * deleted document must stop matching — as corpus member AND as
    * probe — in the same instant it leaves retrieval. */
  private[graft] def dedupTombstones(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(s, dir)
      .filter(col("doc_id") % HybridSearch.retractMod === HybridSearch.retractRem)
      .select(col("doc_id"))

  /** §2.4 — dedup-index RETRACTION: the [[HybridSearch.bm25Retract]]
    * deletion lifecycle on the persisted MinHash band index. The
    * bounded tombstone set broadcasts into anti-joins on BOTH sides
    * of [[dedupIncremental]]'s probe — a deleted corpus document can
    * no longer be reported as anyone's duplicate, and a deleted
    * incoming document no longer probes — while the corpus-sized
    * index files sit untouched until [[compactMinhashIndex]] makes
    * the deletion physical. Unlike BM25 (whose idf/avgdl stay stale
    * snapshots until rebuild), MinHash signatures are purely per-doc,
    * so compaction parity vs a rebuild from the retained corpus is
    * EXACT — DedupSpec proves probe-equality AND that row-set
    * equality. */
  def dedupRetract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildMinhashIndex(s, dir)
    val tomb = dedupTombstones(s, dir)
    val live = s.table(incrementalIndexTable)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val probe = bandedSigs(minhashSignatures(s, dir).filter(isIncoming))
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    live.as("i").join(probe.as("p"),
        $"i.band" === $"p.band" && $"i.bucket" === $"p.bucket")
      .select($"i.doc_id".as("corpus_id"), $"p.doc_id".as("new_id"),
        $"i.sig".as("sig1"), $"p.sig".as("sig2"))
      .dropDuplicates("corpus_id", "new_id")
      .withColumn("est_jaccard", expr(estJaccard("sig1", "sig2")))
      .select($"corpus_id", $"new_id", $"est_jaccard")
      .orderBy($"new_id", $"corpus_id")
  }

  /** Compaction: rewrite the band index minus tombstones into
    * [[retractCompactTable]] (same (band, bucket) bucketed-sorted
    * layout — probe plans unchanged, one anti-join cheaper). */
  private[graft] def compactMinhashIndex(s: SparkSession, dir: String): Unit = {
    buildMinhashIndex(s, dir)
    graft.sources.Sinks.writeBucketedOnce(dir, retractCompactTable,
        Seq("band", "bucket"), incrementalIndexBuckets)(
      s.table(incrementalIndexTable)
        .join(broadcast(dedupTombstones(s, dir)), Seq("doc_id"), "left_anti"))
  }

  def dedupRetractSql(glob: String): String =
    s"""WITH ${sigBandCtes(glob)},
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS corpus_id, p.doc_id AS new_id
       |  FROM banded i JOIN banded p
       |    ON i.band = p.band AND i.bucket = p.bucket
       |  WHERE i.doc_id % $incrementalShardMod <> $incrementalShardRem
       |    AND p.doc_id % $incrementalShardMod = $incrementalShardRem
       |    AND i.doc_id % ${HybridSearch.retractMod} <> ${HybridSearch.retractRem}
       |    AND p.doc_id % ${HybridSearch.retractMod} <> ${HybridSearch.retractRem})
       |SELECT corpus_id, new_id, ${estJaccardDuck("s1.sig", "s2.sig")} AS est_jaccard
       |FROM cand JOIN sigs s1 ON cand.corpus_id = s1.doc_id
       |          JOIN sigs s2 ON cand.new_id = s2.doc_id
       |ORDER BY new_id, corpus_id""".stripMargin

  /** [[dedupIncremental]]'s probe join (pre-distinct), which the plan
    * spec asserts exchange-free on the index side. Requires the index
    * table to exist. */
  private[graft] def incrementalProbePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = bandedSigs(minhashSignatures(s, dir).filter(isIncoming))
    s.table(incrementalIndexTable).as("i").join(probe.as("p"),
      $"i.band" === $"p.band" && $"i.bucket" === $"p.bucket")
  }

  /** Continuous-ingest split for the EMBEDDING probe (the vector
    * analog of [[isIncoming]]'s document split): vectors with
    * `vec_id % mod == rem` arrive as the stream, the rest are the
    * established corpus behind the persisted index. */
  val embedShardMod = 5L
  val embedShardRem = 4L
  val embedProbeIndexTable = "graft_embed_probe_idx"
  val embedProbeIndexBuckets = 16

  /** Persisted LSH bucket index over the CORPUS vectors: one row per
    * (table, bucket) assignment with the vector payload inline
    * (the same inline-vector layout [[embeddingPairs]] measured 3×
    * faster than ids-only + join-back at probe time; a deploy that
    * can't afford L× vector duplication stores PQ codes in the index
    * and exact-refines survivors). Bucketed+sorted on (tbl, bucket)
    * so the streaming probe join reads the index exchange-free —
    * built once per dataset ([[graft.sources.Sinks.writeBucketedOnce]]),
    * exactly like [[buildMinhashIndex]]. */
  def buildEmbedProbeIndex(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    graft.sources.Sinks.writeBucketedOnce(dir, embedProbeIndexTable,
        Seq("tbl", "bucket"), embedProbeIndexBuckets) {
      Similarity.lshBuckets(s, dir, dedupLshTables, dedupLshBits)
        .filter($"vec_id" % embedShardMod =!= embedShardRem)
        .select($"tbl", $"bucket", $"vec_id", $"v", $"nrm")
    }
  }

  /** doc_id + 64-bit SimHash over tokens (term-frequency weighted by
    * construction: repeated tokens vote repeatedly) via the native
    * [[graft.functions.SimHash64]] expression. Staged like
    * [[minhashSignatures]]. */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "simhash_sigs", dir) {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("simhash", expr("graft_simhash64(toks)"))
        .select($"doc_id", $"simhash")
    }

  /** SimHash near-dup pairs: Hamming ≤ 3 via 4×16-bit band buckets
    * (pigeonhole: any pair within distance 3 shares a clean band). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = simhashSignatures(s, dir)
    val banded = sigs.select($"doc_id", $"simhash",
        posexplode(expr("transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535L)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long").as("hamming"))
      // filter BEFORE the distinct so far-apart band collisions never
      // enter the dedup shuffle
      .filter($"hamming" <= 3)
      .dropDuplicates("doc1", "doc2")
      .orderBy($"doc1", $"doc2")
  }

  /** LSH banding for embedding near-dup: τ=0.4 (θ≈1.16 rad) gives a
    * per-hyperplane agreement p = 1-θ/π ≈ 0.63, so the band size must
    * stay small and the table count high for the banding to capture
    * every threshold pair: miss ≈ (1-p^B)^L ≈ 1e-6 per pair at B=3,
    * L=48. Recall is exactly 1.0 on all three test SFs (deterministic
    * hash-seeded planes). Denser corpora tune B up; these are the
    * τ-and-density knobs, not magic numbers. */
  val dedupLshTables = 48
  val dedupLshBits = 3

  /** Embedding near-dup: exact cosine ≥ τ pairs, LSH-bucketed.
    * Candidates come from [[Similarity.lshBuckets]] banding — only
    * vectors sharing a (table, bucket) pair up. No stage is all-pairs:
    * the plan is equi-joins end to end (PlanSpec asserts no
    * BroadcastNestedLoopJoin/CartesianProduct).
    *
    * The cosine is evaluated INLINE in the banding join, not after a
    * pair-distinct: at τ-threshold near-dup density the candidate→
    * survivor ratio is extreme (~0.05% pass), so collision rows stream
    * through codegen'd join→dot→filter without ever materializing, and
    * the distinct only sees τ-passing pairs. The alternative (ids-only
    * through the shuffle, vectors joined back after) pays a full-size
    * pair-distinct plus two corpus joins — measured 3× slower at sf0.1
    * despite exchanging fewer bytes, because the big cost is rows
    * through shuffles, not redundant multiply-adds. The banding
    * exchange itself is L·n rows (vector payload included) — linear in
    * corpus size.
    *
    * Ground truth = [[dedupEmbeddingAllPairs]]; DedupSpec asserts
    * exact equality at spec SF, and the DuckDB oracle is the all-pairs
    * formulation at every driver SF. */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddingPairs(s, dir).orderBy($"id1", $"id2")
  }

  /** The τ-passing pair set WITHOUT the presentation sort — the
    * cluster consumer must not pay a global sort under its union (the
    * same split as [[ngramPairs]]: EliminateSorts does not strip
    * sorts under Union).
    *
    * Staged once per dataset: the LSH banding join + exact re-rank is
    * the dominant cost of every consumer ([[dedupEmbedding]],
    * [[dedupClustersEmbedding]], [[buildEmbedClusterIndex]] — three
    * rebuilds of the same edges before this memo), and the pair graph
    * is a deterministic artifact of the corpus, so it persists like
    * the PQ codebooks (EmbedPq.trainCodebooks) and every later consumer
    * reads the parquet artifact instead of re-deriving the join. */
  private[graft] def embeddingPairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "embed_pairs", dir)(
      embeddingPairsUncached(s, dir))

  private[graft] def embeddingPairsUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = Similarity.lshBuckets(s, dir, dedupLshTables, dedupLshBits)
    // shuffle-hash, never broadcast: both sides are the full corpus
    b.as("a").hint("shuffle_hash").join(b.as("b"),
        $"a.tbl" === $"b.tbl" && $"a.bucket" === $"b.bucket" &&
          $"a.vec_id" < $"b.vec_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("a.v", "b.v")} / (a.nrm * b.nrm)", 6)))
      .filter($"cosine" >= cosineTau)
      .select($"a.vec_id".as("id1"), $"b.vec_id".as("id2"), $"cosine")
      // multi-table hits are identical rows (cosine is a function of
      // the pair) — distinct over survivors only
      .dropDuplicates("id1", "id2")
  }

  /** All-pairs ground truth for [[dedupEmbedding]] — O(n²), spec-only
    * (never registered as a query; it is the small-SF yardstick the
    * bucketed pipeline is proven against). */
  private[graft] def dedupEmbeddingAllPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .filter($"nrm" > 0.0) // no defined cosine for a zero vector
    v.as("a").join(v.as("b"), $"a.vec_id" < $"b.vec_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("a.v", "b.v")} / (a.nrm * b.nrm)", 6)))
      .filter($"cosine" >= cosineTau)
      .select($"a.vec_id".as("id1"), $"b.vec_id".as("id2"), $"cosine")
      .orderBy($"id1", $"id2")
  }

  val dedupEmbeddingSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0)
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |  ${rndSql("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE ${rndSql("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} >= $cosineTau
       |ORDER BY id1, id2""".stripMargin

  /** Safety cap on label-propagation rounds. With pointer-jumping
    * ([[clustersOf]]) convergence is O(log component-diameter) — a
    * diameter-10⁶ chain needs ~20 rounds — so 50 is far past any
    * non-adversarial graph; the cap exists to fail loudly instead of
    * looping if that assumption ever breaks. */
  val maxClusterIters = 50

  /** Near-dup cluster canonicalization: connected components over the
    * [[dedupNgramJaccard]] pair graph, every document labelled with
    * its component's minimum doc_id (singletons label themselves).
    * This is the step a training pipeline runs after near-dup pair
    * generation — "keep one representative per duplicate cluster".
    *
    * Layout: hash-min label propagation. Each round is one equi-join
    * of the (cached, materialized-once) edge list against the current
    * labels plus a min-aggregate — both shuffle on doc_id only; no
    * stage is ever all-pairs or single-partition. `localCheckpoint`
    * truncates the growing lineage each round (standard iterative-
    * algorithm practice, same as the IVF k-means loop); the
    * convergence check is a driver-side scalar count per round, like
    * k-means. Reference analog: the flush canonicalization walk in
    * lib.ts:635-664 picks one surviving sequence per batch family —
    * same keep-one-representative semantics, here over a similarity
    * graph. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir, maxClusterIters)

  private[graft] def dedupClusters(s: SparkSession, dir: String, maxIters: Int): DataFrame = {
    import s.implicits._
    clustersOf(s, Tables.documents(s, dir).select($"doc_id"),
      ngramPairs(s, dir, shingleDfCap).select($"doc1", $"doc2"), maxIters)
  }

  /** §2.4 #29q — QUALITY-AWARE canonical selection: [[dedupClusters]]'
    * components re-labelled with each cluster's argmax(quality score,
    * tie → lowest doc_id) member instead of min doc_id — what a real
    * curation pipeline keeps (min-id keeps whichever crawl copy was
    * ingested first; argmax keeps the best-scoring copy). Quality =
    * the shared [[TextAnalysis.textQuality]] composite (already
    * oracle-proven hash-exact, so the ordering keys are cross-engine
    * identical; NULL scores — empty-token docs — rank last via a
    * coalesce to −1 on both engines). Layout: the closure as 29c, one
    * quality join on doc_id, and a per-cluster top-1 on the native
    * bounded-heap [[graft.plans.TopKPerGroup]] — per-partition heaps
    * ship one row per (partition, cluster), so a mass-dup cluster
    * never hands its whole membership to one task. */
  def dedupClustersBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clusters = dedupClusters(s, dir)
      .select($"doc_id", $"canonical_id".as("cluster_key"), $"cluster_size")
    val q = TextAnalysis.textQuality(s, dir)
      .select($"doc_id", coalesce($"quality", lit(-1.0)).as("q"))
    val members = clusters.join(q, "doc_id")
    val best = graft.plans.TopK.perGroup(
        members.select($"cluster_key", $"doc_id", $"q"),
        Seq("cluster_key"), Seq("q" -> true, "doc_id" -> false), 1)
      .select($"cluster_key", $"doc_id".as("canonical_id"),
        $"q".as("canonical_quality"))
    members.select($"doc_id", $"cluster_key", $"cluster_size")
      .join(best, "cluster_key")
      .select($"doc_id", $"canonical_id", $"canonical_quality", $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Oracle: 29c's WITH RECURSIVE closure verbatim + the textQuality
    * metric chain, argmax re-ranked in SQL (row_number over
    * (q DESC, doc_id)). */
  val dedupClustersBestSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       |edges AS (
       |  SELECT doc1 AS src, doc2 AS dst FROM scored
       |  UNION ALL
       |  SELECT doc2, doc1 FROM scored),
       |reach(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labs AS (SELECT doc_id, min(lab) AS cluster_key FROM reach GROUP BY 1),
       |sized AS (
       |  SELECT doc_id, cluster_key,
       |    count(*) OVER (PARTITION BY cluster_key) AS cluster_size
       |  FROM labs),
       |qt AS (
       |  SELECT doc_id, ${TextAnalysis.duckToks} AS toks,
       |    len(${TextAnalysis.duckToks}) AS n_tokens
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id, n_tokens,
       |    ${TextAnalysis.qualityMetricsDuck}
       |  FROM qt),
       |tq AS (
       |  SELECT doc_id,
       |    coalesce(${TextAnalysis.qualityDuck}, CAST(-1 AS DOUBLE)) AS q
       |  FROM qm),
       |best AS (
       |  SELECT cluster_key, doc_id AS canonical_id, q AS canonical_quality
       |  FROM (
       |    SELECT l.cluster_key, l.doc_id, tq.q,
       |      row_number() OVER (PARTITION BY l.cluster_key
       |                         ORDER BY tq.q DESC, l.doc_id) AS rn
       |    FROM labs l JOIN tq USING (doc_id))
       |  WHERE rn = 1)
       |SELECT s.doc_id, b.canonical_id, b.canonical_quality, s.cluster_size
       |FROM sized s JOIN best b USING (cluster_key)
       |ORDER BY s.doc_id""".stripMargin

  /** The 100 TB path for cluster canonicalization: MinHash banding
    * candidates → exact Jaccard re-rank on the (bounded) candidate
    * pairs only → the same propagation. The corpus-quadratic shingle
    * self-join of [[dedupClusters]]'s ground-truth edge build is
    * replaced by per-pair `array_intersect` over banding survivors —
    * the standard candidate/verify/cluster layout. Matches
    * [[dedupClusters]] exactly wherever banding recall is total and
    * the df-cap doesn't bind (both hold on test corpora — DedupSpec
    * asserts equality; the re-rank uses uncapped shingle sets). */
  def dedupClustersMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingled(s, dir)
    val verified = dedupMinhash(s, dir).select($"doc1", $"doc2")
      .join(sh.select($"doc_id".as("doc1"), $"shingles".as("sh1")), "doc1")
      .join(sh.select($"doc_id".as("doc2"), $"shingles".as("sh2")), "doc2")
      .withColumn("inter", size(array_intersect($"sh1", $"sh2")).cast("long"))
      .filter(expr(rndSql("CAST(inter AS DOUBLE) / (size(sh1) + size(sh2) - inter)", 6)) >=
        jaccardTau)
      .select($"doc1", $"doc2")
    clustersOf(s, Tables.documents(s, dir).select($"doc_id"), verified, maxClusterIters)
  }

  /** §2.4 #29j — SEMANTIC cluster canonicalization: connected
    * components over the [[dedupEmbedding]] cosine graph — the
    * embedding-space analog of [[dedupClusters]]' lexical components,
    * and the semantic-dedup step of a training pipeline ("keep one
    * representative per meaning-duplicate cluster", catching
    * paraphrases lexical shingles never pair). Identical propagation
    * machinery and scale layout; universe = the embeddings table.
    * Oracle = WITH RECURSIVE transitive closure over the all-pairs
    * cosine edges. */
  def dedupClustersEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = embeddingPairs(s, dir).select($"id1".as("doc1"), $"id2".as("doc2"))
    clustersOf(s, Tables.embeddings(s, dir).select($"vec_id".as("doc_id")),
        pairs, maxClusterIters)
      .select($"doc_id".as("vec_id"), $"canonical_id", $"cluster_size")
  }

  val dedupClustersEmbeddingSql: String =
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v),
       |scored AS (
       |  SELECT a.vec_id AS doc1, b.vec_id AS doc2
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id
       |  WHERE ${rndSql("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} >= $cosineTau),
       |edges AS (
       |  SELECT doc1 AS src, doc2 AS dst FROM scored
       |  UNION ALL
       |  SELECT doc2, doc1 FROM scored),
       |reach(id, lab) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labs AS (SELECT id, min(lab) AS canonical_id FROM reach GROUP BY 1)
       |SELECT id AS vec_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM labs ORDER BY vec_id""".stripMargin

  /** Bucketed bidirectional edge artifact for
    * [[dedupClustersEmbeddingIndexed]]: the cosine-τ pair graph —
    * the dominant cost of 29j (LSH banding + re-rank, ~6 of 9 s at
    * sf0.1) — persisted bucketed+sorted on `src`, so every
    * propagation round's edge⋈label join reads the edge side
    * exchange-free. Same amortization [[graph_pagerank_indexed]]
    * demonstrates: a semantic-dedup deploy re-clusters (τ sweeps,
    * re-canonicalization after deletes) far more often than it
    * re-embeds, so the edge build is paid once at write time. */
  val embedClusterIndexTable = "graft_embed_cluster_edges"
  val embedClusterIndexBuckets = 16

  def buildEmbedClusterIndex(s: SparkSession, dir: String,
                             table: String = embedClusterIndexTable): Unit = {
    import s.implicits._
    graft.sources.Sinks.writeBucketedOnce(dir, table,
        Seq("src"), embedClusterIndexBuckets) {
      val p = embeddingPairs(s, dir).select($"id1".as("doc1"), $"id2".as("doc2"))
      p.union(p.select($"doc2", $"doc1")).toDF("src", "dst")
    }
  }

  /** §2.4 #29j' — semantic cluster canonicalization over the PERSISTED
    * edge index: identical propagation (shares 29j's transitive-closure
    * oracle verbatim); per round the only exchanges are the label
    * frame hashing onto the bucket layout and the min-aggregate —
    * the edge table never re-shuffles (PlanSpec asserts it). */
  def dedupClustersEmbeddingIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildEmbedClusterIndex(s, dir)
    clustersOfEdges(s, Tables.embeddings(s, dir).select($"vec_id".as("doc_id")),
        s.table(embedClusterIndexTable), maxClusterIters)
      .select($"doc_id".as("vec_id"), $"canonical_id", $"cluster_size")
  }

  /** One propagation round's edge⋈label join + min-aggregate over the
    * persisted index (labels checkpointed, as in the loop) — the plan
    * the exchange-free spec audits. Requires [[buildEmbedClusterIndex]]
    * to have run. */
  private[graft] def embedClusterRoundPlan(s: SparkSession): DataFrame = {
    import s.implicits._
    val e = s.table(embedClusterIndexTable)
    val labels = e.select($"src".as("doc_id")).distinct()
      .withColumn("label", $"doc_id").localCheckpoint(true)
    e.join(labels.withColumnRenamed("doc_id", "src"), "src")
      .select($"dst".as("doc_id"), $"label")
      .groupBy($"doc_id").agg(min($"label").as("label"))
  }

  /** One FULL propagation round exactly as [[clustersOfEdges]] builds
    * it (edge⋈label join, union-min aggregate, pointer jump) over the
    * persisted embed-cluster edge index — split out so plan evidence
    * can show the real round shape: the loop's own output hides every
    * round behind its checkpoint, making the query-level explain
    * vacuous. */
  private[graft] def clusterRoundPlan(s: SparkSession): DataFrame = {
    import s.implicits._
    val edges = s.table(embedClusterIndexTable)
    val labels = edges.select($"src".as("doc_id")).distinct()
      .withColumn("label", $"doc_id").localCheckpoint(true)
    clusterRound(edges, labels)
  }

  /** One propagation round of [[clustersOfEdges]] over a bidirectional
    * `src, dst` edge frame: a neighbor-min hop, then a pointer jump. */
  private def clusterRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val s = labels.sparkSession
    import s.implicits._
    // One neighbor-min hop: label := min(label, labels of in-neighbors).
    // Pointwise non-increasing (the union contains the input).
    val prop = edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
      .select($"dst".as("doc_id"), $"label")
    val minned = labels.union(prop).groupBy($"doc_id").agg(min($"label").as("label"))
    // Pointer-jump (path halving): label := label(label). Labels are
    // always edge-vertex ids (they start as vertex ids and only ever
    // take values other vertices hold), so the self-join is total.
    // Plain neighbor-min needs O(component diameter) rounds — a
    // diameter-16 chain in the sf0.1 embedding graph took 17 — and a
    // 100 TB near-dup graph can chain far deeper; halving the
    // pointer depth each round makes it O(log diameter). Labels stay
    // component minima-bounded (jump composes two non-increasing
    // maps), and a fixed point of hop-hop-jump is a fixed point of
    // the min step alone (next ≤ minned ≤ prev pointwise), so the
    // convergence proof — labels constant per component, component
    // min labels itself — is unchanged. The extra join is on the
    // vertex-sized label frame, cheap next to the edge join.
    minned.join(
        minned.select($"doc_id".as("label"), $"label".as("jump")), Seq("label"))
      .select($"doc_id", $"jump".as("label"))
  }

  /** Round count of the most recent [[clustersOf]] run — spec
    * observability for the pointer-jumping convergence bound. */
  private[graft] val lastClusterRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Hash-min label propagation over `pairDf`'s edges; every id in
    * `universe` (single column `doc_id`) gets its component's minimum
    * id as canonical (singletons label themselves). */
  private[graft] def clustersOf(s: SparkSession, universe: DataFrame, pairDf: DataFrame,
                         maxIters: Int): DataFrame = {
    import s.implicits._
    val p = pairDf.select($"doc1", $"doc2")
    val edges = p.union(p.select($"doc2", $"doc1")).toDF("src", "dst").persist()
    edges.count() // materialize once; every round re-reads the cache
    try clustersOfEdges(s, universe, edges, maxIters)
    finally edges.unpersist()
  }

  /** Propagation core over an ALREADY-BIDIRECTIONAL `src, dst` edge
    * frame. Callers own edge materialization: [[clustersOf]] caches a
    * freshly-built pair union; [[dedupClustersEmbeddingIndexed]] passes
    * the persisted bucketed edge table directly, so each round's
    * edge⋈label join reads the edge side exchange-free off disk
    * (caching would let the planner drop the bucketed-scan layout —
    * the on-disk bucketing IS the partitioning contract). */
  private[graft] def clustersOfEdges(s: SparkSession, universe: DataFrame,
                         edges: DataFrame, maxIters: Int): DataFrame = {
    import s.implicits._
    // Propagate over edge-vertices only: a document with no near-dup
    // pair can never change label, so the per-round state is
    // O(|pair-graph vertices|) — at 100 TB that is the (small) dup
    // fraction of the corpus, not the corpus. Singletons rejoin at the
    // end as their own canonical. Both edge directions exist, so src
    // alone covers every vertex.
    var labels = edges.select($"src".as("doc_id")).distinct()
      .withColumn("label", $"doc_id").localCheckpoint(true)
    // Convergence probe: every step of a round (min-step, jump) is a
    // POINTWISE NON-INCREASING map on labels (prev ∪ prop contains
    // prev, so the min can only drop; label(v) ≤ v inductively, so
    // jumping to label(label) can only drop), so the EXACT sum of
    // labels strictly decreases until the fixed point and is constant
    // exactly there. Comparing the scalar replaces the old prev-join +
    // changed-row count — one join fewer in every round's plan, and
    // the round's single action (the sum aggregate) also materializes
    // the lazy checkpoint. decimal(38,0) keeps the sum exact: a
    // wrapping long sum could alias two different label states.
    def sig(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum($"label".cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSig = sig(labels)
    var changed = true
    var rounds = 0
    while (changed && rounds < maxIters) {
      val prev = labels
      // ONE hop per round. Two hops per round were tried this round
      // (rounds fell 7→4 on components, 11→7 on embedding clusters)
      // and REVERTED: without a checkpoint the inner hop's subtree is
      // referenced twice by the outer hop (join side + union side), so
      // the physical plan duplicates it and per-round cost more than
      // doubled — the A/B mini-bench read +0.3–0.9 s per cluster key.
      // Checkpointing the inner hop would re-add the second per-round
      // action the sig probe just removed.
      val jumped = clusterRound(edges, prev)
      // lazy checkpoint: the sig aggregate below is the round's one
      // materializing job (an eager checkpoint + separate count was
      // two)
      val next = jumped.localCheckpoint(false)
      val nextSig = sig(next)
      changed = nextSig.compareTo(prevSig) != 0
      prevSig = nextSig
      labels = next
      // Dataset.unpersist is a no-op for localCheckpoint blocks —
      // free the RDD-level storage behind the superseded snapshot
      org.apache.spark.sql.classic.GraftPlans.unpersistLocalCheckpoint(prev)
      rounds += 1
    }
    lastClusterRounds.set(rounds)
    // A silent cap-exit would return labels that are NOT component
    // minima and quietly diverge from the transitive-closure oracle.
    if (changed)
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIters rounds " +
          "(labels still changing): the pair graph has a component " +
          "with diameter exceeding the cap; raise maxClusterIters")
    val lab = universe
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"label", $"doc_id").as("canonical_id"))
    // cluster_size via partial-aggregated groupBy + join, not
    // count().over(Window.partitionBy(canonical_id)): WindowExec puts
    // a whole cluster in one task — fine while clusters are
    // near-dup-sized, pathological if a degenerate corpus collapses
    // into one giant cluster. The groupBy gets map-side combine and
    // the join is AQE-skew-splittable; lab is ids-only, so computing
    // it for both sides is two cheap pruned scans.
    val sizes = lab.groupBy($"canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "canonical_id")
      .select($"doc_id", $"canonical_id", $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Oracle: transitive closure via WITH RECURSIVE over the same
    * τ-filtered pair CTEs, min reachable label per document. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       |edges AS (
       |  SELECT doc1 AS src, doc2 AS dst FROM scored
       |  UNION ALL
       |  SELECT doc2, doc1 FROM scored),
       |reach(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labs AS (SELECT doc_id, min(lab) AS canonical_id FROM reach GROUP BY 1)
       |SELECT doc_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM labs ORDER BY doc_id""".stripMargin

  /** Per-source corpus sketches via the mergeable MinHash-union
    * aggregate, plus the estimated pairwise source overlap — the
    * "how much do these two crawls duplicate each other" question
    * answered from k longs per source instead of a corpus join. */
  def dedupSourceSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.udf.register("graft_minhash_union",
      org.apache.spark.sql.functions.udaf(graft.functions.MinHashUnion))
    // per-doc signatures staged so the oracle can recompute the
    // elementwise-min union and the overlap estimates itself — the
    // mergeable-sketch semantics become hash-checkable
    val sigs = graft.sources.OracleStage.stage(s, "source_sigs", dir) {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .filter(size($"toks") >= 3)
        .withColumn("sig", expr("graft_minhash64(graft_shingles(toks))"))
        .select($"source", $"sig")
    }
    val sketches = sigs.groupBy($"source")
      .agg(expr("graft_minhash_union(sig)").as("sketch"),
           count(lit(1)).as("n_docs"))
    sketches.as("a").join(sketches.as("b"), $"a.source" < $"b.source")
      .select($"a.source".as("source1"), $"b.source".as("source2"),
        $"a.n_docs".as("n_docs1"), $"b.n_docs".as("n_docs2"),
        expr(rndSql(s"CAST(size(filter(zip_with(a.sketch, b.sketch, (x, y) -> x = y), m -> m)) AS DOUBLE) / $minhashK", 4))
          .as("est_overlap"))
      .orderBy($"source1", $"source2")
  }

  // -------------------------------------------------------------------

  /** Duplicated-span window (tokens) for [[dedupSubstring]]. */
  val spanTokens = 3

  /** Substring-granularity duplication profiling — the sliding-window
    * counterpart of [[dedupParagraph]]'s fixed chunks: EVERY
    * [[spanTokens]]-token window (stride 1) is hashed, windows whose
    * text occurs more than once in the whole corpus (within- or
    * cross-document) mark their covered token positions as
    * duplicated, and each affected document reports its duplicated
    * span count, covered-token union and duplication ratio — the
    * per-document signal the "drop documents dominated by repeated
    * substrings" policy consumes (fixed-chunk dedup misses
    * duplication that straddles a chunk boundary; stride-1 windows
    * cannot).
    *
    * Scale layout: the exploded window set is k× the corpus (k=3) and
    * shuffles ONCE on the window text for the occurrence count; the
    * duplicated-window set is the small side of the membership join
    * (AQE broadcasts it when it fits); cover-union + ratios are one
    * partial-aggregated shuffle on doc_id. No window function, no
    * self-join, no global sort before the presentation ORDER BY. */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = spanTokens
    // coalesce + posexplode_outer defeat the inferred-constraint trap
    // (see dedupParagraph): without them the whole tokenize+window
    // transform is inlined into per-row isnotnull/size>0 filters and
    // computed twice.
    val grams = Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tokens", size($"toks").cast("long"))
      // the CASE guards sequence() against size(toks) < k: Spark's
      // sequence(0, negative) is a DESCENDING range, not empty
      .withColumn("grams", expr(
        s"""coalesce(CASE WHEN size(toks) >= $k THEN
           |  transform(sequence(0, size(toks) - $k),
           |    i -> array_join(slice(toks, i + 1, $k), ' ')) END, array())""".stripMargin))
      .select($"doc_id", $"n_tokens", posexplode_outer($"grams").as(Seq("pos", "gram")))
      // shuffle the 64-bit gram hash, never the gram TEXT: both the
      // df count and the membership join only need equality, and the
      // hash cuts the exchanged bytes ~5× (a k-token window string vs
      // one long). 64-bit collisions are negligible at corpus scale;
      // the oracle joins on the text itself — same pairs either way.
      .withColumn("gh", xxhash64($"gram")).drop("gram")
    // duplicated-window membership comes from the PERSISTED span
    // index (the same n_occ>=2 frame the streaming gate probes, built
    // once per dataset) — the round-6 staging rule: the three span
    // operators and the stream share one artifact instead of each
    // re-paying the corpus-window occurrence-count shuffle per run
    buildSpanIndex(s, dir)
    val dup = s.table(spanIndexTable)
    grams.join(dup, Seq("gh"))
      .select($"doc_id", $"n_tokens", $"pos",
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("off"))
      .groupBy($"doc_id")
      .agg(countDistinct($"pos").as("n_dup_grams"),
           countDistinct($"off").as("dup_tokens"),
           max($"n_tokens").as("n_tokens"))
      .select($"doc_id", $"n_dup_grams", $"dup_tokens", $"n_tokens",
        rnd($"dup_tokens".cast("double") / $"n_tokens", 4).as("dup_ratio"))
      .orderBy($"doc_id")
  }

  val dedupSubstringSql: String =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, len(t) AS n_tokens, i,
       |         array_to_string(t[i : i + ${spanTokens - 1}], ' ') AS gram
       |  FROM toks, unnest(range(1, len(t) - $spanTokens + 2)) AS u(i)),
       |dup AS (
       |  SELECT gram FROM (SELECT gram, count(*) AS n_occ FROM grams GROUP BY gram)
       |  WHERE n_occ >= 2),
       |cover AS (
       |  SELECT g.doc_id, g.n_tokens, g.i, j
       |  FROM grams g JOIN dup d USING (gram),
       |       unnest(range(g.i, g.i + $spanTokens)) AS v(j))
       |SELECT doc_id, count(DISTINCT i) AS n_dup_grams,
       |  count(DISTINCT j) AS dup_tokens,
       |  max(n_tokens) AS n_tokens,
       |  ${graft.functions.Agg.rndSql(s"count(DISTINCT j) * CAST(1.0 AS DOUBLE) / max(n_tokens)", 4)} AS dup_ratio
       |FROM cover GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Minimum merged duplicated-run length (tokens) that
    * [[dedupSpanRemoval]] actually cuts — the Lee et al. 2022
    * ExactSubstr length floor, scaled to this corpus's short synthetic
    * documents (production deploys run ~50). */
  val spanRemovalMinTokens = 5

  /** §2.4 — ExactSubstr-class duplicated-SPAN REMOVAL (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better"): where [[dedupSubstring]] PROFILES duplication, this
    * operator performs the production edit — every maximal run of
    * token positions covered by corpus-duplicated [[spanTokens]]-token
    * windows (stride 1, within- or cross-document occurrences both
    * count) is cut when the run reaches [[spanRemovalMinTokens]],
    * and each document is reassembled from its surviving tokens.
    * Sub-threshold runs survive (a repeated idiom is not boilerplate);
    * a fully-duplicated document comes back as an empty string, NOT a
    * dropped row — downstream length filters decide its fate.
    *
    * Scale layout: [[dedupSubstring]]'s one-shuffle window-occurrence
    * count feeds a covered-offset set that is per-document bounded;
    * the run merge is gaps-and-islands under a (doc_id)-partitioned
    * window (docs are the partition key — no single-partition stage),
    * and reassembly is one partial-aggregated shuffle on doc_id. The
    * token-position explode is corpus×tokens rows — the same volume
    * every tokenizing operator here already scans — and shuffles once
    * for the anti-join + once for the rebuild. */
  def dedupSpanRemoval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = spanTokens
    val grams = spanGramRows(Tables.documents(s, dir))
    // probe the persisted duplicated-window index (see dedupSubstring)
    buildSpanIndex(s, dir)
    val covered = grams.join(s.table(spanIndexTable), Seq("gh"))
      .select($"doc_id", explode(expr(s"sequence(pos, pos + ${k - 1})")).as("off"))
      .distinct()
    spanRemovalFromCovered(s, dir, covered)
  }

  /** Stride-1 [[spanTokens]]-token window rows (doc_id, pos, gh) over
    * ANY documents frame — batch or stream (every expression is
    * row-local). Shared by [[dedupSpanRemoval]], the persisted
    * duplicated-window index build, and the streaming probe, so the
    * three can never disagree on windowing or hashing. */
  private[graft] def spanGramRows(docs: DataFrame, k: Int = spanTokens): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("toks", expr(toksExpr))
      // the CASE guards sequence() against size(toks) < k; coalesce +
      // posexplode_outer defeat the inferred-constraint inline trap
      // (the dedupParagraph note)
      .withColumn("grams", expr(
        s"""coalesce(CASE WHEN size(toks) >= $k THEN
           |  transform(sequence(0, size(toks) - $k),
           |    i -> array_join(slice(toks, i + 1, $k), ' ')) END, array())""".stripMargin))
      .select($"doc_id", posexplode_outer($"grams").as(Seq("pos", "gram")))
      .withColumn("gh", xxhash64($"gram")).drop("gram")
  }

  /** The covered-offset → islands → cut → reassemble tail over ANY
    * (doc_id, off) covered-position frame — shared by the batch
    * operator and the streaming gate's run-to-completion rebuild, so
    * the stream can never cut differently than the batch edit. */
  private[graft] def spanRemovalFromCovered(s: SparkSession, dir: String,
      covered: DataFrame, minRun: Int = spanRemovalMinTokens): DataFrame = {
    import s.implicits._
    // gaps-and-islands: consecutive covered offsets share (off - rn).
    // spans feeds TWO consumers (the cut offsets and the per-doc span
    // stats): without the checkpoint the physical plan duplicated the
    // whole covered subtree — for the batch operators that is the
    // index-probe join + explode + distinct replayed twice (the plan
    // showed two Window towers). The frame is span-bounded (≤ one row
    // per removed run), the cheapest thing in the pipeline to pin.
    val iw = Window.partitionBy($"doc_id").orderBy($"off")
    val spans = covered
      .withColumn("grp", $"off" - row_number().over(iw))
      .groupBy($"doc_id", $"grp")
      .agg(min($"off").as("span_start"), count(lit(1)).as("span_len"))
      .filter($"span_len" >= minRun)
      .localCheckpoint(true)
    // The corpus-token explode shuffles ONCE, on doc_id alone: the cut
    // set rides as a per-doc SPAN ARRAY (span-bounded, not
    // offset-exploded), the join key is doc_id, and the rebuild's
    // groupBy(doc_id) reuses the join's layout — the previous plan
    // anti-joined on (doc_id, off), shuffling the exploded corpus once
    // for the join and AGAIN on doc_id for the rebuild. The position
    // test is a codegen'd `exists` over the (few) spans of the doc.
    val spansByDoc = spans.groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_len")).as("__spans"))
    val tokPos = Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .select($"doc_id", posexplode($"toks").as(Seq("off", "tok")))
      .withColumn("off", $"off".cast("long"))
      .repartition($"doc_id")
    val rebuilt = tokPos
      .join(spansByDoc, Seq("doc_id"), "left")
      .filter(coalesce(not(expr(
          "exists(__spans, s -> off >= s.span_start AND off < s.span_start + s.span_len)")),
        lit(true)))
      .groupBy($"doc_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(off, tok))), t -> t.tok), ' ')")
        .as("clean_text"),
        count(lit(1)).as("__n_kept"))
    val stats = spans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans_removed"),
        sum($"span_len").as("n_tokens_removed"))
    // n_tokens = kept + removed: every token position is either cut or
    // kept, so the count reconstructs exactly and the spine needs only
    // doc_id — no third tokenize pass over the corpus. A doc absent
    // from both frames has zero tokens (any tokenized doc keeps at
    // least one position or has every position removed).
    Tables.documents(s, dir).select($"doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .join(stats, Seq("doc_id"), "left")
      .select($"doc_id",
        (coalesce($"__n_kept", lit(0L)) +
          coalesce($"n_tokens_removed", lit(0L))).as("n_tokens"),
        coalesce($"n_spans_removed", lit(0L)).as("n_spans_removed"),
        coalesce($"n_tokens_removed", lit(0L)).as("n_tokens_removed"),
        coalesce($"clean_text", lit("")).as("clean_text"))
      .orderBy($"doc_id")
  }

  /** §2.4 29e'''' — EXACT ExactSubstr span removal (Lee et al. 2022
    * with its true boundary semantics): cut EXACTLY the token
    * positions lying inside some corpus-duplicated substring of
    * length ≥ [[spanRemovalMinTokens]]. The identity that makes this
    * one relational pass instead of a suffix array: a position is
    * inside a duplicated substring of length ≥ L **iff** it is
    * covered by a duplicated L-token window — every L-window of a
    * duplicated substring is itself duplicated (a substring of a
    * duplicate is a duplicate), and a duplicated L-window IS a
    * duplicated substring of length L. So the exact operator is the
    * [[dedupSpanRemoval]] pipeline with window length = L and NO
    * min-run filter; islands survive only as the span statistics.
    * Where the k=3 approximation differs (and 29e'' documents): two
    * ADJACENT duplicated 4-token phrases merge into one ≥5 covered
    * run and get cut there, while no duplicated ≥5-substring exists —
    * here they survive (DedupSpanExactSpec plants that exact case).
    * Same scale layout: one shuffle on the 64-bit window hash, one
    * partial-agged rebuild. */
  def dedupSpanRemovalExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = spanRemovalMinTokens
    val grams = spanGramRows(Tables.documents(s, dir), k)
    // probe the k=L sibling of the persisted duplicated-window index
    buildSpanIndex(s, dir, k, spanIndexExactTable)
    val covered = grams.join(s.table(spanIndexExactTable), Seq("gh"))
      .select($"doc_id", explode(expr(s"sequence(pos, pos + ${k - 1})")).as("off"))
      .distinct()
    spanRemovalFromCovered(s, dir, covered, minRun = 1)
  }

  /** The PERSISTED duplicated-window index behind the streaming span
    * gate: every corpus-duplicated window hash, written hash-bucketed
    * so each micro-batch's probe join reads the index exchange-free
    * (the 29d/36g' layout — only the tiny arriving batch shuffles
    * onto the bucket layout). */
  val spanIndexTable = "graft_dup_span_idx"
  /** k=[[spanRemovalMinTokens]] sibling for the EXACT variant (its
    * duplicated-window set is over L-token windows, a different
    * artifact from the k=3 profile/removal index). */
  val spanIndexExactTable = "graft_dup_span_idx5"
  val spanIndexBuckets = 8

  private[graft] def buildSpanIndex(s: SparkSession, dir: String,
      k: Int = spanTokens, table: String = spanIndexTable): Unit = {
    import s.implicits._
    // once per (session, dataset-fingerprint) — the ingest-cadence
    // memo every other persisted index here uses; repeated runs probe
    // the existing table instead of re-paying the corpus window scan.
    // The memo keys on a CONTENT fingerprint of the documents path
    // (file count/bytes/mtime, Sinks.dirFingerprint), not the bare
    // dir: this index also backs the streaming ingest gate, and a
    // documents dir that GAINS files between two stream runs in one
    // session must rebuild, or the second run silently misses
    // duplicate spans involving the new shard.
    graft.sources.Sinks.writeBucketedOnce(
        graft.sources.Sinks.dirFingerprint(s"$dir/documents.parquet"),
        table, Seq("gh"), spanIndexBuckets) {
      spanGramRows(Tables.documents(s, dir), k)
        .groupBy($"gh").agg(count(lit(1)).as("n_occ"))
        .filter($"n_occ" >= 2).select($"gh")
    }
  }

  /** PlanSpec seam: the batch span family's index-probe join (gram
    * rows ⋈ persisted duplicated-window set) in isolation — the shape
    * all three batch operators and the streaming gate now share. */
  private[graft] def spanProbePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildSpanIndex(s, dir)
    spanGramRows(Tables.documents(s, dir))
      .join(s.table(spanIndexTable), Seq("gh"))
  }

  /** Oracle: the same window-count → covered-offset → islands → cut →
    * reassemble pipeline in DuckDB (0-based offsets to match the
    * engine's posexplode; the join is on window TEXT where the engine
    * shuffles xxhash64 of it — equal text iff equal hash mod 2^-64). */
  val dedupSpanRemovalSql: String =
    spanRemovalSqlOf(spanTokens, spanRemovalMinTokens)

  /** The exact variant's oracle: window length = the cut threshold,
    * min-run 1 (see [[dedupSpanRemovalExact]]). */
  val dedupSpanRemovalExactSql: String =
    spanRemovalSqlOf(spanRemovalMinTokens, 1)

  private def spanRemovalSqlOf(k: Int, minRun: Int): String =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, i, array_to_string(t[i : i + ${k - 1}], ' ') AS gram
       |  FROM toks, unnest(range(1, len(t) - $k + 2)) AS u(i)),
       |dup AS (
       |  SELECT gram FROM (SELECT gram, count(*) AS n_occ FROM grams GROUP BY gram)
       |  WHERE n_occ >= 2),
       |covered AS (
       |  SELECT DISTINCT g.doc_id, j - 1 AS off
       |  FROM grams g JOIN dup d USING (gram),
       |       unnest(range(g.i, g.i + $k)) AS v(j)),
       |isl AS (
       |  SELECT doc_id, off,
       |    off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS grp
       |  FROM covered),
       |spans AS (
       |  SELECT doc_id, min(off) AS span_start, count(*) AS span_len
       |  FROM isl GROUP BY doc_id, grp
       |  HAVING count(*) >= $minRun),
       |removed AS (
       |  SELECT doc_id, r AS off
       |  FROM spans, unnest(range(span_start, span_start + span_len)) AS w(r)),
       |tokpos AS (
       |  SELECT doc_id, i - 1 AS off, t[i] AS tok
       |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
       |re AS (
       |  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.off) AS clean_text
       |  FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM removed r
       |    WHERE r.doc_id = tp.doc_id AND r.off = tp.off)
       |  GROUP BY tp.doc_id),
       |st AS (
       |  SELECT doc_id, count(*) AS n_spans_removed,
       |    CAST(sum(span_len) AS BIGINT) AS n_tokens_removed
       |  FROM spans GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       |  coalesce(st.n_spans_removed, 0) AS n_spans_removed,
       |  coalesce(st.n_tokens_removed, 0) AS n_tokens_removed,
       |  coalesce(re.clean_text, '') AS clean_text
       |FROM toks t
       |LEFT JOIN re ON re.doc_id = t.doc_id
       |LEFT JOIN st ON st.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ---- staged-signature oracles ------------------------------------
  // The XXH64 signatures aren't SQL-replicable, but everything
  // downstream of them is: these oracles recompute banding, candidate
  // pairs, Hamming filters, and the sketch union from the STAGED
  // signature tables, hash-checking the whole pipeline except the
  // hash itself (ExpressionsSpec covers that). DuckDB bands on the
  // raw signature slice (as a joined string) where Spark bands on
  // xxhash64(slice) — equal slices iff equal buckets, modulo a
  // 2^-64 hash collision.

  private def sigBandCtes(glob: String): String =
    s"""sigs AS (SELECT doc_id, sig FROM read_parquet('$glob')),
       |banded AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b*$rowsPerBand+1 : b*$rowsPerBand+$rowsPerBand], ',') AS bucket
       |  FROM sigs, unnest(range(0, $bands)) AS u(b))""".stripMargin

  /** [[estJaccard]]'s DuckDB rendering over two staged signatures. */
  private def estJaccardDuck(s1: String, s2: String): String =
    rndSql(s"CAST(len(list_filter(range(1, ${minhashK + 1}), i -> $s1[i] = $s2[i])) AS DOUBLE) / $minhashK", 4)

  def dedupMinhashSql(glob: String): String =
    s"""WITH ${sigBandCtes(glob)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc1, doc2, ${estJaccardDuck("s1.sig", "s2.sig")} AS est_jaccard
       |FROM cand JOIN sigs s1 ON cand.doc1 = s1.doc_id
       |          JOIN sigs s2 ON cand.doc2 = s2.doc_id
       |ORDER BY doc1, doc2""".stripMargin

  /** §2.4 — threshold-tuning sweep: the Jaccard-similarity histogram
    * over ALL candidate pairs (0.05-wide bins) with the cumulative
    * pairs-at-or-above count per bin edge — the table a pipeline
    * owner reads to PICK τ before running any dedup (where does the
    * near-dup mass sit, how sharply does the pair count grow as the
    * threshold drops). One pass over the staged [[interPairs]]
    * artifact; the histogram is ≤21 bins, the cumulative window runs
    * on that bounded frame. */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val binned = interPairs(s, dir, shingleDfCap)
      .withColumn("jaccard",
        expr(rndSql("CAST(inter AS DOUBLE) / (n1 + n2 - inter)", 6)))
      .withColumn("bin",
        expr(rndSql("CAST(floor(jaccard * 20.0) AS DOUBLE) / 20.0", 2)))
      .groupBy($"bin").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy($"bin".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("pairs_ge", sum($"n_pairs").over(w))
      .select($"bin", $"n_pairs", $"pairs_ge")
      .orderBy($"bin")
  }

  lazy val dedupThresholdSweepSql: String =
    s"""WITH RECURSIVE $ngramInterCtes,
       |binned AS (
       |  SELECT ${rndSql(
         s"CAST(floor(${rndSql("CAST(inter AS DOUBLE) / (n1 + n2 - inter)", 6)} * 20.0) AS DOUBLE) / 20.0", 2)} AS bin,
       |    count(*) AS n_pairs
       |  FROM ip GROUP BY 1)
       |SELECT bin, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY bin DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pairs_ge
       |FROM binned ORDER BY bin""".stripMargin

  /** MinHash banding collision probability 1 − (1 − s^r)^b as an SQL
    * fragment — rendered as pure repeated-squaring multiplication
    * chains (b and r are powers of two), NEVER `pow`: `*` and `-` are
    * exactly-rounded IEEE ops so the SAME text evaluates bit-identically
    * in Spark codegen and DuckDB, while `pow` is only faithfully
    * rounded and may differ in the last ulp between libm builds. */
  private def lshCollisionProb(col: String, b: Int, r: Int): String = {
    def pc(x: String, n: Int): String =
      if (n == 1) x else { val h = pc(x, n / 2); s"($h * $h)" }
    s"(CAST(1 AS DOUBLE) - ${pc(s"(CAST(1 AS DOUBLE) - ${pc(col, r)})", b)})"
  }

  /** The (bands, rowsPerBand) factorizations of [[minhashK]] swept by
    * [[dedupLshPlan]]. */
  val lshPlanConfigs: Seq[(Int, Int)] =
    Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32), (1, 64))

  /** §2.4 — the LSH banding PLANNER: for every (bands, rows-per-band)
    * factorization of the [[minhashK]]-hash signature, the expected
    * candidate workload, expected recall at τ and expected
    * false-positive candidates, computed ANALYTICALLY from the
    * observed exact-similarity distribution under the standard MinHash
    * collision model (a pair at Jaccard s collides in one band with
    * probability s^[[rowsPerBand]]; anywhere with 1−(1−s^r)^b). The
    * table an owner reads to pick the banding BEFORE running any
    * banding: at 100 TB you cannot empirically sweep 7 configurations
    * ([[dedupEval]] measures the ONE configured setting; this ranks
    * all of them from the same staged pair artifact). Work: one pass
    * over staged [[interPairs]] computing all 14 expectation columns
    * in a single partial aggregate (pairs sharing no shingle have
    * s = 0, hence collision probability 0 — their absence from the
    * artifact is exactly the model's term for them); the 7-row
    * unpivot runs on the 1-row aggregate. Sums are 1e-4-quantized
    * exact decimals ([[graft.functions.Agg.dsum]]) so the totals are
    * partitioning-independent — a correctness property, not a test
    * convenience. */
  def dedupLshPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{countIf, dsum}
    val pairs = interPairs(s, dir, shingleDfCap)
      .withColumn("j",
        expr(rndSql("CAST(inter AS DOUBLE) / (n1 + n2 - inter)", 6)))
    val tau = s"CAST($jaccardTau AS DOUBLE)"
    val aggs = lshPlanConfigs.flatMap { case (b, r) =>
      val p = lshCollisionProb("j", b, r)
      Seq(
        dsum(expr(p)).as(s"ec_${b}_$r"),
        dsum(expr(s"CASE WHEN j >= $tau THEN $p ELSE CAST(0 AS DOUBLE) END"))
          .as(s"et_${b}_$r"))
    } :+ countIf(expr(s"j >= $tau")).as("n_true")
    val stackArgs = lshPlanConfigs.map { case (b, r) =>
      s"CAST($b AS BIGINT), CAST($r AS BIGINT), ec_${b}_$r, et_${b}_$r"
    }.mkString(", ")
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(
        expr(s"stack(${lshPlanConfigs.size}, $stackArgs)" +
          " AS (bands, rows_per_band, exp_candidates, exp_true)"),
        $"n_true")
      .select($"bands", $"rows_per_band", $"exp_candidates",
        expr(rndSql(
          "CASE WHEN n_true > 0 THEN exp_true / CAST(n_true AS DOUBLE) END",
          6)).as("exp_recall"),
        ($"exp_candidates" - $"exp_true").as("exp_fp"))
      .orderBy($"rows_per_band")
  }

  lazy val dedupLshPlanSql: String = {
    import graft.functions.Agg.{countIfSql, dsumSql}
    val tau = s"CAST($jaccardTau AS DOUBLE)"
    val aggCols = lshPlanConfigs.map { case (b, r) =>
      val p = lshCollisionProb("j", b, r)
      s"""    ${dsumSql(p)} AS ec_${b}_$r,
         |    ${dsumSql(s"CASE WHEN j >= $tau THEN $p ELSE CAST(0 AS DOUBLE) END")} AS et_${b}_$r""".stripMargin
    }.mkString(",\n")
    val branches = lshPlanConfigs.map { case (b, r) =>
      s"""  SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |    ec_${b}_$r AS exp_candidates,
         |    ${rndSql(s"CASE WHEN n_true > 0 THEN et_${b}_$r / CAST(n_true AS DOUBLE) END", 6)} AS exp_recall,
         |    ec_${b}_$r - et_${b}_$r AS exp_fp
         |  FROM a""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH RECURSIVE $ngramInterCtes,
       |pj AS (
       |  SELECT ${rndSql("CAST(inter AS DOUBLE) / (n1 + n2 - inter)", 6)} AS j
       |  FROM ip),
       |-- MATERIALIZED is load-bearing: `a` is referenced by all 7
       |-- UNION ALL branches, and DuckDB inlines multiply-referenced
       |-- CTEs — without it the whole n-gram pair build runs 7 times
       |-- (~70 GB of temp spill at sf≈1, caught by the 10x sweep)
       |a AS MATERIALIZED (
       |  SELECT
       |$aggCols,
       |    ${countIfSql(s"j >= $tau")} AS n_true
       |  FROM pj)
       |$branches
       |ORDER BY rows_per_band""".stripMargin
  }

  /** §2.4 — dedup-quality EVAL harness: precision/recall/F1 of the
    * MinHash+LSH near-dup detector against the exact n-gram Jaccard
    * ground truth at the same τ — the measurement a pipeline owner
    * runs before trusting the sketch path at scale (the vector
    * sibling of [[Similarity]]'s recall specs, promoted to a
    * first-class oracled query). Truth = the exact τ-cut pair set
    * (the staged [[interPairs]] artifact — no extra corpus work);
    * predicted = banded candidates whose ESTIMATED Jaccard clears τ.
    * The confusion counts come from one full-outer join of two
    * pair-sized frames; P/R/F1 are row-local on the single aggregate
    * row (NULL on empty denominators). */
  def dedupEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.countIf
    val truth = ngramPairs(s, dir, shingleDfCap).select($"doc1", $"doc2")
      .withColumn("t", lit(1L))
    val banded = bandedSigs(minhashSignatures(s, dir))
    val pred = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
        $"a.sig".as("sig1"), $"b.sig".as("sig2"))
      .dropDuplicates("doc1", "doc2")
      .withColumn("est", expr(estJaccard("sig1", "sig2")))
      .filter($"est" >= jaccardTau)
      .select($"doc1", $"doc2")
      .withColumn("p", lit(1L))
    truth.join(pred, Seq("doc1", "doc2"), "full_outer")
      .agg(countIf($"t".isNotNull && $"p".isNotNull).as("tp"),
        countIf($"t".isNull && $"p".isNotNull).as("fp"),
        countIf($"t".isNotNull && $"p".isNull).as("fn"))
      .select($"tp", $"fp", $"fn",
        expr(rndSql("CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END", 6)).as("precision"),
        expr(rndSql("CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END", 6)).as("recall"),
        expr(rndSql(
          "CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END", 6)).as("f1"))
  }

  def dedupEvalSql(glob: String): String = {
    import graft.functions.Agg.countIfSql
    s"""WITH RECURSIVE $ngramPairCtes,
       |${sigBandCtes(glob)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |pred AS (
       |  SELECT cand.doc1, cand.doc2
       |  FROM cand JOIN sigs s1 ON cand.doc1 = s1.doc_id
       |            JOIN sigs s2 ON cand.doc2 = s2.doc_id
       |  WHERE ${estJaccardDuck("s1.sig", "s2.sig")} >= $jaccardTau),
       |m AS (
       |  SELECT
       |    ${countIfSql("t.doc1 IS NOT NULL AND p.doc1 IS NOT NULL")} AS tp,
       |    ${countIfSql("t.doc1 IS NULL AND p.doc1 IS NOT NULL")} AS fp,
       |    ${countIfSql("t.doc1 IS NOT NULL AND p.doc1 IS NULL")} AS fn
       |  FROM scored t FULL OUTER JOIN pred p
       |    ON t.doc1 = p.doc1 AND t.doc2 = p.doc2)
       |SELECT tp, fp, fn,
       |  ${rndSql("CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END", 6)} AS precision,
       |  ${rndSql("CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END", 6)} AS recall,
       |  ${rndSql("CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END", 6)} AS f1
       |FROM m""".stripMargin
  }

  def dedupIncrementalSql(glob: String): String =
    s"""WITH ${sigBandCtes(glob)},
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS corpus_id, p.doc_id AS new_id
       |  FROM banded i JOIN banded p
       |    ON i.band = p.band AND i.bucket = p.bucket
       |  WHERE i.doc_id % $incrementalShardMod <> $incrementalShardRem
       |    AND p.doc_id % $incrementalShardMod = $incrementalShardRem)
       |SELECT corpus_id, new_id, ${estJaccardDuck("s1.sig", "s2.sig")} AS est_jaccard
       |FROM cand JOIN sigs s1 ON cand.corpus_id = s1.doc_id
       |          JOIN sigs s2 ON cand.new_id = s2.doc_id
       |ORDER BY new_id, corpus_id""".stripMargin

  def dedupSimhashSql(glob: String): String =
    s"""WITH sigs AS (SELECT doc_id, simhash FROM read_parquet('$glob')),
       |banded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 16)) & 65535 AS bucket
       |  FROM sigs, unnest(range(0, 4)) AS u(b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
       |SELECT doc1, doc2, hamming FROM pairs ORDER BY doc1, doc2""".stripMargin

  def dedupSourceSketchSql(glob: String): String =
    s"""WITH sigs AS (SELECT source, sig FROM read_parquet('$glob')),
       |el AS (
       |  SELECT source, i, min(sig[i]) AS mn
       |  FROM sigs, unnest(range(1, ${minhashK + 1})) AS u(i)
       |  GROUP BY source, i),
       |sk AS (SELECT source, list(mn ORDER BY i) AS sketch FROM el GROUP BY source),
       |nd AS (SELECT source, count(*) AS n_docs FROM sigs GROUP BY source)
       |SELECT a.source AS source1, b.source AS source2,
       |  na.n_docs AS n_docs1, nb.n_docs AS n_docs2,
       |  ${rndSql(s"CAST(len(list_filter(range(1, ${minhashK + 1}), i -> a.sketch[i] = b.sketch[i])) AS DOUBLE) / $minhashK", 4)} AS est_overlap
       |FROM sk a JOIN sk b ON a.source < b.source
       |JOIN nd na ON na.source = a.source
       |JOIN nd nb ON nb.source = b.source
       |ORDER BY source1, source2""".stripMargin

  /** §2.4 — SemDeDup-style cluster-representative pruning: the
    * CURATION DECISION on top of the semantic cluster artifact (29j).
    * Within each embedding cluster, keep the member whose cosine to
    * the cluster centroid is highest (the most "central" exemplar —
    * Abbas et al.'s SemDeDup keeps low-redundancy representatives
    * exactly this way) and count what gets pruned. Centroid cosine
    * uses the SUM vector — cos(m, Σv/k) = cos(m, Σv), so no division
    * by k enters the arithmetic; per-dimension sums quantize at 1e-9
    * into exact decimal integers, making both engines' centroids
    * bit-identical. Scale: one posexplode + (cluster, dim) partial
    * aggregate — d-bounded rows per cluster — then an edge-free hash
    * join of members against their cluster's d-element sum vector;
    * nothing is all-pairs and nothing collects. */
  def dedupSemanticPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the cluster assignment is a deterministic artifact of the
    // corpus (like the pair graph it derives from) — stage it once
    // per dataset so the curation decision re-runs at artifact cost,
    // not propagation cost; the oracle still re-derives the clusters
    // from scratch via the recursive closure
    val clusters = graft.sources.OracleStage.stage(s, "embed_clusters", dir)(
      dedupClustersEmbedding(s, dir))
    val members = clusters
      .join(Similarity.nonDegenerate(Similarity.vectors(s, dir)), "vec_id")
    val sums = members
      .select($"canonical_id", posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"canonical_id", $"dim")
      .agg((sum(expr("CAST(floor(x * 1000000000D + 0.5D) AS DECIMAL(38,0))"))
        .cast("double") / lit(1e9)).as("sx"))
    val sv = sums.groupBy($"canonical_id")
      .agg(expr("transform(array_sort(collect_list(struct(dim, sx))), t -> t.sx)").as("sv"))
      .withColumn("svnrm", expr(VectorFns.norm("sv")))
    val w = Window.partitionBy($"canonical_id")
      .orderBy($"cos_centroid".desc, $"vec_id")
    members.join(sv, "canonical_id")
      .withColumn("cos_centroid",
        expr(rndSql(s"${VectorFns.dot("v", "sv")} / (nrm * svnrm)", 6)))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"canonical_id".as("cluster_id"), $"cluster_size",
        $"vec_id".as("kept_id"), $"cos_centroid".as("kept_cos"),
        ($"cluster_size" - 1L).as("n_pruned"))
      .orderBy($"cluster_id")
  }

  /** Oracle: transitive-closure clusters (29j's recurrence) + the
    * same sum-vector centroid cosine and argmax in DuckDB. */
  val dedupSemanticPruneSql: String =
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v),
       |scored AS (
       |  SELECT a.vec_id AS doc1, b.vec_id AS doc2
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id
       |  WHERE ${rndSql("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} >= $cosineTau),
       |edges AS (
       |  SELECT doc1 AS src, doc2 AS dst FROM scored
       |  UNION ALL
       |  SELECT doc2, doc1 FROM scored),
       |reach(id, lab) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labs AS (SELECT id, min(lab) AS canonical_id FROM reach GROUP BY 1),
       |mem AS (
       |  SELECT l.id AS vec_id, l.canonical_id, n.v, n.nrm
       |  FROM labs l JOIN n ON n.vec_id = l.id
       |  WHERE n.nrm > 0),
       |dims AS (
       |  SELECT canonical_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |  FROM mem),
       |sums AS (
       |  SELECT canonical_id, dim,
       |    CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS sx
       |  FROM dims GROUP BY 1, 2),
       |sv AS (
       |  SELECT canonical_id, list(sx ORDER BY dim) AS sv FROM sums GROUP BY 1),
       |sn AS (
       |  SELECT canonical_id, sv,
       |    sqrt(list_sum(list_transform(sv, x -> x * x))) AS svnrm
       |  FROM sv),
       |sz AS (SELECT canonical_id, count(*) AS cluster_size FROM mem GROUP BY 1),
       |sc AS (
       |  SELECT m.canonical_id, m.vec_id,
       |    ${rndSql("list_dot_product(m.v, s.sv) / (m.nrm * s.svnrm)", 6)} AS cos_centroid
       |  FROM mem m JOIN sn s USING (canonical_id)),
       |r AS (
       |  SELECT canonical_id, vec_id, cos_centroid,
       |    row_number() OVER (PARTITION BY canonical_id
       |      ORDER BY cos_centroid DESC, vec_id) AS rk
       |  FROM sc)
       |SELECT r.canonical_id AS cluster_id, sz.cluster_size,
       |  r.vec_id AS kept_id, r.cos_centroid AS kept_cos,
       |  sz.cluster_size - 1 AS n_pruned
       |FROM r JOIN sz USING (canonical_id)
       |WHERE rk = 1
       |ORDER BY cluster_id""".stripMargin

  /** §2.4 — the DEDUP COST report: what each tier of the dedup
    * ladder actually removes, in one table — documents dropped,
    * characters dropped, and their corpus shares, per method (exact
    * hash, normalized-exact hash, n-gram near-dup clusters). The
    * measurement a curation owner reads before picking a tier: if
    * near-dup clustering only removes 1% more than exact hashing,
    * the banding pipeline isn't paying for itself on this corpus.
    * The 31y recall-report pattern applied to dedup: every mapping
    * is the registered operator's own canonicalization (per-doc
    * canonical via hash-grouped min or the cluster build), so the
    * report can't drift from what the operators decide; each rollup
    * is one aggregate over a doc-sized mapping join. */
  def dedupCostReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
    def report(method: String, mapping: DataFrame): DataFrame =
      mapping.join(base.select($"doc_id", $"n_chars"), "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"doc_id" =!= $"canonical_id", 1L).otherwise(0L))
            .as("n_dropped"),
          sum(when($"doc_id" =!= $"canonical_id", $"n_chars").otherwise(0L))
            .as("chars_dropped"),
          sum($"n_chars").as("chars_total"))
        // empty corpus: no per-method row (the oracle's grouped
        // rollups emit none), and no 0/0 share
        .filter($"n_docs" > 0)
        .select(lit(method).as("method"), $"n_docs", $"n_dropped",
          expr(rndSql("CAST(n_dropped AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6))
            .as("pct_docs_dropped"),
          $"chars_dropped",
          expr(rndSql("CAST(chars_dropped AS DOUBLE) / CAST(chars_total AS DOUBLE)", 6))
            .as("pct_chars_dropped"))
    def hashMap(h: org.apache.spark.sql.Column): DataFrame = {
      val d = base.select($"doc_id", h.as("h"))
      d.join(d.groupBy($"h").agg(min($"doc_id").as("canonical_id")), "h")
        .select($"doc_id", $"canonical_id")
    }
    report("exact", hashMap(md5($"text".cast("binary"))))
      .unionByName(report("exact_normalized",
        hashMap(md5(expr("graft_normalize(text)").cast("binary")))))
      .unionByName(report("ngram_clusters",
        dedupClusters(s, dir).select($"doc_id", $"canonical_id")))
      .orderBy($"method")
  }

  /** Oracle: per-doc canonicals via hash-partition window mins plus
    * the cluster closure's labs, each rolled up identically. */
  lazy val dedupCostReportSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       |edges AS (
       |  SELECT doc1 AS src, doc2 AS dst FROM scored
       |  UNION ALL
       |  SELECT doc2, doc1 FROM scored),
       |reach(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labs AS (SELECT doc_id, min(lab) AS canonical_id FROM reach GROUP BY 1),
       |em AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       |    n_chars
       |  FROM documents),
       |nm AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(
       |      lower(nfc_normalize(text)), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g'))))
       |    AS canonical_id, n_chars
       |  FROM documents),
       |cm AS (
       |  SELECT l.doc_id, l.canonical_id, d.n_chars
       |  FROM labs l JOIN documents d ON d.doc_id = l.doc_id),
       |u AS (
       |  SELECT 'exact' AS method, * FROM em
       |  UNION ALL SELECT 'exact_normalized', * FROM nm
       |  UNION ALL SELECT 'ngram_clusters', * FROM cm)
       |SELECT method, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  ${rndSql("CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
       |    AS pct_docs_dropped,
       |  CAST(sum(CASE WHEN doc_id <> canonical_id THEN n_chars ELSE 0 END) AS BIGINT)
       |    AS chars_dropped,
       |  ${rndSql("CAST(sum(CASE WHEN doc_id <> canonical_id THEN n_chars ELSE 0 END) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE)", 6)}
       |    AS pct_chars_dropped
       |FROM u GROUP BY method ORDER BY method""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cost_report" -> (dedupCostReport _),
    "dedup_semantic_prune" -> (dedupSemanticPrune _),
    "dedup_source_sketch" -> (dedupSourceSketch _),
    "dedup_exact"         -> (dedupExact _),
    "dedup_source_flow"   -> (dedupSourceFlow _),
    "dedup_exact_normalized" -> (dedupExactNormalized _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_jaccard_prefix" -> (dedupJaccardPrefix _),
    "dedup_containment"   -> (dedupContainment _),
    "dedup_minhash"       -> (dedupMinhash _),
    "dedup_minhash_bbit"  -> (dedupMinhashBbit _),
    "dedup_eval"          -> (dedupEval _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_lsh_plan"      -> (dedupLshPlan _),
    "dedup_simhash"       -> (dedupSimhash _),
    "dedup_embedding"     -> (dedupEmbedding _),
    "dedup_clusters"      -> (dedupClusters _),
    "dedup_clusters_best" -> (dedupClustersBest _),
    "dedup_clusters_minhash" -> (dedupClustersMinhash _),
    "dedup_clusters_embedding" -> (dedupClustersEmbedding _),
    "dedup_clusters_embedding_indexed" -> (dedupClustersEmbeddingIndexed _),
    "dedup_incremental"   -> (dedupIncremental _),
    "dedup_retract"       -> (dedupRetract _),
    "dedup_paragraph"     -> (dedupParagraph _),
    "dedup_substring"     -> (dedupSubstring _),
    "dedup_span_removal"  -> (dedupSpanRemoval _),
    "dedup_span_removal_exact" -> (dedupSpanRemovalExact _)
  )

  /** The hash-family rows' oracles are built from the staged
    * signature tables and appear only once staging has run (Verify
    * dumps oracleSql after running queries, so the paths are always
    * recorded by then; un-run queries fall back to rows-only). */
  def oracles: Map[String, String] = {
    import graft.sources.OracleStage.globOf
    Map(
      "dedup_cost_report"   -> dedupCostReportSql,
      "dedup_semantic_prune" -> dedupSemanticPruneSql,
      "dedup_exact"         -> dedupExactSql,
      "dedup_source_flow"   -> dedupSourceFlowSql,
      "dedup_exact_normalized" -> dedupExactNormalizedSql,
      "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
      // identical output by construction — the prefix filter is
      // lossless for Jaccard ≥ τ, so the ground-truth SQL is reused
      "dedup_jaccard_prefix" -> dedupNgramJaccardSql,
      "dedup_containment"   -> dedupContainmentSql,
      "dedup_embedding"     -> dedupEmbeddingSql,
      "dedup_clusters"      -> dedupClustersSql,
      "dedup_clusters_best" -> dedupClustersBestSql,
      // banding recall is total on the driver corpora (checked at
      // sf0.01 and sf0.1), so the scale-path clusters share the
      // transitive-closure oracle verbatim
      "dedup_clusters_minhash" -> dedupClustersSql,
      "dedup_clusters_embedding" -> dedupClustersEmbeddingSql,
      // identical recurrence over the persisted edge artifact
      "dedup_clusters_embedding_indexed" -> dedupClustersEmbeddingSql,
      "dedup_paragraph"     -> dedupParagraphSql,
      "dedup_substring"     -> dedupSubstringSql,
      "dedup_span_removal"  -> dedupSpanRemovalSql,
      "dedup_span_removal_exact" -> dedupSpanRemovalExactSql,
      "dedup_threshold_sweep" -> dedupThresholdSweepSql,
      "dedup_lsh_plan"      -> dedupLshPlanSql
    ) ++
      globOf("minhash_sigs").map(g => "dedup_minhash" -> dedupMinhashSql(g)) ++
      globOf("minhash_sigs").map(g => "dedup_minhash_bbit" -> dedupMinhashBbitSql(g)) ++
      globOf("minhash_sigs").map(g => "dedup_eval" -> dedupEvalSql(g)) ++
      globOf("minhash_sigs").map(g => "dedup_incremental" -> dedupIncrementalSql(g)) ++
      globOf("minhash_sigs").map(g => "dedup_retract" -> dedupRetractSql(g)) ++
      globOf("simhash_sigs").map(g => "dedup_simhash" -> dedupSimhashSql(g)) ++
      globOf("source_sigs").map(g => "dedup_source_sketch" -> dedupSourceSketchSql(g))
  }
}
