package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TermWeights => TW}
import graft.operators.{TextAnalysis => TA}
import graft.sources.Tables

/** §2.5/§2.6 bridge — HYBRID retrieval: lexical BM25 and the IVF
  * vector index fused by Reciprocal Rank Fusion (Cormack et al. 2009,
  * the production default for combining keyword and embedding
  * retrieval — what a RAG-ish training-data curation pass runs to
  * find "documents like this one" when neither modality alone is
  * trustworthy). The documents and embeddings tables share one id
  * space (vec_id ≡ doc_id), so the SAME query document drives both
  * sides: its distinct terms are the BM25 more-like-this query, its
  * embedding is the ANN query.
  *
  * RRF score = Σ_lists 1/([[rrfK]] + rank), summed over the lists
  * that returned the document — rank-only fusion, so the two sides'
  * incomparable score scales never need calibration (the reason RRF
  * beats score interpolation in practice).
  *
  * Scale layout (the repo's parquet-backed-join-side rule, TESTS.md
  * round 11): the text side probes a PERSISTED bucketed BM25
  * postings index — each (term, doc) posting stores its FULL BM25
  * weight, precomputable because tf, dl, df, avgdl and N are all
  * corpus statistics with no query dependence — so a query pays a
  * broadcast term join + one bounded partial-agg shuffle, never the
  * corpus tokenize/df/avgdl aggregates the index build amortizes
  * (the [[TextAnalysis.buildPostingsIndex]] pattern, with the BM25
  * saturation baked in instead of tf·idf). Both join sides are
  * parquet-backed, so the planner sizes them from real stats — no
  * live corpus aggregate ever feeds a join it must size. The vector
  * side is the REGISTERED [[SimilarityIvf.annIvf]] tier through the
  * Memo.cached rules (the corpus is probed, never shuffled); fusion
  * joins two ≤ queries×k rank lists — driver-scale. Cross-engine
  * exactness: the stored weight is the identical rnd(idf·saturation)
  * double the round-10 live chain computed (row-local, join-order
  * independent); the RRF reciprocals are deterministic IEEE
  * divisions written identically on both engines, summed in fixed
  * textual order, quantized at 1e-6 — the oracle is unchanged. */
/** One (query, candidate) text pair entering the rerank stage. */
private[graft] case class RerankPair(query_id: Long, doc_id: Long,
  prev_rank: Long, qtext: String, dtext: String)
/** One scored pair leaving the stub cross-encoder. */
private[graft] case class RerankScore(query_id: Long, doc_id: Long,
  prev_rank: Long, ce_score: Double)

object HybridSearch {

  /** The standard RRF dampening constant. */
  val rrfK = 60
  /** Fused results per query (also the per-side list depth for the
    * text side; the vector side contributes its own top-k). */
  val hybridK = 10

  val bm25IndexTable = "graft_bm25_postings_idx"
  val bm25IndexBuckets = 16

  /** Build the persisted BM25 postings index: one (term, doc_id, w)
    * row per posting, w = the exact 1e-6-quantized BM25 weight
    * idf·(tf·(k1+1))/(tf + k1·(1−b + b·dl/avgdl)). Bucketed by term
    * so term-probe joins read it exchange-free; built once per
    * (session, dataset) via [[graft.sources.Sinks.writeBucketedOnce]]
    * — the production shape where the index is written on ingest
    * cadence and queries only read it. */
  def buildBm25Index(s: SparkSession, dir: String): Unit =
    graft.sources.Sinks.writeBucketedOnce(dir, bm25IndexTable,
        Seq("term"), bm25IndexBuckets)(
      bm25PostingsOf(s, Tables.documents(s, dir)))

  /** The full postings frame (term, doc_id, w) of an arbitrary
    * documents frame — tf, dl and the corpus statistics all derive
    * from `docs`, so an index built on a RETAINED corpus (post-
    * compaction rebuild) gets fresh statistics by construction. */
  private[graft] def bm25PostingsOf(s: SparkSession, docs: DataFrame,
                                    tf0: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val tf = tf0.getOrElse(TA.docTermCounts(docs))
    val dl = TW.unitLengths(tf, "doc_id")
    val idf = TW.bm25Idf(TW.docFreqs(tf), TA.bm25DocStats(docs, dl))
    tf.join(dl, "doc_id").join(idf, "term")
      .select($"term", $"doc_id", TW.bm25Weight($"tf", $"dl", $"idf", $"avgdl").as("w"))
  }

  /** The text-side score frame, probing the persisted index: the
    * bounded query-doc term set (itself a pruned read of the index)
    * broadcasts onto the bucketed postings scan — the postings side
    * never reshuffles, never re-derives a corpus statistic — and the
    * matched rows take one (query, doc) partial-agg shuffle.
    * `private[graft]` so PlanSpec pins the exchange-free shape. */
  private[graft] def bm25Tscores(s: SparkSession, dir: String,
                                 keep: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    buildBm25Index(s, dir)
    val post = s.table(bm25IndexTable)
    // the more-like-this query: each query doc's DISTINCT terms,
    // read back from the index (a posting row exists exactly once
    // per (term, doc), so this IS the distinct term set)
    val q = broadcast(post.filter($"doc_id" < Similarity.nQueries)
      .select($"doc_id".as("query_id"), $"term"))
    val matched = post.join(q, "term")
      .filter($"doc_id" =!= $"query_id")
    // the metadata gate rides INTO the probe (filtered variant):
    // candidates outside the slice never reach the score agg
    keep.fold(matched)(kd => matched.join(kd, "doc_id"))
      .groupBy($"query_id", $"doc_id")
      .agg(dsum($"w").as("score"))
  }

  /** Rank-only RRF fusion of the two sides' rank lists (both
    * ≤ queries×k — driver-scale), shared by the unfiltered and
    * filtered variants. */
  private def fuse(s: SparkSession, tranks: DataFrame, vranks: DataFrame): DataFrame = {
    import s.implicits._
    val rrfExpr = graft.functions.Agg.rndSql(
      s"""coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + text_rank AS DOUBLE), CAST(0 AS DOUBLE))
         | + coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + vec_rank AS DOUBLE), CAST(0 AS DOUBLE))"""
        .stripMargin, 6)
    tranks.join(vranks, Seq("query_id", "doc_id"), "full")
      .withColumn("rrf", expr(rrfExpr))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id")).cast("long"))
      .filter($"rank" <= hybridK)
      .select($"query_id", $"rank", $"doc_id", $"rrf", $"text_rank", $"vec_rank")
      .orderBy($"query_id", $"rank")
  }

  private def textRanks(s: SparkSession, tscores: DataFrame): DataFrame = {
    import s.implicits._
    graft.plans.TopK.perGroup(tscores, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), hybridK)
      .select($"query_id", $"doc_id", $"rank".as("text_rank"))
  }

  def searchHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tranks = textRanks(s, bm25Tscores(s, dir))
    val vranks = graft.sources.Memo.cached("ann_ivf", dir, s)(
        SimilarityIvf.annIvf(s, dir))
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("vec_rank"))
    // standalone runs compute live and refresh the memo (Memo.refresh
    // rule); downstream consumers (MMR, rerank, the reports) read the
    // last computed frame instead of re-paying both probes
    graft.sources.Memo.refresh("search_hybrid_rrf", dir, s)(
      fuse(s, tranks, vranks))
  }

  /** The memoized fused list, for consumers ranked above it in the
    * chain. */
  private def fusedCached(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo.cached("search_hybrid_rrf", dir, s)(
      searchHybridRrf(s, dir))

  /** The language predicate of [[searchHybridFiltered]] — stands in
    * for the license/source/date filter every production retrieval
    * pass carries. */
  val hybridFilterLang = "zh"

  /** §2.5/§2.6 — FILTERED hybrid retrieval: 31ad's fusion with a
    * metadata predicate (documents.lang) riding into BOTH sides —
    * the full production RAG shape ("documents like this one, but
    * only <language/license>"), composing the round's two mechanisms:
    * the text side probes the persisted BM25 postings index with the
    * slice join BEFORE the score agg (candidates outside the slice
    * never reach a shuffle), and the vector side is the
    * filter-aware IVF probe with the per-query starved-list
    * brute-force fallback within the slice ([[SimilarityIvf
    * .annFilteredOn]] — post-filtering either side's unfiltered
    * top-k would silently under-recall, AnnFilteredSpec's
    * construction). BM25 weights stay the full-corpus statistics
    * (the index is slice-agnostic — one artifact serves every
    * predicate); only candidate admission filters. Queries
    * themselves are NOT filtered: "neighbors of this document within
    * the slice" is well-posed for any query document. */
  def searchHybridFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keep = Tables.documents(s, dir)
      .filter($"lang" === lit(hybridFilterLang)).select($"doc_id")
    val tranks = textRanks(s, bm25Tscores(s, dir, Some(keep)))
    val vranks = SimilarityIvf.annFilteredOn(s, dir,
        keep.select($"doc_id".as("vec_id")))
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("vec_rank"))
    fuse(s, tranks, vranks)
  }

  /** Oracle: the 35l BM25 CTE chain with the query-doc term set, the
    * staged-centroid IVF tier (31b's oracle verbatim as a subquery),
    * and the fusion replayed term-for-term. */
  def searchHybridRrfSql(centGlob: String): String =
    hybridSqlOf(
      vranksSub = s"SELECT query_id, neighbor_id AS doc_id, rank AS vec_rank\n" +
        s"  FROM (${SimilarityIvf.annIvfSql(centGlob)})",
      keepCte = "", keepJoin = "")

  /** Oracle for the FILTERED variant: the same chain with the
    * language slice admitted into the weighted candidates, and the
    * filtered-probe oracle (31ae's, with the documents-lang filt
    * body) as the vector subquery. */
  def searchHybridFilteredSql(centGlob: String): String =
    hybridSqlOf(
      vranksSub = s"SELECT query_id, neighbor_id AS doc_id, rank AS vec_rank\n" +
        s"  FROM (${SimilarityIvf.annFilteredSqlOf(centGlob,
          s"""SELECT a.vec_id, a.cid
             |  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
             |  WHERE d.lang = '$hybridFilterLang'""".stripMargin)})",
      keepCte =
        s"keep AS (SELECT doc_id FROM documents WHERE lang = '$hybridFilterLang'),\n",
      keepJoin = " JOIN keep ON keep.doc_id = tf.doc_id")

  private def hybridSqlOf(vranksSub: String, keepCte: String,
                          keepJoin: String): String = {
    import graft.functions.Agg.{dsumSql, rndSql}
    s"""WITH ${TA.bm25CtesSql},
       |q AS (
       |  SELECT DISTINCT doc_id AS query_id, term FROM tf
       |  WHERE doc_id < ${Similarity.nQueries}),
       |${keepCte}weighted AS (
       |  SELECT q.query_id, tf.doc_id, ${TA.bm25WeightSql} AS w
       |  FROM tf JOIN dl USING (doc_id) JOIN q USING (term)
       |    JOIN idf USING (term)$keepJoin
       |  WHERE tf.doc_id <> q.query_id),
       |tscores AS (
       |  SELECT query_id, doc_id, ${dsumSql("w")} AS score
       |  FROM weighted GROUP BY 1, 2),
       |tranks AS (
       |  SELECT query_id, doc_id, rank AS text_rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, doc_id) AS rank
       |    FROM tscores)
       |  WHERE rank <= $hybridK),
       |vranks AS (
       |  $vranksSub),
       |fused AS (
       |  SELECT coalesce(t.query_id, v.query_id) AS query_id,
       |         coalesce(t.doc_id, v.doc_id) AS doc_id,
       |         t.text_rank, v.vec_rank,
       |    ${rndSql(s"coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + t.text_rank AS DOUBLE), CAST(0 AS DOUBLE)) " +
                     s"+ coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + v.vec_rank AS DOUBLE), CAST(0 AS DOUBLE))", 6)} AS rrf
       |  FROM tranks t FULL JOIN vranks v
       |    ON t.query_id = v.query_id AND t.doc_id = v.doc_id)
       |SELECT query_id, rank, doc_id, rrf, text_rank, vec_rank FROM (
       |  SELECT query_id, doc_id, rrf, text_rank, vec_rank,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $hybridK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- chunk-granular hybrid retrieval ------------------------------

  /** The chunk-level postings index: one (term, doc_id, chunk_idx, w)
    * row per posting over [[Pipeline.corpusChunk]]'s overlapping
    * sliding windows, with BM25 statistics computed over the CHUNK
    * corpus (dl = chunk length, df = chunks containing the term,
    * N = chunk count, avgdl over chunks) — the passage is the
    * retrieval unit, so the passage is the statistics unit. Term-
    * bucketed like [[bm25IndexTable]]; same probe plan. */
  val bm25ChunkTable = "graft_bm25_chunk_idx"

  /** (doc_id, chunk_idx, term) rows — the chunk boundaries are
    * EXACTLY [[Pipeline.corpusChunk]]'s (size/stride/empty-token
    * filter), derived from the token-array slice directly so no
    * re-tokenization of joined chunk text can drift from the chunking
    * operator. Row-local: tokenize once, one start-list build, two
    * generator explodes — the ≤ C/S ≈ 1.33× amplification
    * corpus_chunk already pays, nothing more. */
  private def chunkTermRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (c0, s0) = (Pipeline.chunkSize, Pipeline.chunkStride)
    Tables.documents(s, dir)
      .withColumn("toks", expr(s"coalesce(filter(${TA.toksExpr}, t -> t <> ''), array())"))
      .withColumn("n", size($"toks"))
      .withColumn("starts", expr(
        s"""coalesce(CASE WHEN n > 0 THEN
           |  transform(sequence(0, CASE WHEN n <= $c0 THEN 0
           |    ELSE (n - $c0 + $s0 - 1) div $s0 END),
           |    i -> i * $s0) END, array())""".stripMargin))
      .select($"doc_id", $"toks",
        posexplode_outer($"starts").as(Seq("chunk_idx", "start_tok")))
      .filter($"start_tok".isNotNull)
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        explode(expr(s"slice(toks, CAST(start_tok AS INT) + 1, $c0)")).as("term"))
  }

  /** Build the persisted chunk postings (once per session/dataset). */
  def buildBm25ChunkIndex(s: SparkSession, dir: String): Unit =
    graft.sources.Sinks.writeBucketedOnce(dir, bm25ChunkTable,
        Seq("term"), bm25IndexBuckets)(bm25ChunkPostingsOf(s, dir))

  /** The chunk postings frame (term, doc_id, chunk_idx, w), its
    * statistics over the chunk corpus. */
  private[graft] def bm25ChunkPostingsOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = TW.termCounts(chunkTermRows(s, dir), "doc_id", "chunk_idx")
    val dl = TW.unitLengths(tf, "doc_id", "chunk_idx")
    val stats = dl.agg(
        (sum($"dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"),
        count(lit(1)).as("n"))
    tf.join(dl, Seq("doc_id", "chunk_idx")).join(TW.bm25Idf(TW.docFreqs(tf), stats), "term")
      .select($"term", $"doc_id", $"chunk_idx",
        TW.bm25Weight($"tf", $"dl", $"idf", $"avgdl").as("w"))
  }

  /** §2.5/§2.6 — CHUNK-granular hybrid retrieval: production RAG
    * retrieves PASSAGES, not documents. The text side scores
    * (doc_id, chunk_idx) passages against the query doc's terms over
    * the persisted chunk postings, rolls up per-doc MAX-PASSAGE
    * (best chunk wins, tie → lowest chunk_idx — so the emitted
    * best_chunk_idx is the passage a RAG pass would actually stuff
    * into context), and ranks docs by their best passage; the vector
    * side is the registered doc-level IVF tier; RRF fuses the two
    * rank lists. Scale layout identical to [[searchHybridRrf]]: the
    * postings never reshuffle (bucket probe + broadcast query terms,
    * one (query, doc, chunk) partial-agg shuffle), the passage rollup
    * and fusion are queries×k-bounded. */
  def searchChunkHybrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    buildBm25ChunkIndex(s, dir)
    val post = s.table(bm25ChunkTable)
    val q = broadcast(post.filter($"doc_id" < Similarity.nQueries)
      .select($"doc_id".as("query_id"), $"term").distinct())
    val cscores = post.join(q, "term")
      .filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id", $"chunk_idx")
      .agg(dsum($"w").as("cscore"))
    val best = graft.plans.TopK.perGroup(cscores, Seq("query_id", "doc_id"),
        Seq("cscore" -> true, "chunk_idx" -> false), 1)
      .select($"query_id", $"doc_id", $"chunk_idx".as("best_chunk_idx"),
        $"cscore".as("score"))
    val tranks = graft.plans.TopK.perGroup(best, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), hybridK)
      .select($"query_id", $"doc_id", $"best_chunk_idx",
        $"rank".as("text_rank"))
    val vranks = graft.sources.Memo.cached("ann_ivf", dir, s)(
        SimilarityIvf.annIvf(s, dir))
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("vec_rank"))
    val rrfExpr = graft.functions.Agg.rndSql(
      s"""coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + text_rank AS DOUBLE), CAST(0 AS DOUBLE))
         | + coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + vec_rank AS DOUBLE), CAST(0 AS DOUBLE))"""
        .stripMargin, 6)
    tranks.join(vranks, Seq("query_id", "doc_id"), "full")
      .withColumn("rrf", expr(rrfExpr))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id")).cast("long"))
      .filter($"rank" <= hybridK)
      .select($"query_id", $"rank", $"doc_id", $"best_chunk_idx", $"rrf",
        $"text_rank", $"vec_rank")
      .orderBy($"query_id", $"rank")
      .transform(graft.sources.Memo.refresh("search_chunk_hybrid", dir, s)(_))
  }

  /** Oracle: the chunk postings (corpus_chunk's boundary arithmetic
    * verbatim), passage scoring, max-passage rollup, the IVF vector
    * subquery and the fusion, all replayed in DuckDB. */
  def searchChunkHybridSql(centGlob: String): String = {
    import graft.functions.Agg.{dsumSql, rndSql}
    val (c0, s0) = (Pipeline.chunkSize, Pipeline.chunkStride)
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(${TA.duckToks}, t -> t <> '') AS toks
       |  FROM documents),
       |w0 AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    CASE WHEN len(toks) <= $c0 THEN 0
       |      ELSE (len(toks) - $c0 + $s0 - 1) // $s0 END AS last_w
       |  FROM t WHERE len(toks) > 0),
       |ch AS (
       |  SELECT doc_id, chunk_idx,
       |    toks[chunk_idx * $s0 + 1 : chunk_idx * $s0 + $c0] AS ctoks
       |  FROM (SELECT doc_id, toks, unnest(range(0, last_w + 1)) AS chunk_idx
       |        FROM w0)),
       |ctf AS (
       |  SELECT doc_id, chunk_idx, tm AS term, count(*) AS tf
       |  FROM (SELECT doc_id, chunk_idx, unnest(ctoks) AS tm FROM ch)
       |  GROUP BY 1, 2, 3),
       |cdl AS (SELECT doc_id, chunk_idx, sum(tf) AS dl FROM ctf GROUP BY 1, 2),
       |cstats AS (
       |  SELECT (SELECT CAST(sum(dl) AS DOUBLE) FROM cdl) /
       |         (SELECT CAST(count(*) AS DOUBLE) FROM cdl) AS avgdl,
       |         (SELECT count(*) FROM cdl) AS n),
       |cidf AS (
       |  SELECT term, ${TW.bm25IdfSql("n", "df")} AS idf, avgdl
       |  FROM (SELECT term, count(*) AS df FROM ctf GROUP BY 1), cstats),
       |q AS (
       |  SELECT DISTINCT doc_id AS query_id, term FROM ctf
       |  WHERE doc_id < ${Similarity.nQueries}),
       |weighted AS (
       |  SELECT q.query_id, ctf.doc_id, ctf.chunk_idx,
       |    ${TW.bm25WeightSql("ctf.tf", "cdl.dl", "cidf.idf", "cidf.avgdl")} AS w
       |  FROM ctf JOIN cdl USING (doc_id, chunk_idx) JOIN q USING (term)
       |    JOIN cidf USING (term)
       |  WHERE ctf.doc_id <> q.query_id),
       |cs AS (
       |  SELECT query_id, doc_id, chunk_idx, ${dsumSql("w")} AS cscore
       |  FROM weighted GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT query_id, doc_id, chunk_idx AS best_chunk_idx,
       |         cscore AS score
       |  FROM (SELECT query_id, doc_id, chunk_idx, cscore,
       |          row_number() OVER (PARTITION BY query_id, doc_id
       |                             ORDER BY cscore DESC, chunk_idx) AS rn
       |        FROM cs)
       |  WHERE rn = 1),
       |tranks AS (
       |  SELECT query_id, doc_id, best_chunk_idx, rank AS text_rank FROM (
       |    SELECT query_id, doc_id, best_chunk_idx,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, doc_id) AS rank
       |    FROM best)
       |  WHERE rank <= $hybridK),
       |vranks AS (
       |  SELECT query_id, neighbor_id AS doc_id, rank AS vec_rank
       |  FROM (${SimilarityIvf.annIvfSql(centGlob)})),
       |fused AS (
       |  SELECT coalesce(tr.query_id, v.query_id) AS query_id,
       |         coalesce(tr.doc_id, v.doc_id) AS doc_id,
       |         tr.best_chunk_idx, tr.text_rank, v.vec_rank,
       |    ${rndSql(s"coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + tr.text_rank AS DOUBLE), CAST(0 AS DOUBLE)) " +
                     s"+ coalesce(CAST(1 AS DOUBLE) / CAST($rrfK + v.vec_rank AS DOUBLE), CAST(0 AS DOUBLE))", 6)} AS rrf
       |  FROM tranks tr FULL JOIN vranks v
       |    ON tr.query_id = v.query_id AND tr.doc_id = v.doc_id)
       |SELECT query_id, rank, doc_id, best_chunk_idx, rrf, text_rank, vec_rank
       |FROM (
       |  SELECT query_id, doc_id, best_chunk_idx, rrf, text_rank, vec_rank,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $hybridK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- index lifecycle: retraction (tombstones) + compaction -------

  /** Takedown split: every doc with `doc_id % retractMod ==
    * retractRem` receives a deletion event (the right-to-be-forgotten
    * / licence-revocation shape) — 10%, including one member of the
    * query set so the deleted-QUERY semantics is exercised. */
  val retractMod = 10L
  val retractRem = 3L
  /** The compacted index: [[bm25IndexTable]] rewritten minus
    * tombstoned rows, same bucket layout. */
  val bm25CompactTable = "graft_bm25_postings_cmp"

  private[graft] def bm25Tombstones(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" % retractMod === retractRem).select($"doc_id")
  }

  /** The tombstone-aware probe over an arbitrary postings frame: the
    * tombstone set (bounded: deleted ids only) broadcasts into an
    * anti-join BEFORE any other work, so deleted docs can neither be
    * returned nor source query terms — the index behaves as if their
    * postings are gone, while the corpus-sized postings files sit
    * untouched. Weights stay the build-time snapshot statistics until
    * the periodic rebuild (documented staleness, same contract as IVF
    * centroids after append). */
  private[graft] def bm25RetractProbe(s: SparkSession, post: DataFrame,
                                      tomb: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    val live = post.join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val q = broadcast(live.filter($"doc_id" < Similarity.nQueries)
      .select($"doc_id".as("query_id"), $"term"))
    live.join(q, "term").filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id")
      .agg(dsum($"w").as("score"))
  }

  /** §2.6 — index RETRACTION: the deletion lifecycle for the persisted
    * postings index (the template for every persisted probe index
    * here). A takedown event must take effect at PROBE time, not at
    * the next full rebuild: tombstoned doc_ids are anti-joined out of
    * the postings scan, so a deleted document stops being retrievable
    * immediately while the index files stay untouched — at 100 TB a
    * rebuild per deletion batch is a non-starter. The emitted frame is
    * the post-retraction BM25 search; [[compactBm25Index]] is the
    * periodic pass that makes the deletion physical, and
    * HybridSearchSpec proves probe-equality of the two plus posting-
    * SET parity (weights aside — they are snapshot statistics) against
    * an index rebuilt from the retained corpus. */
  def bm25Retract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildBm25Index(s, dir)
    val scores = bm25RetractProbe(s, s.table(bm25IndexTable),
      bm25Tombstones(s, dir))
    graft.plans.TopK.perGroup(scores, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), hybridK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  /** Accumulator table for takedown events arriving AS A STREAM
    * ([[graft.streaming.StreamOps]] `stream_takedown`): each
    * micro-batch appends the deletion ids it carries; the probe reads
    * the accumulated set (distinct — re-delivery of a deletion is a
    * no-op by construction, which is what makes the append-only
    * accumulator idempotent under replay). */
  val tombStreamTable = "graft_tombstones_stream"

  /** The post-stream probe: [[bm25RetractProbe]] against whatever
    * tombstones the stream accumulated. A takedown stream that
    * delivered every deletion event yields EXACTLY [[bm25Retract]] —
    * the parity the oracle and spec both check. */
  private[graft] def streamTakedownProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildBm25Index(s, dir)
    val tomb =
      if (s.catalog.tableExists(tombStreamTable))
        s.table(tombStreamTable).select($"doc_id").distinct()
      else s.emptyDataset[Long].toDF("doc_id")
    val scores = bm25RetractProbe(s, s.table(bm25IndexTable), tomb)
    graft.plans.TopK.perGroup(scores, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), hybridK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  /** The compaction pass: rewrite the postings minus tombstones into
    * [[bm25CompactTable]] (same term-bucketed layout, so every probe
    * plan is unchanged). Run on maintenance cadence — after it, the
    * tombstone join has nothing to remove and reads stay one anti-join
    * cheaper; weights still carry pre-deletion statistics until the
    * next full rebuild ([[bm25PostingsOf]] on the retained corpus). */
  private[graft] def compactBm25Index(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    buildBm25Index(s, dir)
    graft.sources.Sinks.writeBucketedOnce(dir, bm25CompactTable,
        Seq("term"), bm25IndexBuckets)(
      s.table(bm25IndexTable)
        .join(broadcast(bm25Tombstones(s, dir)), Seq("doc_id"), "left_anti")
        .select($"term", $"doc_id", $"w"))
  }

  /** Oracle: full-corpus tf/dl/idf/avgdl (the stale snapshot the index
    * holds), with tombstoned docs excluded both as candidates and as
    * query-term sources — exactly the probe's semantics. */
  def bm25RetractSql: String = {
    import graft.functions.Agg.dsumSql
    s"""WITH ${TA.bm25CtesSql},
       |q AS (
       |  SELECT DISTINCT doc_id AS query_id, term FROM tf
       |  WHERE doc_id < ${Similarity.nQueries}
       |    AND doc_id % $retractMod <> $retractRem),
       |weighted AS (
       |  SELECT q.query_id, tf.doc_id, ${TA.bm25WeightSql} AS w
       |  FROM tf JOIN dl USING (doc_id) JOIN q USING (term)
       |    JOIN idf USING (term)
       |  WHERE tf.doc_id <> q.query_id
       |    AND tf.doc_id % $retractMod <> $retractRem),
       |tscores AS (
       |  SELECT query_id, doc_id, ${dsumSql("w")} AS score
       |  FROM weighted GROUP BY 1, 2)
       |SELECT query_id, rank, doc_id, score FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM tscores)
       |WHERE rank <= $hybridK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- streaming postings maintenance (the 31s' pattern on text) ---

  /** The STREAM-ingest postings table. Its own table (not
    * [[bm25IndexTable]]): batch lifecycle rows and the streaming gate
    * run in one Verify/Bench JVM, and sharing a table would
    * double-insert the shard (the [[SimilarityIvf.ivfStreamTable]]
    * rationale). */
  val bm25StreamTable = "graft_bm25_postings_stream"

  /** Established corpus behind the stream-maintained index: documents
    * NOT in the arriving shard ([[Dedup.incrementalShardMod]] split —
    * the repo's one continuous-ingest split for the documents table). */
  private[graft] def bm25CorpusDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" % Dedup.incrementalShardMod =!= Dedup.incrementalShardRem)
  }

  /** Rebuild the stream-ingest postings from the corpus only — an
    * UNCONDITIONAL overwrite (the [[SimilarityIvf.rebuildIvfStreamBase]]
    * contract: every run of the gate is self-contained; re-running
    * rebuilds the base and appends the shard exactly once). Returns
    * the frozen snapshot statistics the stream's router prices
    * arriving postings with: the (term, idf) frame and the one row
    * (avgdl, unseen-term idf). df/avgdl/N are corpus statistics, so
    * arriving docs CANNOT update them row-locally — they stay
    * snapshot values until the periodic rebuild, exactly the
    * IVF-centroid staleness contract, and the documented delta vs a
    * batch rebuild on the union. */
  private[graft] def rebuildBm25StreamBase(s: SparkSession, dir: String): (DataFrame, Row) = {
    val (tf, idf, snap) = bm25StreamStats(s, dir)
    graft.sources.Sinks.writeBucketed(
      bm25PostingsOf(s, bm25CorpusDocs(s, dir), Some(tf)),
      bm25StreamTable, Seq("term"), bm25IndexBuckets)
    (idf, snap)
  }

  /** Corpus token statistics behind the stream rebuild, memoized per
    * (documents-dir FINGERPRINT, session): tf, the (term, idf)
    * snapshot and its (avgdl, unseen) row, read from the one-row
    * statistics frame, which exists even when the corpus has no term
    * (avgdl is then NULL). A term the snapshot never saw takes the
    * df = 0 idf. All three are pure functions of the corpus file, so
    * repeated gate runs in one session reuse the checkpointed frames
    * instead of re-tokenizing the corpus — while the fingerprint key
    * (file count/bytes/mtime, the buildSpanIndex device) makes a
    * documents dir that GAINS files between runs recompute instead of
    * serving a stale snapshot. The TABLE rewrite in
    * [[rebuildBm25StreamBase]] stays unconditional: that is the
    * run-scoped contract (rebuild + append exactly once), not a
    * statistic. */
  private def bm25StreamStats(s: SparkSession, dir: String): (DataFrame, DataFrame, Row) =
    graft.sources.Memo("hybrid.bm25_stats",
        graft.sources.Sinks.dirFingerprint(s"$dir/documents.parquet"), s) {
      val corpus = bm25CorpusDocs(s, dir)
      val tf = TA.docTermCounts(corpus).localCheckpoint(true)
      val stats = TA.bm25DocStats(corpus, TW.unitLengths(tf, "doc_id"))
      (tf, TW.bm25Idf(TW.docFreqs(tf), stats).localCheckpoint(true),
        stats.select(col("avgdl"), TW.bm25Idf(col("n"), lit(0L))).head())
    }

  /** The post-ingest probe: the standard BM25 search over the GROWN
    * stream table (query terms read back from it, one bounded
    * partial-agg shuffle — [[bm25Tscores]]'s exact plan shape on the
    * stream table). */
  private[graft] def bm25StreamProbe(s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    val post = s.table(bm25StreamTable)
    val q = broadcast(post.filter($"doc_id" < Similarity.nQueries)
      .select($"doc_id".as("query_id"), $"term").distinct())
    val scores = post.join(q, "term")
      .filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id")
      .agg(dsum($"w").as("score"))
    graft.plans.TopK.perGroup(scores, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), hybridK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle for the streaming postings gate: tf/dl for ALL docs, but
    * idf/avgdl/N frozen to the CORPUS snapshot (left join, unseen
    * default) — one unified weight formula that is exact for corpus
    * rows (their stats ARE the snapshot) and replays the router's
    * stale-stats pricing for shard rows; then the standard search over
    * the union. */
  def streamBm25IngestSql: String = {
    import graft.functions.Agg.dsumSql
    val (mod, rem) = (Dedup.incrementalShardMod, Dedup.incrementalShardRem)
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${TA.duckToks}) AS t FROM documents)
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |ctf AS (SELECT * FROM tf WHERE doc_id % $mod <> $rem),
       |cstats AS (
       |  SELECT (SELECT CAST(sum(tf) AS DOUBLE) FROM ctf) /
       |         (SELECT CAST(count(*) AS DOUBLE) FROM documents
       |          WHERE doc_id % $mod <> $rem) AS avgdl,
       |         (SELECT count(*) FROM documents
       |          WHERE doc_id % $mod <> $rem) AS n),
       |cidf AS (
       |  SELECT term, ${TW.bm25IdfSql("n", "df")} AS idf
       |  FROM (SELECT term, count(*) AS df FROM ctf GROUP BY 1), cstats),
       |weighted AS (
       |  SELECT tf.term, tf.doc_id,
       |    ${TW.bm25WeightSql("tf.tf", "dl.dl",
             s"coalesce(cidf.idf, ${TW.bm25IdfSql("cstats.n", "0")})", "cstats.avgdl")} AS w
       |  FROM tf JOIN dl USING (doc_id)
       |    LEFT JOIN cidf ON cidf.term = tf.term, cstats),
       |q AS (
       |  SELECT DISTINCT doc_id AS query_id, term FROM tf
       |  WHERE doc_id < ${Similarity.nQueries}),
       |tscores AS (
       |  SELECT q.query_id, w.doc_id, ${dsumSql("w.w")} AS score
       |  FROM weighted w JOIN q USING (term)
       |  WHERE w.doc_id <> q.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, doc_id, score FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM tscores)
       |WHERE rank <= $hybridK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- context assembly: the token-budgeted passage pack ----------

  /** Context-window token budget for [[ragContextPack]]. Sized so the
    * fused top-[[hybridK]] passages (≤ [[Pipeline.chunkSize]] = 32
    * tokens each) typically OVERFLOW it — the budget cut, not the
    * rank cut, is the operator's whole point. */
  val ctxBudget = 96L

  /** §2.5/§2.8 — CONTEXT ASSEMBLY: the step between retrieval and the
    * prompt. [[searchChunkHybrid]]'s fused passage ranking is stuffed
    * into a [[ctxBudget]]-token context window in rank order, stopping
    * at the first overflow (rank order IS the relevance contract —
    * skipping ahead to a smaller passage would reorder it), so the
    * admitted set is exactly the maximal prefix whose running token
    * sum fits. A vector-only hit (no text-side best passage) defaults
    * to the document's head passage (chunk 0); a document with no
    * passages (empty after token filtering) costs 0 tokens. Scale:
    * the ranking is queries × k rows broadcast into ONE inner join
    * against the single-column doc-length projection (passage length
    * is row-local arithmetic on the doc's token count — the corpus
    * never shuffles, no per-chunk frame materializes); the running
    * sum windows over ≤ k rows per query. HybridSearchSpec pins
    * budget-respect, prefix maximality (the first excluded passage
    * would overflow), and passage-length agreement with corpus_chunk's
    * boundaries. */
  def ragContextPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (c0, s0) = (Pipeline.chunkSize, Pipeline.chunkStride)
    // the retrieval stage reads through Memo (the ragPipelineE2e
    // rule): context assembly is a CONSUMER of the chunk-hybrid
    // ranking, and re-running the whole retrieval chain live per pack
    // invocation double-paid it; standalone search_chunk_hybrid still
    // computes live and refreshes.
    val fused = graft.sources.Memo.cached("search_chunk_hybrid", dir, s)(
        searchChunkHybrid(s, dir))
      .withColumn("chunk_idx", coalesce($"best_chunk_idx", lit(0L)))
      .select($"query_id", $"rank", $"doc_id", $"chunk_idx")
    val docLens = Tables.documents(s, dir)
      .withColumn("n",
        size(expr(s"coalesce(filter(${TA.toksExpr}, t -> t <> ''), array())")))
      .select($"doc_id", $"n")
    docLens.join(broadcast(fused), Seq("doc_id"))
      .withColumn("n_tokens", expr(
        s"""CAST(CASE WHEN n > 0 AND chunk_idx * $s0 < n
           |  THEN least($c0, n - chunk_idx * $s0) ELSE 0 END AS BIGINT)"""
          .stripMargin))
      .withColumn("cum_tokens", sum($"n_tokens").over(
        Window.partitionBy($"query_id").orderBy($"rank")))
      .filter($"cum_tokens" <= ctxBudget)
      .select($"query_id", $"rank", $"doc_id", $"chunk_idx",
        $"n_tokens", $"cum_tokens")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle: the full [[searchChunkHybridSql]] chain as a subquery,
    * the passage-length arithmetic replayed off the doc token counts,
    * and the same running-sum prefix cut. */
  def ragContextPackSql(centGlob: String): String = {
    val (c0, s0) = (Pipeline.chunkSize, Pipeline.chunkStride)
    s"""WITH fusedq AS MATERIALIZED (
       |  SELECT query_id, rank, doc_id,
       |    coalesce(best_chunk_idx, 0) AS chunk_idx
       |  FROM (${searchChunkHybridSql(centGlob)})),
       |dlens AS (
       |  SELECT doc_id, len(list_filter(${TA.duckToks}, t -> t <> '')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT query_id, rank, f.doc_id, chunk_idx,
       |    CAST(CASE WHEN n > 0 AND chunk_idx * $s0 < n
       |      THEN least($c0, n - chunk_idx * $s0) ELSE 0 END AS BIGINT) AS n_tokens
       |  FROM fusedq f JOIN dlens d ON f.doc_id = d.doc_id),
       |r AS (
       |  SELECT query_id, rank, doc_id, chunk_idx, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY query_id ORDER BY rank)
       |         AS BIGINT) AS cum_tokens
       |  FROM c)
       |SELECT query_id, rank, doc_id, chunk_idx, n_tokens, cum_tokens
       |FROM r WHERE cum_tokens <= $ctxBudget
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- MMR diversification: relevance vs redundancy ----------------

  /** MMR trade-off weight λ: score = λ·rel − (1−λ)·max-sim-to-picked
    * (Carbonell & Goldstein 1998). 0.7 leans relevance, the common
    * production default. */
  val mmrLambda = 0.7
  /** Diversified results per query — a strict subset of the
    * [[hybridK]]-deep fused candidate pool, so the selection has
    * something to reject. */
  val mmrK = 5

  /** §2.5 — MAXIMAL MARGINAL RELEVANCE re-ranking of the fused hybrid
    * list: a RAG context stuffed with [[hybridK]] near-identical
    * passages wastes its budget on redundancy (the failure mode
    * dedup_clusters measures corpus-side reappears retrieval-side),
    * so the top-[[mmrK]] are picked GREEDILY — each step admits the
    * candidate maximizing λ·rel − (1−λ)·max_cosine_to_already_picked,
    * rel = the candidate's RRF score normalized per query to [0,1]
    * (rank fusion and cosine live on incomparable scales), ties to
    * the lowest doc_id. A candidate with no (or zero-norm) embedding
    * has similarity 0 to everything — the vector space can't see it,
    * so only its relevance argues. Scale: the candidate pool is
    * queries×[[hybridK]] rows and the pairwise-cosine frame
    * queries×k² — both driver-scale AFTER the hybrid probes did the
    * corpus-sized work; the greedy loop is [[mmrK]] bounded
    * iterations of window-argmax over those frames (lineage cut per
    * pick — round N's plan must not replay rounds 1..N−1), with the
    * corpus never re-scanned. Oracle: the full hybrid chain + a
    * recursive-CTE replay of the greedy selection. */
  def searchMmr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{rnd, rndSql}
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy($"query_id")
    // fused candidate pool with per-query [0,1]-normalized relevance;
    // max(rrf) > 0 always (rank 1 exists), both factors 1e-6-quantized
    val rel = fusedCached(s, dir)
      .withColumn("rel", rnd($"rrf" / max($"rrf").over(wq), 6))
      .select($"query_id", $"doc_id", $"rel")
      .localCheckpoint(true)
    // pairwise candidate cosines within each query's pool (≤ q×k²);
    // inner join against the cosine-space corpus view drops
    // unembedded/zero-norm candidates from BOTH sides — their
    // similarity contribution is the coalesce(0) below
    val cv = rel.join(
        Similarity.vectors(s, dir).withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      .select($"query_id", $"doc_id", $"v", $"nrm")
    val pairs = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.query_id").as("query_id"), col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("sel_id"),
        expr(rndSql(s"${graft.functions.VectorFns.dot("a.v", "b.v")} / (a.nrm * b.nrm)", 6)).as("sim"))
      .localCheckpoint(true)
    // greedy: seed with the most relevant, then mmrK-1 argmax rounds
    var sel = rel
      .withColumn("rn", row_number().over(wq.orderBy($"rel".desc, $"doc_id")))
      .filter($"rn" === 1)
      .select($"query_id", $"doc_id", lit(1L).as("mmr_rank"), $"rel",
        rnd(lit(mmrLambda) * $"rel", 6).as("mmr_score"))
      .localCheckpoint(true)
    var remaining = rel.join(sel.select("query_id", "doc_id"),
      Seq("query_id", "doc_id"), "left_anti")
    for (i <- 2 to mmrK) {
      val maxSim = pairs
        .join(sel.select($"query_id", $"doc_id".as("sel_id")),
          Seq("query_id", "sel_id"))
        .groupBy($"query_id", $"doc_id").agg(max($"sim").as("max_sim"))
      val pick = remaining
        .join(maxSim, Seq("query_id", "doc_id"), "left")
        .withColumn("mmr_score", rnd(lit(mmrLambda) * $"rel"
          - lit(1.0 - mmrLambda) * coalesce($"max_sim", lit(0.0)), 6))
        .withColumn("rn", row_number().over(
          wq.orderBy($"mmr_score".desc, $"doc_id")))
        .filter($"rn" === 1)
        .select($"query_id", $"doc_id", lit(i.toLong).as("mmr_rank"),
          $"rel", $"mmr_score")
      sel = sel.unionByName(pick).localCheckpoint(true)
      // re-derive remaining from the CHECKPOINTED cumulative
      // selection instead of chaining an anti-join per round: the
      // chained form grows the plan one anti-join deeper each round
      // (re-planned at every action), the re-derived form is one
      // anti-join off a lineage-cut frame at any round count
      remaining = rel.join(sel.select("query_id", "doc_id"),
        Seq("query_id", "doc_id"), "left_anti")
    }
    graft.sources.Memo.refresh("search_mmr", dir, s)(
      sel.orderBy($"query_id", $"mmr_rank"))
  }

  /** Oracle: [[searchHybridRrfSql]] verbatim as the candidate pool,
    * the pairwise-cosine frame off the embeddings table, and the
    * greedy loop UNROLLED as [[mmrK]] chained CTE rounds (argmax →
    * accumulate → re-score) — identical arithmetic, identical 1e-6
    * quantization, identical doc_id tie order. Unrolled, not a
    * recursive CTE: DuckDB silently decorrelates a two-level-deep
    * reference to the recursive table's list state to NULL inside
    * the recursion, which zeroes the similarity penalty exactly
    * where it must bite. */
  def searchMmrSql(centGlob: String): String = {
    import graft.functions.Agg.rndSql
    val lam = mmrLambda
    val oml = 1.0 - mmrLambda
    s"""WITH fusedm AS MATERIALIZED (
       |  SELECT * FROM (${searchHybridRrfSql(centGlob)})),
       |mrel AS MATERIALIZED (
       |  SELECT query_id, doc_id,
       |    ${rndSql("rrf / max(rrf) OVER (PARTITION BY query_id)", 6)} AS rel
       |  FROM fusedm),
       |mv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |mn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM mv WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |mcv AS (
       |  SELECT r.query_id, r.doc_id, n.v, n.nrm
       |  FROM mrel r JOIN mn n ON n.vec_id = r.doc_id),
       |mpairs AS MATERIALIZED (
       |  SELECT a.query_id, a.doc_id, b.doc_id AS sel_id,
       |    ${rndSql("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} AS sim
       |  FROM mcv a JOIN mcv b
       |    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
       |sel1 AS (
       |  SELECT query_id, doc_id, CAST(1 AS BIGINT) AS mmr_rank, rel,
       |    ${rndSql(s"$lam * rel", 6)} AS mmr_score
       |  FROM (SELECT query_id, doc_id, rel,
       |          row_number() OVER (PARTITION BY query_id
       |                             ORDER BY rel DESC, doc_id) AS rn
       |        FROM mrel) WHERE rn = 1),
       |${(2 to mmrK).map { i =>
          val prev = (1 until i).map(j => s"SELECT query_id, doc_id FROM sel$j")
            .mkString(" UNION ALL ")
          s"""selall${i - 1} AS ($prev),
             |cand$i AS (
             |  SELECT c.query_id, c.doc_id, c.rel,
             |    ${rndSql(s"$lam * c.rel - $oml * coalesce(ms.ms, CAST(0 AS DOUBLE))", 6)} AS mmr_score
             |  FROM mrel c
             |  LEFT JOIN (
             |    SELECT p.query_id, p.doc_id, max(p.sim) AS ms
             |    FROM mpairs p JOIN selall${i - 1} s
             |      ON s.query_id = p.query_id AND s.doc_id = p.sel_id
             |    GROUP BY 1, 2) ms
             |    ON ms.query_id = c.query_id AND ms.doc_id = c.doc_id
             |  WHERE NOT EXISTS (SELECT 1 FROM selall${i - 1} s2
             |    WHERE s2.query_id = c.query_id AND s2.doc_id = c.doc_id)),
             |sel$i AS (
             |  SELECT query_id, doc_id, CAST($i AS BIGINT) AS mmr_rank, rel,
             |    mmr_score
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |          ORDER BY mmr_score DESC, doc_id) AS rn
             |        FROM cand$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")}
       |SELECT query_id, doc_id, mmr_rank, rel, mmr_score FROM (
       |  ${(1 to mmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  // ---- pseudo-relevance feedback: RM3 query expansion ---------------

  /** Feedback depth: pass-1 docs whose vocabulary argues for the
    * expansion. */
  val prfFbDocs = 3
  /** Expansion terms admitted per query. */
  val prfFbTerms = 8
  /** Interpolation weight on the ORIGINAL query's score (RM3's α). */
  val prfAlpha = 0.6

  /** §2.6 — PSEUDO-RELEVANCE FEEDBACK retrieval (the RM3 shape,
    * Lavrenko & Croft 2001 as productionized in Anserini/Lucene): a
    * more-like-this query misses documents that say the same thing in
    * different words, so the top-[[prfFbDocs]] of a first BM25 pass
    * "vote" for expansion vocabulary — each candidate term scores
    * Σ_{d∈feedback} w(t,d) over the PERSISTED postings weights, the
    * top [[prfFbTerms]] NEW terms (the original query's own terms are
    * excluded — they already score via pass 1) get weights normalized
    * to sum 1, and the final score interpolates
    * α·orig + (1−α)·expansion. Docs reached only through expansion
    * terms — invisible to pass 1, the operator's whole point — enter
    * with orig 0 via the full outer join.
    *
    * Scale: THREE probes of the one persisted term-bucketed index —
    * pass 1 (broadcast query-term join, bucket-local), feedback-doc
    * vocabulary extraction (ONE linear scan semi-joined against the
    * broadcast ≤ queries×[[prfFbDocs]] feedback set — the index is
    * term-bucketed, so a doc-keyed read is a scan by design; it
    * happens once, not per term), and pass 2 (broadcast expansion-term
    * join, bucket-local again). Everything between the probes is
    * queries×terms-bounded. All sums are the fixed-point [[graft
    * .functions.Agg.dsum]], so scores are partitioning-independent. */
  def searchPrfRm3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{dsum, rnd}
    buildBm25Index(s, dir)
    val post = s.table(bm25IndexTable)
    // pass 1: the 35l probe (self excluded)
    val orig = bm25Tscores(s, dir).localCheckpoint(true)
    val fb = graft.plans.TopK.perGroup(orig, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), prfFbDocs)
      .select($"query_id", $"doc_id")
    // the query's OWN term set (excluded from expansion)
    val qterms = post.filter($"doc_id" < Similarity.nQueries)
      .select($"doc_id".as("query_id"), $"term")
    // feedback vocabulary: one scan of the index, feedback set broadcast
    val u = post.join(broadcast(fb), "doc_id")
      .groupBy($"query_id", $"term").agg(dsum($"w").as("u"))
    val etop = graft.plans.TopK.perGroup(
        u.join(qterms, Seq("query_id", "term"), "left_anti"),
        Seq("query_id"), Seq("u" -> true, "term" -> false), prfFbTerms)
      .select($"query_id", $"term", $"u")
    val enorm = etop.join(
        etop.groupBy($"query_id").agg(dsum($"u").as("su")), "query_id")
      .select($"query_id", $"term", rnd($"u" / $"su", 6).as("ew"))
    // pass 2: expansion probe, bucket-local again
    val escore = post.join(broadcast(enorm), "term")
      .filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id")
      .agg(dsum(rnd($"ew" * $"w", 6)).as("exp_score"))
    val fused = orig.withColumnRenamed("score", "orig_score")
      .join(escore, Seq("query_id", "doc_id"), "full")
      .select($"query_id", $"doc_id",
        coalesce($"orig_score", lit(0.0)).as("orig_score"),
        coalesce($"exp_score", lit(0.0)).as("exp_score"))
      .withColumn("score", rnd(lit(prfAlpha) * $"orig_score"
        + lit(1.0 - prfAlpha) * $"exp_score", 6))
    graft.sources.Memo.refresh("search_prf_rm3", dir, s)(
      graft.plans.TopK.perGroup(fused, Seq("query_id"),
          Seq("score" -> true, "doc_id" -> false), hybridK)
        .select($"query_id", $"rank", $"doc_id", $"score",
          $"orig_score", $"exp_score")
        .orderBy($"query_id", $"rank"))
  }

  /** Oracle: the 35l tf/dl/idf/weight chain gives the full postings
    * weight table; pass 1, the feedback vote, the normalized
    * expansion model and pass 2 replay on top of it with the same
    * fixed-point sums and tie orders. */
  def searchPrfRm3Sql: String = {
    import graft.functions.Agg.{dsumSql, rndSql}
    val al = prfAlpha
    val oma = 1.0 - prfAlpha
    s"""WITH ${TA.bm25CtesSql},
       |wfull AS MATERIALIZED (
       |  SELECT tf.doc_id, tf.term, ${TA.bm25WeightSql} AS w
       |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (term)),
       |q AS (
       |  SELECT DISTINCT doc_id AS query_id, term FROM tf
       |  WHERE doc_id < ${Similarity.nQueries}),
       |orig AS MATERIALIZED (
       |  SELECT q.query_id, wf.doc_id, ${dsumSql("wf.w")} AS score
       |  FROM wfull wf JOIN q USING (term)
       |  WHERE wf.doc_id <> q.query_id
       |  GROUP BY 1, 2),
       |fb AS (
       |  SELECT query_id, doc_id FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, doc_id) AS rn
       |    FROM orig) WHERE rn <= $prfFbDocs),
       |u AS (
       |  SELECT fb.query_id, wf.term, ${dsumSql("wf.w")} AS u
       |  FROM wfull wf JOIN fb ON fb.doc_id = wf.doc_id
       |  GROUP BY 1, 2),
       |etop AS (
       |  SELECT query_id, term, u FROM (
       |    SELECT u.query_id, u.term, u.u,
       |      row_number() OVER (PARTITION BY u.query_id
       |                         ORDER BY u.u DESC, u.term) AS rn
       |    FROM u LEFT JOIN q
       |      ON q.query_id = u.query_id AND q.term = u.term
       |    WHERE q.term IS NULL) WHERE rn <= $prfFbTerms),
       |enorm AS (
       |  SELECT e.query_id, e.term,
       |    ${rndSql("e.u / s.su", 6)} AS ew
       |  FROM etop e JOIN (
       |    SELECT query_id, ${dsumSql("u")} AS su FROM etop GROUP BY 1) s
       |    USING (query_id)),
       |escore AS (
       |  SELECT en.query_id, wf.doc_id,
       |    ${dsumSql(rndSql("en.ew * wf.w", 6))} AS exp_score
       |  FROM wfull wf JOIN enorm en USING (term)
       |  WHERE wf.doc_id <> en.query_id
       |  GROUP BY 1, 2),
       |fused AS (
       |  SELECT coalesce(o.query_id, e.query_id) AS query_id,
       |         coalesce(o.doc_id, e.doc_id) AS doc_id,
       |         coalesce(o.score, CAST(0 AS DOUBLE)) AS orig_score,
       |         coalesce(e.exp_score, CAST(0 AS DOUBLE)) AS exp_score
       |  FROM orig o FULL JOIN escore e
       |    ON o.query_id = e.query_id AND o.doc_id = e.doc_id)
       |SELECT query_id, rank, doc_id, score, orig_score, exp_score FROM (
       |  SELECT query_id, doc_id, orig_score, exp_score,
       |    ${rndSql(s"$al * orig_score + $oma * exp_score", 6)} AS score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${rndSql(s"$al * orig_score + $oma * exp_score", 6)} DESC,
       |        doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $hybridK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- retrieval-quality evaluation across tiers --------------------

  /** Graded-truth depth: the exact cosine top-[[Similarity.k]] is the
    * relevance judgment, gain = k+1−truth_rank (5..1). */
  val evalTruthK = Similarity.k

  /** §2.5/§2.6 — RETRIEVAL QUALITY REPORT: nDCG@k, MRR and recall for
    * every document-ranking retrieval variant this module ships
    * (hybrid RRF, RM3 expansion, MMR diversification, chunk-granular
    * hybrid) against one shared graded truth — the exact brute-force
    * cosine top-[[evalTruthK]] (gain = k+1−rank). ann_recall_report
    * answers "which INDEX tier finds the true neighbors"; this
    * answers the question above it — "which RETRIEVAL STRATEGY ranks
    * them best" — on rank-discounted metrics, where a strategy that
    * finds truth but buries it at rank 9 scores accordingly. The MMR
    * row doubles as the measured price of diversification (its
    * relevance metrics can only be ≤ the hybrid row's — the
    * redundancy trade made visible, not asserted away). Scale: every
    * tier frame and the truth are queries×k rank lists — the
    * corpus-sized work happened inside the tier operators; the report
    * itself is joins and partial aggs over driver-scale frames, with
    * fixed-point sums so per-tier averages are
    * partitioning-independent. */
  def searchEvalReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{dsum, rnd}
    val truth = Similarity.annBruteforce(s, dir)
      .select($"query_id", $"neighbor_id".as("doc_id"),
        (lit(evalTruthK + 1L) - $"rank").cast("double").as("gain"),
        $"rank".as("trank"))
      .localCheckpoint(true)
    val idcg = truth.groupBy($"query_id")
      .agg(dsum(rnd($"gain" / expr("ln(1 + trank) / ln(2)"), 6)).as("idcg"))
    def tagged(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("tier"), $"query_id", $"rank", $"doc_id")
    import graft.sources.Memo.cached
    val tiers = tagged("hybrid_rrf", fusedCached(s, dir))
      .unionByName(tagged("prf_rm3",
        cached("search_prf_rm3", dir, s)(searchPrfRm3(s, dir))))
      .unionByName(tagged("mmr",
        cached("search_mmr", dir, s)(searchMmr(s, dir))
          .withColumnRenamed("mmr_rank", "rank")))
      .unionByName(tagged("chunk_hybrid",
        cached("search_chunk_hybrid", dir, s)(searchChunkHybrid(s, dir))))
    val perQ = tiers
      .join(truth.select($"query_id", $"doc_id", $"gain"),
        Seq("query_id", "doc_id"), "left")
      .groupBy($"tier", $"query_id")
      .agg(
        dsum(when($"gain".isNotNull,
          rnd($"gain" / expr("ln(1 + rank) / ln(2)"), 6))
          .otherwise(lit(0.0))).as("dcg"),
        min(when($"gain".isNotNull, $"rank")).as("first_hit"),
        sum(when($"gain".isNotNull, 1L).otherwise(0L)).as("hits"))
      .join(idcg, "query_id")
      .select($"tier", $"query_id",
        rnd($"dcg" / $"idcg", 6).as("ndcg"),
        coalesce(rnd(lit(1.0) / $"first_hit".cast("double"), 6), lit(0.0))
          .as("mrr"),
        rnd($"hits".cast("double") / lit(evalTruthK.toDouble), 6)
          .as("recall"))
    perQ.groupBy($"tier")
      .agg(count(lit(1)).as("n_queries"),
        rnd(dsum($"ndcg") / count(lit(1)).cast("double"), 6).as("ndcg_at_k"),
        rnd(dsum($"mrr") / count(lit(1)).cast("double"), 6).as("mrr_at_k"),
        rnd(dsum($"recall") / count(lit(1)).cast("double"), 6)
          .as("recall_truth"))
      .orderBy($"tier")
  }

  /** Oracle: the four tier chains verbatim as subqueries, the
    * brute-force truth CTE, and the metric arithmetic replayed with
    * the same quantization and ln(1+r)/ln(2) discount text. */
  def searchEvalReportSql(centGlob: String): String = {
    import graft.functions.Agg.{dsumSql, rndSql}
    val tiers = Seq(
      "hybrid_rrf" -> s"SELECT query_id, rank, doc_id FROM (${searchHybridRrfSql(centGlob)})",
      "prf_rm3" -> s"SELECT query_id, rank, doc_id FROM ($searchPrfRm3Sql)",
      "mmr" -> s"SELECT query_id, mmr_rank AS rank, doc_id FROM (${searchMmrSql(centGlob)})",
      "chunk_hybrid" -> s"SELECT query_id, rank, doc_id FROM (${searchChunkHybridSql(centGlob)})")
    val metricBlocks = tiers.map { case (name, sub) =>
      s"""t_$name AS ($sub),
         |m_$name AS (
         |  SELECT '$name' AS tier, t.query_id,
         |    ${dsumSql(s"CASE WHEN g.gain IS NOT NULL THEN ${
                rndSql("g.gain / (ln(1 + t.rank) / ln(2))", 6)
              } ELSE CAST(0 AS DOUBLE) END")} AS dcg,
         |    min(CASE WHEN g.gain IS NOT NULL THEN t.rank END) AS first_hit,
         |    sum(CASE WHEN g.gain IS NOT NULL THEN 1 ELSE 0 END) AS hits
         |  FROM t_$name t LEFT JOIN tgain g
         |    ON g.query_id = t.query_id AND g.doc_id = t.doc_id
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH truth0 AS (
       |  SELECT query_id, neighbor_id AS doc_id,
       |    CAST(${evalTruthK} + 1 - rank AS DOUBLE) AS gain, rank AS trank
       |  FROM (${Similarity.annBruteforceSql})),
       |tgain AS (SELECT query_id, doc_id, gain FROM truth0),
       |idcg AS (
       |  SELECT query_id,
       |    ${dsumSql(rndSql("gain / (ln(1 + trank) / ln(2))", 6))} AS idcg
       |  FROM truth0 GROUP BY 1),
       |$metricBlocks,
       |mall AS (${tiers.map { case (n, _) => s"SELECT * FROM m_$n" }
            .mkString(" UNION ALL ")}),
       |perq AS (
       |  SELECT m.tier, m.query_id,
       |    ${rndSql("m.dcg / i.idcg", 6)} AS ndcg,
       |    coalesce(${rndSql("CAST(1 AS DOUBLE) / CAST(m.first_hit AS DOUBLE)", 6)},
       |      CAST(0 AS DOUBLE)) AS mrr,
       |    ${rndSql(s"CAST(m.hits AS DOUBLE) / CAST($evalTruthK AS DOUBLE)", 6)} AS recall
       |  FROM mall m JOIN idcg i ON i.query_id = m.query_id)
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_queries,
       |  ${rndSql(s"${dsumSql("ndcg")} / CAST(count(*) AS DOUBLE)", 6)} AS ndcg_at_k,
       |  ${rndSql(s"${dsumSql("mrr")} / CAST(count(*) AS DOUBLE)", 6)} AS mrr_at_k,
       |  ${rndSql(s"${dsumSql("recall")} / CAST(count(*) AS DOUBLE)", 6)} AS recall_truth
       |FROM perq
       |GROUP BY 1
       |ORDER BY tier""".stripMargin
  }

  // ---- lifecycle observability across the four index tiers ---------

  /** §2.5/§2.6 — INDEX LIFECYCLE REPORT: one table over the four
    * persisted retrieval indexes the takedown event drives (BM25
    * postings, IVF inverted file, MinHash band index, kNN edge
    * artifact) — entries total / tombstoned / live and the tombstone
    * fraction per tier. This is the observability face of the
    * retract/compact family: the tombstone fraction IS the signal an
    * operator watches to schedule compaction (probe-time anti-joins
    * are O(tombstones) forever, but a tier drifting toward 10% dead
    * rows is paying for deletions on every query), and the per-tier
    * asymmetry is structural — a doc is one IVF row but ~hundreds of
    * postings and [[graft.operators.Dedup.bands]] band rows, while
    * kNN edges die at BOTH endpoints, so the same takedown shows a
    * different dead fraction in every tier. Scale: four aggregate-only
    * scans of the persisted tables (no joins, no shuffles beyond each
    * scan's partial-agg), counting against the row-local tombstone
    * predicate. */
  def indexLifecycleReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    import graft.operators.{Dedup, SimilarityIvf, SimilarityKnn}
    buildBm25Index(s, dir)
    Dedup.buildMinhashIndex(s, dir)
    SimilarityIvf.buildIvfRetractIndex(s, dir)
    SimilarityKnn.buildKnnEdges(s, dir)
    def row(tier: String, df: DataFrame,
            dead: org.apache.spark.sql.Column): DataFrame =
      // an empty index sums to NULL; it has 0 tombstoned entries
      df.agg(count(lit(1)).as("entries_total"),
          coalesce(sum(when(dead, 1L).otherwise(0L)), lit(0L)).as("entries_tombstoned"))
        .select(lit(tier).as("tier"), $"entries_total",
          $"entries_tombstoned",
          ($"entries_total" - $"entries_tombstoned").as("entries_live"),
          // empty-index guard: 0/0 would emit NaN, not a count of 0
          when($"entries_total" === 0L, lit(0.0))
            .otherwise(rnd($"entries_tombstoned".cast("double")
              / $"entries_total".cast("double"), 6)).as("tombstone_frac"))
    val dDead = col("doc_id") % retractMod === retractRem
    row("bm25_postings", s.table(bm25IndexTable), dDead)
      .unionByName(row("ivf_lists", s.table(SimilarityIvf.ivfRetractTable),
        col("vec_id") % retractMod === retractRem))
      .unionByName(row("minhash_bands",
        s.table(Dedup.incrementalIndexTable), dDead))
      .unionByName(row("knn_edges", s.table(SimilarityKnn.knnEdgesTable),
        (col("src") % retractMod === retractRem) ||
          (col("dst") % retractMod === retractRem)))
      .orderBy($"tier")
  }

  /** Oracle: each tier's stored-row population re-derived — postings
    * from the tf chain, IVF rows from the nonzero-norm vector count,
    * band rows = bands × staged corpus signatures, edges = top-searchK
    * over the staged corpus candidate pool — with the same tombstone
    * predicates. */
  def indexLifecycleReportSql(sigGlob: String, knnGlob: String): String = {
    import graft.functions.Agg.rndSql
    import graft.operators.{Dedup, SimilarityKnn, TextAnalysis => TA}
    val (mod, rem) = (retractMod, retractRem)
    def outRow(tier: String, cte: String) =
      s"""SELECT '$tier' AS tier, total AS entries_total,
         |  dead AS entries_tombstoned, total - dead AS entries_live,
         |  CASE WHEN total = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE ${rndSql("CAST(dead AS DOUBLE) / CAST(total AS DOUBLE)", 6)}
         |  END AS tombstone_frac
         |FROM $cte""".stripMargin
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${TA.duckToks}) AS t FROM documents)
       |  GROUP BY 1, 2),
       |bm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total,
       |    CAST(coalesce(sum(CASE WHEN doc_id % $mod = $rem THEN 1 ELSE 0 END), 0) AS BIGINT) AS dead
       |  FROM tf),
       |iv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total,
       |    CAST(coalesce(sum(CASE WHEN vec_id % $mod = $rem THEN 1 ELSE 0 END), 0) AS BIGINT) AS dead
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |msig AS (
       |  SELECT doc_id FROM read_parquet('$sigGlob')
       |  WHERE doc_id % ${Dedup.incrementalShardMod} <> ${Dedup.incrementalShardRem}),
       |mh AS (
       |  SELECT CAST(count(*) * ${Dedup.bands} AS BIGINT) AS total,
       |    CAST(coalesce(sum(CASE WHEN doc_id % $mod = $rem THEN 1 ELSE 0 END), 0)
       |      * ${Dedup.bands} AS BIGINT) AS dead
       |  FROM msig),
       |kedges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src
       |                         ORDER BY cosine DESC, dst) AS rn
       |    FROM read_parquet('$knnGlob'))
       |  WHERE rn <= ${SimilarityKnn.searchK}),
       |kn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total,
       |    CAST(coalesce(sum(CASE WHEN src % $mod = $rem
       |      OR dst % $mod = $rem THEN 1 ELSE 0 END), 0) AS BIGINT) AS dead
       |  FROM kedges)
       |${outRow("bm25_postings", "bm")}
       |UNION ALL ${outRow("ivf_lists", "iv")}
       |UNION ALL ${outRow("minhash_bands", "mh")}
       |UNION ALL ${outRow("knn_edges", "kn")}
       |ORDER BY tier""".stripMargin
  }

  // ---- cross-encoder rerank stage ----------------------------------

  /** Results surviving the rerank cut. */
  val rerankK = 5
  /** Pairs per stub forward pass — the GPU micro-batch shape. */
  val rerankBatchSize = 16

  /** §2.5/§2.6 — CROSS-ENCODER RERANK: the stage between retrieval
    * and context assembly that production RAG runs when first-stage
    * rank quality isn't enough — the fused top-[[hybridK]] (query,
    * candidate) TEXT pairs go through a batched model forward pass
    * and the top-[[rerankK]] by model score survive. The Spark-side
    * plumbing is the real deliverable (the [[Multimodal.mmBatchInfer]]
    * contract on text pairs): pair texts are fetched with ONE corpus
    * scan broadcast-semi-joined against the queries×k id list (the
    * corpus never shuffles — only the ≤ queries×k selected texts
    * move), then `mapPartitions` batches [[rerankBatchSize]] pairs
    * per forward pass with per-partition model init — the exact
    * shape a real cross-encoder inherits (swap the stub for the
    * model call; batching and distribution don't change). The model
    * itself is STUBBED deterministically (no ML runtime in this
    * container): binary bag-of-words cosine |q∩d|/√(|q|·|d|) over
    * the shared tokenizer's distinct-token sets, 1e-6-quantized —
    * order-free, partitioning-free, and replayed token-for-token by
    * the DuckDB oracle, so the plumbing is hash-gated even though
    * the scorer is a stand-in. `prev_rank` (the fused rank) rides
    * through so rank movement is visible. */
  def searchRerank(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo.refresh("search_rerank", dir, s)(
      searchRerankLive(s, dir))

  /** The un-memoized plan (PlanSpec inspects this — the memo's eager
    * checkpoint would otherwise hide it behind a Scan ExistingRDD). */
  private[graft] def searchRerankLive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fused = fusedCached(s, dir)
      .select($"query_id", $"rank".as("prev_rank"), $"doc_id")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val pairs = docs.join(broadcast(fused), "doc_id")
      .select($"query_id", $"doc_id", $"prev_rank", $"text".as("dtext"))
    val qtexts = docs.filter($"doc_id" < Similarity.nQueries)
      .select($"doc_id".as("query_id"), $"text".as("qtext"))
    val scored = pairs.join(broadcast(qtexts), "query_id")
      .select($"query_id", $"doc_id", $"prev_rank", $"qtext", $"dtext")
      .as[RerankPair]
      .mapPartitions { it =>
        // per-partition "model init" happens here (stub: nothing to
        // load); a real cross-encoder loads weights once per task
        def toks(t: String): Set[String] =
          t.trim.split("\\s+").filter(_.nonEmpty).toSet
        it.grouped(rerankBatchSize).flatMap { batch =>
          // one stub forward pass over the whole batch
          batch.iterator.map { p =>
            val q = toks(p.qtext); val d = toks(p.dtext)
            val sc =
              if (q.isEmpty || d.isEmpty) 0.0
              else math.floor(q.intersect(d).size.toDouble
                / math.sqrt(q.size.toDouble * d.size.toDouble)
                * 1e6 + 0.5) / 1e6
            RerankScore(p.query_id, p.doc_id, p.prev_rank, sc)
          }
        }
      }.toDF()
    graft.plans.TopK.perGroup(scored, Seq("query_id"),
        Seq("ce_score" -> true, "doc_id" -> false), rerankK)
      .select($"query_id", $"rank", $"doc_id", $"ce_score", $"prev_rank")
      .orderBy($"query_id", $"rank")
  }

  /** Batch-size observability for the spec (not a query): the sizes
    * of every rerank micro-batch, tagged by partition — proves pairs
    * actually ride [[rerankBatchSize]]-bounded forward passes. */
  private[graft] def rerankBatchSizes(s: SparkSession, dir: String): Seq[(Int, Int)] = {
    import s.implicits._
    val fused = searchHybridRrf(s, dir)
      .select($"query_id", $"rank".as("prev_rank"), $"doc_id")
    Tables.documents(s, dir).select($"doc_id", $"text")
      .join(broadcast(fused), "doc_id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.grouped(rerankBatchSize).map(b => (pid, b.size))
      }.collect().toSeq
  }

  /** Oracle: the hybrid chain + the stub scorer's set arithmetic
    * (distinct-token intersection over the shared tokenizer) + the
    * rerank cut. */
  def searchRerankSql(centGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""WITH fusedr AS MATERIALIZED (
       |  SELECT query_id, rank AS prev_rank, doc_id
       |  FROM (${searchHybridRrfSql(centGlob)})),
       |rq AS (
       |  SELECT doc_id AS query_id,
       |    list_distinct(list_filter(${TA.duckToks}, t -> t <> '')) AS qtoks
       |  FROM documents WHERE doc_id < ${Similarity.nQueries}),
       |rd AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(${TA.duckToks}, t -> t <> '')) AS dtoks
       |  FROM documents),
       |rscored AS (
       |  SELECT f.query_id, f.doc_id, f.prev_rank,
       |    CASE WHEN len(qtoks) = 0 OR len(dtoks) = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE ${rndSql("CAST(len(list_intersect(qtoks, dtoks)) AS DOUBLE)" +
              " / sqrt(CAST(len(qtoks) AS DOUBLE) * CAST(len(dtoks) AS DOUBLE))", 6)}
       |    END AS ce_score
       |  FROM fusedr f
       |    JOIN rq ON rq.query_id = f.query_id
       |    JOIN rd ON rd.doc_id = f.doc_id)
       |SELECT query_id, rank, doc_id, ce_score, prev_rank FROM (
       |  SELECT query_id, doc_id, prev_rank, ce_score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY ce_score DESC, doc_id) AS rank
       |  FROM rscored)
       |WHERE rank <= $rerankK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** §2.5/§2.8 — RAG PIPELINE E2E: per-query funnel attribution
    * across the full retrieval chain — retrieve ([[searchHybridRrf]],
    * [[hybridK]]-deep) → rerank ([[searchRerank]], [[rerankK]] cut) →
    * pack (reranked docs' HEAD passages admitted in rerank order
    * under the [[ctxBudget]] token budget, the [[ragContextPack]]
    * prefix rule) — the n_retrieved / n_reranked / n_packed /
    * context_tokens funnel an operator reads to see WHERE candidates
    * die and how full the context window actually runs (the
    * [[Multimodal.mmPipelineE2e]] attribution shape on the text
    * chain). Every stage frame is queries×k; the report is
    * driver-scale joins over them — the corpus-sized work happened
    * inside the stage operators. */
  def ragPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val fusedc = fusedCached(s, dir)
      .groupBy($"query_id").agg(count(lit(1)).as("n_retrieved"))
    val rr = graft.sources.Memo.cached("search_rerank", dir, s)(
        searchRerank(s, dir))
      .select($"query_id", $"rank", $"doc_id").localCheckpoint(true)
    val docLens = Tables.documents(s, dir)
      .withColumn("n",
        size(expr(s"coalesce(filter(${TA.toksExpr}, t -> t <> ''), array())")))
      .select($"doc_id", $"n")
    val packed = docLens.join(broadcast(rr), Seq("doc_id"))
      .withColumn("n_tokens", expr(
        s"CAST(CASE WHEN n > 0 THEN least(${Pipeline.chunkSize}, n) ELSE 0 END AS BIGINT)"))
      .withColumn("cum", sum($"n_tokens").over(
        Window.partitionBy($"query_id").orderBy($"rank")))
      .filter($"cum" <= ctxBudget)
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_packed"),
        coalesce(max($"cum"), lit(0L)).as("context_tokens"))
    val rc = rr.groupBy($"query_id").agg(count(lit(1)).as("n_reranked"))
    val top = rr.filter($"rank" === 1L)
      .select($"query_id", $"doc_id".as("top_doc_id"))
    fusedc.join(rc, "query_id").join(top, "query_id")
      .join(packed, Seq("query_id"), "left")
      .select($"query_id", $"n_retrieved", $"n_reranked",
        coalesce($"n_packed", lit(0L)).as("n_packed"),
        coalesce($"context_tokens", lit(0L)).as("context_tokens"),
        $"top_doc_id")
      .orderBy($"query_id")
  }

  /** Oracle: the rerank chain + the fused count + head-passage length
    * arithmetic + the running-sum prefix cut, replayed stage for
    * stage. */
  def ragPipelineE2eSql(centGlob: String): String = {
    s"""WITH rrk AS MATERIALIZED (${searchRerankSql(centGlob)}),
       |fusedc AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_retrieved
       |  FROM (${searchHybridRrfSql(centGlob)}) GROUP BY 1),
       |edl AS (
       |  SELECT doc_id, len(list_filter(${TA.duckToks}, t -> t <> '')) AS n
       |  FROM documents),
       |ep AS (
       |  SELECT r.query_id, r.rank,
       |    CAST(CASE WHEN n > 0 THEN least(${Pipeline.chunkSize}, n)
       |      ELSE 0 END AS BIGINT) AS n_tokens
       |  FROM rrk r JOIN edl d ON d.doc_id = r.doc_id),
       |ec AS (
       |  SELECT query_id, rank, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY query_id ORDER BY rank)
       |         AS BIGINT) AS cum
       |  FROM ep),
       |epk AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_packed,
       |    CAST(coalesce(max(cum), 0) AS BIGINT) AS context_tokens
       |  FROM ec WHERE cum <= $ctxBudget GROUP BY 1),
       |erc AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_reranked
       |  FROM rrk GROUP BY 1),
       |etop AS (
       |  SELECT query_id, doc_id AS top_doc_id FROM rrk WHERE rank = 1)
       |SELECT f.query_id, f.n_retrieved, erc.n_reranked,
       |  CAST(coalesce(epk.n_packed, 0) AS BIGINT) AS n_packed,
       |  CAST(coalesce(epk.context_tokens, 0) AS BIGINT) AS context_tokens,
       |  etop.top_doc_id
       |FROM fusedc f
       |  JOIN erc ON erc.query_id = f.query_id
       |  JOIN etop ON etop.query_id = f.query_id
       |  LEFT JOIN epk ON epk.query_id = f.query_id
       |ORDER BY f.query_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rag_pipeline_e2e" -> (ragPipelineE2e _),
    "search_rerank" -> (searchRerank _),
    "index_lifecycle_report" -> (indexLifecycleReport _),
    "search_eval_report" -> (searchEvalReport _),
    "search_prf_rm3" -> (searchPrfRm3 _),
    "search_mmr" -> (searchMmr _),
    "search_hybrid_rrf" -> (searchHybridRrf _),
    "search_hybrid_filtered" -> (searchHybridFiltered _),
    "bm25_retract" -> (bm25Retract _),
    "search_chunk_hybrid" -> (searchChunkHybrid _),
    "rag_context_pack" -> (ragContextPack _)
  )

  def oracles: Map[String, String] =
    graft.sources.OracleStage.globOf("ivf_centroids").toSeq.flatMap(g => Seq(
      "search_hybrid_rrf" -> searchHybridRrfSql(g),
      "search_mmr" -> searchMmrSql(g),
      "search_eval_report" -> searchEvalReportSql(g),
      "search_rerank" -> searchRerankSql(g),
      "rag_pipeline_e2e" -> ragPipelineE2eSql(g),
      "search_hybrid_filtered" -> searchHybridFilteredSql(g),
      "search_chunk_hybrid" -> searchChunkHybridSql(g),
      "rag_context_pack" -> ragContextPackSql(g))).toMap ++
      Map("bm25_retract" -> bm25RetractSql,
        "search_prf_rm3" -> searchPrfRm3Sql) ++
      (for {
        sg <- graft.sources.OracleStage.globOf("minhash_sigs")
        kg <- graft.sources.OracleStage.globOf("knn_corpus_candidates")
      } yield "index_lifecycle_report" -> indexLifecycleReportSql(sg, kg)).toMap
}
