package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidates-scanned accounting for [[SimilarityKnn.annRecallReport]]
  * — the COST axis of index selection. Recall alone can't pick an
  * index: at 10¹¹ vectors the selection criterion is the
  * recall/candidates frontier, and "candidates" here is the exact
  * number of (query, candidate) rows each tier SCORES across all its
  * stages — deterministic, oracle-checkable integers, never wall
  * time.
  *
  * The counts come from index METADATA and bounded replays, not from
  * re-running the tiers' scans: full-scan tiers (matryoshka, hamming,
  * PQ/OPQ ADC) are closed forms over corpus cardinalities ×
  * shortlist caps (exact because each rerank universe contains its
  * shortlist by construction); bucket/probe tiers count their
  * candidate joins over the STAGED id artifacts (LSH buckets, IVF
  * assignment — id-only joins, no vector math); the graph tiers use
  * the stored pool (lookup cost) and the descent's own memoized
  * visited count. The IVF row's count is constructed identically to
  * [[SimilarityIvf.annIvfProbeSweep]]'s n_candidates at
  * nprobe = [[SimilarityIvf.nprobe]], so the two reports reconcile
  * (SimilarityIvfSpec pins it). */
object TierCost {

  /** Session memo of the 11-row counts frame: every count here is a
    * deterministic function of the dataset's staged artifacts, and
    * the report invokes this on every run — before the memo each
    * invocation re-paid ~8 driver actions (LSH collision distinct,
    * hamming shortlist join, IVF probe joins …). The frame is 11
    * rows, checkpointed. */
  def tierCandidates(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo("tiercost.candidates", dir, s)(
      tierCandidatesUncached(s, dir).localCheckpoint(true))

  private def tierCandidatesUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.countIf
    val k = Similarity.k
    val nQ = Similarity.nQueries
    // corpus cardinalities: one tiny agg per universe
    val ar = graft.sources.Tables.embeddings(s, dir)
      .agg(count(lit(1)), countIf(col("vec_id") < nQ)).collect()(0)
    val (na, nqa) = (ar.getLong(0), ar.getLong(1))
    val nr = Similarity.vectors(s, dir)
      .agg(count(lit(1)), countIf(col("vec_id") < nQ)).collect()(0)
    val (nv, nqv) = (nr.getLong(0), nr.getLong(1))
    def fullScan(n: Long, nq: Long): Long = nq * math.max(n - 1, 0L)
    def shortStage(n: Long, nq: Long, sl: Int): Long =
      nq * math.min(sl.toLong, math.max(n - 1, 0L))

    // LSH: distinct bucket-collision pairs over the staged id artifact
    val lshArt = graft.sources.OracleStage.stage(s, "lsh_buckets", dir)(
      Similarity.lshBuckets(s, dir).select($"vec_id", $"tbl", $"bucket"))
    val lshQ = lshArt.filter($"vec_id" < nQ)
      .select($"vec_id".as("query_id"), $"tbl", $"bucket")
    val lshN = lshArt.join(lshQ, Seq("tbl", "bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct().count()

    // hamming refine stage 2: the exact-rerank rows = shortlist ids
    // surviving the nonzero-corpus and nonzero-query joins (the same
    // joins annHammingRefine's exact stage performs)
    val nzIds = Similarity.vectors(s, dir).select($"vec_id")
    val hamRefine2 = Similarity.hammingShortlistIds(s, dir)
      .join(nzIds, "vec_id")
      .join(nzIds.filter($"vec_id" < nQ).select($"vec_id".as("query_id")),
        "query_id")
      .count()

    // kNN graph: the per-query stored pool entries the lookup ranks
    val knnN = SimilarityKnn.knnCandidatePool(s, dir)
      .filter($"src" < nQ).count()

    // graph search: |visited| of the centroid-seeded descent
    val gsN = SimilarityKnn.graphSearchCandidates(s, dir)

    // IVF probed candidates over the staged assignment (id-only).
    // Two query universes: the cosine tiers probe the nonzero-norm
    // query set; the PQ tiers (L2 ADC) probe every vec_id < nQueries.
    val (cents, assigned) = SimilarityIvf.stagedIndex(s, dir)
    val ids = assigned.select($"vec_id", $"cid")
    val probesNz = SimilarityIvf.probePairsOf(
      Similarity.vectors(s, dir).filter($"vec_id" < nQ), cents)
    val ivfN = ids.join(broadcast(probesNz), "cid")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct().count()
    val qAll = graft.sources.Tables.embeddings(s, dir)
      .filter($"vec_id" < nQ)
      .select($"vec_id",
        expr(graft.functions.VectorFns.asDouble("embedding")).as("v"))
    val probesAll = SimilarityIvf.probePairsOf(qAll, cents)
    val ivfPqPerQ = ids.join(broadcast(probesAll), "cid")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct()
      .groupBy($"query_id").agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1))
    val ivfPqN = ivfPqPerQ.sum
    val ivfPqRefineN = ivfPqN +
      ivfPqPerQ.map(c => math.min(EmbedPq.refineShortlist.toLong, c)).sum

    Seq(
      "ann_lsh"            -> lshN,
      "ann_matryoshka"     -> (fullScan(nv, nqv) +
                               shortStage(nv, nqv, k * Similarity.mrlFactor)),
      "ann_hamming"        -> fullScan(na, nqa),
      "ann_hamming_refine" -> (fullScan(na, nqa) + hamRefine2),
      "ann_knn_graph"      -> knnN,
      "ann_graph_search"   -> gsN,
      "ann_ivf"            -> ivfN,
      "ann_ivf_pq"         -> ivfPqN,
      "ann_ivf_pq_refine"  -> ivfPqRefineN,
      "ann_pq_refine"      -> (fullScan(na, nqa) +
                               shortStage(na, nqa, EmbedPq.refineShortlist)),
      "ann_opq"            -> fullScan(na, nqa)
    ).toDF("method", "n_candidates")
  }

  /** The same counts in DuckDB, as one self-contained SELECT (its own
    * WITH chain) the report oracle joins on method. */
  def tierCandidatesSql(lshGlob: String, knnGlob: String,
                        centGlob: String): String = {
    val k = Similarity.k
    val nQ = Similarity.nQueries
    val mrlShort = k * Similarity.mrlFactor
    val refSl = EmbedPq.refineShortlist
    val hamSl = Similarity.hammingShortlist
    val nprobe = SimilarityIvf.nprobe
    val nlist = SimilarityIvf.nlist
    s"""WITH astats AS (
       |  SELECT count(*) AS na,
       |    CAST(sum(CASE WHEN vec_id < $nQ THEN 1 ELSE 0 END) AS BIGINT) AS nqa
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |nstats AS (
       |  SELECT count(*) AS nv,
       |    CAST(sum(CASE WHEN vec_id < $nQ THEN 1 ELSE 0 END) AS BIGINT) AS nqv
       |  FROM n),
       |b AS (SELECT vec_id, tbl, bucket FROM read_parquet('$lshGlob')),
       |lshcand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
       |  FROM b q JOIN b c
       |    ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQ),
       |hcodes AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(range(0, 64), i ->
       |      CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > CAST(0 AS DOUBLE) THEN
       |        CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |             ELSE (CAST(1 AS BIGINT) << i) END
       |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code
       |  FROM embeddings),
       |hshort AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY CAST(bit_count(xor(q.code, c.code)) AS INT), c.vec_id) AS rn
       |    FROM hcodes q JOIN hcodes c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $nQ)
       |  WHERE rn <= $hamSl),
       |ham2 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS c
       |  FROM hshort sh JOIN n cn ON cn.vec_id = sh.vec_id
       |                 JOIN n qn ON qn.vec_id = sh.query_id),
       |cents AS (SELECT cid, c FROM read_parquet('$centGlob')),
       |scoredc AS (
       |  SELECT n.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(n.v, cents.c) AS s
       |  FROM n, cents),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc WHERE vec_id < $nQ)
       |  WHERE rn <= $nprobe),
       |ivfcand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.query_id),
       |scoredcall AS (
       |  SELECT v.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(v.v, cents.c) AS s
       |  FROM v, cents
       |  WHERE v.vec_id < $nQ),
       |probesall AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredcall)
       |  WHERE rn <= $nprobe),
       |ivfallper AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT DISTINCT p.query_id, a.vec_id
       |    FROM probesall p JOIN assigned a ON a.cid = p.cid
       |    WHERE a.vec_id <> p.query_id)
       |  GROUP BY 1)
       |SELECT 'ann_lsh' AS method,
       |  (SELECT CAST(count(*) AS BIGINT) FROM lshcand) AS n_candidates
       |UNION ALL SELECT 'ann_matryoshka',
       |  (SELECT CAST(nqv * greatest(nv - 1, 0) + nqv * least($mrlShort, greatest(nv - 1, 0)) AS BIGINT) FROM nstats)
       |UNION ALL SELECT 'ann_hamming',
       |  (SELECT CAST(nqa * greatest(na - 1, 0) AS BIGINT) FROM astats)
       |UNION ALL SELECT 'ann_hamming_refine',
       |  (SELECT CAST(nqa * greatest(na - 1, 0) + (SELECT c FROM ham2) AS BIGINT) FROM astats)
       |UNION ALL SELECT 'ann_knn_graph',
       |  (SELECT CAST(count(*) AS BIGINT) FROM '$knnGlob' WHERE src < $nQ)
       |UNION ALL SELECT 'ann_graph_search',
       |  (${SimilarityKnn.gsCandidatesSql(knnGlob, centGlob)})
       |UNION ALL SELECT 'ann_ivf',
       |  (SELECT CAST(count(*) AS BIGINT) FROM ivfcand)
       |UNION ALL SELECT 'ann_ivf_pq',
       |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ivfallper)
       |UNION ALL SELECT 'ann_ivf_pq_refine',
       |  (SELECT CAST(coalesce(sum(c) + sum(least($refSl, c)), 0) AS BIGINT) FROM ivfallper)
       |UNION ALL SELECT 'ann_pq_refine',
       |  (SELECT CAST(nqa * greatest(na - 1, 0) + nqa * least($refSl, greatest(na - 1, 0)) AS BIGINT) FROM astats)
       |UNION ALL SELECT 'ann_opq',
       |  (SELECT CAST(nqa * greatest(na - 1, 0) AS BIGINT) FROM astats)""".stripMargin
  }
}
