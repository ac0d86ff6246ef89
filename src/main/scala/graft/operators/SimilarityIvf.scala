package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg.{dsum, rnd, rndSql}
import graft.functions.VectorFns
import graft.sources.Parquet

/** §2.5 IVF (inverted-file) ANN — the second scale path next to
  * [[Similarity.annLsh]].
  *
  * Coarse quantizer: a small deterministic k-means run as DataFrame
  * ops. Assignment is row-local arithmetic against a broadcast
  * centroid literal; the update step aggregates per-(cluster, dim)
  * with the exact decimal sum, so centroids are IDENTICAL regardless
  * of partitioning — the property that makes the index reproducible
  * on a 1000-executor cluster. Only nlist × dim numbers ever reach
  * the driver per iteration.
  *
  * Search: a query probes its nprobe nearest lists; candidates are
  * the vectors assigned there (join on cid — at scale the corpus
  * assignment is written bucketed by cid, making the probe a pruned
  * scan); exact cosine re-rank on candidates only.
  */
object SimilarityIvf {

  val nlist = 16
  val nprobe = 4
  val kmeansIters = 5
  val dims = 64

  private def vectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // zero-norm vectors can't be cosine-probed: excluded from the
    // index and the query set (see Similarity.vectors)
    graft.sources.Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .filter($"nrm" > 0.0)
  }

  /** Per-row cluster id against a centroid literal: argmin over
    * |c|² − 2·v·c (monotone in L2 distance). `private[graft]` so the
    * streaming ingest gate routes with the IDENTICAL expression — a
    * quantizer change can never desync the stream from the batch
    * append path or the oracle. */
  private[graft] def cidExpr: Column =
    expr(s"""array_position(
            |  transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)),
            |  array_min(transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)))
            |) - 1""".stripMargin).cast("int")

  /** Deterministic k-means: init = first nlist vectors by vec_id;
    * fixed iteration count; exact-decimal per-dim means. Returns the
    * final centroids and the corpus assignment (vec_id, cid, v, nrm). */
  def kmeans(s: SparkSession, dir: String): (Seq[Seq[Double]], DataFrame) =
    trainKmeans(s, vectors(s, dir), "ivf_centroids", "ivf_assigned", dir)

  /** Session memo over [[trainKmeans]]: the centroids are a trained
    * per-dataset index artifact (the PQ-codebook rule — EmbedPq
    * caches its codebooks the same way), and ~15 registered queries
    * seed from them; before this memo EVERY one of them re-paid the
    * 5-iteration training loop (5 driver collects over the posexplode
    * frame, ~0.8 s/invocation) even though the STAGED artifact write
    * was already memoized. Keyed (centKey, dir, session); the
    * assignment side stays the staged parquet read-back, so oracles
    * are unchanged. */
  private val kmCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, SparkSession), (Seq[Seq[Double]], DataFrame)]

  private def trainKmeans(s: SparkSession, v0: DataFrame, centKey: String,
                          assignKey: String, dir: String): (Seq[Seq[Double]], DataFrame) =
    kmCache.getOrElseUpdate((centKey, dir, s),
      trainKmeansUncached(s, v0, centKey, assignKey, dir))

  private def trainKmeansUncached(s: SparkSession, v0: DataFrame, centKey: String,
                          assignKey: String, dir: String): (Seq[Seq[Double]], DataFrame) = {
    import s.implicits._
    val v = v0
    var cents: Seq[Seq[Double]] = v.orderBy($"vec_id").limit(nlist)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    // corpus smaller than nlist: pad the seed by cycling (an empty
    // corpus seeds one zero centroid). A duplicated centroid ties on
    // every distance and array_position's FIRST-match argmin never
    // picks it — identical semantics in the oracle's recomputation
    // from the staged artifact — while every downstream probe/sweep
    // plan keeps its full nlist shape instead of crashing on a
    // degenerate corpus.
    if (cents.isEmpty) cents = Seq(Seq.fill(dims)(0.0))
    if (cents.size < nlist)
      cents = Seq.tabulate(nlist)(i => cents(i % cents.size))
    for (_ <- 1 to kmeansIters) {
      val assigned = v.withColumn("cents", typedLit(cents))
        .withColumn("cid", cidExpr)
      val stats = assigned
        .select($"cid", posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"cid", $"dim")
        .agg(dsum($"x").as("sx"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
        .toMap
      cents = Seq.tabulate(nlist) { c =>
        Seq.tabulate(dims) { d =>
          stats.get((c, d)).map { case (sx, n) => sx / n }
            .getOrElse(cents(c)(d)) // empty cluster keeps its centroid
        }
      }
    }
    // persist the centroid artifact (nlist × dim doubles) so every
    // consumer's oracle can recompute assignment/probes/re-ranks
    graft.sources.OracleStage.stage(s, centKey, dir)(
      cents.zipWithIndex.map { case (c, cid) => (cid, c) }.toDF("cid", "c"))
    // the corpus assignment is STAGED and read back as an artifact —
    // the scaladoc's "at scale the assignment is written bucketed"
    // story, and also a correctness defense: keeping the argmin
    // transform as a live projection lets constraint propagation
    // substitute it through the probe join's cid equality into a
    // filter on the OTHER side, where its attributes don't exist
    // (ATTRIBUTE_NOT_FOUND from ConvertToLocalRelation, exprId-order
    // dependent — bit ann_ivf when run as the session's first query).
    // A parquet scan carries no alias constraints to propagate.
    val assigned = graft.sources.OracleStage.stage(s, assignKey, dir) {
      v.withColumn("cents", typedLit(cents))
        .withColumn("cid", cidExpr)
        .select($"vec_id", $"cid", $"v", $"nrm")
    }
    (cents, assigned)
  }

  /** IVF ANN: probe the nprobe closest lists per query, exact cosine
    * re-rank within them. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cents, assigned) = kmeans(s, dir)
    val probes = vectors(s, dir)
      .filter($"vec_id" < Similarity.nQueries)
      .withColumn("cents", typedLit(cents))
      .withColumn("probes",
        expr(s"""transform(slice(array_sort(
                |  transform(sequence(0, ${nlist - 1}), i -> named_struct(
                |    's', element_at(transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)), i + 1),
                |    'c', i))), 1, $nprobe), p -> p.c)""".stripMargin))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        explode($"probes").as("cid"))
      // bounded driver collect (nQueries × nprobe rows ≤ 40), the same
      // idiom as annPq's distance tables: besides being the natural
      // broadcast shape, materializing the probe list severs the
      // lineage between the two vector scans — constraint propagation
      // across the cid equi-join otherwise substitutes one frame's
      // argmin chain into a filter bound against the other frame's
      // attributes (exprId-order dependent; bit ann_ivf when run as
      // the session's first query)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getInt(3)))
    val probesDf = broadcast(probes.toSeq.toDF("query_id", "qv", "qnrm", "cid"))
    val cand = assigned.join(probesDf,
        assigned("cid") === probesDf("cid") && $"vec_id" =!= $"query_id")
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    // result memoized for ann_recall_report's re-invocation; each
    // standalone call still computes the probe scan live (TierMemo)
    graft.sources.TierMemo.refresh("ann_ivf", dir, s)(cand
        .withColumn("cosine",
          expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= Similarity.k)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** The index artifacts WITHOUT re-training: read the staged
    * centroids/assignment when this process already trained them
    * (the cost-report path — counting candidates must not re-pay the
    * k-means loop), else train via [[kmeans]]. */
  private[graft] def stagedIndex(s: SparkSession, dir: String): (Seq[Seq[Double]], DataFrame) =
    (graft.sources.OracleStage.pathOf("ivf_centroids", dir),
     graft.sources.OracleStage.pathOf("ivf_assigned", dir)) match {
      case (Some(cp), Some(ap)) =>
        val cents = Parquet.read(s, cp).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).map(_._2).toSeq
        (cents, Parquet.read(s, ap))
      case _ => kmeans(s, dir)
    }

  /** The probe lists (query_id, cid) for an arbitrary query-vector
    * frame, via the IDENTICAL slice/sort transform the tiers use —
    * shared so candidate-count accounting can never desync from the
    * search paths. */
  private[graft] def probePairsOf(q: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    q.withColumn("cents", typedLit(cents))
      .withColumn("probes",
        expr(s"""transform(slice(array_sort(
                |  transform(sequence(0, ${nlist - 1}), i -> named_struct(
                |    's', element_at(transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)), i + 1),
                |    'c', i))), 1, $nprobe), p -> p.c)""".stripMargin))
      .select($"vec_id".as("query_id"), explode($"probes").as("cid"))
  }

  // ---- ann_filtered — metadata-filtered IVF search ----------------

  /** The metadata predicate for [[annFiltered]]: embeddings.label.
    * Stands in for the language/license/source/date predicate every
    * production retrieval pass carries. */
  val filterLabel = 3

  /** §2.5 — METADATA-FILTERED ANN: search and filter in ONE pass, the
    * production retrieval shape no unfiltered tier covers.
    * Post-filtering an unfiltered top-k silently under-recalls when
    * the predicate is selective (the unfiltered top-k may hold zero
    * survivors — AnnFilteredSpec constructs the failure); rebuilding
    * the index per predicate is a non-starter at 10¹¹ vectors. The
    * filter instead rides INTO the probe: candidates are the probed
    * lists' members that pass the predicate (the label column joins
    * from the parquet-backed embeddings scan, filter pushed to the
    * scan), with a per-QUERY selectivity fallback — a query whose
    * probed lists hold fewer than k survivors re-ranks the whole
    * FILTERED slice brute-force (bounded: selectivity × corpus, and
    * only starved queries pay it; the survivor count is a bounded
    * partial agg collecting ≤ nQueries rows). Both branches re-rank
    * with the exact quantized cosine; the oracle replays the same
    * survivor-count decision, so the emitted `fallback` flag is
    * hash-checked too. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    annFilteredOn(s, dir,
      graft.sources.Tables.embeddings(s, dir)
        .filter($"label" === lit(filterLabel)).select($"vec_id"))
  }

  /** The filtered-probe core over an arbitrary predicate: `keep` is
    * the single-column (vec_id) frame of ids passing the caller's
    * metadata predicate — [[annFiltered]] passes the label slice,
    * [[HybridSearch.searchHybridFiltered]] the language slice (the
    * doc/vec id spaces coincide). Same probe + per-query
    * starved-list fallback machinery either way. */
  private[graft] def annFilteredOn(s: SparkSession, dir: String,
                                   keep: DataFrame): DataFrame = {
    import s.implicits._
    val (cents, assigned) = kmeans(s, dir)
    val filtered = assigned.join(keep, "vec_id")
      .select($"vec_id", $"cid", $"v", $"nrm")
    val probes = vectors(s, dir)
      .filter($"vec_id" < Similarity.nQueries)
      .withColumn("cents", typedLit(cents))
      .withColumn("probes",
        expr(s"""transform(slice(array_sort(
                |  transform(sequence(0, ${nlist - 1}), i -> named_struct(
                |    's', element_at(transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)), i + 1),
                |    'c', i))), 1, $nprobe), p -> p.c)""".stripMargin))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        explode($"probes").as("cid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getInt(3)))
    val probesDf = broadcast(probes.toSeq.toDF("query_id", "qv", "qnrm", "cid"))
    // pass 1: per-query survivor counts inside the probed lists — a
    // bounded partial agg (≤ nQueries rows reach the driver)
    val surv = filtered.join(probesDf,
        filtered("cid") === probesDf("cid") && $"vec_id" =!= $"query_id")
      .dropDuplicates("query_id", "vec_id")
      .groupBy($"query_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qinfo = probes.map(p => (p._1, p._2, p._3)).distinct
    val fbIds = qinfo.map(_._1)
      .filter(q => surv.getOrElse(q, 0L) < Similarity.k).toSet
    // pass 2: probed candidates for satisfied queries; the whole
    // filtered slice for starved ones
    val keepDf = broadcast(probes.filter(p => !fbIds.contains(p._1)).toSeq
      .toDF("query_id", "qv", "qnrm", "cid"))
    val fbDf = broadcast(qinfo.filter(q => fbIds.contains(q._1)).toSeq
      .toDF("query_id", "qv", "qnrm"))
    val candProbed = filtered.join(keepDf,
        filtered("cid") === keepDf("cid") && $"vec_id" =!= $"query_id")
      .dropDuplicates("query_id", "vec_id")
      .select($"query_id", $"vec_id", $"qv", $"qnrm", $"v", $"nrm",
        lit(false).as("fallback"))
    val candFb = filtered.crossJoin(fbDf)
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"qv", $"qnrm", $"v", $"nrm",
        lit(true).as("fallback"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    candProbed.unionByName(candFb)
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= Similarity.k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        $"cosine", $"fallback")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle over the staged centroids: assignment, probe lists, the
    * filtered slice, the per-query survivor-count fallback decision
    * and both ranking branches, all recomputed in DuckDB. */
  def annFilteredSql(glob: String): String =
    annFilteredSqlOf(glob,
      s"""SELECT a.vec_id, a.cid
         |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
         |  WHERE e.label = $filterLabel""".stripMargin)

  /** [[annFilteredSql]] with a caller-supplied `filt` body (must
    * select (vec_id, cid) from `assigned` joined against the
    * caller's predicate source). */
  private[graft] def annFilteredSqlOf(glob: String, filtBody: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |scoredc AS (
       |  SELECT n.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(n.v, cents.c) AS s
       |  FROM n, cents),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1),
       |filt AS MATERIALIZED (
       |  $filtBody),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc WHERE vec_id < ${Similarity.nQueries})
       |  WHERE rn <= $nprobe),
       |probedcand AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, f.vec_id
       |  FROM probes p JOIN filt f ON f.cid = p.cid
       |  WHERE f.vec_id <> p.query_id),
       |surv AS (
       |  SELECT q.query_id,
       |    coalesce((SELECT count(*) FROM probedcand pc
       |              WHERE pc.query_id = q.query_id), 0) < ${Similarity.k} AS fb
       |  FROM (SELECT DISTINCT query_id FROM probes) q),
       |cand AS (
       |  SELECT pc.query_id, pc.vec_id AS neighbor_id, FALSE AS fallback
       |  FROM probedcand pc JOIN surv ON surv.query_id = pc.query_id
       |  WHERE NOT surv.fb
       |  UNION ALL
       |  SELECT s2.query_id, f.vec_id, TRUE
       |  FROM surv s2 JOIN filt f ON f.vec_id <> s2.query_id
       |  WHERE s2.fb),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id, cand.fallback,
       |    ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} AS cosine
       |  FROM cand JOIN n qn ON qn.vec_id = cand.query_id
       |            JOIN n cn ON cn.vec_id = cand.neighbor_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine, fallback
       |FROM scored
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  /** §2.5 — cluster occupancy, the index's balance diagnostic (a
    * skewed inverted file makes nprobe search latency long-tailed;
    * this is the rollup an operator watches). One partial-aggregated
    * pass over the staged assignment artifact; oracle recomputes the
    * argmin assignment from the staged centroids. */
  def ivfClusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, assigned) = kmeans(s, dir)
    assigned.groupBy($"cid").agg(count(lit(1)).as("n_vectors"))
      .orderBy($"cid")
  }

  def ivfClusterSizesSql(glob: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)) > 0),
       |scoredc AS (
       |  SELECT v.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(v.v, cents.c) AS s
       |  FROM v, cents),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1)
       |SELECT cid, count(*) AS n_vectors
       |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin

  /** Oracle over the STAGED centroids: per-vector assignment (argmin,
    * ties to the lowest cid — matching array_position-of-min), the
    * query's nprobe probe list (Spark's array_sort over ('s','c')
    * structs ≡ ORDER BY s, cid), candidate generation and the exact
    * cosine top-k, all recomputed in DuckDB. Hash-checks everything
    * downstream of k-means training (whose determinism ScaleSpec and
    * SimilarityIvfSpec pin). */
  def annIvfSql(glob: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
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
       |    FROM scoredc WHERE vec_id < ${Similarity.nQueries})
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} AS cosine
       |  FROM cand JOIN n qn ON qn.vec_id = cand.query_id
       |            JOIN n cn ON cn.vec_id = cand.neighbor_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine
       |FROM scored
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  // ---- ann_ivf_probe_sweep — the nprobe tuning curve ---------------

  /** nprobe values swept (up to [[nlist]] = exhaustive scan). */
  val probeSweep: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** §2.5 — the IVF TUNING CURVE: recall@k against the exact
    * brute-force truth and the scanned-corpus fraction, per nprobe in
    * [[probeSweep]] — the measurement an operator reads to trade
    * latency for recall before an index serves anything (the ANN
    * sibling of dedup_threshold_sweep). Probe rankings compute once
    * per query against the staged centroids (driver-bounded:
    * nQueries × nlist); each sweep point reuses them with a prefix
    * filter, so the sweep costs |sweep| bounded candidate joins over
    * the staged assignment — never a corpus rescan per point. The
    * p = nlist row scans everything and must land recall = 1.0
    * exactly, which the spec pins as the curve's anchor. */
  def annIvfProbeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cents, assigned) = kmeans(s, dir)
    val maxP = probeSweep.max
    val probes = vectors(s, dir)
      .filter($"vec_id" < Similarity.nQueries)
      .withColumn("cents", typedLit(cents))
      .withColumn("probes",
        expr(s"""transform(slice(array_sort(
                |  transform(sequence(0, ${nlist - 1}), i -> named_struct(
                |    's', element_at(transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)), i + 1),
                |    'c', i))), 1, $maxP), p -> p.c)""".stripMargin))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        posexplode($"probes").as(Seq("prank", "cid")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2),
        r.getInt(3) + 1, r.getInt(4)))
    // truth through TierMemo like ann_recall_report (the report-side
    // rule): the sweep is a tuning-curve READER of the brute-force
    // tier, so it reuses the session's last computed truth instead of
    // re-scoring the corpus per invocation; standalone ann_bruteforce
    // still always computes live (the round-10 advice contract).
    val truth = graft.sources.TierMemo.cached("ann_bruteforce", dir, s)(
        Similarity.annBruteforce(s, dir))
      .select($"query_id", $"neighbor_id")
    val corpus = assigned.agg(count(lit(1)).as("n_corpus"))
    val denomK = (Similarity.nQueries * Similarity.k).toDouble
    // ONE candidate join + dedup for the whole sweep: a (query,
    // vector) pair belongs to sweep point p iff the SMALLEST probe
    // rank reaching it is ≤ p, so scoring the maxP candidate set once
    // with min(prank) lets every sweep point reduce to a row-local
    // prefix filter over a checkpointed, candidate-bounded frame —
    // before this, each of the |sweep| branches re-paid the
    // assignment join, the pair dedup and the cosine (5 branches,
    // measured ~2× slower for identical output).
    val probesDf = broadcast(probes.toSeq
      .toDF("query_id", "qv", "qnrm", "prank", "cid"))
    // cosine BEFORE the pair dedup (row-local on the join output), so
    // the groupBy shuffles (id, id, rank, cosine) — never the 64-dim
    // vectors (guide §2.3: shuffle keys and metadata, not payloads)
    val candAll = assigned.join(probesDf,
        assigned("cid") === probesDf("cid") && $"vec_id" =!= $"query_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
      .groupBy($"query_id", $"vec_id")
      .agg(min($"prank").as("first_prank"), first($"cosine").as("cosine"))
      .localCheckpoint(true)
    // every sweep point in ONE pass: replicate each candidate to the
    // sweep values whose prefix contains it (row-local explode), rank
    // within (query, nprobe) in a single Window, and roll both
    // metrics up by nprobe — |sweep| windows + |sweep|·2 aggregates
    // collapse to 1 window + 2 aggregates over the same rows
    val expanded = candAll
      .withColumn("nprobe", explode(expr(
        s"filter(array(${probeSweep.mkString(", ")}), p -> p >= first_prank)")))
    val w = Window.partitionBy($"query_id", $"nprobe")
      .orderBy($"cosine".desc, $"vec_id")
    val nCand = expanded.groupBy($"nprobe").agg(count(lit(1)).as("n_candidates"))
    val nHit = expanded
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= Similarity.k)
      .select($"nprobe", $"query_id", $"vec_id".as("neighbor_id"))
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"nprobe").agg(count(lit(1)).as("n_hits"))
    // spine over the sweep values so a 0-candidate point (degenerate
    // corpus) still emits its row, exactly as the per-point branches
    // did
    probeSweep.toDF("nprobe")
      .join(broadcast(nCand), Seq("nprobe"), "left")
      .join(broadcast(nHit), Seq("nprobe"), "left")
      .crossJoin(broadcast(corpus))
      .select($"nprobe",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        // empty index: no searchable corpus → scan fraction
        // undefined (DuckDB's 0/0 reads NULL; match it)
        rnd(when($"n_corpus" > 0,
          coalesce($"n_candidates", lit(0L)).cast("double") /
            (lit(Similarity.nQueries.toLong) * $"n_corpus").cast("double")), 6)
          .as("scan_frac"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        rnd(coalesce($"n_hits", lit(0L)).cast("double") / lit(denomK), 6)
          .as("recall"))
      .orderBy($"nprobe")
  }

  /** Oracle: shared MATERIALIZED assignment/probe-ranking/truth CTEs
    * + one candidate/metric pair per sweep point. */
  def annIvfProbeSweepSql(glob: String): String = {
    val k = Similarity.k
    val nq = Similarity.nQueries
    val perP = probeSweep.map { p =>
      s"""cand$p AS MATERIALIZED (
         |  SELECT DISTINCT pr.query_id, a.vec_id AS neighbor_id
         |  FROM probesall pr JOIN assigned a ON a.cid = pr.cid
         |  WHERE pr.rn <= $p AND a.vec_id <> pr.query_id),
         |top$p AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT c.query_id, c.neighbor_id,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} DESC,
         |          c.neighbor_id) AS rank
         |    FROM cand$p c JOIN n qn ON qn.vec_id = c.query_id
         |                  JOIN n cn ON cn.vec_id = c.neighbor_id)
         |  WHERE rank <= $k),
         |m$p AS (
         |  SELECT $p AS nprobe,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand$p) AS n_candidates,
         |    ${rndSql(s"CAST((SELECT count(*) FROM cand$p) AS DOUBLE) / CAST($nq * (SELECT count(*) FROM assigned) AS DOUBLE)", 6)} AS scan_frac,
         |    (SELECT CAST(count(*) AS BIGINT) FROM top$p t
         |      JOIN truth USING (query_id, neighbor_id)) AS n_hits,
         |    ${rndSql(s"CAST((SELECT count(*) FROM top$p t JOIN truth USING (query_id, neighbor_id)) AS DOUBLE) / CAST(${nq * k} AS DOUBLE)", 6)} AS recall)""".stripMargin
    }.mkString(",\n")
    val metricUnion = probeSweep.map(p => s"SELECT * FROM m$p")
      .mkString("\n  UNION ALL ")
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |scoredc AS MATERIALIZED (
       |  SELECT n.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(n.v, cents.c) AS s
       |  FROM n, cents),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1),
       |probesall AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cid, rn FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc WHERE vec_id < $nq)
       |  WHERE rn <= ${probeSweep.max}),
       |tq AS MATERIALIZED (
       |  SELECT vec_id, v, nrm FROM n WHERE vec_id < $nq),
       |truth AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${rndSql("list_dot_product(q.v, c.v) / (q.nrm * c.nrm)", 6)} DESC,
       |          c.vec_id) AS rank
       |    FROM tq q JOIN n c ON c.vec_id <> q.vec_id)
       |  WHERE rank <= $k),
       |$perP
       |$metricUnion
       |ORDER BY nprobe""".stripMargin
  }

  // ---- incremental index maintenance (the 29d pattern on ANN) -----

  /** Continuous-ingest split: vectors with `vec_id % mod == rem`
    * arrive as the new shard; the rest are the established corpus
    * behind the persisted index (the [[Dedup.dedupIncremental]]
    * split applied to vectors). */
  val ivfShardMod = 5L
  val ivfShardRem = 4L
  val ivfIndexTable = "graft_ivf_idx"
  val ivfIndexBuckets = 16

  private def corpusVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vectors(s, dir).filter($"vec_id" % ivfShardMod =!= ivfShardRem)
  }

  /** Coarse quantizer trained on the CORPUS only — the centroids are
    * a versioned artifact of the established corpus; appends assign
    * against them without retraining (retrain = periodic index
    * REBUILD, a different operation). */
  def kmeansCorpus(s: SparkSession, dir: String): (Seq[Seq[Double]], DataFrame) =
    trainKmeans(s, corpusVectors(s, dir), "ivf_corpus_centroids",
      "ivf_corpus_assigned", dir)

  /** The persisted inverted file: corpus assignment written bucketed
    * (and sorted) on `cid`, so probe joins read it exchange-free. */
  def buildIvfIndex(s: SparkSession, dir: String): Unit = {
    val (_, assigned) = kmeansCorpus(s, dir)
    graft.sources.Sinks.writeBucketedOnce(dir, ivfIndexTable,
      Seq("cid"), ivfIndexBuckets)(assigned)
  }

  /** The append frame: each new-shard vector routed to its inverted
    * list by ROW-LOCAL argmin against the broadcast staged centroids
    * — a scan + project, ZERO exchanges (PlanSpec-asserted), no
    * retrain, no corpus re-read. At 100 TB this is the whole point:
    * a day's ingest extends the index at shard cost while the
    * corpus-sized inverted file sits untouched. */
  private[graft] def ivfAppendDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cents, _) = kmeansCorpus(s, dir)
    vectors(s, dir).filter($"vec_id" % ivfShardMod === ivfShardRem)
      .withColumn("cents", typedLit(cents))
      .withColumn("cid", cidExpr)
      .select($"vec_id", $"cid", $"v", $"nrm")
  }

  /** §2.5 — incremental IVF append: routes the new-vector shard into
    * the persisted corpus-trained index (bucketed append into
    * [[ivfIndexTable]] — new rows land in the same bucket layout, so
    * every probe join stays exchange-free over the grown table) and
    * returns the routed assignments read back FROM the index table.
    * SimilarityIvfSpec proves parity: the grown table is
    * row-identical to assigning the unioned corpus against the same
    * centroids in one batch. Oracle recomputes the argmin routing
    * from the staged corpus centroids. */
  def annIvfAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildIvfIndex(s, dir)
    graft.sources.Sinks.appendBucketedOnce(dir, ivfIndexTable,
      Seq("cid"), ivfIndexBuckets)(ivfAppendDelta(s, dir))
    s.table(ivfIndexTable)
      .filter($"vec_id" % ivfShardMod === ivfShardRem)
      .select($"vec_id", $"cid")
      .orderBy($"vec_id")
  }

  def annIvfAppendSql(glob: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE vec_id % $ivfShardMod = $ivfShardRem
       |    AND list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)) > 0),
       |scoredc AS (
       |  SELECT v.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(v.v, cents.c) AS s
       |  FROM v, cents)
       |SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |  FROM scoredc)
       |WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ---- index lifecycle: retraction + compaction (35m on vectors) --

  /** The retraction-path inverted file: the FULL assignment persisted
    * bucketed on cid. Its own table (not [[ivfIndexTable]], which is
    * the corpus/append split, nor [[ivfStreamTable]]) so the result
    * can never depend on whether the append or ingest rows ran first
    * in the same JVM. */
  val ivfRetractTable = "graft_ivf_idx_ret"
  /** The compacted inverted file: [[ivfRetractTable]] rewritten minus
    * tombstoned vectors, same bucket layout. */
  val ivfRetractCompactTable = "graft_ivf_idx_ret_cmp"

  /** The SAME takedown event as the text index
    * ([[HybridSearch.retractMod]]/[[HybridSearch.retractRem]]): a
    * right-to-be-forgotten request deletes the DOCUMENT, so its
    * embedding must leave the vector index in the same instant its
    * postings leave the text index — one tombstone set drives both
    * (the doc/vec id spaces coincide). */
  private[graft] def ivfTombstones(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vectors(s, dir)
      .filter($"vec_id" % HybridSearch.retractMod === HybridSearch.retractRem)
      .select($"vec_id")
  }

  private[graft] def buildIvfRetractIndex(s: SparkSession, dir: String): Unit = {
    val (_, assigned) = kmeans(s, dir)
    graft.sources.Sinks.writeBucketedOnce(dir, ivfRetractTable,
      Seq("cid"), ivfIndexBuckets)(assigned)
  }

  /** The tombstone-aware IVF probe over an arbitrary inverted-file
    * frame: the bounded tombstone set broadcasts into an anti-join
    * BEFORE candidate generation, so a deleted vector can neither be
    * returned nor serve as a query — the index behaves as if its rows
    * are gone while the corpus-sized inverted file sits untouched.
    * Centroids stay the build-time snapshot (deletions don't move the
    * quantizer until the periodic rebuild — the same staleness
    * contract as [[annIvfAppend]]'s). */
  private[graft] def ivfRetractProbe(s: SparkSession, dir: String,
                                     idx: DataFrame,
                                     tomb: DataFrame): DataFrame = {
    import s.implicits._
    val (cents, _) = kmeans(s, dir)
    val live = idx.join(broadcast(tomb), Seq("vec_id"), "left_anti")
    val probes = vectors(s, dir)
      .filter($"vec_id" < Similarity.nQueries &&
        $"vec_id" % HybridSearch.retractMod =!= HybridSearch.retractRem)
      .withColumn("cents", typedLit(cents))
      .withColumn("probes",
        expr(s"""transform(slice(array_sort(
                |  transform(sequence(0, ${nlist - 1}), i -> named_struct(
                |    's', element_at(transform(cents, c -> graft_dot(c, c) - CAST(2 AS DOUBLE) * graft_dot(v, c)), i + 1),
                |    'c', i))), 1, $nprobe), p -> p.c)""".stripMargin))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        explode($"probes").as("cid"))
      // bounded driver collect (≤ nQueries × nprobe rows) — the
      // annIvf idiom: broadcast shape + severs lineage between the
      // two vector scans (constraint-propagation hazard, see annIvf)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getInt(3)))
    val probesDf = broadcast(probes.toSeq.toDF("query_id", "qv", "qnrm", "cid"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    live.join(probesDf,
        live("cid") === probesDf("cid") && $"vec_id" =!= $"query_id")
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= Similarity.k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine")
  }

  /** §2.5 — vector-index RETRACTION: the [[HybridSearch.bm25Retract]]
    * deletion lifecycle applied to the persisted inverted file. A
    * takedown must take effect at PROBE time — at 10¹¹ vectors a
    * rebuild per deletion batch is a non-starter — so tombstoned
    * vec_ids anti-join out of the inverted-list scan and out of the
    * query set, while the index files stay untouched until
    * [[compactIvfRetractIndex]] makes the deletion physical.
    * SimilarityIvfSpec proves tombstone-probe ≡ compacted-probe and
    * row-set parity of the compacted table vs assigning the retained
    * corpus against the same snapshot centroids. */
  def annIvfRetract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildIvfRetractIndex(s, dir)
    ivfRetractProbe(s, dir, s.table(ivfRetractTable), ivfTombstones(s, dir))
      .orderBy($"query_id", $"rank")
  }

  /** Compaction: rewrite the inverted file minus tombstones into
    * [[ivfRetractCompactTable]] (same cid-bucketed layout, so probe
    * plans are unchanged and one anti-join cheaper). Run on
    * maintenance cadence; centroids still carry pre-deletion geometry
    * until the periodic retrain-rebuild. */
  private[graft] def compactIvfRetractIndex(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    buildIvfRetractIndex(s, dir)
    graft.sources.Sinks.writeBucketedOnce(dir, ivfRetractCompactTable,
        Seq("cid"), ivfIndexBuckets)(
      s.table(ivfRetractTable)
        .join(broadcast(ivfTombstones(s, dir)), Seq("vec_id"), "left_anti"))
  }

  /** Oracle: [[annIvfSql]]'s assignment/probe/re-rank chain over the
    * staged snapshot centroids, with tombstoned vectors excluded both
    * as candidates and as queries — exactly the probe's semantics. */
  def annIvfRetractSql(glob: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |scoredc AS (
       |  SELECT n.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(n.v, cents.c) AS s
       |  FROM n, cents),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1
       |    AND vec_id % ${HybridSearch.retractMod} <> ${HybridSearch.retractRem}),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc
       |    WHERE vec_id < ${Similarity.nQueries}
       |      AND vec_id % ${HybridSearch.retractMod} <> ${HybridSearch.retractRem})
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} AS cosine
       |  FROM cand JOIN n qn ON qn.vec_id = cand.query_id
       |            JOIN n cn ON cn.vec_id = cand.neighbor_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine
       |FROM scored
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  // ---- streaming ingest into the inverted file (29l ∘ 31s) --------

  /** The STREAM-ingest inverted file. Its own table (not
    * [[ivfIndexTable]]): the batch append row and the streaming gate
    * both run in one Verify/Bench JVM, and sharing a table would
    * double-insert the shard. */
  val ivfStreamTable = "graft_ivf_idx_stream"

  /** Rebuild the stream-ingest inverted file from the staged
    * corpus-trained assignment — an UNCONDITIONAL overwrite (unlike
    * [[graft.sources.Sinks.writeBucketedOnce]]) so every run of the
    * ingest gate is self-contained: re-running the stream (Verify
    * then both Bench passes) rebuilds the base and appends the shard
    * exactly once, never twice. Returns the staged corpus centroids
    * for the stream's row-local router. */
  private[graft] def rebuildIvfStreamBase(
      s: SparkSession, dir: String): Seq[Seq[Double]] = {
    val (cents, assigned) = kmeansCorpus(s, dir)
    graft.sources.Sinks.writeBucketed(assigned, ivfStreamTable,
      Seq("cid"), ivfIndexBuckets)
    cents
  }

  /** Per-cid occupancy of the GROWN stream-ingest inverted file —
    * what the gate's consumer reads after a micro-batch lands: how
    * the day's arrivals distributed over the corpus-trained lists
    * (a cid whose n_new outruns its n_corpus share flags drift the
    * quantizer was never trained on). One partial-agged pass over
    * the bucketed table. */
  private[graft] def ivfStreamOccupancy(s: SparkSession): DataFrame = {
    import s.implicits._
    s.table(ivfStreamTable)
      .groupBy($"cid")
      .agg(
        sum(when($"vec_id" % ivfShardMod =!= ivfShardRem, 1L).otherwise(0L))
          .as("n_corpus"),
        sum(when($"vec_id" % ivfShardMod === ivfShardRem, 1L).otherwise(0L))
          .as("n_new"),
        count(lit(1)).as("n_total"))
      .orderBy($"cid")
  }

  /** Oracle for the streaming ingest gate: the grown table's per-cid
    * occupancy equals one-batch argmin assignment of the UNION
    * (corpus + shard) against the staged corpus centroids, split by
    * the shard predicate. */
  def streamIvfIngestSql(glob: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)) > 0),
       |scoredc AS (
       |  SELECT v.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(v.v, cents.c) AS s
       |  FROM v, cents),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1)
       |SELECT cid,
       |  CAST(sum(CASE WHEN vec_id % $ivfShardMod <> $ivfShardRem THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus,
       |  CAST(sum(CASE WHEN vec_id % $ivfShardMod = $ivfShardRem THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |  count(*) AS n_total
       |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin

  /** §2.5 — label PURITY per IVF cluster: the clustering-quality eval
    * a vector-index owner reads next to [[ivfClusterSizes]] — sizes
    * say the lists are balanced, purity says the geometry is real
    * (a cluster whose majority label barely clears chance means the
    * quantizer is slicing noise, and IVF recall will pay for it).
    * Majority taken with a total tie-break (count desc, label asc) so
    * both engines pick the same winner. Runs on the staged assignment
    * artifact: one (cid, label) partial agg, a per-cid top-1 on the
    * bounded cell frame, purity = exact-integer ratio quantized. */
  def embedClusterPurity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Agg.rndSql
    val (_, assigned) = kmeans(s, dir)
    val cells = assigned
      .join(graft.sources.Tables.embeddings(s, dir).select($"vec_id", $"label"), "vec_id")
      .groupBy($"cid", $"label").agg(count(lit(1)).as("c"))
    val tot = cells.groupBy($"cid").agg(sum($"c").cast("long").as("n_vectors"))
    cells
      .withColumn("rn", row_number().over(
        Window.partitionBy($"cid").orderBy($"c".desc, $"label".asc)))
      .filter($"rn" === 1)
      .select($"cid", $"label".as("top_label"), $"c".as("n_top"))
      .join(tot, "cid")
      .select($"cid", $"n_vectors", $"top_label", $"n_top",
        expr(rndSql("CAST(n_top AS DOUBLE) / CAST(n_vectors AS DOUBLE)", 6)).as("purity"))
      .orderBy($"cid")
  }

  def embedClusterPuritySql(glob: String): String =
    s"""WITH cents AS (SELECT cid, c FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)) > 0),
       |scoredc AS (
       |  SELECT v.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(v.v, cents.c) AS s
       |  FROM v, cents),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1),
       |cells AS MATERIALIZED (
       |  SELECT a.cid, e.label, count(*) AS c
       |  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
       |  GROUP BY 1, 2),
       |tot AS (SELECT cid, CAST(sum(c) AS BIGINT) AS n_vectors FROM cells GROUP BY 1),
       |top AS (
       |  SELECT cid, label AS top_label, c AS n_top FROM (
       |    SELECT cid, label, c,
       |      row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn
       |    FROM cells) WHERE rn = 1)
       |SELECT t.cid, n_vectors, top_label, CAST(n_top AS BIGINT) AS n_top,
       |  ${graft.functions.Agg.rndSql("CAST(n_top AS DOUBLE) / CAST(n_vectors AS DOUBLE)", 6)} AS purity
       |FROM top t JOIN tot USING (cid)
       |ORDER BY cid""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf"           -> (annIvf _),
    "ann_filtered"      -> (annFiltered _),
    "ann_ivf_probe_sweep" -> (annIvfProbeSweep _),
    "ivf_cluster_sizes" -> (ivfClusterSizes _),
    "embed_cluster_purity" -> (embedClusterPurity _),
    "ann_ivf_append"    -> (annIvfAppend _),
    "ann_ivf_retract"   -> (annIvfRetract _)
  )

  def oracles: Map[String, String] =
    (graft.sources.OracleStage.globOf("ivf_centroids").toSeq.flatMap(g => Seq(
      "ann_ivf"           -> annIvfSql(g),
      "ann_filtered"      -> annFilteredSql(g),
      "ann_ivf_probe_sweep" -> annIvfProbeSweepSql(g),
      "ivf_cluster_sizes" -> ivfClusterSizesSql(g),
      "embed_cluster_purity" -> embedClusterPuritySql(g),
      "ann_ivf_retract"   -> annIvfRetractSql(g))) ++
     graft.sources.OracleStage.globOf("ivf_corpus_centroids").toSeq.map(g =>
      "ann_ivf_append"    -> annIvfAppendSql(g))).toMap
}
