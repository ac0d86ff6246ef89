package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg.rndSql
import graft.functions.{Loop, VectorFns}

/** §2.5 — NN-descent k-NN GRAPH construction: every corpus vector's
  * approximate top-k cosine neighbors, the graph-ANN tier next to
  * IVF/PQ/LSH/binary (and the substrate HNSW-style indexes and
  * graph-based semantic dedup build on). Wei Dong et al.'s NN-descent
  * observation: "a neighbor of a neighbor is likely a neighbor" —
  * start from cheap candidates and iterate local joins until the
  * graph converges.
  *
  * Scale layout — every stage is EDGE-bounded (n·k rows), never
  * corpus-quadratic:
  *  - Init: within each LSH bucket, each vector links to the next
  *    [[initFanout]] ids (a per-bucket window `lead`, row-bounded) —
  *    NOT a bucket self-join, whose pair count is quadratic in the
  *    bucket size; similar vectors share buckets, so the seed edges
  *    already point roughly the right way.
  *  - Round: undirect the current graph, propose co-neighbor pairs
  *    through each hub (≤ (2k)² per hub), score the proposals with
  *    two hash joins against the vector table, fold into the pool,
  *    re-take top-k. Shuffles carry (src, dst, cosine) triples only;
  *    vectors never ride a round's shuffle beyond the scoring joins.
  *  - The accumulated scored pool stages as the oracle artifact —
  *    top-k selection over it is plain relational work DuckDB
  *    replays; graph quality (recall vs exact, round-over-round
  *    convergence) is SimilarityKnnSpec's job, the
  *    trajectory-can't-be-SQL split used by the whole hash family.
  */
object SimilarityKnn {

  /** Neighbors kept per node (reported graph degree). */
  val knnK = 5
  /** NN-descent refinement rounds. */
  val knnRounds = 3
  /** Per-bucket forward links seeding the graph. */
  val initFanout = 3
  /** INTERNAL degree during descent — the standard NN-descent trick:
    * propagate through a denser working graph than you report
    * (near-random corpora have weak neighbor-of-neighbor
    * transitivity at degree 5; degree 10 propagation recovers it),
    * then emit the top-[[knnK]] of the final pool. */
  val searchK = 10

  private def cosine(qv: String, v: String, qn: String, n: String) =
    expr(rndSql(s"${VectorFns.dot(qv, v)} / ($qn * $n)", 6))

  /** Score (src, dst) id pairs with exact quantized cosine. */
  private def score(pairs: DataFrame, v: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs
      .join(v.select($"vec_id".as("src"), $"v".as("sv"), $"nrm".as("snrm")), "src")
      .join(v.select($"vec_id".as("dst"), $"v".as("dv"), $"nrm".as("dnrm")), "dst")
      .select($"src", $"dst", cosine("sv", "dv", "snrm", "dnrm").as("cosine"))
  }

  private def topK(pool: DataFrame, k: Int = knnK): DataFrame = {
    val s = pool.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst")
    pool.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
  }

  /** The accumulated candidate pool (src, dst, cosine — every pair
    * the descent ever scored), staged once per dataset. */
  private[graft] def knnCandidatePool(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "knn_candidates", dir)(
      poolOf(s, dir, knnRounds))

  /** The descent with an explicit round count (spec seam: rounds = 0
    * exposes the seed-only graph for convergence comparison).
    * `corpusOnly` restricts the descent to the established corpus
    * (the [[SimilarityIvf.ivfShardMod]] continuous-ingest split) —
    * the training set of the append path's persisted edge artifact. */
  private[graft] def poolOf(s: SparkSession, dir: String, rounds: Int,
                            corpusOnly: Boolean = false): DataFrame =
    {
      import s.implicits._
      val pred =
        if (corpusOnly)
          col("vec_id") % SimilarityIvf.ivfShardMod =!= SimilarityIvf.ivfShardRem
        else lit(true)
      val v = Similarity.nonDegenerate(Similarity.vectors(s, dir))
        .filter(pred).localCheckpoint(true)
      val b = Similarity.lshBuckets(s, dir).select($"vec_id", $"tbl", $"bucket")
        .filter(pred)
      val bw = Window.partitionBy($"tbl", $"bucket").orderBy($"vec_id")
      // lead-linked seeds: vec -> next j ids in its bucket
      val seeds = (1 to initFanout).map { j =>
        b.withColumn("dst", lead($"vec_id", j).over(bw))
          .filter($"dst".isNotNull)
          .select($"vec_id".as("src"), $"dst")
      }.reduce(_ unionByName _)
      val seedBoth = seeds.union(seeds.select($"dst".as("src"), $"src".as("dst")))
        .filter($"src" =!= $"dst").distinct()
      Loop.fixed(score(seedBoth, v).localCheckpoint(true), rounds) { (pool, _) =>
        val g = topK(pool, searchK).select($"src", $"dst")
        val u = g.union(g.select($"dst".as("src"), $"src".as("dst"))).distinct()
        val prop = u.as("x").join(u.as("y"), "src")
          .filter($"x.dst" < $"y.dst")
          .select($"x.dst".as("src"), $"y.dst".as("dst"))
          .distinct()
          // only pairs the pool hasn't scored yet pay the scoring joins
          .join(pool.select($"src", $"dst"), Seq("src", "dst"), "left_anti")
        val scored = score(prop, v)
        val both = scored
          .union(scored.select($"dst".as("src"), $"src".as("dst"), $"cosine"))
        pool.union(both).dropDuplicates("src", "dst")
      }
    }

  /** §2.5 — the k-NN graph: approximate top-[[knnK]] neighbors for
    * EVERY corpus vector (not just the query set), from the staged
    * NN-descent candidate pool. */
  def annKnnGraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    topK(knnCandidatePool(s, dir))
      .select($"src".as("vec_id"), $"rank", $"dst".as("neighbor_id"), $"cosine")
      .orderBy($"vec_id", $"rank")
  }

  /** Oracle: top-k per node re-derived from the staged pool. */
  def annKnnGraphSql(glob: String): String =
    s"""SELECT vec_id, rank, neighbor_id, cosine FROM (
       |  SELECT src AS vec_id,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank,
       |    dst AS neighbor_id, cosine
       |  FROM '$glob')
       |WHERE rank <= $knnK
       |ORDER BY vec_id, rank""".stripMargin

  /** Beam width of the graph search (candidates expanded per round). */
  val beamWidth = 8
  /** Fixed descent rounds — the bounded-iteration contract of every
    * graph loop here (Graph.scala's BFS shape): each round costs one
    * frontier expansion, never "until converged" on a skewed graph. */
  val searchRounds = 4
  /** Entry points of the GLOBAL-entry fallback seam: the [[Similarity
    * .knnEvalHashSql]]-ranked lowest ids — a deterministic pseudo-
    * random sample, the same device as the kNN-eval query sample.
    * The production seed rule is centroid-seeded (see
    * [[graphSearchOf]]); this variant exists so the multi-cluster
    * spec can demonstrate WHY: 4 shared entries can all land in one
    * region of a clustered corpus and the bounded beam never escapes
    * it — flat greedy search's known failure, the one HNSW's upper
    * layers (and our IVF coarse layer) exist to fix. */
  val entryCount = 4

  /** The reported graph re-cut to the denser SEARCH degree
    * ([[searchK]]) — the adjacency the descent walks. Staged via the
    * same candidate pool, so search and graph share one artifact.
    * The top-k cut itself is memoized per (dataset, session) as an
    * eager checkpoint: the pool is a static staged artifact, and
    * before the memo all four graph-tier queries re-paid the
    * pool-wide window per invocation (plus a redundant
    * localCheckpoint at every call site). */
  private def searchEdges(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo("knn.search_edges", dir, s)(
      topK(knnCandidatePool(s, dir), searchK)
        .select(col("src"), col("dst")).localCheckpoint(true))

  /** §2.5 — GRAPH-ANN SEARCH: greedy beam descent over the staged
    * NN-descent graph — the query path of an HNSW-class index (flat
    * variant: one layer, fixed entry points), completing the graph
    * tier that [[annKnnGraph]] builds: the graph answers "neighbors
    * of a corpus member", this answers "neighbors of a QUERY" by
    * walking edges instead of scanning the corpus.
    *
    * Per round: the per-query top-[[beamWidth]] of everything scored
    * so far expands one hop through the edge table, unseen candidates
    * are scored against the query vector, and the beam re-forms —
    * [[searchRounds]] bounded rounds, then top-[[Similarity.k]] of
    * the visited set (self excluded).
    *
    * Scale layout: the frontier is queries×beam rows and BROADCASTS
    * into the edge and vector tables, so the corpus and the n·k edge
    * artifact are only ever scanned, never shuffled — per-round cost
    * is |queries|·beam·degree scored rows. A production run with a
    * large query batch partitions the queries and runs batches
    * independently (queries never interact); the corpus-side plan is
    * unchanged. The descent runs through [[graft.functions.Loop.fixed]]
    * like [[poolOf]]: visited sets are cut per round.
    *
    * SEED RULE (the IVF coarse layer): each query's beam starts from
    * the LEAD MEMBER (lowest vec_id) of each of its [[SimilarityIvf
    * .nprobe]] closest inverted lists — the staged IVF centroids
    * reused as graph entry points, the flat-graph analogue of HNSW's
    * upper layers. With global shared entries, every seed can land in
    * one region of a clustered corpus and the bounded beam never
    * reaches another (within-cluster kNN edges don't cross
    * near-orthogonal clusters); per-query centroid seeds start the
    * descent in the right region by construction. All seed arithmetic
    * is driver-bounded (nQueries × nlist scores) + one nlist-row
    * rollup — the corpus-side plan is unchanged.
    *
    * The result is NOT staged as a per-dataset artifact (the §5 rule
    * covers expensive shared INTERMEDIATES, not a query's final
    * answer — staging it made the bench time a parquet read): every
    * standalone invocation computes the descent LIVE (so each bench
    * pass times the real multi-round search) and refreshes a session
    * memo that ONLY [[annRecallReport]] reads for its tier
    * re-invocation — the report reuses the already-computed frame
    * without ever changing what the standalone query costs. */
  def annGraphSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.Memo.refresh("ann_graph_search", dir, s)(
        graphSearchOf(s, dir, centroidSeeded = true))
      .orderBy($"query_id", $"rank")
  }

  /** |visited| of the centroid-seeded descent — the tier's
    * candidates-scanned count, recorded by the same run the report
    * reuses. */
  private val visitedCount = "knn.graph_search_visited"

  /** The descent's scored-candidate count for the report: the tier's
    * result is read through [[graft.sources.Memo.cached]] first — a
    * hit means a centroid-seeded descent ran this session, a miss
    * runs one — and every such descent records its count. */
  private[graft] def graphSearchCandidates(s: SparkSession, dir: String): Long = {
    graft.sources.Memo.cached("ann_graph_search", dir, s)(annGraphSearch(s, dir))
    graft.sources.Memo[Long](visitedCount, dir, s)(
      throw new IllegalStateException(s"no graph-search descent recorded for $dir"))
  }

  /** The global-entry variant, spec seam only (see [[entryCount]]). */
  private[graft] def graphSearchGlobalEntry(s: SparkSession, dir: String): DataFrame =
    graphSearchOf(s, dir, centroidSeeded = false)

  /** The bounded greedy beam descent over an arbitrary (vectors,
    * edges, query, seed) quadruple — the shared core of the
    * unfiltered search, the filter-aware search and the graph-append
    * insert path, so the three can never disagree on beam semantics.
    * Returns the full visited set (query_id, node, cosine): every
    * row was cosine-scored exactly once (expansion anti-joins the
    * visited set). Frontiers are queries×beam rows and BROADCAST into
    * the edge and vector tables — corpus and edge artifact are only
    * ever scanned, never shuffled. */
  private def beamDescent(v: DataFrame, edges: DataFrame,
                          q: DataFrame, entryPairs: DataFrame): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val cv = v.select($"vec_id".as("node"), $"v".as("nv"), $"nrm".as("nn"))
    def scoreCands(cand: DataFrame): DataFrame =
      cv.join(broadcast(cand), "node")
        .join(broadcast(q), "query_id")
        .select($"query_id", $"node",
          cosine("qv", "nv", "qn", "nn").as("cosine"))
    val bw = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"node")
    Loop.fixed(scoreCands(entryPairs).localCheckpoint(true), searchRounds) { (visited, _) =>
      val frontier = visited.withColumn("rk", row_number().over(bw))
        .filter($"rk" <= beamWidth).select($"query_id", $"node")
      val cand = edges.join(broadcast(frontier), $"src" === $"node")
        .select($"query_id", $"dst".as("node")).distinct()
        .join(visited.select($"query_id", $"node"),
          Seq("query_id", "node"), "left_anti")
      visited.union(scoreCands(cand))
    }
  }

  private def graphSearchOf(s: SparkSession, dir: String,
                            centroidSeeded: Boolean): DataFrame = {
    import s.implicits._
    val v = Similarity.vectorsCkpt(s, dir)
    val edges = searchEdges(s, dir)
    val q = v.filter($"vec_id" < Similarity.nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val entryPairs: DataFrame =
      if (centroidSeeded) {
        val (cents, assigned) = SimilarityIvf.kmeans(s, dir)
        // driver-bounded probe lists: nQueries × nlist scores with the
        // shared sequential c·c − 2·q·c fold (identical on driver,
        // executor and DuckDB — the ivfPqScored contract)
        val qvecs = v.filter($"vec_id" < Similarity.nQueries)
          .select($"vec_id", $"v").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        def centScore(qv: Seq[Double], c: Seq[Double]): Double = {
          var cc = 0.0; var qc = 0.0; var i = 0
          while (i < c.length) { cc += c(i) * c(i); qc += qv(i) * c(i); i += 1 }
          cc - 2.0 * qc
        }
        val probes = qvecs.toSeq.flatMap { case (qid, qv) =>
          cents.zipWithIndex.map { case (c, i) => (centScore(qv, c), i) }
            .sorted.take(SimilarityIvf.nprobe).map { case (_, cid) => (qid, cid) }
        }
        // lead member per inverted list: one nlist-row rollup
        val leads = assigned.groupBy($"cid").agg(min($"vec_id").as("node"))
        leads.join(broadcast(probes.toDF("query_id", "cid")), "cid")
          .select($"query_id", $"node")
      } else {
        val entry = v.withColumn("h", expr(Similarity.knnEvalHashSql))
          .orderBy($"h", $"vec_id").limit(entryCount)
          .select($"vec_id".as("node"))
        q.select($"query_id").crossJoin(entry)
      }
    val bw = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"node")
    val descent = beamDescent(v, edges, q, entryPairs)
    // candidates-scanned accounting for the recall report's cost
    // column: every visited (query, node) was cosine-scored exactly
    // once (the anti-join dedups expansions). Memoized only for the
    // production (centroid-seeded) path the report ranks; the run that
    // counts reads the descent twice, so it cuts it first.
    val visited =
      if (centroidSeeded && graft.sources.Memo.get[Long](visitedCount, dir, s).isEmpty) {
        val cut = descent.localCheckpoint(true)
        graft.sources.Memo(visitedCount, dir, s)(cut.count())
        cut
      } else descent
    visited.filter($"node" =!= $"query_id")
      .withColumn("rank", row_number().over(bw).cast("long"))
      .filter($"rank" <= Similarity.k)
      .select($"query_id", $"rank", $"node".as("neighbor_id"), $"cosine")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle: the descent unrolled round-by-round as CTEs over the
    * staged pool (the pagerank-family device — the loop is
    * deterministic, so fixed rounds are expressible as nested
    * relational algebra; DuckDB replays beam, expansion, anti-join
    * and re-beam exactly). */
  def annGraphSearchSql(glob: String, centGlob: String): String =
    s"""WITH ${gsDescentCtes(glob, centGlob)}
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, node) AS rank,
       |    node AS neighbor_id, cosine
       |  FROM vis$searchRounds WHERE node <> query_id)
       |WHERE rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  /** The tier's candidates-scanned count replayed in SQL: every
    * visited (query, node) row was scored exactly once. Self-contained
    * (embeds the full descent CTE chain) so it drops into the report's
    * counts union as a scalar subquery. */
  def gsCandidatesSql(glob: String, centGlob: String): String =
    s"""WITH ${gsDescentCtes(glob, centGlob)}
       |SELECT CAST(count(*) AS BIGINT) FROM vis$searchRounds""".stripMargin

  /** The full descent CTE chain (seeding + rounds), shared by the
    * result oracle and the candidate-count oracle so the two can
    * never diverge. */
  private def gsDescentCtes(glob: String, centGlob: String): String =
    gsDescentCtesOf(glob, centGlob,
      queryPred = s"vec_id < ${Similarity.nQueries}",
      assignedPred = "TRUE",
      leadsCte = "leads AS (SELECT cid, min(vec_id) AS node FROM assigned GROUP BY cid)")

  /** Parameterized form: `queryPred` selects the query set (both the
    * q CTE and the probe lists), `assignedPred` restricts which
    * vectors the inverted-list assignment covers (corpus-only for the
    * append path), `leadsCte` supplies the per-list entry-point rule
    * (the filtered variant seeds from slice members only). */
  private def gsDescentCtesOf(glob: String, centGlob: String,
      queryPred: String, assignedPred: String, leadsCte: String): String = {
    val cos = rndSql("list_dot_product(q.qv, c.v) / (q.qn * c.nrm)", 6)
    val rounds = (1 to searchRounds).map { r =>
      s"""f${r - 1} AS (
         |  SELECT query_id, node FROM (
         |    SELECT query_id, node,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, node) AS rk
         |    FROM vis${r - 1}) WHERE rk <= $beamWidth),
         |x$r AS (
         |  SELECT DISTINCT f.query_id, e.dst AS node
         |  FROM f${r - 1} f JOIN e ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${r - 1} w
         |    WHERE w.query_id = f.query_id AND w.node = e.dst)),
         |vis$r AS (
         |  SELECT * FROM vis${r - 1}
         |  UNION ALL
         |  SELECT x.query_id, x.node, $cos AS cosine
         |  FROM x$r x
         |  JOIN n c ON c.vec_id = x.node
         |  JOIN q ON q.query_id = x.query_id)""".stripMargin
    }.mkString(",\n")
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
       |      WHERE $queryPred),
       |e AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
       |    FROM '$glob') WHERE rk <= $searchK),
       |cents AS (SELECT cid, c FROM read_parquet('$centGlob')),
       |iscored AS (
       |  SELECT n.vec_id, cents.cid,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(n.v, cents.c) AS s
       |  FROM n, cents),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM iscored WHERE $assignedPred)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM iscored WHERE $queryPred)
       |  WHERE rn <= ${SimilarityIvf.nprobe}),
       |$leadsCte,
       |vis0 AS (
       |  SELECT p.query_id, l.node, $cos AS cosine
       |  FROM probes p JOIN leads l USING (cid)
       |  JOIN n c ON c.vec_id = l.node
       |  JOIN q ON q.query_id = p.query_id),
       |$rounds""".stripMargin
  }

  // ---- filter-aware graph search (the ACORN shape) -----------------

  /** §2.5 — METADATA-FILTERED graph-ANN: the [[SimilarityIvf
    * .annFiltered]] predicate carried into the beam descent, so the
    * recall report's best tier stops being unfiltered-only. Mechanics
    * (the ACORN insight, adapted to the flat graph):
    *  - SEEDS are in-slice: each query's probed inverted lists
    *    contribute their lowest-id member that PASSES the predicate —
    *    the descent starts inside the slice region by construction.
    *  - TRAVERSAL stays unrestricted: the beam ranks over everything
    *    scored, passing THROUGH non-matching hubs — a selective
    *    predicate makes the filtered subgraph disconnected, and a
    *    beam confined to survivors would strand (the reason ACORN
    *    widens expansion rather than pruning the walk).
    *  - ADMISSION filters: only visited nodes passing the predicate
    *    can be returned.
    *  - A per-query STARVED fallback re-ranks the whole filtered
    *    slice brute-force when the walk surfaced fewer than k
    *    survivors (bounded: selectivity × corpus, only starved
    *    queries pay) — the [[SimilarityIvf.annFilteredOn]] contract,
    *    with the fallback decision an emitted, hash-checked column. */
  def annGraphFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    annGraphFilteredOn(s, dir,
      graft.sources.Tables.embeddings(s, dir)
        .filter($"label" === SimilarityIvf.filterLabel).select($"vec_id"))
  }

  private[graft] def annGraphFilteredOn(s: SparkSession, dir: String,
                                        keep: DataFrame): DataFrame =
    annGraphFilteredCore(s, dir, keep, lit(true))

  /** The filtered-descent core with an extra QUERY predicate seam:
    * [[annGraphFilteredOn]] keeps every query, [[annGraphRetract]]
    * removes tombstoned ones (a deleted vector can't query). */
  private def annGraphFilteredCore(s: SparkSession, dir: String,
                                   keep: DataFrame,
                                   qPred: Column): DataFrame = {
    import s.implicits._
    val v = Similarity.vectorsCkpt(s, dir)
    val edges = searchEdges(s, dir)
    val q = v.filter($"vec_id" < Similarity.nQueries).filter(qPred)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val (cents, assigned) = SimilarityIvf.kmeans(s, dir)
    val probes = SimilarityIvf.probePairsOf(
      v.filter($"vec_id" < Similarity.nQueries).filter(qPred)
        .select($"vec_id", $"v"), cents)
    // in-slice entry points: lowest-id PASSING member per probed list
    val fleads = assigned.join(keep, "vec_id")
      .groupBy($"cid").agg(min($"vec_id").as("node"))
    val entryPairs = fleads.join(broadcast(probes), "cid")
      .select($"query_id", $"node")
    // cut although read once: joined to the slice uncut, the descent
    // planned 59 warm jobs (61 for the retraction) against 58 cut
    val visited = beamDescent(v, edges, q, entryPairs).localCheckpoint(true)
    val surv = visited
      .join(keep.select($"vec_id".as("node")), "node")
      .filter($"node" =!= $"query_id")
      .localCheckpoint(true)
    // bounded partial agg: ≤ nQueries rows reach the driver — ONE
    // collect (query set left-joined to its survivor counts) instead
    // of two separate driver actions
    val fbIds = q.select($"query_id")
      .join(surv.groupBy($"query_id").agg(count(lit(1)).as("n")),
        Seq("query_id"), "left")
      .collect()
      .collect { case r if r.isNullAt(1) || r.getLong(1) < Similarity.k =>
        r.getLong(0) }
      .toSeq
    val okPart = surv.filter(!$"query_id".isin(fbIds: _*))
      .withColumn("fallback", lit(false))
    val fbQ = q.filter($"query_id".isin(fbIds: _*))
    val fbPart = v.join(keep, "vec_id")
      .select($"vec_id".as("node"), $"v".as("nv"), $"nrm".as("nn"))
      .crossJoin(broadcast(fbQ))
      .filter($"node" =!= $"query_id")
      .select($"query_id", $"node",
        cosine("qv", "nv", "qn", "nn").as("cosine"))
      .withColumn("fallback", lit(true))
    val bw = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"node")
    okPart.unionByName(fbPart)
      .withColumn("rank", row_number().over(bw).cast("long"))
      .filter($"rank" <= Similarity.k)
      .select($"query_id", $"rank", $"node".as("neighbor_id"),
        $"cosine", $"fallback")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle: the descent CTEs with in-slice leads, then the survivor
    * admission, the starved-query decision and both branches. */
  def annGraphFilteredSql(glob: String, centGlob: String): String = {
    val leads =
      s"""leads AS (
         |  SELECT a.cid, min(a.vec_id) AS node
         |  FROM assigned a JOIN embeddings em ON em.vec_id = a.vec_id
         |  WHERE em.label = ${SimilarityIvf.filterLabel}
         |  GROUP BY a.cid)""".stripMargin
    annGraphFilteredSqlOf(glob, centGlob,
      keepBody = s"SELECT vec_id FROM embeddings WHERE label = ${SimilarityIvf.filterLabel}",
      queryPred = s"vec_id < ${Similarity.nQueries}",
      leadsCte = leads)
  }

  /** Parameterized filtered-descent oracle (shared with the
    * retraction row): `keepBody` defines the admission/fallback
    * slice, `queryPred` the query set, `leadsCte` the per-list
    * entry-point rule. */
  private def annGraphFilteredSqlOf(glob: String, centGlob: String,
      keepBody: String, queryPred: String, leadsCte: String): String = {
    val cos = rndSql("list_dot_product(q.qv, c.v) / (q.qn * c.nrm)", 6)
    s"""WITH ${gsDescentCtesOf(glob, centGlob,
           queryPred = queryPred,
           assignedPred = "TRUE", leadsCte = leadsCte)},
       |keepset AS (
       |  $keepBody),
       |surv AS (
       |  SELECT w.query_id, w.node, w.cosine
       |  FROM vis$searchRounds w JOIN keepset k ON k.vec_id = w.node
       |  WHERE w.node <> w.query_id),
       |cnts AS (SELECT query_id, count(*) AS ns FROM surv GROUP BY 1),
       |fbq AS (
       |  SELECT q.query_id, coalesce(c2.ns, 0) < ${Similarity.k} AS fb
       |  FROM q LEFT JOIN cnts c2 ON c2.query_id = q.query_id),
       |cand AS (
       |  SELECT s2.query_id, s2.node, s2.cosine, FALSE AS fallback
       |  FROM surv s2 JOIN fbq ON fbq.query_id = s2.query_id
       |  WHERE NOT fbq.fb
       |  UNION ALL
       |  SELECT f.query_id, c.vec_id AS node, $cos AS cosine, TRUE
       |  FROM fbq f
       |  JOIN q ON q.query_id = f.query_id
       |  JOIN n c ON c.vec_id <> f.query_id
       |  JOIN keepset k3 ON k3.vec_id = c.vec_id
       |  WHERE f.fb)
       |SELECT query_id, rank, node AS neighbor_id, cosine, fallback FROM (
       |  SELECT query_id, node, cosine, fallback,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, node) AS rank
       |  FROM cand)
       |WHERE rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- index lifecycle: retraction + compaction (35m, graph tier) --

  /** The compacted search graph: the staged NN-descent edges
    * rewritten minus tombstoned nodes with HNSW delete-repair
    * relinking, bucketed on src. */
  val knnEdgesRetCompactTable = "graft_knn_edges_ret_cmp"

  private def graphTomb(c: Column): Column =
    c % HybridSearch.retractMod === HybridSearch.retractRem

  /** §2.5 — graph-index RETRACTION, completing the deletion lifecycle
    * across all four persisted retrieval tiers (BM25 postings, IVF
    * inverted file, MinHash bands, kNN edges — one takedown event
    * drives them all). The HNSW delete contract: tombstoned nodes
    * remain traversal WAYPOINTS (deleting a hub's routing role
    * mid-flight would strand the beam — the same reason ACORN keeps
    * the walk unrestricted) but can never be admitted to results or
    * issue queries; seeds start from each probed list's lowest LIVE
    * member; the starved fallback re-ranks the live slice. Physical
    * deletion happens at [[compactKnnEdges]] time, where a live node
    * that pointed at a deleted one inherits the deleted node's own
    * live neighbors as relink candidates (the HNSW repair rule) —
    * until then the corpus-sized edge artifact sits untouched.
    * SimilarityKnnSpec pins deletion semantics, compaction
    * well-formedness, and that relinking actually re-routes around
    * deleted hubs. */
  def annGraphRetract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val live = graft.sources.Tables.embeddings(s, dir)
      .filter(!graphTomb($"vec_id")).select($"vec_id")
    annGraphFilteredCore(s, dir, live, !graphTomb(col("vec_id")))
  }

  /** Compaction with HNSW delete-repair: drop tombstoned sources,
    * replace each live→deleted edge by candidate edges to the deleted
    * node's live neighbors, exact-rescore, keep top-[[searchK]] per
    * source — so a region whose hub died stays reachable through the
    * inherited links. One self-join of the n·k edge artifact on the
    * (small) tombstoned-target slice; nothing corpus-quadratic. */
  private[graft] def compactKnnEdges(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val v = Similarity.vectorsCkpt(s, dir)
    val edges = searchEdges(s, dir)
    val liveSrc = edges.filter(!graphTomb($"src"))
    val direct = liveSrc.filter(!graphTomb($"dst")).select($"src", $"dst")
    val relink = liveSrc.filter(graphTomb($"dst"))
      .select($"src", $"dst".as("t"))
      .join(edges.filter(!graphTomb($"dst"))
        .select($"src".as("t"), $"dst"), "t")
      .filter($"dst" =!= $"src")
      .select($"src", $"dst")
    graft.sources.Sinks.writeBucketedOnce(dir, knnEdgesRetCompactTable,
        Seq("src"), knnEdgesBuckets)(
      topK(score(direct.union(relink).distinct(), v), searchK)
        .select($"src", $"dst", $"cosine"))
  }

  /** Oracle: the filtered-descent chain with the tombstone predicate
    * as the slice — live leads, live admission, live queries, live
    * fallback. */
  def annGraphRetractSql(glob: String, centGlob: String): String = {
    val (mod, rem) = (HybridSearch.retractMod, HybridSearch.retractRem)
    annGraphFilteredSqlOf(glob, centGlob,
      keepBody = s"SELECT vec_id FROM embeddings WHERE vec_id % $mod <> $rem",
      queryPred = s"vec_id < ${Similarity.nQueries} AND vec_id % $mod <> $rem",
      leadsCte = s"""leads AS (
                    |  SELECT a.cid, min(a.vec_id) AS node
                    |  FROM assigned a
                    |  WHERE a.vec_id % $mod <> $rem
                    |  GROUP BY a.cid)""".stripMargin)
  }

  // ---- incremental graph maintenance (the HNSW insert path) --------

  /** The persisted kNN edge artifact: corpus-trained NN-descent edges
    * written bucketed (and sorted) on `src`, so per-node adjacency
    * probes read it exchange-free, and an arriving shard's edges
    * APPEND into the same bucket layout (the [[SimilarityIvf
    * .annIvfAppend]] contract on the graph tier). */
  val knnEdgesTable = "graft_knn_edges"
  val knnEdgesBuckets = 8

  /** NN-descent candidate pool over the ESTABLISHED corpus only
    * ([[SimilarityIvf.ivfShardMod]] split — the same continuous-
    * ingest split the IVF maintenance path uses, so one arrival
    * stream maintains both indexes), staged once per dataset. */
  private[graft] def corpusCandidatePool(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "knn_corpus_candidates", dir)(
      poolOf(s, dir, knnRounds, corpusOnly = true))

  private[graft] def buildKnnEdges(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    graft.sources.Sinks.writeBucketedOnce(dir, knnEdgesTable,
        Seq("src"), knnEdgesBuckets)(
      topK(corpusCandidatePool(s, dir), searchK)
        .select($"src", $"dst", $"cosine"))
  }

  /** §2.5 — incremental kNN-GRAPH maintenance: a new-vector shard is
    * inserted into the persisted corpus-trained edge artifact WITHOUT
    * an NN-descent rebuild — each arrival runs the IVF-seeded beam
    * descent over the corpus graph (exactly HNSW's insert rule: search
    * first, link to what the search surfaces) and its top-[[searchK]]
    * scored candidates become its adjacency, bucketed-appended so
    * every probe plan survives the growth. The walk reads CORPUS
    * edges only (new nodes link outward; the corpus's own lists
    * refresh at the periodic rebuild — the same one-sided-freshness
    * contract as [[SimilarityIvf.annIvfAppend]]'s centroids).
    * SimilarityKnnSpec proves the grown graph's shard adjacency holds
    * recall against the exact per-shard truth, and idempotence across
    * reruns. At 100 TB: a day's arrivals extend an n·k edge artifact
    * at shard cost; the corpus is scanned for scoring, never
    * reshuffled, never re-descended. */
  def annGraphAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildKnnEdges(s, dir)
    val v = Similarity.vectorsCkpt(s, dir)
    val shard = $"vec_id" % SimilarityIvf.ivfShardMod === SimilarityIvf.ivfShardRem
    val q = v.filter(shard)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val (cents, assigned) = SimilarityIvf.kmeansCorpus(s, dir)
    val probes = SimilarityIvf.probePairsOf(
      v.filter(shard).select($"vec_id", $"v"), cents)
    val leads = assigned.groupBy($"cid").agg(min($"vec_id").as("node"))
    val entryPairs = leads.join(broadcast(probes), "cid")
      .select($"query_id", $"node")
    // walk CORPUS edges only: deterministic across reruns even after
    // the shard's own rows landed in the table. The filtered cut is a
    // static artifact of the corpus (identical on every invocation —
    // the filter excludes exactly the appended shard), so the eager
    // checkpoint is memoized per (dataset, session) like searchEdges
    // instead of re-materializing the table scan on every run.
    val edges = graft.sources.Memo("knn.corpus_edges", dir, s)(
      s.table(knnEdgesTable)
        .filter($"src" % SimilarityIvf.ivfShardMod =!= SimilarityIvf.ivfShardRem)
        .select($"src", $"dst").localCheckpoint(true))
    val visited = beamDescent(v, edges, q, entryPairs)
    val newEdges = topK(visited.select($"query_id".as("src"),
        $"node".as("dst"), $"cosine"), searchK)
      .select($"src", $"dst", $"cosine")
    graft.sources.Sinks.appendBucketedOnce(dir, knnEdgesTable,
      Seq("src"), knnEdgesBuckets)(newEdges)
    val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst")
    s.table(knnEdgesTable)
      .filter($"src" % SimilarityIvf.ivfShardMod === SimilarityIvf.ivfShardRem)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= knnK)
      .select($"src".as("vec_id"), $"rank", $"dst".as("neighbor_id"), $"cosine")
      .orderBy($"vec_id", $"rank")
  }

  /** Oracle: the insert-path descent replayed for the SHARD query set
    * over the staged corpus pool + corpus centroids, top-[[knnK]] per
    * arrival. */
  def annGraphAppendSql(glob: String, centGlob: String): String = {
    val (mod, rem) = (SimilarityIvf.ivfShardMod, SimilarityIvf.ivfShardRem)
    s"""WITH ${gsDescentCtesOf(glob, centGlob,
           queryPred = s"vec_id % $mod = $rem",
           assignedPred = s"vec_id % $mod <> $rem",
           leadsCte = "leads AS (SELECT cid, min(vec_id) AS node FROM assigned GROUP BY cid)")}
       |SELECT query_id AS vec_id, rank, node AS neighbor_id, cosine FROM (
       |  SELECT query_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, node) AS rank,
       |    node, cosine
       |  FROM vis$searchRounds)
       |WHERE rank <= $knnK
       |ORDER BY vec_id, rank""".stripMargin
  }

  /** §2.5 — the INDEX-SELECTION report: recall@k of every ANN tier
    * against the exact brute-force truth on the shared query set, in
    * one table — the measurement an operator reads before choosing
    * which index to deploy (and the regression gate run after any
    * re-embedding: a tier's recall collapsing means its artifact went
    * stale). Each tier's result is the REGISTERED operator itself
    * re-invoked (staged artifacts make the re-runs cheap), so the
    * report can never drift from what the queries actually return;
    * the truth join and rollup are |methods|·queries·k-bounded. */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Memo.cached
    val truth = cached("ann_bruteforce", dir, s)(Similarity.annBruteforce(s, dir))
      .select($"query_id", $"neighbor_id")
    val methods: Seq[(String, DataFrame)] = Seq(
      "ann_lsh" -> cached("ann_lsh", dir, s)(Similarity.annLsh(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_matryoshka" -> cached("ann_matryoshka", dir, s)(
          Similarity.annMatryoshka(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_hamming" -> cached("ann_hamming", dir, s)(
          Similarity.annHamming(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_hamming_refine" -> cached("ann_hamming_refine", dir, s)(
          Similarity.annHammingRefine(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_knn_graph" -> annKnnGraph(s, dir)
        .filter($"vec_id" < Similarity.nQueries)
        .select($"vec_id".as("query_id"), $"neighbor_id"),
      "ann_graph_search" -> cached("ann_graph_search", dir, s)(annGraphSearch(s, dir))
        .select($"query_id", $"neighbor_id"),
      // the IVF/PQ PRODUCTION stack (31b/31j/31k/31e/31m): the tiers
      // an operator actually deploys at 10¹¹ vectors — the report
      // exists to pick among them, so they must sit in the same table
      // as the hash/graph tiers (round-10 verdict's top item). Each
      // goes through Memo: the session's last standalone result
      // if the tier already ran, else the registered operator live.
      "ann_ivf" -> cached("ann_ivf", dir, s)(SimilarityIvf.annIvf(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_ivf_pq" -> cached("ann_ivf_pq", dir, s)(EmbedPq.annIvfPq(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_ivf_pq_refine" -> cached("ann_ivf_pq_refine", dir, s)(
          EmbedPq.annIvfPqRefine(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_pq_refine" -> cached("ann_pq_refine", dir, s)(
          EmbedPq.annPqRefine(s, dir))
        .select($"query_id", $"neighbor_id"),
      "ann_opq" -> cached("ann_opq", dir, s)(EmbedPq.annOpq(s, dir))
        .select($"query_id", $"neighbor_id"))
    val preds = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val tc = truth.agg(count(lit(1)).as("t_n"))
    // the COST axis: exact candidates-scanned per tier (TierCost) —
    // an 11-row bounded frame from index metadata + the memoized
    // descent count, never a tier re-scan
    val counts = broadcast(TierCost.tierCandidates(s, dir))
    preds
      .join(truth.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy($"method")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .crossJoin(tc) // bounded: one scalar row
      .join(counts, "method")
      .select($"method", $"n_returned", $"n_candidates", $"n_hits",
        expr(rndSql("CAST(n_hits AS DOUBLE) / CAST(t_n AS DOUBLE)", 6))
          .as("recall"))
      .orderBy($"method")
  }

  /** Oracle: every tier's own oracle SQL embedded as a subquery (CTEs
    * nest fine in DuckDB), unioned and scored against the brute-force
    * truth — so the report's oracle is exactly the composition of the
    * already-proven per-tier oracles. */
  def annRecallReportSql(lshGlob: String, knnGlob: String,
                         centGlob: String, pqGlob: String,
                         opqCbGlob: String, opqRotGlob: String): String =
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM (${Similarity.annBruteforceSql})),
       |preds AS (
       |  SELECT 'ann_lsh' AS method, query_id, neighbor_id
       |  FROM (${Similarity.annLshSql(lshGlob)})
       |  UNION ALL SELECT 'ann_matryoshka', query_id, neighbor_id
       |  FROM (${Similarity.annMatryoshkaSql})
       |  UNION ALL SELECT 'ann_hamming', query_id, neighbor_id
       |  FROM (${Similarity.annHammingSql})
       |  UNION ALL SELECT 'ann_hamming_refine', query_id, neighbor_id
       |  FROM (${Similarity.annHammingRefineSql})
       |  UNION ALL SELECT 'ann_knn_graph', vec_id, neighbor_id
       |  FROM (${annKnnGraphSql(knnGlob)})
       |  WHERE vec_id < ${Similarity.nQueries}
       |  UNION ALL SELECT 'ann_graph_search', query_id, neighbor_id
       |  FROM (${annGraphSearchSql(knnGlob, centGlob)})
       |  UNION ALL SELECT 'ann_ivf', query_id, neighbor_id
       |  FROM (${SimilarityIvf.annIvfSql(centGlob)})
       |  UNION ALL SELECT 'ann_ivf_pq', query_id, neighbor_id
       |  FROM (${EmbedPq.annIvfPqSql(pqGlob, centGlob)})
       |  UNION ALL SELECT 'ann_ivf_pq_refine', query_id, neighbor_id
       |  FROM (${EmbedPq.annIvfPqRefineSql(pqGlob, centGlob)})
       |  UNION ALL SELECT 'ann_pq_refine', query_id, neighbor_id
       |  FROM (${EmbedPq.annPqRefineSql(pqGlob)})
       |  UNION ALL SELECT 'ann_opq', query_id, neighbor_id
       |  FROM (${EmbedPq.annOpqSql(opqCbGlob, opqRotGlob)})),
       |tc AS (SELECT count(*) AS t_n FROM truth),
       |j AS (
       |  SELECT p.method,
       |    CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM preds p LEFT JOIN truth t
       |    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id),
       |rep AS (
       |  SELECT method, count(*) AS n_returned,
       |    CAST(sum(hit) AS BIGINT) AS n_hits,
       |    ${rndSql("CAST(sum(hit) AS DOUBLE) / CAST(max(t_n) AS DOUBLE)", 6)} AS recall
       |  FROM j, tc
       |  GROUP BY method),
       |counts AS (${TierCost.tierCandidatesSql(lshGlob, knnGlob, centGlob)})
       |SELECT rep.method, n_returned, n_candidates, n_hits, recall
       |FROM rep JOIN counts ON counts.method = rep.method
       |ORDER BY rep.method""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_knn_graph" -> (annKnnGraph _),
    "ann_graph_search" -> (annGraphSearch _),
    "ann_graph_filtered" -> (annGraphFiltered _),
    "ann_graph_retract" -> (annGraphRetract _),
    "ann_graph_append" -> (annGraphAppend _),
    "ann_recall_report" -> (annRecallReport _)
  )

  def oracles: Map[String, String] =
    graft.sources.OracleStage.globOf("knn_candidates")
      .map(g => "ann_knn_graph" -> annKnnGraphSql(g)).toMap ++
      (for {
        kg <- graft.sources.OracleStage.globOf("knn_candidates")
        cg <- graft.sources.OracleStage.globOf("ivf_centroids")
      } yield "ann_graph_search" -> annGraphSearchSql(kg, cg)).toMap ++
      (for {
        kg <- graft.sources.OracleStage.globOf("knn_candidates")
        cg <- graft.sources.OracleStage.globOf("ivf_centroids")
      } yield "ann_graph_filtered" -> annGraphFilteredSql(kg, cg)).toMap ++
      (for {
        kg <- graft.sources.OracleStage.globOf("knn_candidates")
        cg <- graft.sources.OracleStage.globOf("ivf_centroids")
      } yield "ann_graph_retract" -> annGraphRetractSql(kg, cg)).toMap ++
      (for {
        kg <- graft.sources.OracleStage.globOf("knn_corpus_candidates")
        cg <- graft.sources.OracleStage.globOf("ivf_corpus_centroids")
      } yield "ann_graph_append" -> annGraphAppendSql(kg, cg)).toMap ++
      (for {
        lg <- graft.sources.OracleStage.globOf("lsh_buckets")
        kg <- graft.sources.OracleStage.globOf("knn_candidates")
        cg <- graft.sources.OracleStage.globOf("ivf_centroids")
        pg <- graft.sources.OracleStage.globOf("pq_codebooks")
        og <- graft.sources.OracleStage.globOf("opq_codebooks")
        rg <- graft.sources.OracleStage.globOf("opq_rotation")
      } yield "ann_recall_report" -> annRecallReportSql(lg, kg, cg, pg, og, rg))
}
