package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Loop
import graft.sources.Tables

/** §2.12 Graph analytics.
  *
  * Iterative vertex-propagation workloads on a Spark engine are the
  * same plan shape as [[Dedup.dedupClusters]]' label propagation:
  * an edge table joined to a small vertex-state frame per round, the
  * state re-aggregated, the lineage cut per iteration. PageRank is
  * the canonical instance and exercises the piece the cluster
  * operator doesn't: FLOATING-POINT iteration that must stay
  * bit-identical across engines and partitionings.
  *
  * Determinism device: each round's incoming mass per vertex is a sum
  * of `rank/outdeg` doubles — order-dependent under IEEE-754. Every
  * contribution is therefore half-up-quantized at 1e-12 and summed as
  * LONG (exact, commutative; ≤1e12 per edge × fan-in ≪ 2⁶³), and the
  * new rank is derived from that exact integer by identical
  * left-to-right double arithmetic on both engines. The oracle unrolls
  * the same recurrence as chained CTEs — iteration count is a
  * compile-time constant on both sides.
  *
  * Scale notes (100 TB): the co-purchase edge build is a self-join on
  * o_orderkey — one shuffle, per-order fan-out bounded by basket size
  * (k² pairs on a k-item order), distinct partial-aggregated. Each
  * round is one edge⋈state shuffle (state is vertex-sized, AQE may
  * broadcast it) + one partial-agged sum; every loop runs through
  * [[Loop.fixed]], whose per-round cut keeps round N's plan from
  * replaying rounds 1..N−1.
  */
object Graph {

  val pagerankIters = 5
  val damping = 0.85
  private val Q = "1000000000000.0" // 1e-12 contribution quantum

  /** THE shared graph artifact: per unordered part pair (u < v) the
    * shared-basket count `n_ab` — every graph query (pagerank edges,
    * strong edges, basket rules) is a projection/threshold of this one
    * frame, and the lineitem self-join behind it is the dominant cost
    * of the whole family (~2-5 s each at sf0.1 when each query rebuilt
    * it). Staged once per dataset like the PQ codebooks and the
    * embedding pair graph: the first consumer pays the build, every
    * later one reads the parquet artifact — the production shape,
    * where the co-purchase graph is a persisted table refreshed on
    * ingest cadence, not re-derived per query.
    *
    * dedup (order, part) BEFORE the self-join (the basket-rules
    * trick): a part appearing k times in one order would otherwise
    * fan out k× into the pair explode only to collapse in the
    * aggregate — measured 6.1 → 4.3-5.5 s on the pagerank build at
    * sf0.1. */
  private[graft] def coPurchaseSupport(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "copurchase_support", dir) {
      import s.implicits._
      val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey").distinct()
      li.as("a").join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
        .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
        .agg(count(lit(1)).as("n_ab"))
    }

  /** Distinct directed co-purchase edges (both directions) between
    * parts sharing an order — both orientations of the support
    * pairs. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = coPurchaseSupport(s, dir)
    sup.select($"u".as("src"), $"v".as("dst"))
      .unionAll(sup.select($"v".as("src"), $"u".as("dst")))
  }

  /** The iteration-ready edge frame — [[edges]] hash-partitioned on
    * the join key and eagerly checkpointed — memoized per (dataset,
    * session): it is a static derived artifact of the staged
    * co-purchase support (the round-6 shared-intermediate rule), and
    * before the memo both PageRank variants and PPR re-paid the
    * full-edge shuffle + materialization on every invocation. */
  private def edgesCkpt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // partitioned on DST: each round's edge⋈state join builds the
    // node-sized state as the broadcast side (see pagerankOver), so
    // the join preserves the edge partitioning — and the mass sum
    // groups by dst, which then needs NO exchange at all (guide §2.4:
    // key consecutive operations the same way and they share one
    // layout). Partitioning by src made every round pay a full
    // edge-set shuffle for the dst aggregate.
    graft.sources.Memo("graph.edges_ckpt", dir, s)(
      edges(s, dir).repartition($"dst").localCheckpoint(true))
  }

  /** §2.12 #53 — PageRank over the part co-purchase graph, fixed
    * [[pagerankIters]] rounds, damping [[damping]]. The graph is
    * symmetric by construction (every edge has its reverse), so there
    * are no dangling vertices and total rank mass stays 1. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // re-spread the staged artifact before the iteration loop: the
    // test-scale stage is a single parquet file (≈1 scan partition),
    // and 5 rounds of edge⋈state over a 1-partition checkpoint
    // serialize — hash-partitioning on the join key restores
    // parallelism and pre-aligns the per-round join layout
    // (memoized per dataset: see edgesCkpt)
    pagerankOver(s, edgesCkpt(s, dir), hintNodeBroadcast = true)
  }

  /** Bucketed edge artifact for [[graphPagerankIndexed]]: the ~6 s
    * one-time co-purchase edge build, persisted bucketed+sorted on
    * `src` so every iteration's edge⋈state join reads the edge side
    * exchange-free — the amortization the [[graphPagerank]] doc
    * claims, demonstrated as a first-class variant (the 35d→35d'
    * pattern). */
  val pagerankIndexTable = "graft_pagerank_edges"
  val pagerankIndexBuckets = 16

  def buildPagerankIndex(s: SparkSession, dir: String,
                         table: String = pagerankIndexTable): Unit =
    graft.sources.Sinks.writeBucketedOnce(dir, table,
      Seq("src"), pagerankIndexBuckets)(edges(s, dir))

  /** §2.12 #53' — PageRank over the PERSISTED edge index: identical
    * recurrence (shares [[graphPagerankSql]] verbatim); per round the
    * only exchanges are the node-sized state hashing onto the bucket
    * layout and the dst mass sum — the edge table is never
    * re-shuffled (PlanSpec asserts it). */
  def graphPagerankIndexed(s: SparkSession, dir: String): DataFrame = {
    buildPagerankIndex(s, dir)
    pagerankOver(s, s.table(pagerankIndexTable))
  }

  /** One round's edge⋈state join + mass sum over the persisted index
    * (state checkpointed, as in the loop) — the plan the exchange-free
    * spec audits. Requires [[buildPagerankIndex]] to have run. */
  private[graft] def pagerankRoundPlan(s: SparkSession): DataFrame = {
    import s.implicits._
    val e = s.table(pagerankIndexTable)
    val contribs = e.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      .select($"src".as("id"), $"outdeg".cast("long").as("cq"))
      .localCheckpoint(true)
    e.join(contribs, e("src") === contribs("id"))
      .groupBy($"dst").agg(sum($"cq").as("sq"))
  }

  /** `hintNodeBroadcast`: the live-edge variants hint the node-sized
    * frames (contribution state, per-round mass sums) as broadcast
    * sides — the planner cannot size a checkpoint-derived frame (its
    * stats default to "unknown/huge"), so without the hint every
    * round degraded to a sort-merge join that re-shuffled and
    * re-sorted the FULL edge set (measured 5.4 s → 2.0 s at sf0.1 for
    * the hint alone). The flat variant's contract already assumes
    * node-frame broadcasts (seed tables, degree maps); the unbounded-
    * node-count path is [[graphPagerankIndexed]], which keeps the
    * shuffled join onto the bucketed edge layout and does NOT hint. */
  private def pagerankOver(s: SparkSession, e: DataFrame,
                           hintNodeBroadcast: Boolean = false): DataFrame = {
    import s.implicits._
    def bc(df: DataFrame): DataFrame =
      if (hintNodeBroadcast) broadcast(df) else df
    val deg = e.groupBy($"src").agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
    val n = deg.count() // one scalar to the driver: the vertex count
    // edge-free graph: the oracle returns 0 rows and the engine must
    // too — without this, plan-time constant folding evaluates the
    // 1/n seed rank eagerly and ANSI throws even though no row exists
    if (n == 0)
      return deg.select($"src".as("part_id"), lit(0.0).as("rank"))
    // state carries outdeg so each round's quantized contribution
    // rank/outdeg is computed on the NODE-sized frame — the only
    // edge-scale work per round is one equi-join plus the partial-
    // aggregated mass sum (the two-edge-join formulation measured
    // 5.7 s at sf0.1; this shape 40% less)
    val init = deg.select($"src".as("id"), $"outdeg",
        (lit(1.0) / lit(n.toDouble)).as("rank"))
      .localCheckpoint(true)
    val state = Loop.fixed(init, pagerankIters) { (state, _) =>
      val contribs = state.select($"id",
        expr(s"CAST(floor(rank / outdeg * $Q + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("cq"))
      // unhinted, the planner BROADCASTS THE EDGE TABLE from round 2
      // on (the checkpoint-derived state has no stats, and the
      // bucketed parquet's compressed size sits under the broadcast
      // threshold) — shipping the whole edge set to every task each
      // round. The indexed variant pins its documented shape instead:
      // SMJ, edge side read in its bucket layout (no exchange, no
      // sort — one sorted file per bucket), state side hashing onto
      // it (the node-sized exchange its contract names).
      val cside = if (hintNodeBroadcast) broadcast(contribs)
                  else contribs.hint("merge")
      val sums = e.join(cside, e("src") === contribs("id"))
        .groupBy($"dst").agg(sum($"cq").as("sq"))
      deg.join(bc(sums), deg("src") === sums("dst"))
        .select($"src".as("id"), $"outdeg",
          (lit(1.0 - damping) / lit(n.toDouble) +
            lit(damping) * ($"sq".cast("double") / expr(s"CAST($Q AS DOUBLE)"))).as("rank"))
    }
    state.select($"id".as("part_id"), $"rank").orderBy($"part_id")
  }

  val graphPagerankSql: String = {
    val base =
      s"""WITH e AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |), d AS (
         |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
         |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d
         |), r0 AS (
         |  SELECT d.src AS id, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM d, nn
         |)""".stripMargin
    val iters = (1 to pagerankIters).map { k =>
      s"""r$k AS (
         |  SELECT e.dst AS id,
         |    CAST(${1.0 - damping} AS DOUBLE) / nn.n + CAST($damping AS DOUBLE) *
         |      (CAST(sum(CAST(floor(r.rank / d.outdeg * $Q + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
         |       / CAST($Q AS DOUBLE)) AS rank
         |  FROM e JOIN r${k - 1} r ON e.src = r.id JOIN d ON d.src = e.src, nn
         |  GROUP BY e.dst, nn.n
         |)""".stripMargin
    }
    (base +: iters).mkString(",\n") +
      s"\nSELECT id AS part_id, rank FROM r$pagerankIters ORDER BY part_id"
  }

  /** Minimum co-purchase count for a reported rule. */
  val basketMinPairs = 3L
  val basketTopN = 50

  /** §2.12 — association rules over the same co-purchase structure
    * PageRank walks: directed part→part rules with support,
    * confidence and lift (the classic market-basket mining nobody's
    * analytics engine ships without). Distinct from [[Pipeline
    * .corpusPmi]]'s symmetric log-ratio: rules are DIRECTIONAL
    * (conf(a→b) = n_ab / n_a) and normalized by basket counts.
    *
    * Scale layout mirrors the PMI/co-purchase plan: per-order pair
    * explode (bounded by basket size), partial-agged pair counts, the
    * part-marginal table joined back (AQE broadcasts it when it
    * fits), TakeOrdered top-N — no global sort, no self-join of the
    * pair table. All ratios quantized 1e-6 with a total-order
    * tiebreak so top-N is deterministic. */
  def graphBasketRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    // dedup (order, part) FIRST: a pair then appears exactly once per
    // shared order, so the pair support is a plain partial-aggregated
    // count — no count(distinct) over the exploded pair table, which
    // is the expensive aggregate (measured 4.1 s -> re-timed below)
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey").distinct()
      .localCheckpoint(true)
    val baskets = li.select($"l_orderkey").distinct().count()
    // both orientations of the staged support pairs (n_ab is
    // orientation-independent)
    val sup = coPurchaseSupport(s, dir).filter($"n_ab" >= basketMinPairs)
    val pairs = sup.select($"u".as("ante"), $"v".as("cons"), $"n_ab")
      .unionAll(sup.select($"v".as("ante"), $"u".as("cons"), $"n_ab"))
    val marg = li.groupBy($"l_partkey").agg(count(lit(1)).as("n_p"))
    pairs
      .join(marg.select($"l_partkey".as("ante"), $"n_p".as("n_a")), "ante")
      .join(marg.select($"l_partkey".as("cons"), $"n_p".as("n_c")), "cons")
      .select($"ante", $"cons", $"n_ab",
        rnd($"n_ab".cast("double") / lit(baskets.toDouble), 6).as("support"),
        rnd($"n_ab".cast("double") / $"n_a".cast("double"), 6).as("confidence"),
        rnd(($"n_ab".cast("double") / $"n_a".cast("double")) /
          ($"n_c".cast("double") / lit(baskets.toDouble)), 6).as("lift"))
      .orderBy($"lift".desc, $"ante", $"cons")
      .limit(basketTopN)
  }

  val graphBasketRulesSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS baskets FROM li),
       |pairs AS (
       |  SELECT a.l_partkey AS ante, b.l_partkey AS cons,
       |    count(DISTINCT a.l_orderkey) AS n_ab
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $basketMinPairs),
       |marg AS (SELECT l_partkey, count(DISTINCT l_orderkey) AS n_p FROM li GROUP BY 1)
       |SELECT ante, cons, n_ab,
       |  ${rndSql("CAST(n_ab AS DOUBLE) / baskets", 6)} AS support,
       |  ${rndSql("CAST(n_ab AS DOUBLE) / CAST(ma.n_p AS DOUBLE)", 6)} AS confidence,
       |  ${rndSql("(CAST(n_ab AS DOUBLE) / CAST(ma.n_p AS DOUBLE)) / (CAST(mc.n_p AS DOUBLE) / baskets)", 6)} AS lift
       |FROM pairs
       |JOIN marg ma ON pairs.ante = ma.l_partkey
       |JOIN marg mc ON pairs.cons = mc.l_partkey, nb
       |ORDER BY lift DESC, ante, cons
       |LIMIT $basketTopN""".stripMargin
  }

  /** Strong-edge support threshold for [[graphTriangles]]: ≥2 shared
    * baskets (the rules threshold of 3 leaves the strong graph
    * triangle-free at the test SFs — an empty result gates nothing). */
  val triangleMinSupport = 2L

  private[graft] def strongEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    coPurchaseSupport(s, dir)
      .filter($"n_ab" >= triangleMinSupport)
      .select($"u", $"v")
  }

  /** The strong edges in both orientations, hash-partitioned on `src`
    * and eagerly checkpointed: the adjacency every iterative strong-
    * graph operator (label propagation, k-core, BFS, harmonic
    * centrality, random walks) joins its frontier against per round. */
  private def undirectedStrongEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = strongEdges(s, dir)
    e.select($"u".as("src"), $"v".as("dst"))
      .unionAll(e.select($"v".as("src"), $"u".as("dst")))
      .repartition($"src").localCheckpoint(true)
  }

  /** Direct each undirected edge (u, v) from its LOWER-degree endpoint
    * to its higher-degree endpoint, tie-break by id — the standard
    * degree orientation that bounds every out-degree by O(√m) on real
    * graphs (a hub of degree d receives its d edges as IN-edges, so it
    * contributes zero wedges as a center). Returns (s, t, dt) with dt
    * the degree of t, kept so downstream can order targets by the same
    * (degree, id) total order the orientation uses. */
  private[graft] def orientEdges(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    val deg = e0.select($"u".as("x")).unionAll(e0.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("d"))
    // e0 carries u < v by id, so the id tie-break reduces to du <= dv
    val fwd = $"du" <= $"dv"
    e0.join(deg.select($"x".as("u"), $"d".as("du")), "u")
      .join(deg.select($"x".as("v"), $"d".as("dv")), "v")
      .select(
        when(fwd, $"u").otherwise($"v").as("s"),
        when(fwd, $"v").otherwise($"u").as("t"),
        when(fwd, $"dv").otherwise($"du").as("dt"))
  }

  /** §2.12 — triangle enumeration over the STRONG co-purchase graph
    * (pairs co-bought in ≥ [[triangleMinSupport]] baskets): the classic
    * distributed-graph kernel, DEGREE-ORIENTED — each edge directed
    * from its lower-degree endpoint ([[orientEdges]]), wedges from
    * pairs of out-edges at a common source, closed by a semi join
    * against the oriented edge set, then re-canonicalized to id-sorted
    * (a, b, c) so the result set (and the DuckDB oracle) is identical
    * to the naive enumeration. Two shuffles total.
    *
    * Why not id orientation: with edges directed u < v by id, the
    * wedge join on the middle vertex produces in·out wedges per
    * vertex, and a hub part with a mid-range id keeps in ≈ out ≈ d/2
    * regardless — one popular part makes one join key quadratic at
    * 100×. Degree orientation caps every out-degree at O(√m)
    * (a vertex with out-degree k has k neighbors of degree ≥ its own,
    * so k ≤ √(2m)), making the wedge stage m^{3/2} worst-case —
    * GraphSpec proves the hub wedge count collapses to 0 on a star
    * graph where id orientation yields in·out ≈ d²/4. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // checkpoint BEFORE orientation: orientEdges references its input
    // three times (degree union twice + the edge join), which would
    // otherwise replay the lineitem self-join thrice in one plan
    val e = orientEdges(s, strongEdges(s, dir).localCheckpoint(true))
      .localCheckpoint(true)
    // targets ordered by the orientation's own (degree, id) total
    // order, so the closing edge between t1 and t2 — if present — is
    // directed exactly (t1 → t2) and one semi join closes the wedge
    val wedges = e.select($"s", $"t".as("t1"), $"dt".as("d1"))
      .join(e.select($"s", $"t".as("t2"), $"dt".as("d2")), "s")
      .filter($"d1" < $"d2" || ($"d1" === $"d2" && $"t1" < $"t2"))
    wedges.join(e.select($"s".as("t1"), $"t".as("t2")), Seq("t1", "t2"), "left_semi")
      .select(least($"s", $"t1", $"t2").as("a"),
        ($"s" + $"t1" + $"t2" - least($"s", $"t1", $"t2") -
          greatest($"s", $"t1", $"t2")).as("b"),
        greatest($"s", $"t1", $"t2").as("c"))
      .orderBy($"a", $"b", $"c")
  }

  val graphTrianglesSql: String =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport)
       |SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |FROM e e1
       |JOIN e e2 ON e1.v = e2.u
       |WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)
       |ORDER BY a, b, c""".stripMargin

  /** §2.12 — connected components over the strong co-purchase graph:
    * which parts form one co-purchase market? The graph twin of
    * [[Dedup.dedupClusters]] and the fourth classic graph kernel next
    * to PageRank / triangles / rules; it reuses the pointer-jumping
    * hash-min propagation ([[Dedup.clustersOf]] — O(log diameter)
    * rounds, edge-vertex-only state), so the 100 TB notes there apply
    * verbatim. Universe = every part in the part table: parts in no
    * strong edge surface as singleton components, the answer a market
    * census actually needs. Oracle = WITH RECURSIVE closure over the
    * identical strong-edge derivation. */
  def graphComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = strongEdges(s, dir).select($"u".as("doc1"), $"v".as("doc2"))
    val universe = Tables.part(s, dir).select($"p_partkey".as("doc_id"))
    Dedup.clustersOf(s, universe, pairs, Dedup.maxClusterIters)
      .select($"doc_id".as("part_id"), $"canonical_id".as("component_id"),
        $"cluster_size".as("component_size"))
  }

  val graphComponentsSql: String =
    s"""WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS (
       |  SELECT u AS src, v AS dst FROM e
       |  UNION ALL
       |  SELECT v, u FROM e),
       |reach(id, lab) AS (
       |  SELECT p_partkey, p_partkey FROM part
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labs AS (SELECT id, min(lab) AS component_id FROM reach GROUP BY 1)
       |SELECT id AS part_id, component_id,
       |  count(*) OVER (PARTITION BY component_id) AS component_size
       |FROM labs ORDER BY part_id""".stripMargin

  // ------------------------------------------------------------------
  // graph_label_prop — synchronous label-propagation communities
  // ------------------------------------------------------------------

  val labelPropIters = 4

  /** §2.12 — label-propagation communities (LPA, Raghavan et al.
    * 2007) over the strong co-purchase graph: every part starts
    * labeled with itself; each synchronous round a part adopts the
    * most frequent label among its neighbors (ties → smallest label),
    * [[labelPropIters]] rounds. LPA finds DENSE communities where
    * [[graphComponents]] finds mere reachability — a bridge edge
    * merges two components but not two LPA communities.
    *
    * Determinism: synchronous (all updates read the previous round's
    * labels) with a total tie-break (count desc, label asc), so the
    * result is iteration-count-deterministic and the oracle replays
    * the identical unrolled recurrence. Scale shape = the pagerank
    * loop: per round one edge⋈state shuffle (state vertex-sized, AQE
    * may broadcast), a (node,label)-count partial agg whose group
    * count is edge-bounded, a per-node bounded top-1 window, lineage
    * cut per round. Isolated parts keep their own label → singleton
    * communities, same universe contract as components. */
  /** The converged (node, label) frame shared by [[graphLabelProp]]
    * and [[graphModularity]]. */
  private[graft] def lpaLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val edges = undirectedStrongEdges(s, dir)
    val universe = Tables.part(s, dir).select($"p_partkey".as("node"))
    val init = universe.withColumn("label", $"node").localCheckpoint(true)
    Loop.fixed(init, labelPropIters) { (lab, _) =>
      val cnt = edges.join(lab, $"src" === $"node")
        .groupBy($"dst", $"label").agg(count(lit(1)).as("c"))
      val pick = cnt
        .withColumn("rn", row_number().over(
          Window.partitionBy($"dst").orderBy($"c".desc, $"label".asc)))
        .filter($"rn" === 1)
        .select($"dst".as("node"), $"label".as("new_label"))
      lab.join(pick, Seq("node"), "left")
        .select($"node", coalesce($"new_label", $"label").as("label"))
    }
  }

  def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lpaLabels(s, dir)
      .withColumn("community_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"label")))
      .select($"node".as("part_id"), $"label".as("community_id"), $"community_size")
      .orderBy($"part_id")
  }

  /** Shared LPA oracle scaffolding: strong-edge build + the unrolled
    * synchronous rounds, ending in `l$labelPropIters(node, label)`
    * (and `e(u, v)` / `edges(src, dst)` for downstream use). `edges`
    * is MATERIALIZED — it is referenced once per round and DuckDB
    * inlines multiply-referenced CTEs. */
  private lazy val lpaCtesSql: String = {
    val rounds = (1 to labelPropIters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
         |p$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT l.node, coalesce(p.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN p$i p USING (node))""".stripMargin
    }.mkString(",\n")
    s"""li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e
       |  UNION ALL
       |  SELECT v, u FROM e),
       |l0 AS (SELECT p_partkey AS node, p_partkey AS label FROM part),
       |$rounds""".stripMargin
  }

  lazy val graphLabelPropSql: String =
    s"""WITH $lpaCtesSql
       |SELECT node AS part_id, label AS community_id,
       |  count(*) OVER (PARTITION BY label) AS community_size
       |FROM l$labelPropIters ORDER BY part_id""".stripMargin

  /** §2.12 — MODULARITY of the LPA communities: the one number that
    * says whether the partition is better than chance
    * (Newman-Girvan Q = Σ_c (e_c/m − (d_c/2m)²)). Emitted per
    * community with EXACT integer internals — contribution numerator
    * 4m·e_c − d_c², denominator 4m² — so the score is
    * partitioning-independent and the oracle compares integers; the
    * double division happens once per (bounded) community row, then
    * quantizes. Scale: e_c is one edge-sized join against the
    * broadcast-joined label frame aggregated per community; d_c rolls
    * up the vertex-sized degree frame; m is a 1-row broadcast. */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val lab = lpaLabels(s, dir).localCheckpoint(true)
    val e = strongEdges(s, dir).localCheckpoint(true)
    val m = e.agg(count(lit(1)).as("m"))
    val eIn = e
      .join(lab.select($"node".as("u"), $"label".as("lu")), "u")
      .join(lab.select($"node".as("v"), $"label".as("lv")), "v")
      .filter($"lu" === $"lv")
      .groupBy($"lu".as("community_id")).agg(count(lit(1)).as("e_in"))
    val deg = e.select($"u".as("x")).unionAll(e.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("d"))
      .join(lab.select($"node".as("x"), $"label"), "x")
      .groupBy($"label".as("community_id"))
      .agg(sum($"d").cast("long").as("d_sum"), count(lit(1)).as("n_nodes"))
    deg.join(eIn, Seq("community_id"), "left")
      .withColumn("e_in", coalesce($"e_in", lit(0L)))
      .join(broadcast(m))
      .withColumn("contrib_num",
        lit(4L) * $"m".cast(DecimalType(38, 0)) * $"e_in" -
          $"d_sum".cast(DecimalType(38, 0)) * $"d_sum")
      .select($"community_id", $"n_nodes", $"e_in", $"d_sum",
        expr(graft.functions.Agg.rndSql(
          "CAST(contrib_num AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))", 9))
          .as("contribution"))
      .orderBy($"community_id")
  }

  lazy val graphModularitySql: String =
    s"""WITH $lpaCtesSql,
       |lab AS MATERIALIZED (SELECT node, label FROM l$labelPropIters),
       |m AS (SELECT count(*) AS m FROM e),
       |e_in AS (
       |  SELECT a.label AS community_id, count(*) AS e_in
       |  FROM e JOIN lab a ON e.u = a.node JOIN lab b ON e.v = b.node
       |  WHERE a.label = b.label GROUP BY 1),
       |deg AS (
       |  SELECT l.label AS community_id,
       |    CAST(sum(d.d) AS BIGINT) AS d_sum, count(*) AS n_nodes
       |  FROM (
       |    SELECT x, count(*) AS d FROM (
       |      SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1) d
       |  JOIN lab l ON d.x = l.node
       |  GROUP BY 1)
       |SELECT deg.community_id, n_nodes,
       |  CAST(coalesce(e_in.e_in, 0) AS BIGINT) AS e_in, d_sum,
       |  ${graft.functions.Agg.rndSql(
      """CAST(4 * m.m * CAST(coalesce(e_in.e_in, 0) AS DECIMAL(38,0))
        |  - CAST(d_sum AS DECIMAL(38,0)) * d_sum AS DOUBLE)
        |  / (4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE))""".stripMargin, 9)} AS contribution
       |FROM deg LEFT JOIN e_in USING (community_id) CROSS JOIN m
       |ORDER BY community_id""".stripMargin

  // ------------------------------------------------------------------
  // graph_kcore — bounded-round 2-core peeling
  // ------------------------------------------------------------------

  val kcoreRounds = 8

  /** §2.12 — 2-core membership by [[kcoreRounds]] synchronous peeling
    * rounds: repeatedly drop vertices with < 2 surviving neighbors.
    * The core is the graph's load-bearing skeleton — tendrils and
    * dangling chains (which PageRank partially discounts and
    * components ignore entirely) peel away, and "is this part in the
    * 2-core" separates structurally-embedded products from one-off
    * attachments. Bounded-round semantics: the operator is DEFINED as
    * the 8-round peel (deterministic on any engine; each round peels
    * every current sub-2 vertex, so 8 rounds strip any tendril up to
    * 8 deep — a spec pins that a crafted chain dies and a triangle
    * survives). Per round: two semi-join-shaped edge⋈survivor probes
    * + one degree partial agg, survivor state vertex-sized, lineage
    * cut per round — the pagerank loop's scale contract. Oracle =
    * the identical peel unrolled as chained CTEs. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = undirectedStrongEdges(s, dir)
    // per surviving src: its edges whose both endpoints survive
    def degree(surv: DataFrame): DataFrame = edges
      .join(surv.select($"id".as("sid")), $"src" === $"sid")
      .join(surv.select($"id".as("did")), $"dst" === $"did")
      .groupBy($"src").agg(count(lit(1)).as("c"))
    val init = edges.select($"src".as("id")).distinct().localCheckpoint(true)
    val surv = Loop.fixed(init, kcoreRounds) { (surv, _) =>
      degree(surv).filter($"c" >= 2).select($"src".as("id"))
    }.localCheckpoint(true) // the core degree reads it twice
    val core = degree(surv).select($"src".as("cid"), $"c".as("core_degree"))
    Tables.part(s, dir).select($"p_partkey".as("part_id"))
      .join(core, $"part_id" === $"cid", "left")
      .select($"part_id", $"core_degree".isNotNull.as("in_core"),
        coalesce($"core_degree", lit(0L)).as("core_degree"))
      .orderBy($"part_id")
  }

  val graphKcoreSql: String = {
    val rounds = (1 to kcoreRounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT e.src AS id FROM edges e
         |  JOIN s${i - 1} a ON e.src = a.id
         |  JOIN s${i - 1} b ON e.dst = b.id
         |  GROUP BY 1 HAVING count(*) >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e0
       |  UNION ALL
       |  SELECT v, u FROM e0),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |$rounds,
       |core AS (
       |  SELECT e.src AS cid, count(*) AS core_degree FROM edges e
       |  JOIN s$kcoreRounds a ON e.src = a.id
       |  JOIN s$kcoreRounds b ON e.dst = b.id
       |  GROUP BY 1)
       |SELECT p_partkey AS part_id,
       |  core_degree IS NOT NULL AS in_core,
       |  CAST(coalesce(core_degree, 0) AS BIGINT) AS core_degree
       |FROM part LEFT JOIN core ON p_partkey = cid
       |ORDER BY part_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // graph_neighbor_sim — neighborhood Jaccard similarity
  // ------------------------------------------------------------------

  val neighborSimTopN = 50
  /** Vertices with degree above this are dropped before wedge
    * generation — the graph analog of the dedup suite's shingle
    * df-cap: a hub co-bought with everything (a) contributes d²
    * wedges (the one quadratic blowup in neighborhood similarity —
    * common-neighbor counting NEEDS every wedge at its center, so no
    * orientation trick applies) and (b) carries no similarity signal
    * anyway. The cap is part of the operator's semantics and the
    * oracle applies it identically. */
  val neighborCenterCap = 64L

  /** §2.12 — neighborhood (structural) similarity: for part pairs
    * sharing ≥1 common neighbor in the hub-capped strong co-purchase
    * graph, the exact Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — "parts
    * bought alongside the same third parts", the item-item
    * collaborative-filtering primitive. Wedges at each center are
    * cap-bounded (≤ cap² rows per center); the pair counts are one
    * partial-aggregated shuffle on the (a, b) key; degrees join back
    * from the |V|-sized degree table; global top-N is TakeOrdered
    * (bounded), ranked by the 1e-6-quantized score with an (a, b)
    * total-order tiebreak so both engines cut the same 50 rows. */
  def graphNeighborSim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = strongEdges(s, dir).localCheckpoint(true)
    val adj0 = e0.select($"u".as("ctr"), $"v".as("nb"))
      .unionAll(e0.select($"v".as("ctr"), $"u".as("nb")))
    val keep = adj0.groupBy($"ctr").agg(count(lit(1)).as("d"))
      .filter($"d" <= neighborCenterCap).select($"ctr")
    val adj = adj0.join(keep, Seq("ctr"), "left_semi")
      .join(keep.select($"ctr".as("nb")), Seq("nb"), "left_semi")
      .localCheckpoint(true)
    val deg = adj.groupBy($"ctr").agg(count(lit(1)).as("d"))
    val wedges = adj.as("x").join(adj.as("y"),
        $"x.ctr" === $"y.ctr" && $"x.nb" < $"y.nb")
      .groupBy($"x.nb".as("a"), $"y.nb".as("b"))
      .agg(count(lit(1)).as("common"))
    wedges.join(deg.select($"ctr".as("a"), $"d".as("deg_a")), "a")
      .join(deg.select($"ctr".as("b"), $"d".as("deg_b")), "b")
      .select($"a".as("part_a"), $"b".as("part_b"), $"common",
        $"deg_a", $"deg_b",
        expr(graft.functions.Agg.rndSql(
          "CAST(common AS DOUBLE) / CAST(deg_a + deg_b - common AS DOUBLE)", 6)).as("sim"))
      .orderBy($"sim".desc, $"part_a", $"part_b")
      .limit(neighborSimTopN)
  }

  val graphNeighborSimSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $triangleMinSupport),
       |adj0 AS (
       |  SELECT u AS ctr, v AS nb FROM e0
       |  UNION ALL SELECT v, u FROM e0),
       |keep AS (
       |  SELECT ctr FROM adj0 GROUP BY ctr
       |  HAVING count(*) <= $neighborCenterCap),
       |adj AS (
       |  SELECT a.ctr, a.nb FROM adj0 a
       |  JOIN keep k1 ON a.ctr = k1.ctr
       |  JOIN keep k2 ON a.nb = k2.ctr),
       |deg AS (SELECT ctr, count(*) AS d FROM adj GROUP BY 1),
       |w AS (
       |  SELECT x.nb AS a, y.nb AS b, count(*) AS common
       |  FROM adj x JOIN adj y ON x.ctr = y.ctr AND x.nb < y.nb
       |  GROUP BY 1, 2)
       |SELECT w.a AS part_a, w.b AS part_b, CAST(w.common AS BIGINT) AS common,
       |  CAST(da.d AS BIGINT) AS deg_a, CAST(db.d AS BIGINT) AS deg_b,
       |  ${graft.functions.Agg.rndSql(
             "CAST(w.common AS DOUBLE) / CAST(da.d + db.d - w.common AS DOUBLE)", 6)} AS sim
       |FROM w
       |JOIN deg da ON w.a = da.ctr
       |JOIN deg db ON w.b = db.ctr
       |ORDER BY sim DESC, part_a, part_b
       |LIMIT $neighborSimTopN""".stripMargin

  /** Reported candidates for [[graphLinkPredict]]. */
  val linkTopN = 50

  /** §2.12 — link prediction over the strong co-purchase graph:
    * Adamic-Adar scores for NON-adjacent part pairs with common
    * neighbors — score(a,b) = Σ_z 1/ln(deg z) over shared neighbors
    * z, the classic recommender signal ("parts that share rare
    * co-purchase hubs will be co-bought next"). Common-neighbor
    * enumeration is the two-path join over the STAGED strong-edge
    * artifact (bounded by the support threshold — never the raw
    * fact), existing edges anti-join out, hub weights come from the
    * part-sized degree table, and the global top-N plans as
    * TakeOrdered. Degree-1 hubs (1/ln 1 = ∞) can't occur: a common
    * neighbor has degree ≥ 2 by construction. */
  def graphLinkPredict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val sup = strongEdges(s, dir)
    val und = sup.select($"u".as("src"), $"v".as("dst"))
      .unionAll(sup.select($"v".as("src"), $"u".as("dst")))
    val deg = und.groupBy($"src").agg(count(lit(1)).as("deg"))
    val twoPath = und.select($"src".as("a"), $"dst".as("z"))
      .join(und.select($"src".as("z2"), $"dst".as("b")), $"z" === $"z2")
      .filter($"a" < $"b")
      .select($"a", $"b", $"z")
    twoPath
      .join(sup.select($"u".as("a"), $"v".as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select($"src".as("z"), $"deg"), "z")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_common"),
        rnd(sum(expr("CAST(floor(1e9 / ln(CAST(deg AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .cast("double") / lit(1e9), 6).as("aa_score"))
      .orderBy($"aa_score".desc, $"a", $"b")
      .limit(linkTopN)
  }

  val graphLinkPredictSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |und AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
       |tp AS (
       |  SELECT e1.src AS a, e2.dst AS b, e1.dst AS z
       |  FROM und e1 JOIN und e2 ON e1.dst = e2.src
       |  WHERE e1.src < e2.dst
       |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.u = e1.src AND e.v = e2.dst))
       |SELECT a, b, count(*) AS n_common,
       |  ${rndSql("CAST(sum(CAST(floor(1e9 / ln(CAST(deg AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 1e9", 6)} AS aa_score
       |FROM tp JOIN deg ON tp.z = deg.src
       |GROUP BY a, b
       |ORDER BY aa_score DESC, a, b
       |LIMIT $linkTopN""".stripMargin
  }

  // ------------------------------------------------------------------
  // graph_bfs — bounded-round multi-source breadth-first depth
  // ------------------------------------------------------------------

  val bfsRounds = 4
  val bfsSeeds = 3

  /** §2.12 — multi-source BFS depth over the strong co-purchase
    * graph: hop distance from the [[bfsSeeds]] highest-degree hubs
    * (ties by id) within [[bfsRounds]] rounds — "how many
    * co-purchase hops from the bestsellers is every part?", the
    * reachability census behind recommendation freshness and catalog
    * coverage. Unreached parts (outside the hub market or beyond the
    * horizon) report NULL depth, same universe contract as
    * components/LPA.
    *
    * The frontier recurrence is the textbook distributed BFS: per
    * round ONE edge⋈frontier shuffle produces candidate neighbors,
    * an anti join against the visited set (vertex-sized — AQE
    * broadcasts it while it fits) admits only new nodes, lineage cut
    * per round. Seeds come from a TakeOrdered top-[[bfsSeeds]] on the
    * vertex-sized degree frame — never a global sort. State is one
    * vertex-bounded frame (node, depth) whose depth-(i − 1) rows are
    * round i's frontier; the frontier can only shrink the visited
    * complement, so 100× data widens rounds' row counts, not their
    * number. */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = undirectedStrongEdges(s, dir)
    val seeds = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .orderBy($"deg".desc, $"node").limit(bfsSeeds)
      .select($"node")
    val init = seeds.withColumn("depth", lit(0L)).localCheckpoint(true)
    val dist = Loop.fixed(init, bfsRounds)(bfsRound(edges, Seq("node")))
    Tables.part(s, dir).select($"p_partkey".as("part_id"))
      .join(dist.withColumnRenamed("node", "part_id"), Seq("part_id"), "left")
      .select($"part_id", $"depth")
      .orderBy($"part_id")
  }

  /** Round `i` of a BFS whose state is (`keys`..., depth), `keys`
    * being `node` plus any per-source key: the depth-(i − 1) rows
    * step one edge, and the (`keys`) pairs not yet in the state join
    * it at depth i. [[graphBfs]] and [[graphHarmonic]] share it. */
  private def bfsRound(edges: DataFrame, keys: Seq[String])(state: DataFrame, i: Int): DataFrame = {
    val next = edges.join(state.filter(col("depth") === i - 1), col("src") === col("node"))
      .select(col("dst").as("node") +: keys.tail.map(col): _*).distinct()
      .join(state, keys, "left_anti")
      .withColumn("depth", lit(i.toLong))
    state.unionAll(next)
  }

  val graphBfsSql: String = {
    val rounds = (1 to bfsRounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM d${i - 1})),
         |d$i AS MATERIALIZED (
         |  SELECT node, depth FROM d${i - 1}
         |  UNION ALL
         |  SELECT node, $i AS depth FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e0
       |  UNION ALL
       |  SELECT v, u FROM e0),
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |s AS (
       |  SELECT node FROM (
       |    SELECT node, row_number() OVER (ORDER BY deg DESC, node) AS rn
       |    FROM deg) WHERE rn <= $bfsSeeds),
       |d0 AS MATERIALIZED (SELECT node, 0 AS depth FROM s),
       |f0 AS MATERIALIZED (SELECT node FROM s),
       |$rounds
       |SELECT p.p_partkey AS part_id, CAST(d.depth AS BIGINT) AS depth
       |FROM part p LEFT JOIN d$bfsRounds d ON p.p_partkey = d.node
       |ORDER BY part_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // graph_assortativity — degree-degree mixing
  // ------------------------------------------------------------------

  /** The Pearson formula over the exact integer sums, as ONE SQL
    * fragment both engines parse (expects m, sx, sy, sxy, sxx, syy in
    * scope — all exact DECIMAL/BIGINT aggregates). The division-by-
    * zero guard returns NULL identically on both engines (Spark's
    * non-ANSI double division would return NULL where DuckDB says
    * inf — the qPowerMde lesson). */
  private val assortativityExpr: String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val num = s"(${d("m")} * ${d("sxy")} - ${d("sx")} * ${d("sy")})"
    val dx = s"(${d("m")} * ${d("sxx")} - ${d("sx")} * ${d("sx")})"
    val dy = s"(${d("m")} * ${d("syy")} - ${d("sy")} * ${d("sy")})"
    s"CASE WHEN $dx > 0 AND $dy > 0 THEN " +
      graft.functions.Agg.rndSql(s"$num / (sqrt($dx) * sqrt($dy))", 6) +
      " ELSE CAST(NULL AS DOUBLE) END"
  }

  /** §2.12 — degree assortativity (Newman's r): the Pearson
    * correlation of endpoint degrees over the directed-both-ways
    * edge list — do hubs link to hubs (assortative, r > 0) or to the
    * periphery (disassortative, r < 0)? The one-number mixing
    * diagnostic read next to 53's centralities before trusting any
    * sampled-walk training data. Degrees are INTEGERS, so every sum
    * (Σj, Σk, Σjk, Σj², Σk²) is an exact DECIMAL(38,0) aggregate —
    * order-free at any parallelism — and only the final Pearson
    * division runs in (identical) double arithmetic. Two node-keyed
    * joins of the edge list against the degree frame (AQE broadcasts
    * it while it fits), one partial-agged pass. */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val D0 = DecimalType(38, 0)
    val e = strongEdges(s, dir)
    val edges = e.select($"u".as("src"), $"v".as("dst"))
      .unionAll(e.select($"v".as("src"), $"u".as("dst")))
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    val paired = edges
      .join(deg.select($"node".as("src"), $"deg".as("dx")), "src")
      .join(deg.select($"node".as("dst"), $"deg".as("dy")), "dst")
    paired.agg(
        count(lit(1)).as("m"),
        sum($"dx".cast(D0)).as("sx"), sum($"dy".cast(D0)).as("sy"),
        sum(($"dx" * $"dy").cast(D0)).as("sxy"),
        sum(($"dx" * $"dx").cast(D0)).as("sxx"),
        sum(($"dy" * $"dy").cast(D0)).as("syy"))
      .select($"m".as("n_edges"), expr(assortativityExpr).as("assortativity"))
  }

  val graphAssortativitySql: String =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e0
       |  UNION ALL
       |  SELECT v, u FROM e0),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |agg AS (
       |  SELECT count(*) AS m,
       |    sum(CAST(a.deg AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(b.deg AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(a.deg * b.deg AS DECIMAL(38,0))) AS sxy,
       |    sum(CAST(a.deg * a.deg AS DECIMAL(38,0))) AS sxx,
       |    sum(CAST(b.deg * b.deg AS DECIMAL(38,0))) AS syy
       |  FROM edges e JOIN deg a ON e.src = a.node
       |               JOIN deg b ON e.dst = b.node)
       |SELECT m AS n_edges, $assortativityExpr AS assortativity
       |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // graph_harmonic — sampled-source harmonic centrality
  // ------------------------------------------------------------------

  /** Sources (highest-degree hubs) and hop horizon for
    * [[graphHarmonic]]. */
  val harmonicSources = 4
  val harmonicRounds = 4

  /** §2.12 — sampled-source harmonic centrality: hc(v) = Σ_s 1/d(s,v)
    * over the [[harmonicSources]] highest-degree hubs within a
    * [[harmonicRounds]]-hop horizon — the centrality ranking that,
    * unlike closeness, stays defined on disconnected graphs (the
    * standard k-source approximation; exact all-pairs is quadratic
    * and not a 100 TB shape). PER-SOURCE distances: BFS state keyed
    * (node, src) — [[graphBfs]]'s loop with a compound frontier, so
    * each round is still ONE edges⋈frontier shuffle (frontier ≤
    * |V|·k rows) and the lineage is cut per round. The 1/d terms are
    * EXACT integer micro-units (1000000 div d) — no float anywhere,
    * so cross-engine equality is trivial rather than engineered. */
  def graphHarmonic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = undirectedStrongEdges(s, dir)
    val seeds = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .orderBy($"deg".desc, $"node").limit(harmonicSources)
      .select($"node")
    val init = seeds.select($"node", $"node".as("source"),
      lit(0L).as("depth")).localCheckpoint(true)
    val dist = Loop.fixed(init, harmonicRounds)(bfsRound(edges, Seq("node", "source")))
    val hc = dist.filter($"depth" > 0L)
      .groupBy($"node")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div depth")).as("harmonic_micro"))
    Tables.part(s, dir).select($"p_partkey".as("part_id"))
      .join(hc.withColumnRenamed("node", "part_id"), Seq("part_id"), "left")
      .select($"part_id",
        coalesce($"n_reached", lit(0L)).as("n_reached"),
        coalesce($"harmonic_micro", lit(0L)).as("harmonic_micro"))
      .orderBy($"part_id")
  }

  val graphHarmonicSql: String = {
    val rounds = (1 to harmonicRounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node, f.source
         |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM d${i - 1} d
         |    WHERE d.node = e.dst AND d.source = f.source)),
         |d$i AS MATERIALIZED (
         |  SELECT node, source, depth FROM d${i - 1}
         |  UNION ALL
         |  SELECT node, source, $i AS depth FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e0
       |  UNION ALL
       |  SELECT v, u FROM e0),
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |s AS (
       |  SELECT node FROM (
       |    SELECT node, row_number() OVER (ORDER BY deg DESC, node) AS rn
       |    FROM deg) WHERE rn <= $harmonicSources),
       |d0 AS MATERIALIZED (SELECT node, node AS source, 0 AS depth FROM s),
       |f0 AS MATERIALIZED (SELECT node, node AS source FROM s),
       |$rounds,
       |hc AS (
       |  SELECT node, count(*) AS n_reached,
       |    CAST(sum(1000000 // depth) AS BIGINT) AS harmonic_micro
       |  FROM d$harmonicRounds WHERE depth > 0 GROUP BY node)
       |SELECT p.p_partkey AS part_id,
       |  coalesce(hc.n_reached, 0) AS n_reached,
       |  coalesce(hc.harmonic_micro, 0) AS harmonic_micro
       |FROM part p LEFT JOIN hc ON p.p_partkey = hc.node
       |ORDER BY part_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // graph_random_walk — deterministic PRF walks (embedding-training pairs)
  // ------------------------------------------------------------------

  val walkSteps = 3

  /** Per-step neighbor choice for [[graphRandomWalk]]: the neighbor
    * minimizing an exact-integer PRF of (current, neighbor, step) —
    * one SQL fragment both engines evaluate identically. Products
    * bounded: id ≤ 1e9 at 100 TB × the Knuth multiplier ≈ 2.6e18,
    * inside int64. */
  private def walkScoreSql(cur: String, nxt: String, step: Int): String =
    s"(($cur * 1000003 + $nxt * 2654435761 + $step * 31) % 2147483647)"

  /** §2.12 — DETERMINISTIC random walks (node2vec's data step): from
    * every vertex of the strong co-purchase graph, a [[walkSteps]]-hop
    * walk whose step-i move is the PRF-argmin neighbor — the
    * (start, visited, step) rows are exactly the skip-gram positive
    * pairs an embedding trainer consumes. Determinism is the point,
    * not a concession: the same corpus always emits the same pairs
    * (resumable, diffable, oracle-checkable), and the PRF varies by
    * step so walks don't ping-pong on one edge.
    *
    * Scale shape = the pagerank loop: per step ONE edge⋈frontier
    * shuffle, the argmin is a mergeable min-struct partial aggregate
    * keyed by walk (never a window), frontier stays vertex-sized,
    * lineage cut per step. Dead ends (none here — the undirected
    * strong graph has no sinks) would simply emit shorter walks. */
  def graphRandomWalk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = undirectedStrongEdges(s, dir)
    val init = edges.select($"src".as("start")).distinct()
      .select($"start", lit(0L).as("step"), $"start".as("node"))
      .localCheckpoint(true)
    // each walk's step-(i − 1) row is its frontier
    val walk = Loop.fixed(init, walkSteps) { (walk, i) =>
      val nxt = edges.join(walk.filter($"step" === i - 1), $"src" === $"node")
        .withColumn("score", expr(walkScoreSql("node", "dst", i)))
        .groupBy($"start")
        .agg(min(struct($"score", $"dst")).as("m"))
        .select($"start", lit(i.toLong).as("step"), $"m.dst".as("node"))
      walk.unionAll(nxt)
    }
    walk.orderBy($"start", $"step")
  }

  val graphRandomWalkSql: String = {
    val rounds = (1 to walkSteps).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT start, dst AS cur FROM (
         |    SELECT f.start, e.dst,
         |      row_number() OVER (PARTITION BY f.start
         |        ORDER BY ${walkScoreSql("f.cur", "e.dst", i)}, e.dst) AS rn
         |    FROM f${i - 1} f JOIN edges e ON e.src = f.cur)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val emits = (1 to walkSteps).map { i =>
      s"SELECT start, $i AS step, cur AS node FROM f$i"
    }.mkString("\n  UNION ALL\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT a.l_orderkey) >= $triangleMinSupport),
       |edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM e0
       |  UNION ALL
       |  SELECT v, u FROM e0),
       |f0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS start, src AS cur FROM edges),
       |$rounds
       |SELECT start, CAST(step AS BIGINT) AS step, node FROM (
       |  SELECT start, 0 AS step, cur AS node FROM f0
       |  UNION ALL
       |  $emits)
       |ORDER BY start, step""".stripMargin
  }

  // ------------------------------------------------------------------
  // graph_degree_stats — degree distribution + Hill tail estimate
  // ------------------------------------------------------------------

  /** Hill-estimator degree floor: nodes with degree ≥ this form the
    * tail whose power-law exponent is estimated. */
  val degreeTailMin = 2

  /** §2.12 — the degree-distribution AUDIT: per decimal-digit degree
    * bucket (an integer-exact binning — a log2 bucket from double
    * log arithmetic can flip at powers of two cross-engine) the node
    * count, degree range and share, plus the Hill maximum-likelihood
    * tail exponent α = 1 + n_tail / Σ ln(deg/d_min). This is the
    * first question asked of any production graph — join planning
    * (hub replication, 24t's salting threshold), sampler design, and
    * whether PageRank/LPA rounds will skew all hinge on how heavy the
    * tail is. The ln terms quantize to 1e-9 integers per node before
    * the decimal sum (the survival-curve device), so α is bit-stable
    * cross-engine; everything else is exact integer counts off ONE
    * node-sized degree frame (the edge build amortizes via the staged
    * artifact). */
  def graphDegreeStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    import org.apache.spark.sql.types.DecimalType
    val deg = edges(s, dir).groupBy($"src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val hill = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(when($"deg" >= degreeTailMin, 1L).otherwise(0L)).as("n_tail"),
        sum(when($"deg" >= degreeTailMin,
          expr(s"CAST(floor(ln(CAST(deg AS DOUBLE) / CAST($degreeTailMin AS DOUBLE)) * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .otherwise(lit(0L)).cast(DecimalType(38, 0))).as("lnsum_q"))
      .select($"n_nodes", $"n_tail",
        // degenerate-tail guard: every tail node AT d_min gives
        // lnsum 0 (alpha undefined) — NULL on both sides, never a
        // division by zero (Spark ANSI errors, DuckDB infs)
        expr(rndSql(
          "CASE WHEN lnsum_q = 0 THEN CAST(NULL AS DOUBLE) ELSE 1.0 + CAST(n_tail AS DOUBLE) / (CAST(lnsum_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)) END", 6)).as("alpha_hill"))
    deg
      .groupBy(length($"deg".cast("string")).cast("int").as("digits"))
      .agg(count(lit(1)).as("n_nodes_bucket"),
        min($"deg").as("min_deg"), max($"deg").as("max_deg"))
      .crossJoin(broadcast(hill))
      .select($"digits", $"n_nodes_bucket", $"min_deg", $"max_deg",
        expr(rndSql("CAST(n_nodes_bucket AS DOUBLE) / CAST(n_nodes AS DOUBLE)", 6)).as("share"),
        $"n_tail", $"alpha_hill")
      .orderBy($"digits")
  }

  val graphDegreeStatsSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |), d AS (
       |  SELECT src, count(*) AS deg FROM e GROUP BY src
       |), hill AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(CASE WHEN deg >= $degreeTailMin THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
       |    sum(CASE WHEN deg >= $degreeTailMin
       |      THEN CAST(floor(ln(CAST(deg AS DOUBLE) / CAST($degreeTailMin AS DOUBLE)) * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
       |      ELSE 0 END) AS lnsum_q
       |  FROM d
       |), h AS (
       |  SELECT n_nodes, n_tail,
       |    ${rndSql("CASE WHEN lnsum_q = 0 THEN CAST(NULL AS DOUBLE) ELSE 1.0 + CAST(n_tail AS DOUBLE) / (CAST(lnsum_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)) END", 6)} AS alpha_hill
       |  FROM hill
       |), b AS (
       |  SELECT CAST(length(CAST(deg AS VARCHAR)) AS INT) AS digits,
       |    count(*) AS n_nodes_bucket, min(deg) AS min_deg, max(deg) AS max_deg
       |  FROM d GROUP BY 1
       |)
       |SELECT digits, CAST(n_nodes_bucket AS BIGINT) AS n_nodes_bucket,
       |  CAST(min_deg AS BIGINT) AS min_deg, CAST(max_deg AS BIGINT) AS max_deg,
       |  ${rndSql("CAST(n_nodes_bucket AS DOUBLE) / CAST(n_nodes AS DOUBLE)", 6)} AS share,
       |  n_tail, alpha_hill
       |FROM b, h ORDER BY digits""".stripMargin
  }

  // ------------------------------------------------------------------
  // graph_ppr — personalized PageRank from a seed set
  // ------------------------------------------------------------------

  /** Seed-set size and rounds for [[graphPpr]]. */
  val pprSeedCount = 5
  val pprIters = 5

  /** §2.12 — PERSONALIZED PageRank: restart mass concentrated on a
    * seed set (the [[pprSeedCount]] top-degree parts, total-ordered
    * by (outdeg DESC, id) so the seed pick is deterministic) instead
    * of uniform — the "related to THESE products" ranking every
    * recommender ships next to global PageRank. Same quantized-exact
    * iteration as [[graphPagerank]] (1e-12 integer contributions —
    * cross-engine bit-stable), with two PPR-specific twists: the
    * restart term is per-node (1/|S| on seeds, 0 elsewhere), carried
    * on the node frame so every round is still one edge⋈frontier
    * join + a node-sized LEFT join (a node the frontier misses keeps
    * its restart mass — dropping it would leak seed mass the moment a
    * seed has no seed neighbor); and the contribution scan filters to
    * the POSITIVE-rank frontier, so early rounds touch only the
    * seeds' expanding neighborhood — at 100 TB the per-round work is
    * frontier-edges, not graph-edges, until saturation. Output keeps
    * rank > 0 rows only: the seed neighborhood IS the result. */
  def graphPpr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = edgesCkpt(s, dir)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
    val seeds = deg.orderBy($"outdeg".desc, $"src").limit(pprSeedCount)
      .select($"src".as("sid"))
    val rst = deg.join(broadcast(seeds), deg("src") === seeds("sid"), "left")
      .select($"src", $"outdeg",
        when($"sid".isNotNull, lit(1.0) / lit(pprSeedCount.toDouble))
          .otherwise(lit(0.0)).as("restart"))
      .localCheckpoint(true)
    val init = rst.select($"src".as("id"), $"outdeg", $"restart".as("rank"), $"restart")
    val state = Loop.fixed(init, pprIters) { (state, _) =>
      val contribs = state.filter($"rank" > 0.0).select($"id",
        expr(s"CAST(floor(rank / outdeg * $Q + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("cq"))
      // node-sized frames hinted broadcast — the pagerankOver rule:
      // checkpoint-derived stats are unsizable and the fallback SMJ
      // re-shuffles the edge set every round. NOTE this inherits
      // pagerankOver's BOUNDED-NODE-COUNT contract explicitly: the
      // rank>0 frontier grows toward the full node set within a few
      // rounds, so the forced broadcast is node-sized at saturation —
      // a billion-node graph must route through the indexed variant
      // (graph_pagerank_indexed's bucket-layout SMJ), not this one.
      val sums = e.join(broadcast(contribs), e("src") === contribs("id"))
        .groupBy($"dst").agg(sum($"cq").as("sq"))
      rst.join(broadcast(sums), rst("src") === sums("dst"), "left")
        .select($"src".as("id"), $"outdeg",
          (lit(1.0 - damping) * $"restart" +
            lit(damping) * (coalesce($"sq", lit(0L)).cast("double") / expr(s"CAST($Q AS DOUBLE)"))).as("rank"),
          $"restart")
    }
    state.filter(state("rank") > 0.0)
      .select(state("id").as("part_id"), state("rank").as("rank"))
      .orderBy("part_id")
  }

  val graphPprSql: String = {
    val base =
      s"""WITH e AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |), d AS (
         |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
         |), sd AS (
         |  SELECT src FROM d ORDER BY outdeg DESC, src LIMIT $pprSeedCount
         |), rst AS (
         |  SELECT d.src AS id, d.outdeg,
         |    CASE WHEN sd.src IS NOT NULL
         |      THEN CAST(1.0 AS DOUBLE) / CAST($pprSeedCount AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS restart
         |  FROM d LEFT JOIN sd ON sd.src = d.src
         |), r0 AS (
         |  SELECT id, outdeg, restart, restart AS rank FROM rst
         |)""".stripMargin
    val iters = (1 to pprIters).map { k =>
      s"""r$k AS (
         |  SELECT rst.id, rst.outdeg, rst.restart,
         |    CAST(${1.0 - damping} AS DOUBLE) * rst.restart + CAST($damping AS DOUBLE) *
         |      (CAST(COALESCE(m.sq, 0) AS DOUBLE) / CAST($Q AS DOUBLE)) AS rank
         |  FROM rst LEFT JOIN (
         |    SELECT e.dst,
         |      sum(CAST(floor(r.rank / r.outdeg * $Q + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS sq
         |    FROM e JOIN r${k - 1} r ON e.src = r.id AND r.rank > 0
         |    GROUP BY e.dst) m ON m.dst = rst.id
         |)""".stripMargin
    }
    (base +: iters).mkString(",\n") +
      s"\nSELECT id AS part_id, rank FROM r$pprIters WHERE rank > 0 ORDER BY part_id"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_degree_stats"     -> (graphDegreeStats _),
    "graph_ppr"              -> (graphPpr _),
    "graph_random_walk"      -> (graphRandomWalk _),
    "graph_modularity"       -> (graphModularity _),
    "graph_bfs"              -> (graphBfs _),
    "graph_harmonic"         -> (graphHarmonic _),
    "graph_assortativity"    -> (graphAssortativity _),
    "graph_link_predict"     -> (graphLinkPredict _),
    "graph_neighbor_sim"     -> (graphNeighborSim _),
    "graph_pagerank"         -> (graphPagerank _),
    "graph_pagerank_indexed" -> (graphPagerankIndexed _),
    "graph_basket_rules"     -> (graphBasketRules _),
    "graph_triangles"        -> (graphTriangles _),
    "graph_components"       -> (graphComponents _),
    "graph_label_prop"       -> (graphLabelProp _),
    "graph_kcore"            -> (graphKcore _)
  )

  def oracles: Map[String, String] = Map(
    "graph_degree_stats"     -> graphDegreeStatsSql,
    "graph_ppr"              -> graphPprSql,
    "graph_random_walk"      -> graphRandomWalkSql,
    "graph_modularity"       -> graphModularitySql,
    "graph_bfs"              -> graphBfsSql,
    "graph_harmonic"         -> graphHarmonicSql,
    "graph_assortativity"    -> graphAssortativitySql,
    "graph_link_predict"     -> graphLinkPredictSql,
    "graph_neighbor_sim"     -> graphNeighborSimSql,
    "graph_pagerank"         -> graphPagerankSql,
    // identical recurrence over the persisted edge artifact
    "graph_pagerank_indexed" -> graphPagerankSql,
    "graph_basket_rules"     -> graphBasketRulesSql,
    "graph_triangles"        -> graphTrianglesSql,
    "graph_components"       -> graphComponentsSql,
    "graph_label_prop"       -> graphLabelPropSql,
    "graph_kcore"            -> graphKcoreSql
  )
}
