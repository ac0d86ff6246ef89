package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg.dsum

/** §2.5 Product quantization — the compressed-index scale path.
  *
  * A 64-dim float vector is 512 bytes; its PQ code is [[pqM]] bytes
  * (one codeword id per subspace). At 10¹¹ vectors that is the
  * difference between an index that fits executor memory and one
  * that doesn't — IVF prunes which vectors to look at
  * ([[SimilarityIvf]]), PQ shrinks what each one costs to hold.
  *
  * The per-subspace codebooks come from the same deterministic
  * k-means recipe as the IVF coarse quantizer: init from the first
  * vectors by id, fixed iteration count, per-(subspace, codeword,
  * dim) means under the exact decimal sum — codebooks are IDENTICAL
  * regardless of partitioning, so the code assignment is reproducible
  * on any cluster. All [[pqM]] subspaces train in the SAME jobs (one
  * explode over (subspace, codeword, dim)); driver traffic per
  * iteration is pqM·pqKsub·pqDsub numbers (1,024 doubles).
  *
  * Encoding is row-local arithmetic against broadcast codebook
  * literals — no shuffle anywhere in the encode path. No DuckDB
  * oracle (k-means in SQL is not reasonable); EmbedPqSpec pins
  * determinism across partition counts, code-range validity,
  * argmin self-consistency, and that reconstruction beats the
  * 1-codeword baseline.
  */
object EmbedPq {

  val pqM = 8      // subspaces
  val pqKsub = 16  // codewords per subspace
  val pqDsub = 8   // dims per subspace (pqM × pqDsub = 64)
  val pqIters = 3

  private def vectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.Tables.embeddings(s, dir)
      .select($"vec_id", expr(graft.functions.VectorFns.asDouble("embedding")).as("v"))
  }

  /** Sub-vector of `vec` for subspace `m` (0-based), as a SQL
    * fragment. `m`/`vec` may be literals or lambda variable names. */
  private def sub(m: String, vec: String = "v") =
    s"slice($vec, ($m) * $pqDsub + 1, $pqDsub)"

  // NOTE: the former codeExpr SQL argmin (transform-over-singleton
  // against codeword-distance lambdas) is replaced everywhere by the
  // native graft_pq_encode expression — same |c|² − 2·sub·c argmin,
  // same first-minimum tie-break, one tight loop per row.

  /** Codebooks are a deterministic artifact of the corpus (decimal-
    * exact k-means from a fixed init), so they are trained once per
    * dataset and reused — a production deployment persists them next
    * to the index; here a session memo stands in for that artifact
    * store (embed_pq and ann_pq share one training run). */
  def trainCodebooks(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val cbs = graft.sources.Memo("embedpq.codebooks", dir, s)(
      trainCodebooksUncached(s, dir))
    // persist the codebook artifact (KB-sized) so the oracle can
    // recompute encode/ADC/refine from it — and because that is what
    // a production index does with its codebooks anyway
    import s.implicits._
    graft.sources.OracleStage.stage(s, "pq_codebooks", dir)(
      cbs.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (c, cid) => (m, cid, c) }
      }.toDF("m", "cid", "c"))
    cbs
  }

  private def trainCodebooksUncached(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    trainCodebooksOn(s, vectors(s, dir))

  /** The deterministic k-means recipe over ANY (vec_id, v) frame —
    * shared by the raw-space codebooks and the OPQ rotated-space
    * codebooks. */
  private def trainCodebooksOn(s: SparkSession, v: DataFrame): Seq[Seq[Seq[Double]]] = {
    import s.implicits._
    var cbs: Seq[Seq[Seq[Double]]] = {
      val init0 = v.filter($"vec_id" < pqKsub).orderBy($"vec_id")
        .collect().map(_.getSeq[Double](1).toSeq).toSeq
      // corpus smaller than ksub: pad the seed by cycling (empty →
      // one zero vector). Duplicated codewords tie on every distance
      // and the first-match argmin never picks them — same in the
      // oracle's staged-artifact recomputation — while encode/ADC
      // plans keep their full ksub shape on a degenerate corpus.
      val base = if (init0.isEmpty) Seq(Seq.fill(pqM * pqDsub)(0.0)) else init0
      val init = Seq.tabulate(pqKsub)(i => base(i % base.size))
      Seq.tabulate(pqM)(m => init.map(_.slice(m * pqDsub, (m + 1) * pqDsub)))
    }
    for (_ <- 1 to pqIters) {
      val stats = v.withColumn("cbs", typedLit(cbs))
        .select($"v", posexplode(expr("graft_pq_encode(v, cbs).codes"))
          .as(Seq("m", "cid")))
        .select($"m", $"cid", posexplode(expr(sub("m"))).as(Seq("dim", "x")))
        .groupBy($"m", $"cid", $"dim")
        .agg(dsum($"x").as("sx"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getDouble(3), r.getLong(4)))
        .toMap
      cbs = Seq.tabulate(pqM) { m =>
        Seq.tabulate(pqKsub) { c =>
          Seq.tabulate(pqDsub) { d =>
            stats.get((m, c, d)).map { case (sx, n) => sx / n }
              .getOrElse(cbs(m)(c)(d)) // empty codeword keeps its value
          }
        }
      }
    }
    cbs
  }

  /** Encode every vector: pqM codeword ids + exact reconstruction
    * L2² against the decoded codewords. Row-local against the
    * broadcast codebook literal. */
  def encode(s: SparkSession, dir: String,
             cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    encodeOn(vectors(s, dir), cbs)

  /** Encode over ANY (vec_id, v) frame — shared by raw-space PQ and
    * OPQ's rotated space. */
  private def encodeOn(vecs: DataFrame, cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs
      .withColumn("cbs", typedLit(cbs))
      // fused native encode: argmin codes + reconstruction L2² in one
      // tight loop per row (graft_pq_encode, codebook self-dots
      // precomputed from the foldable literal) — bit-identical to the
      // former M·K interpreted codeword-distance lambdas, and immune
      // by construction to the CollapseProject inline hazard the old
      // transform-over-singleton device defended against (v is
      // evaluated exactly once inside the expression)
      .withColumn("ce", expr("graft_pq_encode(v, cbs)"))
      .select($"vec_id", concat_ws("-", $"ce.codes").as("pq_code"),
        expr(graft.functions.Agg.rndSql("ce.err", 6)).as("recon_err"))
  }

  def embedPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    encode(s, dir, trainCodebooks(s, dir)).orderBy($"vec_id")
  }

  /** PQ ANN via asymmetric distance (ADC): per query, the L2² to
    * every codeword of every codebook is precomputed into a distance
    * table (pqM × pqKsub doubles, computed on the driver for the
    * bounded query set and broadcast as a literal column); a corpus
    * vector's approximate distance is then pqM TABLE LOOKUPS — no
    * float math against the full vector. This is the scan that makes
    * a 10¹¹-vector index affordable: 8 adds per vector against an
    * 8-byte code, with the raw vectors never read after encoding.
    * Top-k per query runs on the native bounded-heap operator. */
  /** Bounded driver collect of the query vectors (nQueries rows), as
    * in annBruteforce. */
  private def queryVecs(s: SparkSession, dir: String): Seq[(Long, Seq[Double])] = {
    import s.implicits._
    vectors(s, dir).filter($"vec_id" < Similarity.nQueries)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
  }

  /** Per-query ADC distance tables (pqM × pqKsub doubles each) —
    * driver-computed for the bounded query set, broadcast as
    * literals. */
  private def distTables(qvecs: Seq[(Long, Seq[Double])],
                         cbs: Seq[Seq[Seq[Double]]]): Seq[(Long, Seq[Seq[Double]])] =
    qvecs.map { case (qid, qv) =>
      qid -> Seq.tabulate(pqM) { m =>
        val sub = qv.slice(m * pqDsub, (m + 1) * pqDsub)
        cbs(m).map(c => sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }

  /** The ADC lookup-sum over a `codes` array against a `dt` distance
    * table: pqM table lookups, no float math against raw vectors. */
  private val adcExpr: String =
    graft.functions.Agg.rndSql("graft_adc(dt, codes)", 6)

  def annPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cbs = trainCodebooks(s, dir)
    val codes = encode(s, dir, cbs)
      .select($"vec_id", split($"pq_code", "-").cast("array<int>").as("codes"))
    val dts = distTables(queryVecs(s, dir), cbs)
    val q = broadcast(dts.toDF("query_id", "dt"))
    val scored = codes.join(q, $"vec_id" =!= $"query_id")
      .withColumn("adist", expr(adcExpr))
    graft.plans.TopK.perGroup(
        scored.select($"query_id", $"vec_id", $"adist"),
        Seq("query_id"), Seq("adist" -> false, "vec_id" -> false), Similarity.k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"adist")
      .orderBy($"query_id", $"rank")
  }

  /** §2.5 — the PRODUCTION composite index: IVF pruning × PQ
    * compression. The query probes its [[SimilarityIvf.nprobe]]
    * closest inverted lists (bounding WHICH vectors are touched to
    * nprobe/nlist of the corpus) and ADC-scores only those vectors
    * from their 8-byte PQ codes (bounding the BYTES per touched
    * vector 64×) — the two levers that together make a 10¹¹-vector
    * index affordable, layered exactly as production ANN systems
    * stack them. Probe lists and distance tables are bounded driver
    * artifacts broadcast as literals; candidates come from two
    * broadcast equi-joins (probe cid, then query dt) — no nested
    * loop; the staged IVF assignment is parquet-backed so no live
    * argmin lineage crosses the join (the ann_ivf analyzer-hazard
    * defense applies unchanged). Top-k on the bounded-heap operator.
    */
  /** The IVF×PQ candidate set, ADC-scored: vectors from the query's
    * nprobe closest inverted lists, each scored from its 8-byte PQ
    * code. Shared by [[annIvfPq]] (top-k) and [[annIvfPqRefine]]
    * (shortlist → exact re-rank). */
  private def ivfPqScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cbs = trainCodebooks(s, dir)
    val codes = encode(s, dir, cbs)
      .select($"vec_id", split($"pq_code", "-").cast("array<int>").as("codes"))
    val (cents, assigned) = SimilarityIvf.kmeans(s, dir)
    // bounded driver compute: nQueries probe lists + distance tables
    val qvecs = queryVecs(s, dir)
    def centScore(qv: Seq[Double], c: Seq[Double]): Double = {
      // c·c − 2·qv·c, sequential left-to-right like graft_dot /
      // list_dot_product — identical on driver, executor and DuckDB
      var cc = 0.0; var qc = 0.0; var i = 0
      while (i < c.length) { cc += c(i) * c(i); qc += qv(i) * c(i); i += 1 }
      cc - 2.0 * qc
    }
    val probes = qvecs.flatMap { case (qid, qv) =>
      cents.zipWithIndex.map { case (c, i) => (centScore(qv, c), i) }
        .sorted.take(SimilarityIvf.nprobe).map { case (_, cid) => (qid, cid) }
    }
    val dts = distTables(qvecs, cbs)
    val probesDf = broadcast(probes.toDF("query_id", "cid"))
    val dtDf = broadcast(dts.toDF("query_id", "dt"))
    codes
      .join(assigned.select($"vec_id", $"cid"), "vec_id")
      .join(probesDf, Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .join(dtDf, Seq("query_id"))
      .withColumn("adist", expr(adcExpr))
      .select($"query_id", $"vec_id", $"adist")
  }

  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // memoized for ann_recall_report's re-invocation (Memo.refresh rules)
    graft.sources.Memo.refresh("ann_ivf_pq", dir, s)(
        graft.plans.TopK.perGroup(
          ivfPqScored(s, dir),
          Seq("query_id"), Seq("adist" -> false, "vec_id" -> false), Similarity.k)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"adist"))
      .orderBy($"query_id", $"rank")
  }

  /** §2.5 #31k — the COMPLETE production ANN stack: IVF pruning ×
    * PQ compression × exact re-rank. The ADC scan over the probed
    * lists shortlists [[refineShortlist]] candidates per query
    * (31j's scan), then ONLY the shortlist's raw vectors are fetched
    * and re-ranked by exact L2² (31e's refine) — quantization
    * mis-ordering within the shortlist is repaired at a corpus-fetch
    * cost of k·overfetch rows per query. Recall can only move toward
    * the brute-force answer vs raw IVF×PQ at equal fetch (EmbedPqSpec
    * asserts the dominance); the corpus never shuffles — probe lists,
    * distance tables and the shortlist are all bounded broadcasts. */
  def annIvfPqRefine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shortlist = graft.plans.TopK.perGroup(
        ivfPqScored(s, dir),
        Seq("query_id"), Seq("adist" -> false, "vec_id" -> false), refineShortlist)
      .select($"query_id", $"vec_id")
    // memoized for ann_recall_report's re-invocation (Memo.refresh rules)
    graft.sources.Memo.refresh("ann_ivf_pq_refine", dir, s)(
        exactRerank(s, dir, shortlist))
      .orderBy($"query_id", $"rank")
  }

  /** Exact-L2 re-rank of a bounded (query_id, vec_id) shortlist:
    * fetch raw vectors for the shortlist only — broadcast the
    * shortlist, never shuffle the corpus. |q−v|² = q·q − 2 q·v + v·v,
    * all three native dot products. */
  private def exactRerank(s: SparkSession, dir: String,
                          shortlist: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val qside = broadcast(queryVecs(s, dir).toDF("query_id", "qv"))
    val exact = vectors(s, dir)
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(qside, Seq("query_id"))
      .withColumn("l2", expr(rndSql(
        "graft_dot(qv, qv) - CAST(2 AS DOUBLE) * graft_dot(qv, v) + graft_dot(v, v)", 6)))
    val w = Window.partitionBy($"query_id").orderBy($"l2", $"vec_id")
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= Similarity.k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"l2")
      .orderBy($"query_id", $"rank")
  }

  /** Staged-artifact oracle over BOTH index artifacts: PQ encode from
    * the staged codebooks, probe lists + assignment from the staged
    * IVF centroids, ADC restricted to probed lists. */
  /** CTEs for the IVF×PQ candidate scoring: staged IVF centroids →
    * assignment + probe lists, ADC restricted to probed lists. */
  private def ivfAdcCtes(centGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""cents AS (SELECT cid, c FROM read_parquet('$centGlob')),
       |iscored AS (
       |  SELECT v.vec_id, cents.cid,
       |    list_sum(list_transform(v.v, x -> x * x)) AS n2,
       |    list_dot_product(cents.c, cents.c) - CAST(2 AS DOUBLE) * list_dot_product(v.v, cents.c) AS s
       |  FROM v, cents),
       |assigned AS (
       |  -- zero-norm vectors are excluded from the IVF index (the
       |  -- engine's staged assignment never contains them); queries
       |  -- keep them — ADC is an L2 scan and a zero query is defined
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM iscored WHERE n2 > 0)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM iscored WHERE vec_id < ${Similarity.nQueries})
       |  WHERE rn <= ${SimilarityIvf.nprobe}),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < ${Similarity.nQueries}),
       |dt AS (
       |  SELECT q.query_id, cb.m, cb.cid,
       |    list_reduce(list_transform(range(1, ${pqDsub + 1}), i -> (qv[cb.m*$pqDsub+i] - c[i]) * (qv[cb.m*$pqDsub+i] - c[i])), (a, b) -> a + b) AS d
       |  FROM q, cb),
       |ad AS (
       |  SELECT dt.query_id, best.vec_id AS neighbor_id,
       |    ${rndSql("list_reduce(list(dt.d ORDER BY dt.m), (a, b) -> a + b)", 6)} AS adist
       |  FROM best
       |  JOIN dt ON best.m = dt.m AND best.cid = dt.cid
       |  JOIN assigned a ON a.vec_id = best.vec_id
       |  JOIN probes p ON p.query_id = dt.query_id AND p.cid = a.cid
       |  WHERE best.vec_id <> dt.query_id
       |  GROUP BY dt.query_id, best.vec_id)""".stripMargin
  }

  def annIvfPqSql(cbGlob: String, centGlob: String): String =
    s"""WITH ${pqCodesCtes(cbGlob)},
       |${ivfAdcCtes(centGlob)}
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank,
       |  neighbor_id, adist
       |FROM ad
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  def annIvfPqRefineSql(cbGlob: String, centGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""WITH ${pqCodesCtes(cbGlob)},
       |${ivfAdcCtes(centGlob)},
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |    FROM ad)
       |  WHERE rn <= $refineShortlist),
       |ex AS (
       |  SELECT sl.query_id, sl.neighbor_id,
       |    ${rndSql("list_dot_product(qq.qv, qq.qv) - CAST(2 AS DOUBLE) * list_dot_product(qq.qv, cv.v) + list_dot_product(cv.v, cv.v)", 6)} AS l2
       |  FROM short sl
       |  JOIN q qq ON qq.query_id = sl.query_id
       |  JOIN v cv ON cv.vec_id = sl.neighbor_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY l2, neighbor_id) AS rank,
       |  neighbor_id, l2
       |FROM ex
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Shortlist size for [[annPqRefine]] (ADC over-fetch factor ×
    * [[Similarity.k]]). */
  val refineShortlist = 10 * Similarity.k

  /** Two-stage PQ search — the standard production ANN layout: the
    * ADC scan shortlists [[refineShortlist]] candidates per query on
    * compressed codes alone (cheap, mis-ordered by quantization
    * error), then ONLY the shortlist's raw vectors are fetched and
    * re-ranked by EXACT L2² — the same metric the ADC stage
    * approximates, so re-ranking provably cannot lose a shortlisted
    * true neighbor: recall@k(refine) ≥ recall@k(raw ADC) at equal
    * corpus-fetch cost (EmbedPqSpec asserts both the dominance and
    * the exactness of the reported distances). At 10¹¹ vectors the
    * full-precision corpus is touched for k·overfetch rows per query
    * instead of all of them; the shortlist is nQueries·overfetch ids
    * and broadcasts — the corpus never shuffles. */
  def annPqRefine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cbs = trainCodebooks(s, dir)
    val codes = encode(s, dir, cbs)
      .select($"vec_id", split($"pq_code", "-").cast("array<int>").as("codes"))
    val dtab = broadcast(distTables(queryVecs(s, dir), cbs).toDF("query_id", "dt"))
    val scored = codes.join(dtab, $"vec_id" =!= $"query_id")
      .withColumn("adist", expr(adcExpr))
    val shortlist = graft.plans.TopK.perGroup(
        scored.select($"query_id", $"vec_id", $"adist"),
        Seq("query_id"), Seq("adist" -> false, "vec_id" -> false), refineShortlist)
      .select($"query_id", $"vec_id")
    // memoized for ann_recall_report's re-invocation (Memo.refresh rules)
    graft.sources.Memo.refresh("ann_pq_refine", dir, s)(
        exactRerank(s, dir, shortlist))
      .orderBy($"query_id", $"rank")
  }

  /** §2.5 #31f — scalar int8 quantization: the simple 4× compression
    * path next to PQ's 64× (per-vector max-abs scale, codes =
    * round(x/scale) in [−127, 127]) — row-local, no training, the
    * standard first step of embedding-index shrinking. Emits the
    * scale, an exact integer code checksum, and the reconstruction
    * L2 — all arithmetic mirrored operation-for-operation in DuckDB
    * (squared-error terms quantized at 1e-12 and summed exactly, so
    * the float oracle is hash-hard). Zero vectors quantize to scale 0
    * with zero codes. */
  def embedInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val codes = "transform(v, x -> CASE WHEN sc = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      "ELSE greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE), floor(x / sc + CAST(0.5 AS DOUBLE)))) END)"
    vectors(s, dir)
      .withColumn("sc", expr(
        "aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x))) / CAST(127 AS DOUBLE)"))
      .withColumn("codes", expr(codes))
      .select($"vec_id",
        expr(rndSql("sc", 9)).as("scale"),
        expr("CAST(aggregate(codes, CAST(0 AS DOUBLE), (a, c) -> a + c) AS BIGINT)").as("code_sum"),
        expr(rndSql(
          """sqrt(aggregate(
            |  zip_with(codes, v, (c, x) -> floor((c * sc - x) * (c * sc - x) * 1e12 + CAST(0.5 AS DOUBLE))),
            |  CAST(0 AS DOUBLE), (a, t) -> a + t) / 1e12)""".stripMargin, 6)).as("recon_l2"))
      .orderBy($"vec_id")
  }

  val embedInt8Sql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH vv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), sc AS (
       |  SELECT vec_id, v,
       |    list_aggregate(list_transform(v, x -> abs(x)), 'max') / CAST(127 AS DOUBLE) AS sc
       |  FROM vv
       |), coded AS (
       |  SELECT vec_id, v, sc,
       |    list_transform(v, x -> CASE WHEN sc = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |      ELSE greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE), floor(x / sc + CAST(0.5 AS DOUBLE)))) END) AS codes
       |  FROM sc
       |)
       |SELECT vec_id, ${rndSql("sc", 9)} AS scale,
       |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
       |  ${rndSql(
      "sqrt(list_aggregate(list_transform(range(1, len(codes) + 1), i -> floor((codes[i] * sc - v[i]) * (codes[i] * sc - v[i]) * 1e12 + CAST(0.5 AS DOUBLE))), 'sum') / 1e12)",
      6)} AS recon_l2
       |FROM coded ORDER BY vec_id""".stripMargin
  }

  // ---- staged-codebook oracles -------------------------------------
  // The codebooks are a staged artifact (trainCodebooks), so encode
  // (argmin over ksub codewords per subspace), the ADC lookup-sum,
  // and the exact re-rank are all recomputable in DuckDB. Fold orders
  // mirror the Spark side exactly (list_reduce ≡ aggregate's left
  // fold; list_dot_product ≡ graft_dot), so the float oracles are
  // hash-hard. Ties in the argmin break to the lowest cid on both
  // sides (array_position-of-min ≡ ORDER BY s, cid).

  import graft.functions.Agg.rndSql

  /** CTEs: staged codebooks, double vectors (rotated via the staged
    * OPQ rotation when `rotGlob` is given), per-(vec, m, cid) score,
    * and the winning codeword per (vec, m). */
  private def pqCodesCtes(glob: String, rotGlob: Option[String] = None): String = {
    val vCte = rotGlob match {
      case None =>
        """v AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings)""".stripMargin
      case Some(rg) =>
        s"""rot AS (SELECT i, r FROM read_parquet('$rg')),
           |rawv AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |v AS (
           |  SELECT rawv.vec_id, list(list_dot_product(rot.r, rawv.v) ORDER BY rot.i) AS v
           |  FROM rawv, rot GROUP BY rawv.vec_id)""".stripMargin
    }
    s"""cb AS (SELECT m, cid, c FROM read_parquet('$glob')),
       |$vCte,
       |scoredc AS (
       |  SELECT vec_id, cb.m, cb.cid, v[cb.m*$pqDsub+1 : cb.m*$pqDsub+$pqDsub] AS sv, cb.c,
       |    list_dot_product(cb.c, cb.c) - CAST(2 AS DOUBLE) * list_dot_product(v[cb.m*$pqDsub+1 : cb.m*$pqDsub+$pqDsub], cb.c) AS s
       |  FROM v, cb),
       |best AS (
       |  SELECT vec_id, m, cid, sv, c FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, cid) AS rn
       |    FROM scoredc)
       |  WHERE rn = 1)""".stripMargin
  }

  def embedPqSql(glob: String): String =
    s"""WITH ${pqCodesCtes(glob)},
       |errs AS (
       |  SELECT vec_id, m, cid,
       |    list_reduce(list_transform(range(1, ${pqDsub + 1}), i -> (sv[i] - c[i]) * (sv[i] - c[i])), (a, b) -> a + b) AS e
       |  FROM best)
       |SELECT vec_id,
       |  string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS pq_code,
       |  ${rndSql("list_reduce(list(e ORDER BY m), (a, b) -> a + b)", 6)} AS recon_err
       |FROM errs GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Query-side CTEs shared by the ADC oracles: the distance table
    * per (query, subspace, codeword) and the ADC sum per
    * (query, corpus vector). */
  private def adcCtes: String =
    s"""q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < ${Similarity.nQueries}),
       |dt AS (
       |  SELECT q.query_id, cb.m, cb.cid,
       |    list_reduce(list_transform(range(1, ${pqDsub + 1}), i -> (qv[cb.m*$pqDsub+i] - c[i]) * (qv[cb.m*$pqDsub+i] - c[i])), (a, b) -> a + b) AS d
       |  FROM q, cb),
       |ad AS (
       |  SELECT dt.query_id, best.vec_id AS neighbor_id,
       |    ${rndSql("list_reduce(list(dt.d ORDER BY dt.m), (a, b) -> a + b)", 6)} AS adist
       |  FROM best JOIN dt ON best.m = dt.m AND best.cid = dt.cid
       |  WHERE best.vec_id <> dt.query_id
       |  GROUP BY dt.query_id, best.vec_id)""".stripMargin

  def annPqSql(glob: String): String =
    s"""WITH ${pqCodesCtes(glob)},
       |$adcCtes
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank,
       |  neighbor_id, adist
       |FROM ad
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  def annPqRefineSql(glob: String): String =
    s"""WITH ${pqCodesCtes(glob)},
       |$adcCtes,
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |    FROM ad)
       |  WHERE rn <= $refineShortlist),
       |ex AS (
       |  SELECT sl.query_id, sl.neighbor_id,
       |    ${rndSql("list_dot_product(qq.qv, qq.qv) - CAST(2 AS DOUBLE) * list_dot_product(qq.qv, cv.v) + list_dot_product(cv.v, cv.v)", 6)} AS l2
       |  FROM short sl
       |  JOIN q qq ON qq.query_id = sl.query_id
       |  JOIN v cv ON cv.vec_id = sl.neighbor_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY l2, neighbor_id) AS rank,
       |  neighbor_id, l2
       |FROM ex
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  // ---- OPQ: eigenvalue-allocated rotation before PQ encode ----------

  /** §2.5 #31l — OPQ-style rotation (the non-parametric "eigenvalue
    * allocation" of Ge et al., Optimized Product Quantization,
    * CVPR'13 §4): rotate into the PCA eigenbasis and deal the
    * eigenvectors ROUND-ROBIN across the pqM subspaces (descending
    * eigenvalue), so every subspace receives an even mix of high- and
    * low-variance directions — the imbalance that makes contiguous
    * coordinate slices quantize badly. No iterative training: ONE
    * covariance pass (partition-invariant via 1e-12-quantized exact
    * decimal sums), a deterministic cyclic Jacobi eigensolve on the
    * driver (64×64, O(d³) — microseconds), a fixed allocation. The
    * rotation is orthonormal, so rotated-space recon L2² IS original-
    * space recon L2² against the counter-rotated codewords — directly
    * comparable with [[embedPq]]'s recon_err (EmbedPqSpec asserts the
    * improvement). Staged like the codebooks; at 10¹¹ vectors the
    * covariance pass runs on a deterministic sample (covariance
    * converges long before the corpus is exhausted). */
  def opqRotation(s: SparkSession, dir: String): Seq[Seq[Double]] = {
    val rot = graft.sources.Memo("embedpq.opq_rotation", dir, s)(
      opqRotationUncached(s, dir))
    import s.implicits._
    graft.sources.OracleStage.stage(s, "opq_rotation", dir)(
      rot.zipWithIndex.map { case (r, i) => (i, r) }.toDF("i", "r"))
    rot
  }

  private def opqRotationUncached(s: SparkSession, dir: String): Seq[Seq[Double]] = {
    import s.implicits._
    val d = pqM * pqDsub
    // quantized-exact Σx_i, Σx_i·x_j (j ≥ i) and n at the 1e-12
    // quantum, read from the SHARED staged moment artifact
    // (Similarity.embedMoments — one corpus pass for the whole
    // covariance/PCA/OPQ family); bit-stable under any partitioning,
    // so the rotation is a deterministic artifact of the corpus like
    // the codebooks. Artifact indices are 1-based.
    val stats = Similarity.embedMoments(s, dir)
      .select($"i", $"j", $"sq12", $"sx12", $"n").collect()
    // empty corpus: no moments to diagonalize — the identity rotation
    // keeps every downstream plan well-formed (they all join/cross an
    // empty corpus anyway)
    if (stats.isEmpty)
      return Seq.tabulate(d)(i => Seq.tabulate(d)(j => if (i == j) 1.0 else 0.0))
    val n = stats.head.getLong(4).toDouble
    val sx = Array.ofDim[Double](d)
    val sp = Array.ofDim[Double](d, d)
    stats.foreach { r =>
      val (i, j) = (r.getInt(0) - 1, r.getInt(1) - 1)
      val p = r.getDecimal(2).doubleValue() / 1e12
      sp(i)(j) = p; sp(j)(i) = p
      if (i == j) sx(i) = r.getDecimal(3).doubleValue() / 1e12
    }
    val cov = Array.tabulate(d, d)((i, j) => sp(i)(j) / n - (sx(i) / n) * (sx(j) / n))
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // descending eigenvalue order, index tie-break; sign convention:
    // largest-|component| positive — fully deterministic
    val order = eigVals.zipWithIndex.sortBy { case (w, i) => (-w, i) }.map(_._2)
    val cols = order.map { c =>
      val col = Array.tabulate(d)(r => eigVecs(r)(c))
      val mx = col.indices.maxBy(k => (math.abs(col(k)), -k))
      if (col(mx) < 0) col.map(-_) else col
    }
    // round-robin allocation: subspace b, slot p ← eigenvector p·M + b
    val alloc = Array.ofDim[Int](d)
    for (idx <- 0 until d) alloc((idx % pqM) * pqDsub + idx / pqM) = idx
    Seq.tabulate(d)(k => cols(alloc(k)).toSeq)
  }

  /** Deterministic cyclic Jacobi eigensolve for a symmetric matrix:
    * fixed (p,q) sweep order, fixed convergence threshold — identical
    * output for identical input on any host. Returns (eigenvalues,
    * eigenvector columns). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (off() > 1e-22 && sweep < 64) {
      for (p <- 0 until d - 1; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-18) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - sn * akq
          a(k)(q) = sn * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - sn * aqk
          a(q)(k) = sn * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - sn * vkq
          v(k)(q) = sn * vkp + c * vkq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Vectors in the rotated basis: v' = R·v, row-local against the
    * broadcast rotation literal (d dot products per vector) — STAGED
    * as a parquet artifact, not a live projection. Two reasons: it is
    * what a production OPQ index persists (rotate once at ingest,
    * every encode/scan reads the rotated corpus), and it is a
    * correctness-of-cost guard — a live projection under the encode's
    * nested lambdas invites CollapseProject to inline the d² rotation
    * fold into EVERY codeword-distance evaluation (measured: ann_opq
    * 1.4 s → 30 s when the single-reference encode form made the
    * rotation look inlineable; the parquet boundary makes that
    * impossible for any future expression shape). */
  private def rotatedVectors(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "opq_rotated", dir) {
      import s.implicits._
      vectors(s, dir)
        .withColumn("rot", typedLit(opqRotation(s, dir)))
        // d sequential dots as ONE native loop (graft_matvec) — same
        // left-to-right fold per component as the graft_dot transform
        .select($"vec_id", expr("graft_matvec(rot, v)").as("v"))
    }

  def trainOpqCodebooks(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val cbs = graft.sources.Memo("embedpq.opq_codebooks", dir, s)(
      trainCodebooksOn(s, rotatedVectors(s, dir)))
    import s.implicits._
    graft.sources.OracleStage.stage(s, "opq_codebooks", dir)(
      cbs.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (c, cid) => (m, cid, c) }
      }.toDF("m", "cid", "c"))
    cbs
  }

  /** OPQ encode: codes + exact rotated-space reconstruction L2²
    * (== original-space L2² by orthonormality). */
  def embedOpq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    encodeOn(rotatedVectors(s, dir), trainOpqCodebooks(s, dir)).orderBy($"vec_id")
  }

  /** Sequential left-to-right dot product — the same fold order as
    * graft_dot / DuckDB list_dot_product, so driver-rotated query
    * vectors are bit-equal to the oracle's SQL rotation. */
  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** §2.5 #31m — ADC search in the OPQ-rotated space: rotation is an
    * isometry, so ADC distances approximate the SAME original-space
    * L2² as [[annPq]] but from the lower-error OPQ codes. Queries
    * rotate on the driver (nQueries × d dot products); everything
    * else is the [[annPq]] scan shape — codes + broadcast distance
    * tables, bounded-heap top-k, corpus never shuffles. */
  def annOpq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cbs = trainOpqCodebooks(s, dir)
    val rot = opqRotation(s, dir)
    val codes = encodeOn(rotatedVectors(s, dir), cbs)
      .select($"vec_id", split($"pq_code", "-").cast("array<int>").as("codes"))
    val qrot = queryVecs(s, dir).map { case (qid, qv) =>
      qid -> rot.map(r => dotSeq(r, qv))
    }
    val dtab = broadcast(distTables(qrot, cbs).toDF("query_id", "dt"))
    val scored = codes.join(dtab, $"vec_id" =!= $"query_id")
      .withColumn("adist", expr(adcExpr))
    // memoized for ann_recall_report's re-invocation (Memo.refresh rules)
    graft.sources.Memo.refresh("ann_opq", dir, s)(
        graft.plans.TopK.perGroup(
          scored.select($"query_id", $"vec_id", $"adist"),
          Seq("query_id"), Seq("adist" -> false, "vec_id" -> false), Similarity.k)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"adist"))
      .orderBy($"query_id", $"rank")
  }

  def annOpqSql(cbGlob: String, rotGlob: String): String =
    s"""WITH ${pqCodesCtes(cbGlob, Some(rotGlob))},
       |$adcCtes
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank,
       |  neighbor_id, adist
       |FROM ad
       |QUALIFY rank <= ${Similarity.k}
       |ORDER BY query_id, rank""".stripMargin

  def embedOpqSql(cbGlob: String, rotGlob: String): String =
    s"""WITH ${pqCodesCtes(cbGlob, Some(rotGlob))},
       |errs AS (
       |  SELECT vec_id, m, cid,
       |    list_reduce(list_transform(range(1, ${pqDsub + 1}), i -> (sv[i] - c[i]) * (sv[i] - c[i])), (a, b) -> a + b) AS e
       |  FROM best)
       |SELECT vec_id,
       |  string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS pq_code,
       |  ${rndSql("list_reduce(list(e ORDER BY m), (a, b) -> a + b)", 6)} AS recon_err
       |FROM errs GROUP BY vec_id ORDER BY vec_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pq"      -> (embedPq _),
    "ann_pq"        -> (annPq _),
    "ann_pq_refine" -> (annPqRefine _),
    "embed_int8"    -> (embedInt8 _),
    "ann_ivf_pq"    -> (annIvfPq _),
    "ann_ivf_pq_refine" -> (annIvfPqRefine _),
    "embed_opq"     -> (embedOpq _),
    "ann_opq"       -> (annOpq _),
    "embed_distortion_report" -> (embedDistortionReport _)
  )

  /** §2.5 — the quantization DISTORTION table: mean/max
    * reconstruction L2² per storage tier (pq, opq, int8, binary) with
    * bytes-per-vector — the other axis of the index-selection
    * decision next to `ann_recall_report` (recall says what the
    * search finds; distortion says what the code can still express,
    * and it degrades BEFORE recall does). Tiers reuse the operators'
    * own per-vector reconstructions verbatim (pq/opq recon_err,
    * int8 recon_l2 squared on both engines identically); the binary
    * tier's optimal-scale sign-code error has the row-local closed
    * form Σx² − (Σ|x|)²/d, with both folds in the engines' shared
    * left-to-right order. Per-vector errors quantize to 1e-6 longs,
    * so the mean divides an exact decimal sum and the max compares
    * integers — the 4-row report is partitioning-independent. */
  def embedDistortionReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    import org.apache.spark.sql.types.DecimalType
    // the UNSORTED encode paths — the public ops' presentation
    // orderBy is pure waste under an aggregate
    val pq = encode(s, dir, trainCodebooks(s, dir))
      .select(lit("pq").as("tier"), lit(pqM.toLong).as("bytes_per_vec"),
        $"recon_err".as("e2"))
    val opq = encodeOn(rotatedVectors(s, dir), trainOpqCodebooks(s, dir))
      .select(lit("opq").as("tier"), lit(pqM.toLong).as("bytes_per_vec"),
        $"recon_err".as("e2"))
    val i8 = embedInt8(s, dir)
      .select(lit("int8").as("tier"), lit(72L).as("bytes_per_vec"),
        expr(rndSql("recon_l2 * recon_l2", 6)).as("e2"))
    val bin = graft.sources.Tables.embeddings(s, dir)
      .select(expr(graft.functions.VectorFns.asDouble("embedding")).as("v"))
      .select(lit("binary").as("tier"), lit(8L).as("bytes_per_vec"),
        expr(rndSql(
          """graft_dot(v, v) -
            |  aggregate(v, CAST(0 AS DOUBLE), (a, x) -> a + abs(x)) *
            |  aggregate(v, CAST(0 AS DOUBLE), (a, x) -> a + abs(x)) /
            |  CAST(size(v) AS DOUBLE)""".stripMargin, 6)).as("e2"))
    pq.unionAll(opq).unionAll(i8).unionAll(bin)
      .withColumn("eq", graft.functions.Agg.quantize($"e2", 6).cast("long"))
      .groupBy($"tier", $"bytes_per_vec")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"eq".cast(DecimalType(38, 0))).as("sq"),
        max($"eq").as("mq"))
      .select($"tier", $"bytes_per_vec", $"n_vecs",
        expr(rndSql("(CAST(sq AS DOUBLE) / 1e6) / CAST(n_vecs AS DOUBLE)", 6)).as("mean_l2sq"),
        ($"mq".cast("double") / lit(1000000.0)).as("max_l2sq"))
      .orderBy($"tier")
  }

  def embedDistortionReportSql(cbGlob: String, opqCbGlob: String,
                               rotGlob: String): String = {
    import graft.functions.Agg.rndSql
    def branch(suffix: String, cbG: String, rotated: Boolean): String = {
      val vCte = if (!rotated)
        s"""v$suffix AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings)""".stripMargin
      else
        s"""rot$suffix AS (SELECT i, r FROM read_parquet('$rotGlob')),
           |rawv$suffix AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |v$suffix AS (
           |  SELECT rawv$suffix.vec_id, list(list_dot_product(rot$suffix.r, rawv$suffix.v) ORDER BY rot$suffix.i) AS v
           |  FROM rawv$suffix, rot$suffix GROUP BY rawv$suffix.vec_id)""".stripMargin
      s"""cb$suffix AS (SELECT m, cid, c FROM read_parquet('$cbG')),
         |$vCte,
         |sc$suffix AS (
         |  SELECT vec_id, cb$suffix.m, cb$suffix.cid,
         |    v[cb$suffix.m*$pqDsub+1 : cb$suffix.m*$pqDsub+$pqDsub] AS sv, cb$suffix.c,
         |    list_dot_product(cb$suffix.c, cb$suffix.c) - CAST(2 AS DOUBLE) * list_dot_product(v[cb$suffix.m*$pqDsub+1 : cb$suffix.m*$pqDsub+$pqDsub], cb$suffix.c) AS s
         |  FROM v$suffix, cb$suffix),
         |best$suffix AS (
         |  SELECT vec_id, m, cid, sv, c FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, cid) AS rn
         |    FROM sc$suffix)
         |  WHERE rn = 1),
         |errs$suffix AS (
         |  SELECT vec_id, m,
         |    list_reduce(list_transform(range(1, ${pqDsub + 1}), i -> (sv[i] - c[i]) * (sv[i] - c[i])), (a, b) -> a + b) AS e
         |  FROM best$suffix),
         |pv$suffix AS (
         |  SELECT vec_id,
         |    ${rndSql("list_reduce(list(e ORDER BY m), (a, b) -> a + b)", 6)} AS e2
         |  FROM errs$suffix GROUP BY vec_id)""".stripMargin
    }
    s"""WITH ${branch("p", cbGlob, rotated = false)},
       |${branch("o", opqCbGlob, rotated = true)},
       |i8v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |i8sc AS (
       |  SELECT vec_id, v,
       |    list_aggregate(list_transform(v, x -> abs(x)), 'max') / CAST(127 AS DOUBLE) AS sc
       |  FROM i8v),
       |i8c AS (
       |  SELECT vec_id, v, sc,
       |    list_transform(v, x -> CASE WHEN sc = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |      ELSE greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE), floor(x / sc + CAST(0.5 AS DOUBLE)))) END) AS codes
       |  FROM i8sc),
       |i8e AS (
       |  SELECT ${rndSql(
      "sqrt(list_aggregate(list_transform(range(1, len(codes) + 1), i -> floor((codes[i] * sc - v[i]) * (codes[i] * sc - v[i]) * 1e12 + CAST(0.5 AS DOUBLE))), 'sum') / 1e12)",
      6)} AS recon_l2
       |  FROM i8c),
       |bine AS (
       |  SELECT ${rndSql(
      """list_dot_product(v, v) -
        |  list_reduce(list_transform(v, x -> abs(x)), (a, b) -> a + b) *
        |  list_reduce(list_transform(v, x -> abs(x)), (a, b) -> a + b) /
        |  CAST(len(v) AS DOUBLE)""".stripMargin, 6)} AS e2
       |  FROM i8v),
       |u AS (
       |  SELECT 'pq' AS tier, CAST($pqM AS BIGINT) AS bytes_per_vec, e2 FROM pvp
       |  UNION ALL
       |  SELECT 'opq', CAST($pqM AS BIGINT), e2 FROM pvo
       |  UNION ALL
       |  SELECT 'int8', CAST(72 AS BIGINT), ${rndSql("recon_l2 * recon_l2", 6)} FROM i8e
       |  UNION ALL
       |  SELECT 'binary', CAST(8 AS BIGINT), e2 FROM bine),
       |q AS (
       |  SELECT tier, bytes_per_vec,
       |    CAST(floor(e2 * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS eq
       |  FROM u)
       |SELECT tier, bytes_per_vec, count(*) AS n_vecs,
       |  ${rndSql("(CAST(sum(eq) AS DOUBLE) / 1e6) / CAST(count(*) AS DOUBLE)", 6)} AS mean_l2sq,
       |  CAST(max(eq) AS DOUBLE) / 1000000.0 AS max_l2sq
       |FROM q
       |GROUP BY tier, bytes_per_vec
       |ORDER BY tier""".stripMargin
  }

  def oracles: Map[String, String] =
    Map("embed_int8" -> embedInt8Sql) ++
      (for {
        g1 <- graft.sources.OracleStage.globOf("pq_codebooks")
        g2 <- graft.sources.OracleStage.globOf("opq_codebooks")
        g3 <- graft.sources.OracleStage.globOf("opq_rotation")
      } yield "embed_distortion_report" -> embedDistortionReportSql(g1, g2, g3)).toSeq ++
      graft.sources.OracleStage.globOf("pq_codebooks").toSeq.flatMap(g => Seq(
        "embed_pq"      -> embedPqSql(g),
        "ann_pq"        -> annPqSql(g),
        "ann_pq_refine" -> annPqRefineSql(g))) ++
      (for {
        g1 <- graft.sources.OracleStage.globOf("pq_codebooks")
        g2 <- graft.sources.OracleStage.globOf("ivf_centroids")
      } yield Seq(
        "ann_ivf_pq"        -> annIvfPqSql(g1, g2),
        "ann_ivf_pq_refine" -> annIvfPqRefineSql(g1, g2))).toSeq.flatten ++
      (for {
        g1 <- graft.sources.OracleStage.globOf("opq_codebooks")
        g2 <- graft.sources.OracleStage.globOf("opq_rotation")
      } yield Seq(
        "embed_opq" -> embedOpqSql(g1, g2),
        "ann_opq"   -> annOpqSql(g1, g2))).toSeq.flatten
}
