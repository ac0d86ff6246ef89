package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Agg.{rnd, rndSql}
import graft.functions.VectorFns
import graft.sources.Tables

/** §2.5 Similarity search over the `embeddings` table.
  *
  * [[annBruteforce]] is the exact baseline: query-set × corpus cosine
  * with a per-query top-k window. The join is bounded by |Q| — with a
  * small query set it is a broadcast of Q against a full corpus scan,
  * which IS the scalable exact layout (linear in corpus size, no
  * corpus self-join).
  *
  * [[annLsh]] is the scale path: deterministic random-hyperplane
  * (Rademacher ±1, hash-seeded) signatures — L tables × B bits,
  * row-local — then candidates only where query and corpus vector
  * share a bucket, exact cosine re-rank on candidates. Shuffles
  * (table, bucket) keys only; recall vs. the brute-force baseline is
  * asserted in SimilaritySpec.
  */
object Similarity {

  /** Top-k neighbors returned per query. */
  val k = 5
  /** Queries = the first [[nQueries]] vec_ids (deterministic set). */
  val nQueries = 10
  /** LSH: [[lshTables]] hash tables × [[lshBits]] hyperplane bits. */
  val lshTables = 8
  val lshBits = 6

  /** THE zero-norm contract for the cosine family, in one named
    * place: a zero-norm vector (a crashed encoder shard —
    * embed_norm_audit is the gate that surfaces them) has no
    * direction, so it is excluded as both query and candidate,
    * identically in every consumer's oracle; without the filter every
    * cosine is an ANSI divide-by-zero vs a DuckDB NULL. Cosine-family
    * operators OUTSIDE this file call this explicitly on whatever
    * frame they feed into a cosine — even when the frame came from
    * [[vectors]] — so no operator's correctness hinges on an
    * exclusion it doesn't own (Catalyst collapses the duplicate
    * filter; the double call is free). */
  private[graft] def nonDegenerate(df: DataFrame): DataFrame =
    df.filter(col("nrm") > 0.0)

  /** The cosine-space corpus view: (vec_id, v, nrm) with the
    * [[nonDegenerate]] zero-norm exclusion applied. */
  private[graft] def vectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nonDegenerate(Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v"))))
  }

  /** The corpus view as an eager checkpoint, memoized per (dataset,
    * session): the iterative consumers (graph-ANN descent loops,
    * embedding-cluster propagation) each need a lineage-cut vector
    * frame to anchor their rounds, and were each re-checkpointing the
    * same static 2-column projection per invocation. One artifact
    * serves them all; plain [[vectors]] stays the lazy view for
    * single-pass consumers. */
  private[graft] def vectorsCkpt(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo("similarity.vectors_ckpt", dir, s)(
      vectors(s, dir).localCheckpoint(true))

  /** Exact cosine top-k for the query set. */
  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vectors(s, dir)
    val q = v.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val scored = v.join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    // memoized for the recall report's truth re-use (Memo.refresh rules)
    graft.sources.Memo.refresh("ann_bruteforce", dir, s)(scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine"))
      .orderBy($"query_id", $"rank")
  }

  val annBruteforceSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |bfq AS MATERIALIZED (
       |  SELECT vec_id, v, nrm FROM n WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${rndSql("list_dot_product(q.v, c.v) / (q.nrm * c.nrm)", 6)} AS cosine
       |  FROM bfq q JOIN n c ON c.vec_id <> q.vec_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Hyperplane component for (plane p, dim d): hash-seeded ±1 —
    * fully deterministic, the same value as SQL `xxhash64(p, d)`
    * (computed once on the driver and shipped as a literal matrix
    * instead of 48×64 hash evals per row). */
  private[operators] def plane(p: Int, d: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(p), Literal(d)), 42L).eval(null).asInstanceOf[Long]
    (((h % 2) + 2) % 2) * 2.0 - 1.0
  }

  /** vec_id + one bucket id per LSH table. `tables`×`bits` default to
    * the top-k ANN tuning; [[Dedup.dedupEmbedding]] passes its own
    * (more tables, fewer bits) because a τ=0.4 threshold needs much
    * higher per-pair recall than a top-k search. */
  def lshBuckets(s: SparkSession, dir: String,
                 tables: Int = lshTables, bits: Int = lshBits): DataFrame =
    lshBucketsOf(vectors(s, dir), tables, bits)

  /** Bucket assignment over ANY (vec_id, v, nrm) frame — shared by
    * the batch path and the streaming probe (the hyperplane matrix is
    * a literal, so the signature is row-local on a stream too). */
  def lshBucketsOf(vecs: DataFrame, tables: Int, bits: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val nPlanes = tables * bits
    val dims = 64
    val planes = typedLit(Seq.tabulate(nPlanes, dims)((p, d) => plane(p, d + 1)))
    vecs
      .withColumn("planes", planes)
      .withColumn("bits",
        expr("transform(planes, pl -> CASE WHEN graft_dot(v, pl) >= 0D THEN 1L ELSE 0L END)"))
      .drop("planes")
      .select($"vec_id", $"v", $"nrm",
        posexplode(expr(
          s"""transform(sequence(0, ${tables - 1}), t ->
             |  aggregate(sequence(0, ${bits - 1}), 0L,
             |    (acc, j) -> acc + shiftleft(element_at(bits, t * $bits + j + 1), j)))""".stripMargin)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
  }

  /** Bucketed ANN: candidates share an LSH bucket with the query in
    * at least one table; exact cosine re-rank, top-k. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = lshBuckets(s, dir)
    // stage the bucket assignment (ids only — the vectors stay in the
    // frame) so the oracle can recompute candidate generation and the
    // exact re-rank from it; the write is memoized per dataset
    graft.sources.OracleStage.stage(s, "lsh_buckets", dir)(
      b.select($"vec_id", $"tbl", $"bucket"))
    val qb = b.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        $"tbl", $"bucket")
    val cand = b.join(broadcast(qb),
        b("tbl") === qb("tbl") && b("bucket") === qb("bucket") &&
          b("vec_id") =!= qb("query_id"))
      .select($"query_id", $"qv", $"qnrm", $"vec_id", $"v", $"nrm")
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    // memoized for the recall report's tier re-use (Memo.refresh rules:
    // a standalone run always computes live and refreshes)
    graft.sources.Memo.refresh("ann_lsh", dir, s)(cand
        .withColumn("cosine",
          expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Oracle over the STAGED bucket table: candidate generation,
    * exact-cosine re-rank and top-k recomputed in DuckDB — everything
    * downstream of the hyperplane signs is hash-checked (the plane
    * hashing itself is covered by the recall spec + determinism). */
  def annLshSql(glob: String): String =
    s"""WITH b AS (SELECT vec_id, tbl, bucket FROM read_parquet('$glob')),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c
       |    ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} AS cosine
       |  FROM cand JOIN n qn ON qn.vec_id = cand.query_id
       |            JOIN n cn ON cn.vec_id = cand.neighbor_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Matryoshka prefix dimensionality and shortlist multiplier. */
  val mrlDims = 16
  val mrlFactor = 4

  /** §2.5 — matryoshka (truncated-dimension) ANN: shortlist by
    * cosine over the first [[mrlDims]] of 64 dims, exact full-dim
    * re-rank of the k×[[mrlFactor]] survivors. The MRL serving
    * pattern (Kusupati et al., NeurIPS'22 — embeddings trained so
    * prefixes are themselves embeddings): the shortlist pass reads ¼
    * of the vector bytes and does ¼ of the multiply-adds, and —
    * unlike IVF/PQ — needs no trained index artifact, so it applies
    * to a corpus version the clusterer hasn't seen yet. Both stages
    * are deterministic (1e-6-quantized scores, id tiebreak) and
    * SQL-expressible, so the row is hash-oracled end to end, unlike
    * the recall-spec'd LSH/IVF rows. Scale layout: stage 1 is the
    * brute-force scan shape on the SLICED column (broadcast query
    * side, corpus never shuffles; the scan's column pruning is
    * Catalyst's, the byte cut is the slice) feeding the bounded-heap
    * top-k' ([[graft.plans.TopK.perGroup]] — ≤k' rows per partition
    * per query ship, no per-query global sort); stage 2 re-reads
    * full vectors for shortlist ids only (equi-join) and re-ranks on
    * a k'-bounded frame. */
  def annMatryoshka(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.Memo.refresh("ann_matryoshka", dir, s)(
        annMatryoshkaFrame(s, dir))
      .orderBy($"query_id", $"rank")
  }

  /** The un-memoized ranking frame (PlanSpec audits this — the eager
    * Memo checkpoint hides the stage plan from the final frame). */
  private[graft] def annMatryoshkaFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vectors(s, dir)
    val pv = v.select($"vec_id", expr(s"slice(v, 1, $mrlDims)").as("pv"))
      .withColumn("pnrm", expr(VectorFns.norm("pv")))
    val q = pv.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"pv".as("qpv"), $"pnrm".as("qpnrm"))
    val scored = pv.join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("pcos",
        expr(rndSql(s"${VectorFns.dot("qpv", "pv")} / (qpnrm * pnrm)", 6)))
      .select($"query_id", $"vec_id", $"pcos")
    val shortlist = graft.plans.TopK.perGroup(scored, Seq("query_id"),
        Seq("pcos" -> true, "vec_id" -> false), k * mrlFactor)
      .select($"query_id", $"vec_id")
    val qf = v.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val rescored = shortlist
      .join(v, "vec_id")
      .join(broadcast(qf), "query_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
      .select($"query_id", $"vec_id", $"cosine")
    graft.plans.TopK.perGroup(rescored, Seq("query_id"),
        Seq("cosine" -> true, "vec_id" -> false), k)
      .select($"query_id", $"rank".cast("long").as("rank"),
        $"vec_id".as("neighbor_id"), $"cosine")
  }

  /** Prefix lengths swept by [[annMatryoshkaSweep]] (64 = full dim). */
  val mrlSweep: Seq[Int] = Seq(8, 16, 32, 64)

  /** §2.5 — the matryoshka TUNING CURVE (the dim-truncation sibling
    * of the IVF nprobe sweep): per prefix length d ∈ [[mrlSweep]],
    * recall@k vs the full-dim truth for (a) DIRECT truncated search
    * and (b) the truncate-shortlist-then-rerank serving pattern the
    * 31g operator ships — the table that tells an operator how many
    * dims the index tier actually needs and what the rerank buys
    * back. Each sweep point is a broadcast-query pass over the
    * corpus (|Q| bounded) + bounded-heap top-k; d = 64 is exact by
    * construction and must land 1.0/1.0 (spec anchor). */
  def annMatryoshkaSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vectors(s, dir).localCheckpoint()
    val truth = annBruteforce(s, dir)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val qf = v.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val denomK = (nQueries * k).toDouble
    mrlSweep.map { d =>
      val pv = v.select($"vec_id", $"v", $"nrm",
          expr(s"slice(v, 1, $d)").as("pv"))
        .withColumn("pnrm", expr(VectorFns.norm("pv")))
      val q = pv.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"pv".as("qpv"), $"pnrm".as("qpnrm"))
      val scored = pv.join(broadcast(q), $"vec_id" =!= $"query_id")
        .withColumn("pcos",
          expr(rndSql(s"${VectorFns.dot("qpv", "pv")} / (qpnrm * pnrm)", 6)))
        .select($"query_id", $"vec_id", $"pcos")
      val direct = graft.plans.TopK.perGroup(scored, Seq("query_id"),
          Seq("pcos" -> true, "vec_id" -> false), k)
        .select($"query_id", $"vec_id".as("neighbor_id"))
      val shortlist = graft.plans.TopK.perGroup(scored, Seq("query_id"),
          Seq("pcos" -> true, "vec_id" -> false), k * mrlFactor)
        .select($"query_id", $"vec_id")
      val rescored = shortlist.join(v, "vec_id").join(broadcast(qf), "query_id")
        .withColumn("cosine",
          expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
        .select($"query_id", $"vec_id", $"cosine")
      val rerank = graft.plans.TopK.perGroup(rescored, Seq("query_id"),
          Seq("cosine" -> true, "vec_id" -> false), k)
        .select($"query_id", $"vec_id".as("neighbor_id"))
      val hd = direct.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits_direct"))
      val hr = rerank.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits_rerank"))
      hd.crossJoin(hr).select(
        lit(d).as("dims"),
        $"n_hits_direct",
        rnd($"n_hits_direct".cast("double") / lit(denomK), 6).as("recall_direct"),
        $"n_hits_rerank",
        rnd($"n_hits_rerank".cast("double") / lit(denomK), 6).as("recall_rerank"))
    }.reduce(_ unionByName _).orderBy($"dims")
  }

  val annMatryoshkaSweepSql: String = {
    val perD = mrlSweep.map { d =>
      s"""sc$d AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${rndSql(s"list_dot_product(q.v[1:$d], c.v[1:$d]) / (sqrt(list_sum(list_transform(q.v[1:$d], x -> x * x))) * sqrt(list_sum(list_transform(c.v[1:$d], x -> x * x))))", 6)} AS pcos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $nQueries),
         |direct$d AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY pcos DESC, vec_id) AS prank
         |    FROM sc$d)
         |  WHERE prank <= $k),
         |rr$d AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT s.query_id, s.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY s.query_id
         |        ORDER BY ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} DESC,
         |          s.vec_id) AS rank
         |    FROM (
         |      SELECT query_id, vec_id FROM (
         |        SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY pcos DESC, vec_id) AS prank
         |        FROM sc$d)
         |      WHERE prank <= ${k * mrlFactor}) s
         |    JOIN n qn ON qn.vec_id = s.query_id
         |    JOIN n cn ON cn.vec_id = s.vec_id)
         |  WHERE rank <= $k),
         |m$d AS (
         |  SELECT $d AS dims,
         |    (SELECT CAST(count(*) AS BIGINT) FROM direct$d
         |      JOIN truth USING (query_id, neighbor_id)) AS n_hits_direct,
         |    ${rndSql(s"CAST((SELECT count(*) FROM direct$d JOIN truth USING (query_id, neighbor_id)) AS DOUBLE) / CAST(${nQueries * k} AS DOUBLE)", 6)} AS recall_direct,
         |    (SELECT CAST(count(*) AS BIGINT) FROM rr$d
         |      JOIN truth USING (query_id, neighbor_id)) AS n_hits_rerank,
         |    ${rndSql(s"CAST((SELECT count(*) FROM rr$d JOIN truth USING (query_id, neighbor_id)) AS DOUBLE) / CAST(${nQueries * k} AS DOUBLE)", 6)} AS recall_rerank)""".stripMargin
    }.mkString(",\n")
    val uni = mrlSweep.map(d => s"SELECT * FROM m$d").mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |truth AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${rndSql("list_dot_product(q.v, c.v) / (q.nrm * c.nrm)", 6)} DESC,
       |          c.vec_id) AS rank
       |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $nQueries)
       |  WHERE rank <= $k),
       |$perD
       |$uni
       |ORDER BY dims""".stripMargin
  }

  val annMatryoshkaSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
       |    v[1:$mrlDims] AS pv,
       |    sqrt(list_sum(list_transform(v[1:$mrlDims], x -> x * x))) AS pnrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${rndSql("list_dot_product(q.pv, c.pv) / (q.pnrm * c.pnrm)", 6)} DESC,
       |        c.vec_id) AS prank
       |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $nQueries)
       |  WHERE prank <= ${k * mrlFactor})
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine
       |FROM (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |    ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} AS cosine
       |  FROM short s JOIN n qn ON qn.vec_id = s.query_id
       |               JOIN n cn ON cn.vec_id = s.vec_id)
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** §2.5 — per-label centroid coherence: each label's mean vector
    * compared (cosine) to the global mean — the embedding-space
    * observability readout (is a labelled slice drifting off-center?
    * are labels even separable?) run after every re-embedding.
    *
    * Determinism layout (the [[Graph]] quantization device, applied
    * to vectors): components quantize to 1e-6 longs row-local, sums
    * are exact integers (commutative — partitioning-independent),
    * centroids re-quantize from the exact sums by identical double
    * arithmetic, and the cosine derives from three exact integer
    * moments (dot, ‖m‖², ‖g‖²) — float enters only in the final
    * division/sqrt, bit-identical cross-engine. A naive
    * `avg(embedding[i])` float stream would differ per partitioning.
    * Scale: the dim-explode shuffles nothing raw — partial
    * aggregation collapses each task to |labels|×dims rows before the
    * exchange; everything after is label-sized. */
  def embedCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"label", posexplode(expr(VectorFns.asDouble("embedding"))))
      .select($"label", $"pos".as("dim"),
        expr("CAST(floor(col * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("q"))
    val byLabel = e.groupBy($"label", $"dim")
      .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
    val lbl = byLabel.withColumn("mq",
      expr("CAST(floor(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
    val glob = byLabel.groupBy($"dim")
      .agg(sum($"sq").as("gsq"), sum($"n").as("gn"))
      .withColumn("gq",
        expr("CAST(floor(CAST(gsq AS DOUBLE) / CAST(gn AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .select($"dim", $"gq")
    lbl.join(glob, "dim")
      .groupBy($"label")
      .agg(
        max($"n").as("n_vecs"),
        sum($"mq" * $"gq").as("dot"),
        sum($"mq" * $"mq").as("mm"),
        sum($"gq" * $"gq").as("gg"))
      .select($"label", $"n_vecs",
        expr(rndSql("CAST(dot AS DOUBLE) / (sqrt(CAST(mm AS DOUBLE)) * sqrt(CAST(gg AS DOUBLE)))", 6))
          .as("cosine_to_global"),
        expr(rndSql("sqrt(CAST(mm AS DOUBLE)) / 1000000.0", 6)).as("centroid_norm"))
      .orderBy($"label")
  }

  val embedCentroidsSql: String =
    s"""WITH q AS (
       |  SELECT label, i AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |bl AS (
       |  SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS n
       |  FROM q GROUP BY 1, 2),
       |l AS (
       |  SELECT label, dim, n,
       |    CAST(floor(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS mq
       |  FROM bl),
       |g AS (
       |  SELECT dim,
       |    CAST(floor(CAST(CAST(sum(sq) AS BIGINT) AS DOUBLE) /
       |      CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) + 0.5) AS BIGINT) AS gq
       |  FROM bl GROUP BY 1),
       |m AS (
       |  SELECT l.label, max(l.n) AS n_vecs,
       |    CAST(sum(l.mq * g.gq) AS BIGINT) AS dot,
       |    CAST(sum(l.mq * l.mq) AS BIGINT) AS mm,
       |    CAST(sum(g.gq * g.gq) AS BIGINT) AS gg
       |  FROM l JOIN g USING (dim) GROUP BY 1)
       |SELECT label, n_vecs,
       |  ${rndSql("CAST(dot AS DOUBLE) / (sqrt(CAST(mm AS DOUBLE)) * sqrt(CAST(gg AS DOUBLE)))", 6)} AS cosine_to_global,
       |  ${rndSql("sqrt(CAST(mm AS DOUBLE)) / 1000000.0", 6)} AS centroid_norm
       |FROM m ORDER BY label""".stripMargin

  // -------------------------------------------------------------------

  /** Outliers reported per label by [[embedOutliers]]. */
  private val outlierK = 5

  /** §2.5 — embedding-space outlier detection: per label, the
    * [[outlierK]] vectors FARTHEST from their label centroid — the
    * mislabeled/degenerate-embedding audit a curation pipeline runs
    * over every embedded corpus (an outlier in its own class is a
    * labeling error or an encoder failure).
    *
    * Exactness (same device as [[embedCentroids]]): components
    * quantize to 1e-6 longs row-local, centroid components derive
    * from exact integer sums, and each vector's squared distance to
    * its centroid is an exact integer Σ(q−mq)² — float enters only
    * at the final sqrt, then quantized. Scale shape: the centroid
    * table is |labels|×dims (KB) and BROADCAST to the per-element
    * join, whose output partial-aggregates per vec_id before any
    * exchange; the final per-label top-k runs on the bounded-heap
    * [[graft.plans.TopK.perGroup]] keyed by the exact integer
    * distance — no global or per-label sort. */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables.embeddings(s, dir)
      .select($"vec_id", $"label", posexplode(expr(VectorFns.asDouble("embedding"))))
      .select($"vec_id", $"label", $"pos".as("dim"),
        expr("CAST(floor(col * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("q"))
    val cent = q.groupBy($"label", $"dim")
      .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
      .select($"label", $"dim",
        expr("CAST(floor(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("mq"))
    val dist = q.join(broadcast(cent), Seq("label", "dim"))
      .groupBy($"vec_id", $"label")
      .agg(sum(($"q" - $"mq") * ($"q" - $"mq")).as("sd"))
    graft.plans.TopK.perGroup(dist, Seq("label"),
        Seq("sd" -> true, "vec_id" -> false), outlierK)
      .select($"label", $"rank", $"vec_id",
        expr(rndSql("sqrt(CAST(sd AS DOUBLE)) / 1000000.0", 6)).as("dist"))
      .orderBy($"label", $"rank")
  }

  val embedOutliersSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, label, i AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |c AS (
       |  SELECT label, dim,
       |    CAST(floor(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS mq
       |  FROM q GROUP BY 1, 2),
       |d AS (
       |  SELECT q.vec_id, q.label,
       |    CAST(sum((q.q - c.mq) * (q.q - c.mq)) AS BIGINT) AS sd
       |  FROM q JOIN c ON q.label = c.label AND q.dim = c.dim
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT label, vec_id, sd,
       |    row_number() OVER (PARTITION BY label ORDER BY sd DESC, vec_id) AS rank
       |  FROM d)
       |SELECT label, rank, vec_id,
       |  ${rndSql("sqrt(CAST(sd AS DOUBLE)) / 1000000.0", 6)} AS dist
       |FROM r WHERE rank <= $outlierK
       |ORDER BY label, rank""".stripMargin

  /** ABSOLUTE query-sample bound for the kNN label probe: the
    * queries are the [[knnEvalCap]] vectors ranking lowest under a
    * deterministic LCG scramble of vec_id — an unbiased fixed-size
    * sample whatever the corpus size, so eval cost is O(cap·corpus)
    * (one linear scan against a broadcast constant), NOT a
    * proportional slice that turns the probe quadratic. 256 binds at
    * every test SF (500-2,000 vectors); a production corpus would
    * raise it (~2,048) and the cost stays linear in the corpus. */
  val knnEvalCap = 256
  /** LCG scramble, identical integer arithmetic in Spark and DuckDB.
    * vec_id is reduced mod 2^31 BEFORE the multiply, so the largest
    * intermediate is (2^31-1)*1103515245 ≈ 2.4e18 < 2^63-1 — no ANSI
    * overflow at any corpus size (ids are non-negative, so both
    * engines' %, which follows the dividend's sign, agree). */
  val knnEvalHashSql =
    "((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648"

  /** §2.5 #31n — kNN label-consistency probe: every sampled vector is
    * classified by the majority label of its k nearest neighbors
    * (cosine; ties → lowest label) and scored against its own label,
    * reported per label — THE embedding-quality diagnostic a training
    * pipeline runs after (re)embedding: low consistency for one label
    * flags a class whose embedding region collapsed or overlaps.
    * Layout is the exact-kNN scan shape: the query sample is capped
    * at an ABSOLUTE [[knnEvalCap]] (hash-rank top-N — Spark plans the
    * sort+limit as a per-partition bounded heap + driver merge, never
    * a global sort), broadcasts, and the corpus is scanned once
    * (linear, no self-join); top-k per query on the bounded-heap
    * operator, the vote and the accuracy rollup are label-sized. */
  def embedKnnEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{countIf, rnd}
    val base = Tables.embeddings(s, dir)
      .select($"vec_id", $"label", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .filter($"nrm" > 0.0) // no defined cosine for a zero vector
    val q = base
      .withColumn("h", expr(knnEvalHashSql))
      .orderBy($"h", $"vec_id").limit(knnEvalCap)
      .select($"vec_id".as("query_id"), $"label".as("true_label"),
        $"v".as("qv"), $"nrm".as("qnrm"))
    val scored = base.join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
      .select($"query_id", $"true_label", $"vec_id", $"label", $"cosine")
    val nn = graft.plans.TopK.perGroup(scored, Seq("query_id"),
      Seq("cosine" -> true, "vec_id" -> false), k)
    val votes = nn.groupBy($"query_id", $"true_label", $"label".as("pred_label"))
      .agg(count(lit(1)).as("n_votes"))
    val pred = graft.plans.TopK.perGroup(votes, Seq("query_id"),
      Seq("n_votes" -> true, "pred_label" -> false), 1)
    pred.groupBy($"true_label".as("label"))
      .agg(count(lit(1)).as("n_queries"),
        countIf($"pred_label" === $"true_label").as("n_correct"))
      .withColumn("accuracy",
        rnd($"n_correct".cast("double") / $"n_queries".cast("double"), 6))
      .orderBy($"label")
  }

  val embedKnnEvalSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |q AS (
       |  SELECT vec_id AS query_id, label AS true_label, v AS qv, nrm AS qnrm
       |  FROM n ORDER BY $knnEvalHashSql, vec_id LIMIT $knnEvalCap),
       |scored AS (
       |  SELECT q.query_id, q.true_label, c.vec_id, c.label,
       |    ${rndSql("list_dot_product(q.qv, c.v) / (q.qnrm * c.nrm)", 6)} AS cosine
       |  FROM n c JOIN q ON c.vec_id <> q.query_id),
       |nn AS (
       |  SELECT query_id, true_label, label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |    FROM scored)
       |  WHERE rn <= $k),
       |votes AS (
       |  SELECT query_id, true_label, label AS pred_label, count(*) AS n_votes
       |  FROM nn GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, true_label, pred_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, pred_label) AS rn
       |    FROM votes)
       |  WHERE rn = 1)
       |SELECT true_label AS label, count(*) AS n_queries,
       |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  ${rndSql("CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS accuracy
       |FROM pred GROUP BY 1 ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // embed_covariance — distributed covariance (Gram) matrix
  // ------------------------------------------------------------------

  /** THE shared moment artifact: ONE corpus pass producing, per
    * dimension pair (i ≤ j, 1-based), the exact quantized
    * second-moment sums at BOTH quantums consumed downstream (1e-9
    * for the covariance readout and the PCA basis, 1e-12 for the OPQ
    * rotation), the first-moment sums riding the diagonal rows, and
    * the corpus count. [[embedCovariance]] formats it,
    * [[pcaBasis]] and [[graft.operators.EmbedPq.opqRotation]] consume
    * it — previously three separate corpus passes over the same
    * moments. Staged per dataset like the PQ codebooks; the artifact
    * is d(d+1)/2 rows, bounded and corpus-size-independent.
    *
    * Scale layout: each row expands ROW-LOCALLY to its d(d+1)/2
    * quantized pair products (a codegen'd nested-transform
    * expression, no join — the n·d² work is inherent to a Gram
    * matrix), and the partial aggregate collapses each task to
    * ≤ d(d+1)/2 running sums BEFORE the single shuffle, which
    * therefore carries #tasks × d(d+1)/2 rows regardless of corpus
    * size. Sums are DECIMAL(38,0) over half-up-quantized integers —
    * exact, commutative, partitioning-independent.
    *
    * Large-d swap-in: at d=64 the explode is 2,080 structs per row;
    * at production dims (d ≈ 1-4k) that is 10⁶-10⁷ structs per row
    * and the explode stops being the right shape. The swap-in is
    * IMPLEMENTED as [[embedMomentsGramian]] (per-partition Gramian
    * accumulation, d²-bounded task state, no per-row explode) and
    * proven bit-identical to this path in SimilaritySpec — either
    * can back the staged artifact. */
  private[graft] def embedMoments(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "embed_moments", dir) {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      Tables.embeddings(s, dir)
        .select(expr(VectorFns.asDouble("embedding")).as("v"))
        .select(explode(expr(
          """flatten(transform(v, (a, i) -> transform(slice(v, i + 1, size(v) - i),
            |  (b, k) -> named_struct('i', i + 1, 'j', i + 1 + k,
            |    'q9',  CAST(floor(a * b * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT),
            |    'q12', CAST(floor(a * b * CAST(1000000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT),
            |    'x9',  CASE WHEN k = 0 THEN CAST(floor(a * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE CAST(0 AS BIGINT) END,
            |    'x12', CASE WHEN k = 0 THEN CAST(floor(a * CAST(1000000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE CAST(0 AS BIGINT) END))))"""
            .stripMargin)).as("t"))
        .select($"t.i", $"t.j", $"t.q9", $"t.q12", $"t.x9", $"t.x12")
        .groupBy($"i", $"j")
        .agg(sum($"q9".cast(DecimalType(38, 0))).as("sq9"),
             sum($"q12".cast(DecimalType(38, 0))).as("sq12"),
             sum($"x9".cast(DecimalType(38, 0))).as("sx9"),
             sum($"x12".cast(DecimalType(38, 0))).as("sx12"),
             count(lit(1)).as("n"))
    }

  /** §2.5 — the exact d×d covariance matrix of the embedding corpus
    * (upper triangle), the input primitive of PCA / whitening / OPQ
    * rotation training and the corpus-geometry audit (anisotropy,
    * collapsed dimensions) run before trusting any ANN index. A
    * d²-row FORMATTING of the staged [[embedMoments]] artifact —
    * the corpus pass runs once for the whole PCA/OPQ/covariance
    * family. 10¹¹ rows × 1e9 quanta stay far inside DECIMAL(38)
    * range where a LONG sum would overflow; cov = E[xy] − E[x]E[y]
    * evaluated with identical double arithmetic on both engines,
    * 1e-6 quantized on output. */
  /** The LARGE-d swap-in for [[embedMoments]], implemented (not just
    * documented): a per-partition Gramian accumulation — each task
    * folds its rows into ONE d(d+1)/2 array of quantized-product
    * sums (plus first-moment and count), emitting a bounded batch of
    * partial rows per [[gramianChunkRows]] rows (the flush keeps the
    * 1e-12-quantum sums inside Long range at any partition size);
    * the same final decimal aggregate collapses the partials. No
    * per-row explode: at d ≈ 1-4k the explode is 10⁶-10⁷ structs per
    * row, while this path is a tight d² arithmetic loop per row with
    * d²-bounded task state. Produces BIT-IDENTICAL sums to the
    * explode path (same per-element half-up floors, exact
    * commutative sums — SimilaritySpec asserts row-level equality),
    * so either path can back the staged artifact. */
  val gramianChunkRows = 4000000L

  private[graft] def embedMomentsGramian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val vecs = Tables.embeddings(s, dir)
      .select(expr(VectorFns.asDouble("embedding")).as("v"))
      .as[Seq[Double]]
    val chunk = gramianChunkRows
    val partial = vecs.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        val d = first.length
        val m = d * (d + 1) / 2
        val q9 = new Array[Long](m); val q12 = new Array[Long](m)
        val x9 = new Array[Long](d); val x12 = new Array[Long](d)
        var n = 0L
        // Running worst-case bound (in 1e-12 quanta) on any single
        // accumulator cell this chunk. The fixed row-count chunk only
        // keeps q12 inside Int64 when |a_i·a_j| ≲ 2.3; embeddings with
        // larger components would overflow SILENTLY and break the
        // asserted bit-identity with the explode path (which sums in
        // DECIMAL(38,0)). So the flush threshold is derived from the
        // data: each row contributes ≤ max(rowMax², rowMax)·1e12 + 1
        // per cell, and we flush before the summed bound can cross a
        // half-range safety margin. Flush placement never changes the
        // totals (exact commutative Long sums → DECIMAL partials).
        val safeBound = 4.5e18
        var bound = 0.0
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Long, Long, Long, Long, Long)]
        def flush(): Unit = if (n > 0) {
          var k = 0
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              out += ((i + 1, j + 1, q9(k), q12(k),
                if (i == j) x9(i) else 0L, if (i == j) x12(i) else 0L, n))
              k += 1; j += 1
            }
            i += 1
          }
          java.util.Arrays.fill(q9, 0L); java.util.Arrays.fill(q12, 0L)
          java.util.Arrays.fill(x9, 0L); java.util.Arrays.fill(x12, 0L)
          n = 0; bound = 0.0
        }
        def add(row: Seq[Double]): Unit = {
          val a = row.toArray
          var rowMax = 0.0
          var c = 0
          while (c < d) {
            val v = math.abs(a(c)); if (v > rowMax) rowMax = v; c += 1
          }
          val inc = math.max(rowMax * rowMax, rowMax) * 1e12 + 1.0
          if (n > 0 && bound + inc > safeBound) flush()
          var k = 0
          var i = 0
          while (i < d) {
            x9(i) += math.floor(a(i) * 1e9 + 0.5).toLong
            x12(i) += math.floor(a(i) * 1e12 + 0.5).toLong
            var j = i
            while (j < d) {
              val p = a(i) * a(j)
              q9(k) += math.floor(p * 1e9 + 0.5).toLong
              q12(k) += math.floor(p * 1e12 + 0.5).toLong
              k += 1; j += 1
            }
            i += 1
          }
          n += 1; bound += inc
          if (n >= chunk) flush()
        }
        add(first)
        it.foreach(add)
        flush()
        out.iterator
      }
    }.toDF("i", "j", "pq9", "pq12", "px9", "px12", "pn")
    partial.groupBy($"i", $"j")
      .agg(sum($"pq9".cast(DecimalType(38, 0))).as("sq9"),
        sum($"pq12".cast(DecimalType(38, 0))).as("sq12"),
        sum($"px9".cast(DecimalType(38, 0))).as("sx9"),
        sum($"px12".cast(DecimalType(38, 0))).as("sx12"),
        sum($"pn").as("n"))
  }

  def embedCovariance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = embedMoments(s, dir)
    val prods = m.select($"i", $"j", $"sq9".as("sq"), $"n")
    val means = m.filter($"i" === $"j").select($"i".as("mi"), $"sx9".as("sx"))
    prods
      .join(broadcast(means.select($"mi".as("i"), $"sx".as("sxi"))), "i")
      .join(broadcast(means.select($"mi".as("j"), $"sx".as("sxj"))), "j")
      .select($"i", $"j",
        expr(rndSql(
          "CAST(sq AS DOUBLE) / CAST(1000000000 AS DOUBLE) / CAST(n AS DOUBLE) - " +
            "(CAST(sxi AS DOUBLE) / CAST(1000000000 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
            "(CAST(sxj AS DOUBLE) / CAST(1000000000 AS DOUBLE) / CAST(n AS DOUBLE))", 6)).as("cov"))
      .orderBy($"i", $"j")
  }

  val embedCovarianceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |p AS (
       |  SELECT t['i'] AS i, t['j'] AS j, t['q'] AS q FROM (
       |    SELECT unnest(flatten(list_transform(range(1, len(v) + 1), i ->
       |      list_transform(range(i, len(v) + 1), j ->
       |        {'i': i, 'j': j,
       |         'q': CAST(floor(v[i] * v[j] * CAST(1000000000 AS DOUBLE)
       |                + CAST(0.5 AS DOUBLE)) AS BIGINT)})))) AS t
       |    FROM e)),
       |g AS (
       |  SELECT i, j, sum(q) AS sq, count(*) AS n FROM p GROUP BY 1, 2),
       |m AS (
       |  SELECT i AS mi, sum(xq) AS sx FROM (
       |    SELECT unnest(range(1, len(v) + 1)) AS i,
       |      unnest(list_transform(range(1, len(v) + 1), i ->
       |        CAST(floor(v[i] * CAST(1000000000 AS DOUBLE)
       |          + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS xq
       |    FROM e)
       |  GROUP BY 1)
       |SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
       |  ${rndSql(
         "CAST(g.sq AS DOUBLE) / CAST(1000000000 AS DOUBLE) / CAST(g.n AS DOUBLE) - " +
           "(CAST(a.sx AS DOUBLE) / CAST(1000000000 AS DOUBLE) / CAST(g.n AS DOUBLE)) * " +
           "(CAST(b.sx AS DOUBLE) / CAST(1000000000 AS DOUBLE) / CAST(g.n AS DOUBLE))", 6)} AS cov
       |FROM g JOIN m a ON g.i = a.mi JOIN m b ON g.j = b.mi
       |ORDER BY i, j""".stripMargin

  // ------------------------------------------------------------------
  // embed_pca — principal-axis projection (power iteration)
  // ------------------------------------------------------------------

  val pcaIters = 20

  /** Staged PCA basis: per dimension the corpus mean and the dominant
    * eigenvector coordinate, from [[pcaIters]] rounds of power
    * iteration on the exact covariance matrix ([[embedCovariance]]).
    * The matrix is d×d — a BOUNDED artifact independent of corpus
    * size — so the iteration runs on the driver like the PQ codebook
    * k-means (EmbedPq) and IVF centroids: the distributed work is the
    * one covariance pass; the driver loop touches d² doubles 20
    * times. Every matvec/norm accumulation is half-up-quantized at
    * 1e-9 and summed as integers (commutative → partitioning- and
    * order-independent), so the staged numbers are deterministic to
    * the bit. Fixed iteration count, fixed e₁ start → deterministic
    * up to nothing: no randomness anywhere. */
  private[graft] def pcaBasis(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "pca_basis", dir) {
      import s.implicits._
      val cov = embedCovariance(s, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      // empty corpus: no covariance — stage an empty basis (the
      // projection consumers cross an empty corpus with it anyway)
      if (cov.isEmpty)
        Seq.empty[(Int, Double, Double)].toDF("i", "mu", "w")
      else {
      val d = cov.iterator.map(_._2).max
      val C = Array.ofDim[Double](d, d)
      cov.foreach { case (i, j, c) => C(i - 1)(j - 1) = c; C(j - 1)(i - 1) = c }
      // means and count off the SAME staged moment artifact the
      // covariance formatted — no second corpus pass
      val diag = embedMoments(s, dir).filter($"i" === $"j")
        .select($"i", $"sx9", $"n").collect()
      val n = diag.head.getLong(2)
      val mu = diag.map(r => r.getInt(0) ->
        r.getDecimal(1).doubleValue() / 1e9 / n.toDouble).toMap
      var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
      for (_ <- 1 to pcaIters) {
        val w = Array.tabulate(d) { i =>
          var acc = 0L
          var j = 0
          while (j < d) { acc += math.floor(C(i)(j) * v(j) * 1e9 + 0.5).toLong; j += 1 }
          acc.toDouble / 1e9
        }
        // BigInt: the FIRST iterate is unnormalized (entries ~ the
        // covariance scale); on a 1e2-magnitude corpus Σ floor(w²·1e9)
        // is ~1e20 and a Long accumulator wraps negative → NaN basis
        var n2 = BigInt(0)
        w.foreach(x => n2 += BigInt(math.floor(x * x * 1e9 + 0.5).toLong))
        val nrm = math.sqrt(n2.toDouble / 1e9)
        // zero covariance (single vector / all-identical corpus): the
        // iterate lands in the null space — keep the previous unit
        // vector instead of staging a NaN basis both engines choke on
        v = if (nrm == 0.0) v else w.map(_ / nrm)
      }
      (1 to d).map(i => (i, mu(i), v(i - 1))).toDF("i", "mu", "w")
      }
    }

  /** §2.5 — first-principal-component scores for every embedding:
    * the corpus projected onto the dominant axis of its own
    * covariance — the 1-D shadow used for drift monitoring,
    * anisotropy audits, and as the first stage of whitening/OPQ.
    * The projection itself is the 100 TB path: the d-row basis
    * arrives as ONE broadcast row (arrays), each score is a row-local
    * codegen'd fold over quantized centered products (exact,
    * order-independent), no shuffle at all beyond the output sort.
    * Oracle recomputes the identical projection from the STAGED basis
    * parquet — the basis derivation is pinned by the covariance
    * oracle (hash-exact input matrix) plus SimilaritySpec's
    * eigen-residual check. */
  def embedPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val basisRow = pcaBasis(s, dir)
      .agg(sort_array(collect_list(struct($"i", $"mu", $"w"))).as("b"))
      .select(expr("transform(b, x -> x.mu)").as("muv"),
        expr("transform(b, x -> x.w)").as("wv"))
    Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .crossJoin(broadcast(basisRow))
      // single-component centered projection through the shared
      // native quantized-matvec loop (rows = the one loading vector)
      .select($"vec_id", expr(rndSql(
        """CAST(element_at(graft_qmatvec_c(v, muv, array(wv)), 1) AS DOUBLE)
          | / CAST(1000000000 AS DOUBLE)"""
          .stripMargin, 6)).as("pc1"))
      .orderBy($"vec_id")
  }

  def embedPcaSql(glob: String): String =
    s"""WITH b AS (SELECT i, mu, w FROM '$glob'),
       |p AS (
       |  SELECT e.vec_id,
       |    CAST(floor((CAST(e.embedding[CAST(b.i AS INT)] AS DOUBLE) - b.mu) * b.w
       |      * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
       |  FROM embeddings e, b)
       |SELECT vec_id,
       |  ${rndSql("CAST(sum(q) AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS pc1
       |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------
  // embed_drift — distribution drift between embedding snapshots
  // ------------------------------------------------------------------

  /** §2.5 — embedding-distribution drift between two corpus
    * snapshots (vec_id parity stands in for old/new embedding runs):
    * cosine between the snapshot mean vectors, the L2 distance
    * between them, and each snapshot's variance trace — the
    * re-embedding regression monitor run before swapping an index:
    * a mean-cosine dip or a trace collapse means the new encoder
    * moved the space and every persisted centroid/codebook is stale.
    *
    * Scale: one dim-explode partial agg to 2·d exact per-dim moment
    * rows (the `embed_centroids` device), then all statistics are
    * row-local arithmetic over that bounded frame with 1e-9-quantized
    * cross products — no second corpus pass, no shuffle beyond the
    * one aggregate. */
  def embedDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(38, 0)
    val moments = Tables.embeddings(s, dir)
      .select(($"vec_id" % 2 === 0).as("old_half"),
        posexplode(expr(VectorFns.asDouble("embedding"))).as(Seq("p", "x")))
      .select($"old_half", ($"p" + 1).as("i"),
        expr("CAST(floor(x * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("xq"),
        expr("CAST(floor(x * x * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("xxq"))
      .groupBy($"old_half", $"i")
      .agg(count(lit(1)).as("n"), sum($"xq".cast(D)).as("sx"), sum($"xxq".cast(D)).as("sxx"))
    val dims = moments
      .groupBy($"i")
      .agg(
        first(when($"old_half", $"n"), ignoreNulls = true).as("n_a"),
        first(when(!$"old_half", $"n"), ignoreNulls = true).as("n_b"),
        expr("first(CASE WHEN old_half THEN CAST(sx AS DOUBLE) / CAST(1000000000 AS DOUBLE) END, true)").as("sxa"),
        expr("first(CASE WHEN NOT old_half THEN CAST(sx AS DOUBLE) / CAST(1000000000 AS DOUBLE) END, true)").as("sxb"),
        expr("first(CASE WHEN old_half THEN CAST(sxx AS DOUBLE) / CAST(1000000000 AS DOUBLE) END, true)").as("sxxa"),
        expr("first(CASE WHEN NOT old_half THEN CAST(sxx AS DOUBLE) / CAST(1000000000 AS DOUBLE) END, true)").as("sxxb"))
      .select($"i", $"n_a", $"n_b",
        ($"sxa" / $"n_a".cast("double")).as("ma"),
        ($"sxb" / $"n_b".cast("double")).as("mb"),
        ($"sxxa" / $"n_a".cast("double")).as("ea2"),
        ($"sxxb" / $"n_b".cast("double")).as("eb2"))
      .select($"n_a", $"n_b",
        expr("CAST(floor(ma * mb * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("abq"),
        expr("CAST(floor(ma * ma * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("aaq"),
        expr("CAST(floor(mb * mb * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("bbq"),
        expr("CAST(floor((ma - mb) * (ma - mb) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("ddq"),
        expr("CAST(floor((ea2 - ma * ma) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("vaq"),
        expr("CAST(floor((eb2 - mb * mb) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("vbq"))
    dims.agg(
        first($"n_a").as("n_old"), first($"n_b").as("n_new"),
        sum($"abq").as("sab"), sum($"aaq").as("saa"), sum($"bbq").as("sbb"),
        sum($"ddq").as("sdd"), sum($"vaq").as("sva"), sum($"vbq").as("svb"))
      .select($"n_old", $"n_new",
        expr(rndSql("CAST(sab AS DOUBLE) / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE)))", 6)).as("mean_cosine"),
        expr(rndSql("sqrt(CAST(sdd AS DOUBLE) / CAST(1000000000 AS DOUBLE))", 6)).as("mean_l2"),
        expr(rndSql("CAST(sva AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)).as("var_trace_old"),
        expr(rndSql("CAST(svb AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)).as("var_trace_new"))
  }

  val embedDriftSql: String =
    s"""WITH e AS (
       |  SELECT vec_id % 2 = 0 AS old_half,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |x AS (
       |  SELECT old_half,
       |    unnest(range(1, len(v) + 1)) AS i,
       |    unnest(list_transform(range(1, len(v) + 1), i ->
       |      CAST(floor(v[i] * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS xq,
       |    unnest(list_transform(range(1, len(v) + 1), i ->
       |      CAST(floor(v[i] * v[i] * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS xxq
       |  FROM e),
       |m AS (
       |  SELECT old_half, i, count(*) AS n,
       |    sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(xxq AS HUGEINT)) AS sxx
       |  FROM x GROUP BY 1, 2),
       |dims AS (
       |  SELECT i,
       |    first(n) FILTER (WHERE old_half) AS n_a,
       |    first(n) FILTER (WHERE NOT old_half) AS n_b,
       |    first(CAST(sx AS DOUBLE) / CAST(1000000000 AS DOUBLE)) FILTER (WHERE old_half) AS sxa,
       |    first(CAST(sx AS DOUBLE) / CAST(1000000000 AS DOUBLE)) FILTER (WHERE NOT old_half) AS sxb,
       |    first(CAST(sxx AS DOUBLE) / CAST(1000000000 AS DOUBLE)) FILTER (WHERE old_half) AS sxxa,
       |    first(CAST(sxx AS DOUBLE) / CAST(1000000000 AS DOUBLE)) FILTER (WHERE NOT old_half) AS sxxb
       |  FROM m GROUP BY 1),
       |dd AS (
       |  SELECT n_a, n_b,
       |    sxa / CAST(n_a AS DOUBLE) AS ma, sxb / CAST(n_b AS DOUBLE) AS mb,
       |    sxxa / CAST(n_a AS DOUBLE) AS ea2, sxxb / CAST(n_b AS DOUBLE) AS eb2
       |  FROM dims),
       |q AS (
       |  SELECT n_a, n_b,
       |    CAST(floor(ma * mb * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS abq,
       |    CAST(floor(ma * ma * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS aaq,
       |    CAST(floor(mb * mb * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS bbq,
       |    CAST(floor((ma - mb) * (ma - mb) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ddq,
       |    CAST(floor((ea2 - ma * ma) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vaq,
       |    CAST(floor((eb2 - mb * mb) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vbq
       |  FROM dd)
       |SELECT CAST(first(n_a) AS BIGINT) AS n_old, CAST(first(n_b) AS BIGINT) AS n_new,
       |  ${rndSql("CAST(sum(abq) AS DOUBLE) / (sqrt(CAST(sum(aaq) AS DOUBLE)) * sqrt(CAST(sum(bbq) AS DOUBLE)))", 6)} AS mean_cosine,
       |  ${rndSql("sqrt(CAST(sum(ddq) AS DOUBLE) / CAST(1000000000 AS DOUBLE))", 6)} AS mean_l2,
       |  ${rndSql("CAST(sum(vaq) AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS var_trace_old,
       |  ${rndSql("CAST(sum(vbq) AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS var_trace_new
       |FROM q""".stripMargin

  // ---- binary (sign) quantization + Hamming search ----------------

  /** Sign-bit packing of `v` (d = 64) into ONE BIGINT, as a SQL
    * fragment over a double-array column: bit i set iff v[i] > 0.
    * Two's-complement equivalence pins the cross-engine value: the
    * OR-of-shifts here equals −2^63·b₆₃ + Σ_{i<63} 2^i·bᵢ, which is
    * how the oracle (no bit-OR aggregate in SQL) computes it. */
  private def signCode(v: String): String =
    s"""aggregate(transform($v, (x, i) ->
       |  IF(x > CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
       |  CAST(0 AS BIGINT), (acc, b) -> acc | b)""".stripMargin

  /** §2.5 — binary (sign) quantization: each 64-dim embedding packs
    * to a SINGLE 8-byte code (256 KB per billion vectors per... 8 GB
    * per 10⁹ — small enough to pin in memory fleet-wide), the
    * heaviest compression tier below int8/PQ. Row-local codegen'd
    * fold, no shuffle beyond the output sort; n_pos (popcount) rides
    * along as the code's mass diagnostic. */
  def embedBinary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .select($"vec_id", expr(signCode("v")).as("code"))
      .withColumn("n_pos", expr("CAST(bit_count(code) AS INT)"))
      .orderBy($"vec_id")
  }

  val embedBinarySql: String =
    s"""SELECT vec_id,
       |  CAST(list_sum(list_transform(range(0, 64), i ->
       |    CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > CAST(0 AS DOUBLE) THEN
       |      CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |           ELSE (CAST(1 AS BIGINT) << i) END
       |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code,
       |  CAST(bit_count(CAST(list_sum(list_transform(range(0, 64), i ->
       |    CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > CAST(0 AS DOUBLE) THEN
       |      CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |           ELSE (CAST(1 AS BIGINT) << i) END
       |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS INT) AS n_pos
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** §2.5 — Hamming-distance ANN over the binary codes: the
    * quantized full scan is ONE xor + popcount per corpus row (two
    * machine instructions on 8-byte codes — the fastest possible
    * exhaustive pass; at 10⁹ vectors the whole code table is
    * node-resident and the scan is memory-bandwidth-bound, the shape
    * faiss's IndexBinaryFlat uses). Query codes broadcast; top-k per
    * query by (hamming, neighbor) — the window pair rewrites to the
    * bounded partial+final TopKPerGroup heap, so no per-query
    * corpus-sized sort. The standard production use: Hamming
    * pre-filter shortlist, exact re-rank (31e's refine pattern)
    * downstream. */
  def annHamming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.Memo.refresh("ann_hamming", dir, s)(
        annHammingFrame(s, dir))
      .orderBy($"query_id", $"rank")
  }

  /** Un-memoized frame for PlanSpec (the annMatryoshkaFrame rule). */
  private[graft] def annHammingFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .select($"vec_id", expr(signCode("v")).as("code"))
    val q = codes.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"code".as("qcode"))
    val w = Window.partitionBy($"query_id").orderBy($"hamming", $"vec_id")
    codes.join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("hamming", expr("CAST(bit_count(qcode ^ code) AS INT)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"hamming")
  }

  val annHammingSql: String =
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(range(0, 64), i ->
       |      CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > CAST(0 AS DOUBLE) THEN
       |        CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |             ELSE (CAST(1 AS BIGINT) << i) END
       |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(q.code, c.code)) AS INT) AS hamming
       |  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank,
       |  neighbor_id, hamming
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Eigenvalue floor for [[embedWhiten]]'s scale (a collapsed
    * dimension would otherwise divide by ~0). */
  val whitenEps = 1e-9

  /** Staged whitening basis: the FULL eigendecomposition of the
    * corpus covariance (descending eigenvalue, the OPQ sign
    * convention — deterministic cyclic Jacobi on the driver over the
    * same staged [[embedMoments]] the PCA/OPQ family consumes), one
    * row per component j with its eigenvalue, loading vector and the
    * corpus mean. Bounded d-row artifact like the PQ codebooks. */
  private[graft] def whitenBasis(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "whiten_basis", dir) {
      import s.implicits._
      val cov = embedCovariance(s, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      // empty corpus: no covariance — stage an empty basis (consumers
      // cross an empty corpus with it anyway)
      if (cov.isEmpty)
        Seq.empty[(Int, Double, Seq[Double], Seq[Double])]
          .toDF("j", "lam", "r", "mu")
      else {
      val d = cov.iterator.map(_._2).max
      val C = Array.ofDim[Double](d, d)
      cov.foreach { case (i, j, c) => C(i - 1)(j - 1) = c; C(j - 1)(i - 1) = c }
      val diag = embedMoments(s, dir).filter($"i" === $"j")
        .select($"i", $"sx9", $"n").collect()
      val n = diag.head.getLong(2)
      val muArr = {
        val m = diag.map(r => r.getInt(0) ->
          r.getDecimal(1).doubleValue() / 1e9 / n.toDouble).toMap
        (1 to d).map(m).toArray
      }
      val (eigVals, eigVecs) = EmbedPq.jacobiEigen(C)
      val order = eigVals.zipWithIndex.sortBy { case (w, i) => (-w, i) }.map(_._2)
      val rows = order.zipWithIndex.map { case (c, jm1) =>
        val col = Array.tabulate(d)(r => eigVecs(r)(c))
        val mx = col.indices.maxBy(kk => (math.abs(col(kk)), -kk))
        val signed = if (col(mx) < 0) col.map(-_) else col
        (jm1 + 1, eigVals(c), signed.toSeq, muArr.toSeq)
      }
      rows.toSeq.toDF("j", "lam", "r", "mu")
      }
    }

  /** §2.5 — WHITENING transform: every embedding centered, rotated
    * into the eigenbasis and scaled by 1/√λ, so the output
    * distribution has (population) identity covariance — the
    * standard pre-step before cosine-sensitive indexing and the
    * strongest form of the anisotropy repair [[embedPca]] measures
    * 1-D. Per row the projection is a d² row-local codegen'd fold
    * against the broadcast basis (exact 1e-9-quantized per-component
    * sums, so both engines produce identical doubles); reported:
    * first two whitened coordinates + the whitened squared norm
    * (itself summed from quantized terms — order-independent).
    * SimilaritySpec asserts the whitening property: unit variance on
    * the leading components. */
  def embedWhiten(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = whitenBasis(s, dir)
      .agg(sort_array(collect_list(struct($"j", $"lam", $"r"))).as("bs"),
        first($"mu").as("mu"))
      .select(expr("transform(bs, x -> x.r)").as("rs"),
        expr("transform(bs, x -> x.lam)").as("lams"), $"mu")
    Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .crossJoin(broadcast(b))
      // the d² quantized-term projection runs as ONE native loop
      // (graft_qmatvec_c — bit-identical to the aggregate/zip_with
      // fold it replaces, the suite's former slowest sf≈1 query);
      // the O(k) eigenvalue scaling stays declarative
      .withColumn("wcs", expr(
        s"""zip_with(
           |  graft_qmatvec_c(v, mu, rs),
           |  lams,
           |  (q, l) -> (CAST(q AS DOUBLE) / CAST(1000000000 AS DOUBLE))
           |    / sqrt(greatest(l, CAST($whitenEps AS DOUBLE))))""".stripMargin))
      .select($"vec_id",
        expr(rndSql("element_at(wcs, 1)", 6)).as("wc1"),
        expr(rndSql("element_at(wcs, 2)", 6)).as("wc2"),
        expr(rndSql(
          """CAST(aggregate(transform(wcs, w ->
            |  CAST(floor(w * w * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)),
            |  CAST(0 AS BIGINT), (a, t) -> a + t) AS DOUBLE) / CAST(1000000000 AS DOUBLE)"""
            .stripMargin, 6)).as("wnorm2"))
      .orderBy($"vec_id")
  }

  def embedWhitenSql(glob: String): String =
    s"""WITH b AS (SELECT j, lam, r, mu FROM read_parquet('$glob')),
       |pj AS (
       |  SELECT e.vec_id, b.j,
       |    (CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
       |      CAST(floor((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - b.mu[CAST(i AS INT)])
       |        * b.r[CAST(i AS INT)] * CAST(1000000000 AS DOUBLE)
       |        + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |      / sqrt(greatest(b.lam, CAST($whitenEps AS DOUBLE))) AS wc
       |  FROM embeddings e, b)
       |SELECT vec_id,
       |  ${rndSql("max(CASE WHEN j = 1 THEN wc END)", 6)} AS wc1,
       |  ${rndSql("max(CASE WHEN j = 2 THEN wc END)", 6)} AS wc2,
       |  ${rndSql(
         "CAST(sum(CAST(floor(wc * wc * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS wnorm2
       |FROM pj GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Shortlist size for [[annHammingRefine]]. */
  val hammingShortlist = 10 * k

  /** §2.5 — two-stage binary search, the production deployment of
    * [[annHamming]]: the 8-byte-code scan shortlists
    * [[hammingShortlist]] candidates per query (xor+popcount, memory-
    * bandwidth-bound), then ONLY the shortlist's raw vectors are
    * fetched (broadcast shortlist — the corpus never shuffles) and
    * re-ranked by EXACT cosine. Hamming on sign codes approximates
    * angular order (the SimHash bound: P[bit differs] = θ/π), so the
    * re-rank repairs its quantization mis-ordering at a corpus-fetch
    * cost of k·overfetch rows per query; SimilaritySpec asserts
    * recall dominance over the raw Hamming top-k and exactness of
    * the reported cosines. */
  /** The Hamming-shortlist ids (query_id, vec_id) — the stage-1
    * candidate set of [[annHammingRefine]], shared with the recall
    * report's candidate accounting so the cost column can never
    * desync from the search path. */
  private[graft] def hammingShortlistIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .select($"vec_id", expr(signCode("v")).as("code"))
    val q = codes.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"code".as("qcode"))
    val scored = codes.join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("hamming", expr("CAST(bit_count(qcode ^ code) AS INT)"))
    graft.plans.TopK.perGroup(
        scored.select($"query_id", $"vec_id", $"hamming"),
        Seq("query_id"), Seq("hamming" -> false, "vec_id" -> false), hammingShortlist)
      .select($"query_id", $"vec_id")
  }

  def annHammingRefine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shortlist = hammingShortlistIds(s, dir)
    val qside = broadcast(vectors(s, dir).filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm")))
    val exact = vectors(s, dir)
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(qside, Seq("query_id"))
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    graft.sources.Memo.refresh("ann_hamming_refine", dir, s)(exact
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cosine"))
      .orderBy($"query_id", $"rank")
  }

  val annHammingRefineSql: String =
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(range(0, 64), i ->
       |      CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > CAST(0 AS DOUBLE) THEN
       |        CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |             ELSE (CAST(1 AS BIGINT) << i) END
       |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code
       |  FROM embeddings),
       |hscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    CAST(bit_count(xor(q.code, c.code)) AS INT) AS hamming
       |  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
       |    FROM hscored)
       |  WHERE rn <= $hammingShortlist),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |ex AS (
       |  SELECT sl.query_id, sl.vec_id AS neighbor_id,
       |    ${rndSql("list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm)", 6)} AS cosine
       |  FROM short sl
       |  JOIN n qn ON qn.vec_id = sl.query_id
       |  JOIN n cn ON cn.vec_id = sl.vec_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, cosine
       |FROM ex
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Row-local exact squared norm in the 1e-6 quantum: one
    * codegen'd `aggregate` fold, no per-element shuffle — the Spark
    * side of the audit never explodes the corpus. */
  private val normSqExpr =
    """aggregate(embedding, CAST(0 AS BIGINT), (acc, x) ->
      |  acc + CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)
      |      * CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT))""".stripMargin

  /** §2.5 — the embedding HEALTH gate run before any index build:
    * per label, vector count, zero-vector count (a zero vector has
    * no direction — cosine against it is undefined, and one crashed
    * encoder shard shows up as a zero burst), and the norm
    * min/max/mean (norm collapse or explosion is the first symptom
    * of a bad encoder checkpoint; matryoshka/whitening both assume a
    * sane norm envelope). Row-local exact arithmetic: components
    * quantize to 1e-6 longs inside ONE codegen'd fold per row (no
    * explode, no per-element shuffle — d=64 squared quanta sum to
    * ~6e13, inside int64), the norm re-quantizes after the only
    * float op (sqrt), and the mean divides an exact decimal sum.
    * ONE partial-agged |labels|-bounded shuffle total. */
  def embedNormAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.Agg.countIf
    Tables.embeddings(s, dir)
      .select($"label", expr(normSqExpr).as("ss"))
      .withColumn("norm_q",
        expr("CAST(floor(sqrt(CAST(ss AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        countIf($"ss" === 0L).as("n_zero"),
        min($"norm_q").as("min_q"),
        max($"norm_q").as("max_q"),
        sum($"norm_q".cast(DecimalType(38, 0))).as("sum_q"))
      .select($"label", $"n_vecs", $"n_zero",
        ($"min_q".cast("double") / lit(1000000.0)).as("min_norm"),
        ($"max_q".cast("double") / lit(1000000.0)).as("max_norm"),
        expr(rndSql("(CAST(sum_q AS DOUBLE) / 1000000.0) / CAST(n_vecs AS DOUBLE)", 6)).as("mean_norm"))
      .orderBy($"label")
  }

  val embedNormAuditSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |           * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ss
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
       |  GROUP BY 1, 2),
       |n AS (
       |  SELECT label, ss,
       |    CAST(floor(sqrt(CAST(ss AS DOUBLE)) + 0.5) AS BIGINT) AS norm_q
       |  FROM q)
       |SELECT label, count(*) AS n_vecs,
       |  ${graft.functions.Agg.countIfSql("ss = 0")} AS n_zero,
       |  CAST(min(norm_q) AS DOUBLE) / 1000000.0 AS min_norm,
       |  CAST(max(norm_q) AS DOUBLE) / 1000000.0 AS max_norm,
       |  ${rndSql("(CAST(sum(norm_q) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)", 6)} AS mean_norm
       |FROM n
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // ann_hard_negatives — contrastive-training negative mining
  // ------------------------------------------------------------------

  /** §2.5 — HARD-NEGATIVE mining: for each query vector, the top-k
    * most-similar vectors from OTHER classes — the gradient-richest
    * negatives for contrastive/triplet training (random negatives are
    * trivially separated after the first epochs; the pairs that still
    * teach sit just across the class boundary, and this is the query
    * that finds them). Same scan shape as [[annBruteforce]] (broadcast
    * query set against one corpus pass — linear, no self-join) with
    * the label inequality fused into the join predicate so mismatched
    * pairs never materialize; per-query top-k on the bounded window.
    * At 100 TB this runs per training round off the ANN tier instead
    * (probe IVF/PQ then label-filter); the exact scan is the recall
    * ground truth for that, exactly as ann_bruteforce is for ANN. */
  def annHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.embeddings(s, dir)
      .select($"vec_id", $"label", expr(VectorFns.asDouble("embedding")).as("v"))
      .withColumn("nrm", expr(VectorFns.norm("v")))
      .filter($"nrm" > 0.0) // no defined cosine for a zero vector
    val q = base.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"label".as("q_label"),
        $"v".as("qv"), $"nrm".as("qnrm"))
    val scored = base.join(broadcast(q),
        $"vec_id" =!= $"query_id" && $"label" =!= $"q_label")
      .withColumn("cosine",
        expr(rndSql(s"${VectorFns.dot("qv", "v")} / (qnrm * nrm)", 6)))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"q_label", $"rank", $"vec_id".as("neighbor_id"),
        $"label".as("n_label"), $"cosine")
      .orderBy($"query_id", $"rank")
  }

  val annHardNegativesSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM v
       |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS q_label,
       |    c.vec_id AS neighbor_id, c.label AS n_label,
       |    ${rndSql("list_dot_product(q.v, c.v) / (q.nrm * c.nrm)", 6)} AS cosine
       |  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.label <> q.label
       |  WHERE q.vec_id < $nQueries)
       |SELECT query_id, q_label,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
       |  neighbor_id, n_label, cosine
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // embed_jl — Johnson-Lindenstrauss sign projection
  // ------------------------------------------------------------------

  /** Target dimension for [[embedJl]]. A power of 4 keeps the 1/√k
    * scale factor (= 1/4) an exact double, so the projected
    * coordinates stay exact multiples of the fold quantum. */
  val jlDim = 16

  /** Staged JL basis: k rows (j, sgn[d]) of deterministic Rademacher
    * ±1 signs (xxhash64 parity per (j, i) cell — the same seedless
    * PRF device as the LSH hyperplanes). Staged via [[graft.sources
    * .OracleStage]] because no DuckDB SQL replicates Spark's
    * xxhash64; everything downstream of the sign matrix is plain
    * relational arithmetic the oracle recomputes in full. */
  private[graft] def jlBasis(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "jl_basis", dir) {
      import s.implicits._
      // data-independent basis: only the dimensionality is read from
      // the corpus; an empty corpus falls back to the schema's 64
      val d = Tables.embeddings(s, dir)
        .select(size($"embedding")).head(1)
        .headOption.map(_.getInt(0)).getOrElse(64)
      s.range(1, jlDim + 1).toDF("j")
        .select($"j".cast("int").as("j"),
          expr(s"transform(sequence(1, $d), i -> CAST(1 - 2 * (xxhash64(j * 4096 + i) & 1) AS DOUBLE))").as("sgn"))
    }

  /** §2.5 — Johnson-Lindenstrauss random projection: d → [[jlDim]]
    * via the database-friendly Achlioptas sign matrix, y = (1/√k)·Sx.
    * THE cheap dimensionality squeeze when PCA's train-a-basis pass
    * is unavailable or the basis must be data-independent (streaming
    * ingest, privacy): no corpus statistics, no training, and the
    * distance-preservation guarantee is distribution-free. Per row
    * the projection is a k·d row-local codegen'd fold against the
    * broadcast ±1 basis (exact 1e-9-quantized per-component sums —
    * identical doubles both engines); reported per vector: leading
    * two projected coordinates plus projected/original squared norms
    * and their ratio, the per-vector JL distortion (E[ratio] = 1,
    * Var = 2/k — SimilaritySpec asserts the concentration). The 100
    * TB shape is [[embedWhiten]]'s: corpus never shuffles, the basis
    * rides broadcast. */
  def embedJl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = jlBasis(s, dir)
      .agg(sort_array(collect_list(struct($"j", $"sgn"))).as("bs"))
      .select(expr("transform(bs, x -> x.sgn)").as("sgns"))
    Tables.embeddings(s, dir)
      .select($"vec_id", expr(VectorFns.asDouble("embedding")).as("v"))
      .crossJoin(broadcast(b))
      // k·d quantized fold → one native graft_qmatvec loop; the O(k)
      // scale to the JL normalization stays declarative
      .withColumn("pcs", expr(
        s"""transform(graft_qmatvec(v, sgns), q ->
           |  CAST(q AS DOUBLE)
           |  / CAST(1000000000 AS DOUBLE) / sqrt(CAST($jlDim AS DOUBLE)))""".stripMargin))
      .withColumn("pn2_q", expr(
        """aggregate(transform(pcs, y -> CAST(floor(y * y * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, t) -> a + t)""".stripMargin))
      .withColumn("on2_q", expr(
        """aggregate(transform(v, x -> CAST(floor(x * x * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, t) -> a + t)""".stripMargin))
      .select($"vec_id",
        expr(rndSql("element_at(pcs, 1)", 6)).as("jc1"),
        expr(rndSql("element_at(pcs, 2)", 6)).as("jc2"),
        expr(rndSql("CAST(pn2_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)).as("pnorm2"),
        expr(rndSql("CAST(on2_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)).as("onorm2"),
        expr(rndSql("CASE WHEN on2_q = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(pn2_q AS DOUBLE) / CAST(on2_q AS DOUBLE) END", 6)).as("ratio"))
      .orderBy($"vec_id")
  }

  def embedJlSql(glob: String): String =
    s"""WITH b AS (SELECT j, sgn FROM read_parquet('$glob')),
       |pj AS (
       |  SELECT e.vec_id, b.j,
       |    (CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
       |      CAST(floor(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * b.sgn[CAST(i AS INT)]
       |        * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS DOUBLE)
       |     / CAST(1000000000 AS DOUBLE) / sqrt(CAST($jlDim AS DOUBLE))) AS y
       |  FROM embeddings e, b),
       |pn AS (
       |  SELECT vec_id,
       |    max(CASE WHEN j = 1 THEN y END) AS y1,
       |    max(CASE WHEN j = 2 THEN y END) AS y2,
       |    CAST(sum(CAST(floor(y * y * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS pn2_q
       |  FROM pj GROUP BY vec_id),
       |onq AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |        * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS BIGINT) AS on2_q
       |  FROM embeddings)
       |SELECT pn.vec_id,
       |  ${rndSql("y1", 6)} AS jc1,
       |  ${rndSql("y2", 6)} AS jc2,
       |  ${rndSql("CAST(pn2_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS pnorm2,
       |  ${rndSql("CAST(on2_q AS DOUBLE) / CAST(1000000000 AS DOUBLE)", 6)} AS onorm2,
       |  ${rndSql("CASE WHEN on2_q = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(pn2_q AS DOUBLE) / CAST(on2_q AS DOUBLE) END", 6)} AS ratio
       |FROM pn JOIN onq ON pn.vec_id = onq.vec_id
       |ORDER BY pn.vec_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_hard_negatives" -> (annHardNegatives _),
    "embed_jl"         -> (embedJl _),
    "embed_norm_audit" -> (embedNormAudit _),
    "embed_binary"     -> (embedBinary _),
    "ann_hamming"      -> (annHamming _),
    "ann_hamming_refine" -> (annHammingRefine _),
    "embed_whiten"     -> (embedWhiten _),
    "embed_drift"      -> (embedDrift _),
    "embed_pca"        -> (embedPca _),
    "embed_covariance" -> (embedCovariance _),
    "ann_bruteforce" -> (annBruteforce _),
    "ann_lsh"        -> (annLsh _),
    "ann_matryoshka" -> (annMatryoshka _),
    "ann_matryoshka_sweep" -> (annMatryoshkaSweep _),
    "embed_centroids" -> (embedCentroids _),
    "embed_outliers" -> (embedOutliers _),
    "embed_knn_eval" -> (embedKnnEval _)
  )

  def oracles: Map[String, String] =
    Map("ann_hard_negatives" -> annHardNegativesSql,
      "embed_norm_audit" -> embedNormAuditSql,
      "embed_binary" -> embedBinarySql,
        "ann_hamming" -> annHammingSql,
        "ann_hamming_refine" -> annHammingRefineSql,
        "embed_drift" -> embedDriftSql,
        "embed_covariance" -> embedCovarianceSql,
        "ann_bruteforce" -> annBruteforceSql,
        "ann_matryoshka" -> annMatryoshkaSql,
        "ann_matryoshka_sweep" -> annMatryoshkaSweepSql,
        "embed_centroids" -> embedCentroidsSql,
        "embed_outliers" -> embedOutliersSql,
        "embed_knn_eval" -> embedKnnEvalSql) ++
      graft.sources.OracleStage.globOf("lsh_buckets")
        .map(g => "ann_lsh" -> annLshSql(g)) ++
      graft.sources.OracleStage.globOf("pca_basis")
        .map(g => "embed_pca" -> embedPcaSql(g)) ++
      graft.sources.OracleStage.globOf("whiten_basis")
        .map(g => "embed_whiten" -> embedWhitenSql(g)) ++
      graft.sources.OracleStage.globOf("jl_basis")
        .map(g => "embed_jl" -> embedJlSql(g))
}
