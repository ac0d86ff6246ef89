package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{TextAnalysis => TA}

/** §2.8 — trained-subword (BPE) tokenization: merge-table TRAINING
  * plus corpus ENCODING with the trained merges. This replaces the
  * last stand-in in the corpus pipeline — `token_ids`' top-N word
  * vocabulary — with the thing a real pretraining data-build ships:
  * byte-pair-encoding merges learned from the corpus itself, so token
  * budgets (45k), packing (41) and dedup thresholds are measured in
  * the same units the trainer consumes. Reference analog: the batch
  * pipeline's per-item transform hooks (client/index.ts:204-328) —
  * tokenization is the canonical such transform.
  *
  * Scale layout: training iterates on the WORD-FREQUENCY table
  * (vocab-bounded by Heaps' law — millions of rows at 100 TB, never
  * corpus-bounded; the one corpus-sized pass is the initial word
  * count's partial-agged groupBy). Each merge round is (a) an
  * adjacent-pair partial aggregate over that vocab-sized frame, (b) a
  * 1-ROW collect of the argmax pair (count desc, pair asc — fully
  * deterministic), (c) a row-local `replace` applying the merge. No
  * round shuffles anything bigger than the (pair, count) aggregate.
  * Encoding broadcasts the ≤[[bpeMerges]]-row merge table and applies
  * it as a chain of row-local replaces over the DISTINCT-word frame,
  * then joins pieces back to token positions — the corpus side never
  * carries the merge loop.
  *
  * Symbol sequences are represented as U+001F-delimited strings
  * (`␟a␟␟b␟…`): the unit separator never occurs inside a symbol
  * (words are whitespace-split; rare separator-carrying tokens are
  * excluded outright on both engines), so a plain substring
  * `replace(seq, ␟a␟␟b␟, ␟ab␟)` is exactly the greedy left-to-right
  * non-overlapping merge BPE specifies — and Spark's `replace` and
  * DuckDB's `replace` agree on that semantics, making the whole
  * training loop SQL-oracle-checkable (the oracle unrolls the rounds
  * as MATERIALIZED CTEs, the kcore/markov shape).
  */
object Bpe {

  /** Number of merge rounds trained (and unrolled in the oracle). */
  val bpeMerges = 30

  private val SEP = ""
  private def wrap(sym: String) = SEP + sym + SEP

  /** The trained merge table, staged once per dataset (the production
    * shape: a tokenizer is trained once and shipped to every job).
    * Columns: merge_rank, lhs, rhs, merged, pair_count. */
  private[graft] def bpeMergesDf(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "bpe_merges", dir)(
      trainOf(Tables.documents(s, dir)))

  /** The training loop over ANY documents frame (spec seam — crafted
    * corpora and repartitioning-determinism tests drive this
    * directly). */
  private[graft] def trainOf(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    val words0 = docs
        .select(explode(expr(TA.toksExpr)).as("word"))
        .filter($"word" =!= "" && !$"word".contains(SEP))
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
        .withColumn("seq", regexp_replace($"word", "(.)", s"$SEP$$1$SEP"))
        // vocab-sized; cuts the corpus scan out of every merge round
        .localCheckpoint(true)
      var cur = words0
      val merges = ArrayBuffer.empty[(Long, String, String, String, Long)]
      var r = 1
      var exhausted = false
      while (r <= bpeMerges && !exhausted) {
        // bounded collect: exactly one (pair, count) row per round
        val top = cur
          .select($"cnt",
            split(expr(s"trim(BOTH '$SEP' FROM seq)"), SEP + SEP).as("ss"))
          .filter(size($"ss") >= 2)
          .select($"cnt", explode(expr(
            "transform(sequence(0, size(ss) - 2), i -> struct(ss[i] AS a, ss[i + 1] AS b))"))
            .as("p"))
          .groupBy($"p.a".as("a"), $"p.b".as("b")).agg(sum($"cnt").as("c"))
          .orderBy($"c".desc, $"a", $"b").limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, c) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r.toLong, a, b, a + b, c))
          cur = cur.withColumn("seq",
            org.apache.spark.sql.functions.replace(
              $"seq", lit(wrap(a) + wrap(b)), lit(wrap(a + b))))
          // replace chains are narrow row-local projections; a
          // mid-loop lineage cut keeps recompute linear without
          // paying a checkpoint job every round
          if (r % 10 == 0) cur = cur.localCheckpoint(true)
          r += 1
        }
      }
    merges.toSeq
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** §2.8 — the trained merge table itself: rank, pair, merged
    * symbol, and the pair's corpus frequency at merge time. */
  def vocabBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMergesDf(s, dir).orderBy($"merge_rank")
  }

  /** The oracle re-derives the ENTIRE training loop in SQL:
    * [[bpeMerges]] unrolled rounds, each a pair-count aggregate + a
    * 1-row argmax + a guarded replace — every level MATERIALIZED
    * (multiply-referenced s-tables; DuckDB's planner needs the
    * fences on deep unrolls). */
  lazy val vocabBpeTrainSql: String = {
    def lvl(r: Int): String =
      s"""p$r AS MATERIALIZED (
         |  SELECT a, b, c FROM (
         |    SELECT e.a, e.ss[e.i + 1] AS b, CAST(sum(e.cnt) AS BIGINT) AS c
         |    FROM (
         |      SELECT cnt, ss, generate_subscripts(ss, 1) AS i, unnest(ss) AS a
         |      FROM (
         |        SELECT cnt, string_split(trim(seq, chr(31)), chr(31) || chr(31)) AS ss
         |        FROM s${r - 1})
         |      WHERE len(ss) >= 2) e
         |    WHERE e.i < len(e.ss)
         |    GROUP BY 1, 2)
         |  ORDER BY c DESC, a, b LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT w.word, w.cnt,
         |    CASE WHEN p.a IS NULL THEN w.seq
         |         ELSE replace(w.seq, chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31),
         |                      chr(31) || p.a || p.b || chr(31)) END AS seq
         |  FROM s${r - 1} w LEFT JOIN p$r p ON TRUE)""".stripMargin
    val levels = (1 to bpeMerges).map(lvl).mkString(",\n")
    val unions = (1 to bpeMerges).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
         |  a || b AS merged, c AS pair_count FROM p$r""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH wc AS MATERIALIZED (
       |  SELECT tok AS word, count(*) AS cnt FROM (
       |    SELECT unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31))
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |    regexp_replace(word, '(.)', chr(31) || '\\1' || chr(31), 'g') AS seq
       |  FROM wc),
       |$levels
       |SELECT * FROM (
       |$unions)
       |ORDER BY merge_rank""".stripMargin
  }

  /** §2.8 — encode the corpus with the trained merges: every token
    * position explodes into its BPE pieces. The merge table is a
    * bounded driver artifact (≤[[bpeMerges]] rows, the PQ-codebook
    * pattern); application is one projection chaining the replaces
    * over DISTINCT words, joined back to positions broadcast-side. */
  /** The frozen word→pieces LEXICON as a staged artifact: every
    * distinct corpus word with its merge-chain encoding, persisted
    * once per dataset. This is the shippable half of a production
    * tokenizer (vocab + merges); the streaming encoder broadcast-joins
    * it and falls back to the inline chain only for out-of-lexicon
    * words — without it every token INSTANCE pays the full
    * [[bpeMerges]]-deep replace chain (measured at sf≈1 in the
    * stream: 56.4 → 51.4 s from this join alone; the rest of that
    * query's cost was its sink, fixed separately). */
  private[graft] def wordPieces(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "bpe_lexicon", dir) {
      import s.implicits._
      val merges = bpeMergesDf(s, dir).orderBy($"merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      val applied = merges.foldLeft(
        regexp_replace($"tok", "(.)", s"$SEP$$1$SEP"): Column) {
        case (c, (a, b)) =>
          org.apache.spark.sql.functions.replace(
            c, lit(wrap(a) + wrap(b)), lit(wrap(a + b)))
      }
      Tables.documents(s, dir)
        .select(explode(expr(TA.toksExpr)).as("tok"))
        .filter($"tok" =!= "" && !$"tok".contains(SEP))
        .distinct()
        .withColumn("seq", applied)
        .select($"tok",
          split(expr(s"trim(BOTH '$SEP' FROM seq)"), SEP + SEP).as("pieces"))
    }

  def tokenIdsBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = bpeMergesDf(s, dir).orderBy($"merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    // the corpus path joins the STAGED lexicon: parquet-backed stats
    // let the planner size the broadcast truthfully (a live distinct
    // aggregate has no stats, and the planner may elect to broadcast
    // the CORPUS side instead -- measured 2.3x slower at sf~1, and an
    // OOM at web scale)
    encodeOf(Tables.documents(s, dir), merges,
      lexOverride = Some(wordPieces(s, dir)))
  }

  /** Encoding over ANY documents frame with a given merge list (spec
    * seam, same split as [[trainOf]]). */
  private[graft] def encodeOf(docs: DataFrame,
      merges: Array[(String, String)],
      lexOverride: Option[DataFrame] = None): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .select($"doc_id", posexplode(expr(TA.toksExpr)).as(Seq("pos0", "tok")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"tok")
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
    val applied = merges.foldLeft(
      regexp_replace($"tok", "(.)", s"$SEP$$1$SEP"): Column) {
      case (c, (a, b)) =>
        org.apache.spark.sql.functions.replace(
          c, lit(wrap(a) + wrap(b)), lit(wrap(a + b)))
    }
    // the inline fallback (spec seam over arbitrary frames) derives
    // the lexicon from the input's own distinct words -- statless, so
    // it keeps an explicit small-side hint; every corpus-facing query
    // passes the staged lexicon instead (planner-sized, the real rule)
    val lex = lexOverride.getOrElse(broadcast(
      toks.select($"tok").distinct()
        .withColumn("seq", applied)
        .select($"tok",
          split(expr(s"trim(BOTH '$SEP' FROM seq)"), SEP + SEP).as("pieces"))))
    toks.join(lex, "tok")
      .select($"doc_id", $"pos",
        posexplode($"pieces").as(Seq("pp0", "piece")))
      .select($"doc_id", $"pos",
        ($"pp0" + 1).cast("long").as("piece_pos"), $"piece")
      .orderBy($"doc_id", $"pos", $"piece_pos")
  }

  /** Encoding oracle: applies the STAGED merge table independently
    * (unrolled guarded replaces in rank order over distinct words) —
    * the training derivation itself is checked by
    * [[vocabBpeTrainSql]], so this checks application semantics
    * without re-paying the training unroll. */
  def tokenIdsBpeSql(mergesGlob: String): String = {
    def lvl(r: Int): String =
      s"""d$r AS MATERIALIZED (
         |  SELECT w.tok, CASE WHEN mr.lhs IS NULL THEN w.seq
         |    ELSE replace(w.seq, chr(31) || mr.lhs || chr(31) || chr(31) || mr.rhs || chr(31),
         |                 chr(31) || mr.lhs || mr.rhs || chr(31)) END AS seq
         |  FROM d${r - 1} w LEFT JOIN (
         |    SELECT lhs, rhs FROM m WHERE merge_rank = $r) mr ON TRUE)""".stripMargin
    val levels = (1 to bpeMerges).map(lvl).mkString(",\n")
    s"""WITH m AS MATERIALIZED (
       |  SELECT merge_rank, lhs, rhs FROM '$mergesGlob'),
       |t2 AS MATERIALIZED (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok FROM (
       |    SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
       |    FROM (SELECT doc_id, ${TA.duckToks} AS toks FROM documents))
       |  WHERE tok <> '' AND NOT contains(tok, chr(31))),
       |d0 AS MATERIALIZED (
       |  SELECT DISTINCT tok,
       |    regexp_replace(tok, '(.)', chr(31) || '\\1' || chr(31), 'g') AS seq
       |  FROM t2),
       |$levels,
       |pieces AS MATERIALIZED (
       |  SELECT tok, string_split(trim(seq, chr(31)), chr(31) || chr(31)) AS ps
       |  FROM d$bpeMerges)
       |SELECT doc_id, pos, CAST(piece_pos AS BIGINT) AS piece_pos, piece FROM (
       |  SELECT t2.doc_id, t2.pos, generate_subscripts(p.ps, 1) AS piece_pos,
       |    unnest(p.ps) AS piece
       |  FROM t2 JOIN pieces p ON t2.tok = p.tok)
       |ORDER BY doc_id, pos, piece_pos""".stripMargin
  }

  /** §2.8 — the mixing/allocation plan in TRAINED-TOKENIZER units:
    * [[Pipeline.corpusTokenBudget]]'s temperature-τ formula with
    * per-source counts measured in BPE pieces instead of whitespace
    * words — the units the trainer actually bills against (a source
    * of long compound words can be 2× its whitespace count). Piece
    * counts come from the broadcast distinct-word piece table (the
    * corpus side never carries the merge chain); the allocation
    * arithmetic is the shared [[Pipeline.budgetPlanOf]]. */
  def corpusTokenBudgetBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"source", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
    // staged lexicon: planner-sized broadcast (see tokenIdsBpe)
    val wp = wordPieces(s, dir)
      .select($"tok", size($"pieces").cast("long").as("n_pieces"))
    val counts = toks.join(wp, "tok")
      .groupBy($"source").agg(sum($"n_pieces").as("n_tokens"))
    Pipeline.budgetPlanOf(counts)
  }

  /** Shared oracle scaffolding: staged merge table + key-carrying
    * token explode + the unrolled guarded-replace chain + per-word
    * piece counts, as WITH-clause CTEs ending in `wp(tok, n_pieces)`
    * and `tk($keyCol, tok)`. */
  private[operators] def pieceCountCtes(mergesGlob: String, keyCol: String): String = {
    def lvl(r: Int): String =
      s"""d$r AS MATERIALIZED (
         |  SELECT w.tok, CASE WHEN mr.lhs IS NULL THEN w.seq
         |    ELSE replace(w.seq, chr(31) || mr.lhs || chr(31) || chr(31) || mr.rhs || chr(31),
         |                 chr(31) || mr.lhs || mr.rhs || chr(31)) END AS seq
         |  FROM d${r - 1} w LEFT JOIN (
         |    SELECT lhs, rhs FROM m WHERE merge_rank = $r) mr ON TRUE)""".stripMargin
    val levels = (1 to bpeMerges).map(lvl).mkString(",\n")
    s"""m AS MATERIALIZED (
       |  SELECT merge_rank, lhs, rhs FROM '$mergesGlob'),
       |tk AS MATERIALIZED (
       |  SELECT $keyCol, tok FROM (
       |    SELECT $keyCol, unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31))),
       |d0 AS MATERIALIZED (
       |  SELECT DISTINCT tok,
       |    regexp_replace(tok, '(.)', chr(31) || '\\1' || chr(31), 'g') AS seq
       |  FROM tk),
       |$levels,
       |wp AS MATERIALIZED (
       |  SELECT tok,
       |    CAST(len(string_split(trim(seq, chr(31)), chr(31) || chr(31))) AS BIGINT) AS n_pieces
       |  FROM d$bpeMerges)""".stripMargin
  }

  /** Oracle: staged-merge piece counts + the shared allocation tail. */
  def corpusTokenBudgetBpeSql(mergesGlob: String): String =
    s"""WITH ${pieceCountCtes(mergesGlob, "source")},
       |c AS (
       |  SELECT source, CAST(sum(n_pieces) AS BIGINT) AS n_tokens
       |  FROM tk JOIN wp USING (tok) GROUP BY 1),
       |${Pipeline.budgetPlanSqlTail}""".stripMargin

  /** §2.8 — sequence packing in TRAINED-TOKENIZER units: row 41's
    * contiguous-stream chunking with document lengths measured in BPE
    * pieces — offsets, bins and positions land where the TRAINER's
    * counter will put them, not where the whitespace proxy guesses
    * (the two drift by exactly the compound-word factor
    * `corpus_token_budget_bpe` exposes per source). Same scale
    * layout as 41: per-doc piece totals from the broadcast
    * distinct-word piece table, then the two-phase bucketed global
    * running sum — no single-partition stage anywhere. Docs whose
    * every token is excluded (empty text) pack as zero-length, same
    * as 41's empty-token convention. */
  private[graft] def perDocPieces(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val toks = docs
      .select($"doc_id", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
    // staged lexicon: planner-sized broadcast (see tokenIdsBpe)
    val wp = wordPieces(s, dir)
      .select($"tok", size($"pieces").cast("long").as("n_pieces"))
    val perDoc = toks.join(wp, "tok")
      .groupBy($"doc_id").agg(sum($"n_pieces").as("n"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n", lit(0L)).as("n_tokens"))
  }

  def docPackBpe(s: SparkSession, dir: String): DataFrame =
    Pipeline.packed(perDocPieces(s, dir))

  def docPackBpeSql(mergesGlob: String): String =
    s"""WITH ${pieceCountCtes(mergesGlob, "doc_id")},
       |c AS (
       |  SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n
       |  FROM tk JOIN wp USING (tok) GROUP BY 1),
       |t2 AS (
       |  SELECT d.doc_id, coalesce(c.n, 0) AS n_tokens
       |  FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id),
       |cu AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t2)
       |SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
       |  (cum - n_tokens) // ${Pipeline.packBudget} AS bin_id,
       |  (cum - n_tokens) % ${Pipeline.packBudget} AS bin_pos
       |FROM cu ORDER BY doc_id""".stripMargin

  /** Candidate training context lengths swept by
    * [[packEfficiencyReport]] — bracketing the corpora's per-doc BPE
    * lengths so every strategy shows both its padding and its
    * truncation regime. */
  val packContexts: Seq[Long] = Seq(64L, 128L, 256L, 512L)

  /** §2.8 — the PACKING-EFFICIENCY report: for each candidate context
    * length, what each packing strategy costs in sequences, padding
    * and truncation — the table a pretraining owner reads to pick the
    * context length and packing mode BEFORE burning GPU-hours.
    * Three strategies, in increasing padding / decreasing
    * doc-integrity order:
    *   - `contiguous` — row 41b's split-anywhere stream: zero padding
    *     except the final partial sequence, but documents straddle
    *     sequence boundaries (attention bleeds across docs unless the
    *     trainer masks);
    *   - `whole_doc` — no-split length-class binning (docs of equal
    *     piece count share bins, floor(C/L) per bin): documents stay
    *     intact, padding is the price, over-length docs truncate to C.
    *     Length-class binning is the parallelizable no-split packing
    *     (greedy first-fit is a sequential recurrence — unusable at
    *     corpus scale) and lower-bounds real offline shuffles;
    *   - `single_doc` — the pad-or-truncate baseline (one doc per
    *     sequence).
    * Zero-piece documents emit no sequence under any strategy.
    *
    * Scale layout: the only corpus-sized work is [[perDocPieces]]'s
    * per-doc count (one shuffle, shared with row 41b); everything
    * else runs on the piece-length HISTOGRAM (bounded by the max doc
    * length, ~10³ distinct values even at 100 TB) crossed with the
    * 4-row context spine — all-integer arithmetic, so the oracle
    * comparison is exact; only the final fill-rate divides. */
  def packEfficiencyReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val lengths = perDocPieces(s, dir)
      .groupBy($"n_tokens").agg(count(lit(1)).as("n_docs"))
    val ctx = packContexts.toDF("context_len")
    val agg = lengths.crossJoin(ctx).groupBy($"context_len").agg(
      sum($"n_tokens" * $"n_docs").as("t_total"),
      sum(expr(
        """CASE WHEN n_tokens = 0 THEN 0
          |  WHEN n_tokens <= context_len THEN
          |    (n_docs + (context_len div n_tokens) - 1)
          |      div (context_len div n_tokens)
          |  ELSE n_docs END""".stripMargin)).as("wd_seqs"),
      sum(expr("n_docs * least(n_tokens, context_len)")).as("wd_kept"),
      sum(expr(
        "n_docs * greatest(n_tokens - context_len, 0)")).as("wd_trunc"),
      sum(expr("CASE WHEN n_tokens = 0 THEN 0 ELSE n_docs END"))
        .as("sd_seqs"),
      sum(expr("n_docs * greatest(context_len - n_tokens, 0)"))
        .as("sd_pad"))
    val ct = agg.select($"context_len", lit("contiguous").as("strategy"),
      expr("(t_total + context_len - 1) div context_len").as("n_seqs"),
      $"t_total".as("tokens_kept"),
      expr("((t_total + context_len - 1) div context_len) * context_len" +
        " - t_total").as("n_pad"),
      lit(0L).as("n_trunc"))
    val wd = agg.select($"context_len", lit("whole_doc").as("strategy"),
      $"wd_seqs".as("n_seqs"), $"wd_kept".as("tokens_kept"),
      ($"wd_seqs" * $"context_len" - $"wd_kept").as("n_pad"),
      $"wd_trunc".as("n_trunc"))
    val sd = agg.select($"context_len", lit("single_doc").as("strategy"),
      $"sd_seqs".as("n_seqs"), $"wd_kept".as("tokens_kept"),
      $"sd_pad".as("n_pad"), $"wd_trunc".as("n_trunc"))
    ct.unionByName(wd).unionByName(sd)
      .withColumn("fill_rate", expr(rndSql(
        "CASE WHEN n_seqs > 0 THEN CAST(tokens_kept AS DOUBLE)" +
          " / (CAST(n_seqs AS DOUBLE) * CAST(context_len AS DOUBLE)) END", 6)))
      .orderBy($"context_len", $"strategy")
  }

  def packEfficiencyReportSql(mergesGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""WITH ${pieceCountCtes(mergesGlob, "doc_id")},
       |c AS (
       |  SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n
       |  FROM tk JOIN wp USING (tok) GROUP BY 1),
       |t2 AS (
       |  SELECT d.doc_id, coalesce(c.n, 0) AS n_tokens
       |  FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id),
       |lens AS (SELECT n_tokens, count(*) AS n_docs FROM t2 GROUP BY 1),
       |ctx AS (SELECT CAST(unnest([${packContexts.mkString(", ")}]) AS BIGINT)
       |  AS context_len),
       |agg AS (
       |  SELECT context_len,
       |    CAST(sum(n_tokens * n_docs) AS BIGINT) AS t_total,
       |    CAST(sum(CASE WHEN n_tokens = 0 THEN 0
       |      WHEN n_tokens <= context_len THEN
       |        (n_docs + (context_len // n_tokens) - 1)
       |          // (context_len // n_tokens)
       |      ELSE n_docs END) AS BIGINT) AS wd_seqs,
       |    CAST(sum(n_docs * least(n_tokens, context_len)) AS BIGINT)
       |      AS wd_kept,
       |    CAST(sum(n_docs * greatest(n_tokens - context_len, 0)) AS BIGINT)
       |      AS wd_trunc,
       |    CAST(sum(CASE WHEN n_tokens = 0 THEN 0 ELSE n_docs END) AS BIGINT)
       |      AS sd_seqs,
       |    CAST(sum(n_docs * greatest(context_len - n_tokens, 0)) AS BIGINT)
       |      AS sd_pad
       |  FROM lens CROSS JOIN ctx GROUP BY 1),
       |u AS (
       |  SELECT context_len, 'contiguous' AS strategy,
       |    (t_total + context_len - 1) // context_len AS n_seqs,
       |    t_total AS tokens_kept,
       |    ((t_total + context_len - 1) // context_len) * context_len
       |      - t_total AS n_pad,
       |    CAST(0 AS BIGINT) AS n_trunc
       |  FROM agg
       |  UNION ALL
       |  SELECT context_len, 'whole_doc', wd_seqs, wd_kept,
       |    wd_seqs * context_len - wd_kept, wd_trunc
       |  FROM agg
       |  UNION ALL
       |  SELECT context_len, 'single_doc', sd_seqs, wd_kept, sd_pad, wd_trunc
       |  FROM agg)
       |SELECT context_len, strategy, n_seqs, tokens_kept, n_pad, n_trunc,
       |  ${rndSql(
         "CASE WHEN n_seqs > 0 THEN CAST(tokens_kept AS DOUBLE)" +
           " / (CAST(n_seqs AS DOUBLE) * CAST(context_len AS DOUBLE)) END", 6)}
       |    AS fill_rate
       |FROM u ORDER BY context_len, strategy""".stripMargin
  }

  /** §2.8 — the trained VOCABULARY artifact: every piece the encoder
    * can emit, with a deterministic integer id and its frequency in
    * the encoded corpus — what actually ships to the trainer (ids,
    * not strings). Ids: base characters first in codepoint order,
    * then merged symbols in merge-rank order (a symbol produced by
    * two distinct merge paths dedupes to its earliest rank). A base
    * character fully absorbed by merges stays in the vocab with
    * frequency 0 — the encoder could still emit it on unseen text.
    * Scale: piece frequencies come from the vocab-sized word table
    * (word count × pieces-per-word — the corpus is never re-scanned);
    * the id windows run over the alphabet-sized and ≤[[bpeMerges]]-
    * sized frames. */
  def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val merges = bpeMergesDf(s, dir).orderBy($"merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val wc = Tables.documents(s, dir)
      .select(explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val applied = merges.foldLeft(
      regexp_replace($"tok", "(.)", s"$SEP$$1$SEP"): Column) {
      case (col0, (_, a, b, _)) =>
        org.apache.spark.sql.functions.replace(
          col0, lit(wrap(a) + wrap(b)), lit(wrap(a + b)))
    }
    val wp = wc.withColumn("seq", applied)
      .select($"tok", $"c",
        split(expr(s"trim(BOTH '$SEP' FROM seq)"), SEP + SEP).as("ps"))
    val pieceFreq = wp.select(explode($"ps").as("piece"), $"c")
      .groupBy($"piece").agg(sum($"c").as("n"))
    // alphabet-bounded frame: the unpartitioned window is fine here
    val charVocab = wc
      .select(explode(expr("regexp_extract_all(tok, '(.)', 1)")).as("piece"))
      .distinct()
      .withColumn("piece_id",
        row_number().over(Window.orderBy($"piece")).cast("long"))
      .withColumn("kind", lit("char"))
    val nChars = charVocab.count()
    // bounded driver artifact: <= bpeMerges rows, dedup to min rank
    val mergeVocab = merges.groupBy(_._4).map { case (sym, ms) =>
      (sym, ms.map(_._1).min)
    }.toSeq.sortBy(_._2).zipWithIndex
      .map { case ((sym, _), i) => (nChars + i + 1, sym, "merge") }
      .toDF("piece_id", "piece", "kind")
    charVocab.select($"piece_id", $"piece", $"kind")
      .unionByName(mergeVocab)
      .join(pieceFreq, Seq("piece"), "left")
      .select($"piece_id", $"piece", $"kind",
        coalesce($"n", lit(0L)).as("n_occurrences"))
      .orderBy($"piece_id")
  }

  def bpeVocabSql(mergesGlob: String): String =
    s"""WITH ${pieceCountCtes(mergesGlob, "doc_id")},
       |wc AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
       |ps AS MATERIALIZED (
       |  SELECT tok, string_split(trim(seq, chr(31)), chr(31) || chr(31)) AS ps
       |  FROM d$bpeMerges),
       |pf AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS n FROM (
       |    SELECT w.c, unnest(p.ps) AS piece
       |    FROM wc w JOIN ps p USING (tok))
       |  GROUP BY 1),
       |chars AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(tok, '.')) AS piece FROM wc),
       |cv AS (
       |  SELECT piece, row_number() OVER (ORDER BY piece) AS pid FROM chars),
       |mm AS (
       |  SELECT lhs || rhs AS piece, min(merge_rank) AS r FROM m GROUP BY 1),
       |mv AS (
       |  SELECT piece,
       |    (SELECT count(*) FROM chars) + row_number() OVER (ORDER BY r) AS pid
       |  FROM mm),
       |v AS (
       |  SELECT pid, piece, 'char' AS kind FROM cv
       |  UNION ALL SELECT pid, piece, 'merge' FROM mv)
       |SELECT CAST(v.pid AS BIGINT) AS piece_id, v.piece, v.kind,
       |  coalesce(pf.n, 0) AS n_occurrences
       |FROM v LEFT JOIN pf ON v.piece = pf.piece
       |ORDER BY piece_id""".stripMargin

  /** §2.8 — the tokenizer FERTILITY report: per (lang, source), how
    * many BPE pieces the frozen merge table spends per word and how
    * many characters each piece carries — the go/no-go numbers a
    * tokenizer owner reads before committing a vocab (fertility
    * creeping above ~2 on a language means its text costs double the
    * context budget; chars-per-piece collapsing toward 1 means the
    * merges never fire there). Same staged-merge device as the rest
    * of the family: the replace chain runs once per DISTINCT word,
    * the corpus side only joins the broadcast piece table and
    * aggregates — one partial-agged shuffle on (lang, source).
    * Ratios divide exact BIGINT sums in IEEE double and quantize, so
    * the oracle comparison is exact. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val toks = Tables.documents(s, dir)
      .select($"lang", $"source", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
    // staged lexicon: planner-sized broadcast (see tokenIdsBpe)
    val wp = wordPieces(s, dir)
      .select($"tok", size($"pieces").cast("long").as("n_pieces"))
    toks.join(wp, "tok")
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length($"tok")).cast("long").as("n_chars"),
        sum($"n_pieces").cast("long").as("n_pieces"))
      .select($"lang", $"source", $"n_words", $"n_chars", $"n_pieces",
        expr(rndSql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 4)).as("fertility"),
        expr(rndSql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)", 4)).as("chars_per_piece"))
      .orderBy($"lang", $"source")
  }

  def bpeFertilitySql(mergesGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""WITH ${pieceCountCtes(mergesGlob, "lang, source")},
       |a AS (
       |  SELECT lang, source,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |    CAST(sum(n_pieces) AS BIGINT) AS n_pieces
       |  FROM tk JOIN wp USING (tok)
       |  GROUP BY lang, source)
       |SELECT lang, source, n_words, n_chars, n_pieces,
       |  ${rndSql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 4)} AS fertility,
       |  ${rndSql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)", 4)} AS chars_per_piece
       |FROM a
       |ORDER BY lang, source""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_fertility"   -> (bpeFertility _),
    "bpe_vocab"       -> (bpeVocab _),
    "vocab_bpe_train" -> (vocabBpeTrain _),
    "token_ids_bpe"   -> (tokenIdsBpe _),
    "corpus_token_budget_bpe" -> (corpusTokenBudgetBpe _),
    "doc_pack_bpe"    -> (docPackBpe _),
    "pack_efficiency_report" -> (packEfficiencyReport _)
  )

  def oracles: Map[String, String] =
    Map("vocab_bpe_train" -> vocabBpeTrainSql) ++
      graft.sources.OracleStage.globOf("bpe_merges")
        .map(g => "token_ids_bpe" -> tokenIdsBpeSql(g)) ++
      graft.sources.OracleStage.globOf("bpe_merges")
        .map(g => "corpus_token_budget_bpe" -> corpusTokenBudgetBpeSql(g)) ++
      graft.sources.OracleStage.globOf("bpe_merges")
        .map(g => "doc_pack_bpe" -> docPackBpeSql(g)) ++
      graft.sources.OracleStage.globOf("bpe_merges")
        .map(g => "bpe_vocab" -> bpeVocabSql(g)) ++
      graft.sources.OracleStage.globOf("bpe_merges")
        .map(g => "pack_efficiency_report" -> packEfficiencyReportSql(g)) ++
      graft.sources.OracleStage.globOf("bpe_merges")
        .map(g => "bpe_fertility" -> bpeFertilitySql(g))
}
