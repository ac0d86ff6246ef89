package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{TextAnalysis => TA}

/** §2.8 — trained-subword tokenization, family #2: a SentencePiece-
  * class UNIGRAM language-model trainer next to [[Bpe]]'s merge
  * learner, so the fertility go/no-go table can compare the two
  * families a tokenizer owner actually chooses between (BPE's greedy
  * merges vs unigram's likelihood-pruned vocabulary). Reference
  * analog: the batch pipeline's per-item transform hooks
  * (client/index.ts:204-328), same as the BPE family.
  *
  * The trainer is hard-EM (Viterbi EM — the tractable, fully
  * deterministic member of the SentencePiece family):
  *   - SEED: every substring of length ≤ [[uniMaxPieceLen]] of the
  *     corpus vocabulary, counted per occurrence × word frequency;
  *     ALL single characters are kept unconditionally (they guarantee
  *     every word stays segmentable), multi-char pieces keep the top
  *     [[uniSeedMulti]] by (count desc, piece asc).
  *   - E-step: each distinct word takes its maximum-likelihood
  *     segmentation under the current piece scores — a Viterbi DP
  *     over character positions, run ROW-LOCAL as one codegen'd
  *     higher-order `aggregate` (the corpus never shuffles; the score
  *     table rides along as a broadcast map literal, the PQ-codebook
  *     idiom).
  *   - M-step: piece usage re-counts from the chosen segmentations
  *     (add-one smoothed so log scores stay defined and characters
  *     stay alive); multi-char pieces with zero usage are PRUNED —
  *     unigram's vocabulary shrink, where BPE only ever grows.
  *   - [[uniRounds]] rounds, then the surviving vocabulary ships.
  *
  * EXACTNESS CONTRACT: scores are integer-quantized log counts
  * (`floor(ln(c)·1e6 + 0.5)` — Java's and DuckDB's correctly-rounded
  * libm agree bit-for-bit on integer inputs, verified over the full
  * count range), path scores are exact BIGINT sums, and Viterbi ties
  * break on the lexicographically smallest segmentation string — so
  * the whole training loop is hash-exact against an oracle that
  * re-derives it as unrolled position-DP CTEs (the kcore/markov
  * unroll device applied per round).
  *
  * Scale layout: identical to [[Bpe]] — everything after the initial
  * word count runs on the vocab-bounded word-frequency table (Heaps'
  * law), the DP is per-row arithmetic over a ≤(alphabet +
  * [[uniSeedMulti]])-entry broadcast map, and each round's M-step is
  * one partial-agged aggregate over the word table. Words longer
  * than [[uniMaxWordLen]] characters are excluded from TRAINING
  * statistics (ultra-long words are vocabulary tail noise and would
  * unboundedly deepen the oracle's DP unroll); at segmentation time
  * they fall back to character pieces, so every corpus word still
  * encodes.
  */
object Unigram {

  /** Longest candidate piece (characters). */
  val uniMaxPieceLen = 4
  /** Multi-char seed pieces kept (single chars are always all kept). */
  val uniSeedMulti = 120
  /** Hard-EM rounds trained (and unrolled in the oracle). */
  val uniRounds = 3
  /** Longest word carried in training statistics (= the oracle's DP
    * unroll depth); longer words char-split at segmentation time. */
  val uniMaxWordLen = 16

  private val SEP = ""

  /** Quantized log score — the one arithmetic both engines must agree
    * on. StrictMath.log pins the JVM side to fdlibm (Math.log is only
    * 1-ulp-specified and JIT/platform-intrinsic dependent); measured
    * over counts 1..5×10⁷ the ×1e6 quantization erases every raw-bit
    * difference between the two (277k raw ulp diffs, 0 quantized
    * diffs), so the switch is hash-neutral here while removing the
    * JVM-variance axis. The residual cross-engine dependence is
    * DuckDB's libm ln agreeing post-quantization — empirically exact
    * over the same range; a fully platform-free contract would need
    * integer-only scores. */
  private[graft] def qlog(c: Long): Long =
    math.floor(StrictMath.log(c.toDouble) * 1e6 + 0.5).toLong
  private val qlogSqlOf: String => String =
    x => s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"

  /** The word-frequency table with its character split: word, cnt,
    * cs (code-point array — both engines split with the same regex),
    * n = |cs|. `capped` applies the training length cut. */
  private def wordsOf(docs: DataFrame, capped: Boolean): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = docs
      .select(explode(expr(TA.toksExpr)).as("word"))
      .filter($"word" =!= "" && !$"word".contains(SEP))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .withColumn("cs", expr("regexp_extract_all(word, '(.)', 1)"))
      .withColumn("n", size($"cs"))
    if (capped) w.filter($"n" <= uniMaxWordLen) else w
  }

  /** The Viterbi DP as ONE row-local expression: `acc[p+1]` holds the
    * best (negated score, segmentation) reaching character position p;
    * step i extends from the ≤[[uniMaxPieceLen]] predecessors whose
    * connecting substring is in the score map (single chars always
    * are, so every word segments). `array_min` over (ns, g) structs IS
    * the tie-break: minimum negated score first, then the
    * lexicographically smallest segmentation. Columns required:
    * `cs` (char array) and `qmap` (piece → quantized log count). */
  private[graft] def dpExpr(qt: Long): Column = expr(
    s"""aggregate(
       |  sequence(1, size(cs)),
       |  array(named_struct('ns', CAST(0 AS BIGINT), 'g', '')),
       |  (acc, i) -> array_append(acc,
       |    array_min(filter(
       |      transform(sequence(1, least($uniMaxPieceLen, i)), j ->
       |        CASE WHEN try_element_at(qmap, array_join(slice(cs, i - j + 1, j), '')) IS NULL
       |        THEN NULL
       |        ELSE named_struct(
       |          'ns', element_at(acc, i - j + 1).ns
       |                - try_element_at(qmap, array_join(slice(cs, i - j + 1, j), ''))
       |                + CAST($qt AS BIGINT),
       |          'g', concat(element_at(acc, i - j + 1).g, '$SEP',
       |                 array_join(slice(cs, i - j + 1, j), '')))
       |        END),
       |      x -> x IS NOT NULL))),
       |  acc -> element_at(acc, -1).g)""".stripMargin)

  /** The training loop over ANY documents frame (spec seam). Returns
    * (final vocab rows (piece, piece_len, kind, n_uses), the shipped
    * score map counts, their total) — the vocab is a bounded driver
    * artifact throughout, exactly like [[Bpe]]'s merge table. */
  private[graft] def trainOf(docs: DataFrame, seedMulti: Int = uniSeedMulti)
      : (Seq[(String, Long, String, Long)], Map[String, Long], Long) = {
    val s = docs.sparkSession
    import s.implicits._
    val words = wordsOf(docs, capped = true).localCheckpoint(true)
    // seed: every ≤L-substring occurrence, weighted by word frequency
    val sub = words
      .select($"cnt", explode(expr(
        s"""flatten(transform(sequence(1, size(cs)), i ->
           |  transform(sequence(1, least($uniMaxPieceLen, size(cs) - i + 1)),
           |    l -> array_join(slice(cs, i, l), ''))))""".stripMargin))
        .as("piece"))
      .groupBy($"piece").agg(sum($"cnt").as("c"))
      .localCheckpoint(true)
    // bounded driver artifacts: the alphabet and the top multi pieces
    val chars: Seq[(String, Long)] = sub.filter(length($"piece") === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val multi: Seq[(String, Long)] = sub.filter(length($"piece") >= 2)
      .orderBy($"c".desc, $"piece").limit(seedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val charSet = chars.map(_._1).toSet
    if (chars.isEmpty) return (Seq.empty, Map.empty, 0L)
    var counts: Map[String, Long] = (chars ++ multi).toMap
    var lastUsage: Map[String, Long] = Map.empty
    for (_ <- 1 to uniRounds) {
      val qm = counts.map { case (p, c) => p -> qlog(c) }
      val qt = qlog(counts.valuesIterator.sum)
      val usage = words
        .withColumn("qmap", typedLit(qm))
        .withColumn("g", dpExpr(qt))
        .select($"cnt", explode(split($"g", SEP)).as("piece"))
        .filter($"piece" =!= "")
        .groupBy($"piece").agg(sum($"cnt").as("u"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      lastUsage = usage
      // M-step: add-one smoothing; zero-usage multi pieces prune
      counts = counts.collect {
        case (p, _) if charSet(p) || usage.getOrElse(p, 0L) > 0L =>
          p -> (usage.getOrElse(p, 0L) + 1L)
      }
    }
    val rows = counts.keys.toSeq.sorted.map { p =>
      (p, p.codePointCount(0, p.length).toLong,
        if (charSet(p)) "char" else "multi", lastUsage.getOrElse(p, 0L))
    }
    (rows, counts, counts.valuesIterator.sum)
  }

  /** Per-(dataset, budget) training memo: vocab/segs staging and the
    * sweep all reuse one driver-side train run, the way a deploy
    * trains once and ships the artifact. */
  private[graft] def trainFor(s: SparkSession, dir: String,
      seedMulti: Int = uniSeedMulti)
      : (Seq[(String, Long, String, Long)], Map[String, Long], Long) =
    graft.sources.Memo(s"unigram.train_b$seedMulti", dir, s)(
      trainOf(Tables.documents(s, dir), seedMulti))

  private def vocabKey(b: Int) =
    if (b == uniSeedMulti) "unigram_vocab" else s"unigram_vocab_b$b"
  private def segsKey(b: Int) =
    if (b == uniSeedMulti) "unigram_segs" else s"unigram_segs_b$b"

  /** The shipped model, staged once per (dataset, budget): the
    * surviving vocabulary with final-round usage (what
    * `vocab_unigram_train` returns) — the tokenizer artifact a 100 TB
    * deploy trains once and broadcasts to every encode job. */
  private[graft] def unigramVocabDf(s: SparkSession, dir: String,
      seedMulti: Int = uniSeedMulti): DataFrame =
    graft.sources.OracleStage.stage(s, vocabKey(seedMulti), dir) {
      import s.implicits._
      val (rows, _, _) = trainFor(s, dir, seedMulti)
      rows.toDF("piece", "piece_len", "kind", "n_uses")
    }

  /** The frozen word→segmentation LEXICON under the shipped scores:
    * EVERY corpus word (overlong words char-split — the documented
    * fallback), staged like [[Bpe.wordPieces]] so encode-side
    * consumers broadcast it instead of re-running the DP. */
  private[graft] def unigramSegsDf(s: SparkSession, dir: String,
      seedMulti: Int = uniSeedMulti): DataFrame =
    graft.sources.OracleStage.stage(s, segsKey(seedMulti), dir) {
      import s.implicits._
      val (_, counts, total) = trainFor(s, dir, seedMulti)
      val all = wordsOf(Tables.documents(s, dir), capped = false)
      if (counts.isEmpty)
        // no trainable words at all (every word overlong): the empty
        // model char-splits — same fallback as an overlong word
        all.select($"word",
          regexp_replace($"word", "(.)", s"$SEP$$1").as("g"),
          $"n".cast("long").as("n_pieces"))
      else {
        val qm = counts.map { case (p, c) => p -> qlog(c) }
        all
          .withColumn("qmap", typedLit(qm))
          .withColumn("g",
            when($"n" <= uniMaxWordLen, dpExpr(qlog(total)))
              .otherwise(regexp_replace($"word", "(.)", s"$SEP$$1")))
          .select($"word", $"g",
            size(expr(s"filter(split(g, '$SEP'), x -> x <> '')"))
              .cast("long").as("n_pieces"))
      }
    }

  /** §2.8 — the trained unigram vocabulary: every surviving piece
    * with its kind and final-round usage count (all-integer output,
    * so the oracle comparison is exact end-to-end). */
  def vocabUnigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    unigramVocabDf(s, dir).orderBy($"piece")
  }

  /** Oracle: the ENTIRE trainer re-derived in SQL — seed substring
    * counts, then [[uniRounds]] unrolled rounds of (quantized score
    * tables → position-DP Viterbi unrolled to [[uniMaxWordLen]]
    * levels → usage re-count → prune). Every level MATERIALIZED (the
    * deep-unroll fence [[Bpe.vocabBpeTrainSql]] established). */
  lazy val vocabUnigramTrainSql: String = {
    val L = uniMaxPieceLen
    val K = uniMaxWordLen
    def dpLevels(r: Int): String = {
      val levels = (1 to K).map { i =>
        val terms = (1 to math.min(L, i)).map { j =>
          s"""      SELECT w.word, p.ns - q.q + (SELECT qt FROM t$r) AS ns,
             |        p.g || chr(31) || array_to_string(w.cs[${i - j + 1}:$i], '') AS g
             |      FROM b${r}_${i - j} p
             |      JOIN w ON w.word = p.word AND w.n >= $i
             |      JOIN q$r q ON q.piece = array_to_string(w.cs[${i - j + 1}:$i], '')""".stripMargin
        }.mkString("\n      UNION ALL\n")
        s"""b${r}_$i AS MATERIALIZED (
           |  SELECT word, ns, g FROM (
           |    SELECT word, ns, g,
           |      row_number() OVER (PARTITION BY word ORDER BY ns, g) AS rn
           |    FROM (
           |$terms
           |    )) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val segUnion = (1 to K)
        .map(i => s"  SELECT word, g, $i AS i FROM b${r}_$i")
        .mkString("\n  UNION ALL\n")
      s"""q$r AS MATERIALIZED (
         |  SELECT piece, ${qlogSqlOf("c")} AS q FROM v$r),
         |t$r AS (SELECT ${qlogSqlOf("sum(c)")} AS qt FROM v$r),
         |b${r}_0 AS (SELECT word, CAST(0 AS BIGINT) AS ns, '' AS g FROM w),
         |$levels,
         |seg$r AS MATERIALIZED (
         |  SELECT w.word, w.cnt, b.g FROM w JOIN (
         |$segUnion
         |  ) b ON b.word = w.word AND w.n = b.i),
         |u$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(string_split(g, chr(31))) AS piece FROM seg$r)
         |  WHERE piece <> '' GROUP BY 1),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT v.piece, coalesce(u.n, 0) + 1 AS c, v.kind
         |  FROM v$r v LEFT JOIN u$r u USING (piece)
         |  WHERE v.kind = 'char' OR coalesce(u.n, 0) > 0)""".stripMargin
    }
    val rounds = (1 to uniRounds).map(dpLevels).mkString(",\n")
    s"""WITH toks AS (
       |  SELECT tok FROM (
       |    SELECT unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31))),
       |w AS MATERIALIZED (
       |  SELECT word, cnt, cs, len(cs) AS n FROM (
       |    SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt,
       |      regexp_extract_all(tok, '.') AS cs
       |    FROM toks GROUP BY 1)
       |  WHERE len(cs) <= $K),
       |sub AS MATERIALIZED (
       |  SELECT array_to_string(cs[i:i + l - 1], '') AS piece,
       |    CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT cnt, cs, n, unnest(range(1, n + 1)) AS i FROM w),
       |    unnest(range(1, ${L + 1})) AS ul(l)
       |  WHERE i + l - 1 <= n
       |  GROUP BY 1),
       |v1 AS MATERIALIZED (
       |  SELECT piece, c, 'char' AS kind FROM sub WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c, 'multi' FROM (
       |    SELECT piece, c,
       |      row_number() OVER (ORDER BY c DESC, piece) AS rn
       |    FROM sub WHERE length(piece) >= 2)
       |  WHERE rn <= $uniSeedMulti),
       |$rounds
       |SELECT v.piece, CAST(length(v.piece) AS BIGINT) AS piece_len, v.kind,
       |  CAST(coalesce(u.n, 0) AS BIGINT) AS n_uses
       |FROM v$uniRounds v LEFT JOIN u$uniRounds u USING (piece)
       |WHERE v.kind = 'char' OR coalesce(u.n, 0) > 0
       |ORDER BY piece""".stripMargin
  }

  /** Vocabulary budgets swept by [[tokenizerVocabSweep]] — bracketing
    * the default so the curve shows both the starved and the
    * saturated regime. */
  val uniVocabBudgets: Seq[Int] = Seq(30, 60, 120, 240)

  /** §2.8 — the tokenizer VOCAB-SIZE tuning curve (the
    * dedup_threshold_sweep / ann_ivf_probe_sweep device applied to
    * the tokenizer): one unigram model trained per multi-piece budget
    * in [[uniVocabBudgets]], each reported with its surviving vocab
    * size and whole-corpus fertility — the elbow a tokenizer owner
    * reads to pick the vocabulary size BEFORE committing the
    * expensive full-scale train (fertility flattening while n_vocab
    * keeps growing means the extra budget buys nothing on this
    * corpus). Each budget's training is the driver-bounded loop (the
    * corpus pays one word count, shared across budgets via the
    * staging memo); the corpus-side cost per sweep point is one
    * broadcast lexicon join + a global aggregate. */
  def tokenizerVocabSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val toks = Tables.documents(s, dir)
      .select(explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
    uniVocabBudgets.map { b =>
      val segs = unigramSegsDf(s, dir, b)
        .select($"word".as("tok"), $"n_pieces")
      val nVocab = unigramVocabDf(s, dir, b).count()
      // NO broadcast() hint on the lexicon joins (here and every
      // encode site): the distinct-word table is Heaps-bounded, which
      // at test SF means tiny — but at web scale it is 10⁸–10⁹ rows,
      // and a forced hint doesn't degrade, it OOMs the driver. The
      // lexicon is a STAGED parquet artifact, so the planner sees its
      // true size and picks broadcast-hash-join while it fits
      // (TokenizerPlanSpec pins that), degrading to a shuffled join
      // beyond the threshold instead of falling over.
      toks.join(segs, "tok")
        .agg(
          count(lit(1)).as("n_words"),
          sum(length($"tok")).cast("long").as("n_chars"),
          sum($"n_pieces").cast("long").as("n_pieces"))
        // empty corpus: no sweep rows (the oracle's HAVING emits none)
        .filter($"n_words" > 0)
        .select(lit(b.toLong).as("vocab_budget"), lit(nVocab).as("n_vocab"),
          $"n_words", $"n_chars", $"n_pieces",
          expr(rndSql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 4)).as("fertility"),
          expr(rndSql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)", 4)).as("chars_per_piece"))
    }.reduce(_ unionByName _).orderBy($"vocab_budget")
  }

  /** Oracle: per budget, the staged vocab's row count + the staged
    * segmentation lexicon re-aggregated over the corpus tokens — the
    * per-budget training derivations are the same machinery
    * [[vocabUnigramTrainSql]] checks at the default budget. */
  def tokenizerVocabSweepSql(arts: Seq[(Int, String, String)]): String = {
    import graft.functions.Agg.rndSql
    val per = arts.map { case (b, vocabGlob, segsGlob) =>
      s"""SELECT CAST($b AS BIGINT) AS vocab_budget,
         |  (SELECT count(*) FROM read_parquet('$vocabGlob')) AS n_vocab,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(tk.tok)) AS BIGINT) AS n_chars,
         |  CAST(sum(sg.n_pieces) AS BIGINT) AS n_pieces,
         |  ${rndSql("CAST(sum(sg.n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS fertility,
         |  ${rndSql("CAST(sum(length(tk.tok)) AS DOUBLE) / CAST(sum(sg.n_pieces) AS DOUBLE)", 4)} AS chars_per_piece
         |FROM tk JOIN read_parquet('$segsGlob') sg ON sg.word = tk.tok
         |HAVING count(*) > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tk AS MATERIALIZED (
       |  SELECT tok FROM (
       |    SELECT unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31)))
       |SELECT * FROM (
       |$per)
       |ORDER BY vocab_budget""".stripMargin
  }

  /** §2.8 — encode the corpus with the trained unigram model: every
    * token position explodes into its maximum-likelihood pieces —
    * [[Bpe.tokenIdsBpe]]'s positional output shape, so a trainer can
    * consume either family's ids unchanged. The corpus side only
    * joins the broadcast staged segmentation lexicon; the DP never
    * runs per token instance. */
  def tokenIdsUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = unigramSegsDf(s, dir)
      .select($"word".as("tok"),
        expr(s"filter(split(g, '$SEP'), x -> x <> '')").as("pieces"))
    Tables.documents(s, dir)
      .select($"doc_id", posexplode(expr(TA.toksExpr)).as(Seq("pos0", "tok")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"tok")
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      .join(segs, "tok")  // no hint: staged lexicon, planner-sized (see tokenizerVocabSweep)
      .select($"doc_id", $"pos", posexplode($"pieces").as(Seq("pp0", "piece")))
      .select($"doc_id", $"pos",
        ($"pp0" + 1).cast("long").as("piece_pos"), $"piece")
      .orderBy($"doc_id", $"pos", $"piece_pos")
  }

  /** Oracle: applies the STAGED segmentation lexicon independently —
    * the derivation itself is checked by [[vocabUnigramTrainSql]]
    * (the [[Bpe.tokenIdsBpeSql]] split of concerns). */
  def tokenIdsUnigramSql(segsGlob: String): String =
    s"""WITH sg AS MATERIALIZED (
       |  SELECT word, list_filter(string_split(g, chr(31)), x -> x <> '') AS ps
       |  FROM read_parquet('$segsGlob')),
       |t2 AS MATERIALIZED (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok FROM (
       |    SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
       |    FROM (SELECT doc_id, ${TA.duckToks} AS toks FROM documents))
       |  WHERE tok <> '' AND NOT contains(tok, chr(31)))
       |SELECT doc_id, pos, CAST(piece_pos AS BIGINT) AS piece_pos, piece FROM (
       |  SELECT t2.doc_id, t2.pos, generate_subscripts(s.ps, 1) AS piece_pos,
       |    unnest(s.ps) AS piece
       |  FROM t2 JOIN sg s ON s.word = t2.tok)
       |ORDER BY doc_id, pos, piece_pos""".stripMargin

  /** §2.8 — the tokenizer-family FERTILITY comparison: [[Bpe
    * .bpeFertility]]'s go/no-go numbers for BOTH trained families in
    * one table, per (family, lang, source) — the read a tokenizer
    * owner wanted all along: whether unigram's likelihood pruning
    * beats BPE's greedy merges on pieces-per-word for THIS corpus
    * before either vocabulary ships. Same scale layout as 41e: the
    * corpus side only joins broadcast distinct-word piece tables
    * (BPE's staged lexicon chain, unigram's staged segmentation) and
    * partial-aggregates on (lang, source). */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val bpe = Bpe.bpeFertility(s, dir).withColumn("family", lit("bpe"))
    val segs = unigramSegsDf(s, dir)
      .select($"word".as("tok"), $"n_pieces")
    val toks = Tables.documents(s, dir)
      .select($"lang", $"source", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
    val uni = toks.join(segs, "tok")  // no hint: staged lexicon, planner-sized
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length($"tok")).cast("long").as("n_chars"),
        sum($"n_pieces").cast("long").as("n_pieces"))
      .select($"lang", $"source", $"n_words", $"n_chars", $"n_pieces",
        expr(rndSql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 4)).as("fertility"),
        expr(rndSql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)", 4)).as("chars_per_piece"))
      .withColumn("family", lit("unigram"))
    bpe.unionByName(uni).orderBy($"family", $"lang", $"source")
  }

  /** Oracle: the BPE side re-derives piece counts from the staged
    * merge table (41e's chain verbatim); the unigram side reads the
    * staged segmentation lexicon — the training derivation itself is
    * checked by [[vocabUnigramTrainSql]]. */
  def tokenizerFertilitySql(mergesGlob: String, segsGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""WITH ${Bpe.pieceCountCtes(mergesGlob, "lang, source")},
       |a_bpe AS (
       |  SELECT lang, source,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |    CAST(sum(n_pieces) AS BIGINT) AS n_pieces
       |  FROM tk JOIN wp USING (tok)
       |  GROUP BY lang, source),
       |sg AS (SELECT word, n_pieces FROM read_parquet('$segsGlob')),
       |a_uni AS (
       |  SELECT lang, source,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |    CAST(sum(sg.n_pieces) AS BIGINT) AS n_pieces
       |  FROM tk JOIN sg ON sg.word = tk.tok
       |  GROUP BY lang, source),
       |u AS (
       |  SELECT 'bpe' AS family, * FROM a_bpe
       |  UNION ALL SELECT 'unigram', * FROM a_uni)
       |SELECT lang, source, n_words, n_chars, n_pieces,
       |  ${rndSql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 4)} AS fertility,
       |  ${rndSql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)", 4)} AS chars_per_piece,
       |  family
       |FROM u
       |ORDER BY family, lang, source""".stripMargin
  }

  /** Per-document piece totals from the staged segmentation lexicon —
    * the unigram analog of [[Bpe.perDocPieces]]: the corpus side only
    * joins the distinct-word table (planner-sized, no forced
    * broadcast), docs whose every token is excluded pack as zero. */
  private def perDocUnigramPieces(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = unigramSegsDf(s, dir).select($"word".as("tok"), $"n_pieces")
    val docs = Tables.documents(s, dir)
    val perDoc = docs
      .select($"doc_id", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      .join(segs, "tok")
      .groupBy($"doc_id").agg(sum($"n_pieces").as("n"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n", lit(0L)).as("n_tokens"))
  }

  /** §2.8 41''' — sequence packing in UNIGRAM-tokenizer units: row
    * 41'/41's contiguous-stream chunking with document lengths
    * measured in unigram pieces, so packing plans can be read in
    * either trained family's units (the two drift wherever the
    * families' fertility tables diverge). Same scale layout: staged
    * distinct-word lexicon join, then the two-phase bucketed global
    * running sum — no single-partition stage. */
  def docPackUnigram(s: SparkSession, dir: String): DataFrame =
    Pipeline.packed(perDocUnigramPieces(s, dir))

  /** Oracle: staged-lexicon piece counts + the 41' packing tail. */
  def docPackUnigramSql(segsGlob: String): String =
    s"""WITH sg AS MATERIALIZED (
       |  SELECT word AS tok, n_pieces FROM read_parquet('$segsGlob')),
       |tk AS MATERIALIZED (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31))),
       |c AS (
       |  SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n
       |  FROM tk JOIN sg USING (tok) GROUP BY 1),
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

  /** §2.8 45k''' — the mixing/allocation plan in UNIGRAM units:
    * [[Bpe.corpusTokenBudgetBpe]]'s temperature-τ allocation with
    * per-source counts measured in unigram pieces — the second
    * trained family's billing units, through the same shared
    * [[Pipeline.budgetPlanOf]] arithmetic. */
  def corpusTokenBudgetUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = unigramSegsDf(s, dir).select($"word".as("tok"), $"n_pieces")
    val counts = Tables.documents(s, dir)
      .select($"source", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      .join(segs, "tok")
      .groupBy($"source").agg(sum($"n_pieces").as("n_tokens"))
    Pipeline.budgetPlanOf(counts)
  }

  /** Oracle: staged-lexicon piece counts + the 45k' allocation tail. */
  def corpusTokenBudgetUnigramSql(segsGlob: String): String =
    s"""WITH sg AS MATERIALIZED (
       |  SELECT word AS tok, n_pieces FROM read_parquet('$segsGlob')),
       |tk AS MATERIALIZED (
       |  SELECT source, tok FROM (
       |    SELECT source, unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31))),
       |c AS (
       |  SELECT source, CAST(sum(n_pieces) AS BIGINT) AS n_tokens
       |  FROM tk JOIN sg USING (tok) GROUP BY 1),
       |${Pipeline.budgetPlanSqlTail}""".stripMargin

  /** The TRAIN-split-only segmentation lexicon applied to EVERY
    * corpus word, staged: held-out words segment under the train
    * model's DP; overlong words char-split (the documented rule);
    * words with a character ABSENT from the train alphabet also
    * char-split (the stream encoder's OOV coalesce — here it is
    * reachable by construction, since val/test words never informed
    * the alphabet). */
  private[graft] def holdoutSegsDf(s: SparkSession, dir: String): DataFrame =
    graft.sources.OracleStage.stage(s, "unigram_holdout_segs", dir) {
      import s.implicits._
      val trainDocs = Tables.documents(s, dir)
        .withColumn("h", substring(
          md5(concat(lit(s"${Pipeline.splitSeed}:"), $"doc_id".cast("string"))
            .cast("binary")), 1, 4))
        .filter($"h" >= lit(Pipeline.splitValHex))
      // the [[trainFor]] device, under its own name so a full-corpus
      // model can never be confused with the split one
      val (_, counts, total) =
        graft.sources.Memo("unigram.holdout_train", dir, s)(trainOf(trainDocs))
      val all = wordsOf(Tables.documents(s, dir), capped = false)
      val charSplit = regexp_replace($"word", "(.)", s"$SEP$$1")
      if (counts.isEmpty)
        all.select($"word", charSplit.as("g"),
          $"n".cast("long").as("n_pieces"))
      else {
        val qm = counts.map { case (p, c) => p -> qlog(c) }
        all
          .withColumn("qmap", typedLit(qm))
          .withColumn("g", coalesce(
            when($"n" <= uniMaxWordLen, dpExpr(qlog(total)))
              .otherwise(charSplit),
            charSplit))
          .select($"word", $"g",
            size(expr(s"filter(split(g, '$SEP'), x -> x <> '')"))
              .cast("long").as("n_pieces"))
      }
    }

  /** §2.8 42j — the tokenizer GENERALIZATION check: fertility of the
    * TRAIN-split-trained unigram model measured per split — the
    * number a tokenizer owner reads before shipping a vocabulary
    * trained on a corpus snapshot (a model that only fits its own
    * training text shows a train→val fertility gap; the full-corpus
    * fertility table 42g can't see that by construction). Split
    * assignment is 38d's row-local seeded hash; the corpus side only
    * joins the staged holdout lexicon (planner-sized); one
    * partial-agg rollup per split. */
  def tokenizerHoldoutFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    val segs = holdoutSegsDf(s, dir).select($"word".as("tok"), $"n_pieces")
    Tables.documents(s, dir)
      .withColumn("h", substring(
        md5(concat(lit(s"${Pipeline.splitSeed}:"), $"doc_id".cast("string"))
          .cast("binary")), 1, 4))
      .withColumn("split",
        when($"h" < lit(Pipeline.splitTestHex), "test")
          .when($"h" < lit(Pipeline.splitValHex), "val")
          .otherwise("train"))
      .select($"split", explode(expr(TA.toksExpr)).as("tok"))
      .filter($"tok" =!= "" && !$"tok".contains(SEP))
      .join(segs, "tok")
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length($"tok")).cast("long").as("n_chars"),
        sum($"n_pieces").cast("long").as("n_pieces"))
      .select($"split", $"n_words", $"n_chars", $"n_pieces",
        expr(rndSql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)", 4))
          .as("fertility"))
      .orderBy($"split")
  }

  /** Oracle: 38d's split formula + the staged holdout lexicon (the
    * tokenIdsUnigram split of concerns — derivation spec-checked,
    * application SQL-replayed). */
  def tokenizerHoldoutFertilitySql(segsGlob: String): String = {
    import graft.functions.Agg.rndSql
    s"""WITH sp AS (
       |  SELECT doc_id,
       |    CASE WHEN h < '${Pipeline.splitTestHex}' THEN 'test'
       |         WHEN h < '${Pipeline.splitValHex}' THEN 'val'
       |         ELSE 'train' END AS split
       |  FROM (SELECT doc_id,
       |          substr(md5('${Pipeline.splitSeed}:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
       |        FROM documents)),
       |sg AS (SELECT word, n_pieces FROM read_parquet('$segsGlob')),
       |tk AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(${TA.duckToks}) AS tok FROM documents)
       |  WHERE tok <> '' AND NOT contains(tok, chr(31)))
       |SELECT sp.split,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(tk.tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(sg.n_pieces) AS BIGINT) AS n_pieces,
       |  ${rndSql("CAST(sum(sg.n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS fertility
       |FROM tk JOIN sp USING (doc_id) JOIN sg ON sg.word = tk.tok
       |GROUP BY sp.split
       |ORDER BY sp.split""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vocab_unigram_train" -> (vocabUnigramTrain _),
    "token_ids_unigram"   -> (tokenIdsUnigram _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "tokenizer_vocab_sweep" -> (tokenizerVocabSweep _),
    "doc_pack_unigram"    -> (docPackUnigram _),
    "corpus_token_budget_unigram" -> (corpusTokenBudgetUnigram _),
    "tokenizer_holdout_fertility" -> (tokenizerHoldoutFertility _)
  )

  def oracles: Map[String, String] = {
    import graft.sources.OracleStage.globOf
    val sweepArts = uniVocabBudgets.flatMap { b =>
      for { vg <- globOf(vocabKey(b)); sg <- globOf(segsKey(b)) }
        yield (b, vg, sg)
    }
    Map("vocab_unigram_train" -> vocabUnigramTrainSql) ++
      globOf("unigram_segs")
        .map(g => "token_ids_unigram" -> tokenIdsUnigramSql(g)) ++
      globOf("unigram_segs")
        .map(g => "doc_pack_unigram" -> docPackUnigramSql(g)) ++
      globOf("unigram_segs")
        .map(g => "corpus_token_budget_unigram" -> corpusTokenBudgetUnigramSql(g)) ++
      globOf("unigram_holdout_segs")
        .map(g => "tokenizer_holdout_fertility" -> tokenizerHoldoutFertilitySql(g)) ++
      (for {
        mg <- globOf("bpe_merges")
        sg <- globOf("unigram_segs")
      } yield "tokenizer_fertility" -> tokenizerFertilitySql(mg, sg)) ++
      (if (sweepArts.size == uniVocabBudgets.size)
        Map("tokenizer_vocab_sweep" -> tokenizerVocabSweepSql(sweepArts))
      else Map.empty)
  }
}
