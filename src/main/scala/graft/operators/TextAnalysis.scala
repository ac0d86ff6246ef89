package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TermWeights => TW}
import graft.sources.Tables

/** §2.6 Text analysis over the `documents` table — the per-document
  * scoring passes a training-data pipeline runs before dedup/filter.
  *
  * Everything here is row-local column arithmetic: no joins, no
  * shuffles, whole-stage-codegen'd end to end. At 100 TB each task
  * scores its parquet split independently — embarrassingly parallel.
  * All doubles are derived through identical left-to-right IEEE
  * operations in both engines (and rounded at the edge) so the
  * DuckDB hash-compare is exact.
  */
object TextAnalysis {

  /** Tokens of `text`, whitespace-split. Operators-visible so
    * composed pipelines ([[Pipeline]]) reuse the exact tokenizer. */
  private[graft] val toksExpr = "split(trim(text), '\\\\s+')"
  private[graft] val duckToks = "string_split_regex(trim(text), '\\s+')"

  /** BPE-ish pre-tokenization: letter runs, digit runs, and single
    * punctuation marks — the shape a subword tokenizer splits on.
    * (Spark SQL string literals consume one escaping level, DuckDB's
    * don't — hence the two renderings of \s.) */
  private val subtokRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]"
  private val duckSubtokRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** token counts (whitespace + BPE-ish) / char classes / average
    * token length. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .select(
        $"doc_id",
        length($"text").as("n_chars"),
        size($"toks").cast("long").as("n_tokens"),
        size(expr(s"regexp_extract_all(text, '$subtokRe', 0)")).cast("long").as("n_subtokens"),
        length(regexp_replace($"text", "[^aeiou]", "")).as("n_vowels"),
        expr("round(CAST(length(regexp_replace(text, '\\\\s+', '')) AS DOUBLE) / size(toks), 4)")
          .as("avg_token_len"))
      .orderBy($"doc_id")
  }

  val textStatsSql: String =
    s"""SELECT doc_id,
       |  length(text) AS n_chars,
       |  len($duckToks) AS n_tokens,
       |  len(regexp_extract_all(text, '$duckSubtokRe')) AS n_subtokens,
       |  length(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowels,
       |  round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |        / len($duckToks), 4) AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Adds `n_tokens`, `stop_ratio`, `ttr`, `len_score` (unrounded) to
    * a frame that already has `toks` — the shared quality-metric pass
    * used by [[textQuality]] and [[Pipeline.qualityFilter]]. */
  private[operators] def withQualityMetrics(df: DataFrame): DataFrame =
    df.withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr("graft_count_in(toks, array('the', 'a', 'of', 'to', 'and'))"))
      .withColumn("stop_ratio", expr("CAST(n_stop AS DOUBLE) / n_tokens"))
      .withColumn("ttr", expr("CAST(size(array_distinct(toks)) AS DOUBLE) / n_tokens"))
      .withColumn("len_score", expr("least(1.0D, CAST(n_tokens AS DOUBLE) / 100.0D)"))

  /** The rounded composite score over [[withQualityMetrics]] columns —
    * identical formula on both engines. */
  private[operators] val qualityExpr =
    "round(0.4D * (1.0D - stop_ratio) + 0.4D * ttr + 0.2D * len_score, 4)"
  private[operators] val qualityDuck =
    "round(0.4 * (1.0 - stop_ratio) + 0.4 * ttr + 0.2 * len_score, 4)"
  /** DuckDB rendering of the metric columns (expects `toks`,
    * `n_tokens` in scope). */
  private[operators] val qualityMetricsDuck =
    """CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
      |      / n_tokens AS stop_ratio,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens AS ttr,
      |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS len_score""".stripMargin

  /** Quality score: stopword ratio, type-token ratio, length score —
    * the standard cheap pre-filter heuristics. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withQualityMetrics(
      Tables.documents(s, dir).withColumn("toks", expr(toksExpr)))
      .select(
        $"doc_id", $"n_tokens",
        round($"stop_ratio", 4).as("stop_ratio"),
        round($"ttr", 4).as("ttr"),
        round($"len_score", 4).as("len_score"),
        expr(qualityExpr).as("quality"))
      .orderBy($"doc_id")
  }

  val textQualitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks,
       |    len($duckToks) AS n_tokens
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
       |      / n_tokens AS stop_ratio,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens AS ttr,
       |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS len_score
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  round(stop_ratio, 4) AS stop_ratio, round(ttr, 4) AS ttr,
       |  round(len_score, 4) AS len_score,
       |  round(0.4 * (1.0 - stop_ratio) + 0.4 * ttr + 0.2 * len_score, 4) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  /** Marker-token language heuristic: count function-word markers per
    * language, pick the best (deterministic priority order on ties),
    * confidence = marker density. */
  private[operators] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "et", "une"),
    "es" -> Seq("el", "los", "las", "y"))

  private def inList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")

  /** Adds per-language marker-count columns `s_<lang>` and the
    * deterministic `lang_guess` to a frame with `toks` — shared with
    * [[Pipeline.qualityFilter]]. */
  private[operators] def withLangGuess(df: DataFrame): DataFrame = {
    val scored = markers.foldLeft(df) { case (d, (lang, ts)) =>
      d.withColumn(s"s_$lang",
        expr(s"graft_count_in(toks, array(${inList(ts)}))"))
    }
    val best = markers.map { case (l, _) => col(s"s_$l") }
    val guess = markers.foldRight(lit("und")) { case ((l, _), alt) =>
      when(col(s"s_$l") === greatest(best: _*) && col(s"s_$l") > 0, lit(l)).otherwise(alt)
    }
    scored.withColumn("lang_guess", guess)
  }

  private[operators] def bestScore: org.apache.spark.sql.Column =
    greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)

  /** DuckDB renderings of the marker-score columns and guess CASE
    * (expect `toks` in scope). */
  private[operators] val langScoreColsDuck: String = markers.map { case (l, ts) =>
    s"CAST(len(list_filter(toks, t -> t IN (${inList(ts)}))) AS BIGINT) AS s_$l"
  }.mkString(",\n    ")
  private[operators] val langBestDuck: String =
    markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
  private[operators] val langGuessDuck: String =
    markers.foldRight("'und'") { case ((l, _), alt) =>
      s"CASE WHEN s_$l = $langBestDuck AND s_$l > 0 THEN '$l' ELSE $alt END"
    }

  def textLangid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withLangGuess(Tables.documents(s, dir).withColumn("toks", expr(toksExpr)))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .select($"doc_id", $"lang_guess",
        round(bestScore.cast("double") / $"n_tokens", 4).as("confidence"))
      .orderBy($"doc_id")
  }

  val textLangidSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks,
       |    len($duckToks) AS n_tokens
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, n_tokens,
       |    $langScoreColsDuck
       |  FROM t)
       |SELECT doc_id,
       |  $langGuessDuck AS lang_guess,
       |  round(CAST($langBestDuck AS DOUBLE) / n_tokens, 4) AS confidence
       |FROM sc ORDER BY doc_id""".stripMargin

  /** §2.6 — language-ID confusion matrix: the detector's guess
    * (`text_langid`) cross-tabulated against the corpus's stored
    * language label, with per-cell share of the true label's row —
    * the evaluation harness every classifier in the pipeline needs
    * before its output gates data (which languages leak into which,
    * and at what rate). Row-local scoring + one partial-agged groupBy
    * to a |langs|²-bounded matrix; shares are windows over those
    * cells. */
  def textLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rndSql
    withLangGuess(Tables.documents(s, dir).withColumn("toks", expr(toksExpr)))
      .groupBy($"lang".as("true_lang"), $"lang_guess")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_share", expr(rndSql(
        "CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS DOUBLE)", 6)))
      .orderBy($"true_lang", $"lang_guess")
  }

  lazy val textLangidConfusionSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH t AS (
       |  SELECT doc_id, lang, $duckToks AS toks FROM documents),
       |sc AS (
       |  SELECT doc_id, lang, $langScoreColsDuck FROM t),
       |g AS (
       |  SELECT lang AS true_lang, $langGuessDuck AS lang_guess
       |  FROM sc),
       |m AS (
       |  SELECT true_lang, lang_guess, count(*) AS n_docs
       |  FROM g GROUP BY 1, 2)
       |SELECT true_lang, lang_guess, n_docs,
       |  ${rndSql("CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS DOUBLE)", 6)} AS row_share
       |FROM m ORDER BY true_lang, lang_guess""".stripMargin
  }

  /** Position-weighted rolling fingerprint: token code = polynomial of
    * first/last char and length, summed with position weights mod a
    * prime. Pure integer arithmetic — exact on any engine, order-
    * and partitioning-independent. */
  private val prime = 1000000007L

  /** The fingerprint as SQL fragments (expect `toks` in scope) —
    * shared with [[Pipeline.sampleStratified]], which uses the
    * fingerprint as its deterministic, content-derived sampling hash.
    * Spark side is the native codegen'd
    * [[graft.functions.TokenFingerprint]]; the composed-builtin
    * formula it is bit-equal to (property-tested in ExpressionsSpec)
    * is kept as [[fingerprintFormulaExpr]]. */
  private[operators] val fingerprintExpr: String = "graft_fingerprint(toks)"

  private[graft] val fingerprintFormulaExpr: String =
    s"""aggregate(
       |  transform(sequence(1, size(toks)),
       |    i -> (CAST(i AS BIGINT)
       |          * (ascii(element_at(toks, i)) * 10000L
       |             + ascii(substring(element_at(toks, i), -1, 1)) * 100L
       |             + length(element_at(toks, i)))) % ${prime}L),
       |  0L, (acc, x) -> (acc + x) % ${prime}L)""".stripMargin
  private[operators] val fingerprintDuck: String =
    s"""CAST(list_sum(list_transform(range(1, len(toks) + 1),
       |    i -> (i * (ascii(toks[i]) * 10000
       |               + ascii(toks[i][-1]) * 100
       |               + length(toks[i]))) % $prime)) % $prime AS BIGINT)""".stripMargin

  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .select($"doc_id", expr(fingerprintExpr).as("fingerprint"))
      .orderBy($"doc_id")
  }

  val textFingerprintSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents)
       |SELECT doc_id,
       |  $fingerprintDuck AS fingerprint
       |FROM t ORDER BY doc_id""".stripMargin

  /** Doc-internal repetition signal: how dominated is a document by
    * its single most frequent word-3-gram — the standard boilerplate/
    * degenerate-text filter signal. Trigram multiset per doc (NOT the
    * distinct shingle set), counted via one (doc_id, trigram) shuffle
    * with map-side partials; docs shorter than 3 tokens have no
    * trigram identity and are excluded, same as the shingle ops. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tri = Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
          |                 element_at(toks, i + 2)))""".stripMargin)).as("tri"))
    tri.groupBy($"doc_id", $"tri").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(
        sum($"c").as("n_tri"),
        count(lit(1)).as("n_distinct_tri"),
        max($"c").as("top_count"),
        expr(graft.functions.Agg.rndSql("CAST(max(c) AS DOUBLE) / sum(c)", 4)).as("rep_ratio"))
      .orderBy($"doc_id")
  }

  val textRepetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri
       |  FROM t WHERE len(toks) >= 3),
       |per AS (SELECT doc_id, tri, count(*) AS c FROM tri GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(c) AS BIGINT) AS n_tri,
       |  count(*) AS n_distinct_tri,
       |  CAST(max(c) AS BIGINT) AS top_count,
       |  ${graft.functions.Agg.rndSql("CAST(max(c) AS DOUBLE) / sum(c)", 4)} AS rep_ratio
       |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------

  /** Redaction classes: PII-shaped patterns (email, NANP phone,
    * IPv4 — exercised by the crafted-document spec; a synthetic
    * corpus has none) plus a term blocklist that does fire on the
    * test corpus. Patterns stay inside the RE2 ∩ java.util.regex
    * common subset (`\b`, classes, bounded repeats — no lookaround)
    * so Spark and DuckDB compile them identically. */
  private[operators] val redactClasses: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "[PHONE]"),
    ("ip",    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("term",  "\\b(customer|supplier|vector)\\b", "[TERM]"))

  /** Pattern scrubbing: every class replaced in sequence
    * (email → phone → ip → term), per-class match counts taken on the
    * RAW text so classes count independently of replacement order.
    * Row-local and codegen'd like the rest of §2.6 — the scrubbing a
    * crawl pipeline runs on every document before anything else. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cleaned = redactClasses.foldLeft(col("text")) {
      case (c, (_, pat, repl)) => regexp_replace(c, lit(pat), lit(repl))
    }
    val counts = redactClasses.map { case (name, pat, _) =>
      size(regexp_extract_all($"text", lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    Tables.documents(s, dir)
      .select($"doc_id" +: cleaned.as("clean_text") +: counts: _*)
      .orderBy($"doc_id")
  }

  val textRedactSql: String = {
    val cleaned = redactClasses.foldLeft("text") {
      case (c, (_, pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
    }
    val counts = redactClasses.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    s"""SELECT doc_id, $cleaned AS clean_text,
       |  $counts
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Fixed keyword-query workload for [[textSearch]] (a production
    * deployment would read these from a table; bounded either way). */
  private[operators] val searchQueries: Seq[(Long, String)] = Seq(
    1L -> "customer query", 2L -> "vector stream batch", 3L -> "slow scan",
    4L -> "window merge join", 5L -> "hash part key", 6L -> "spark table",
    7L -> "filter sort group", 8L -> "line order data")
  val searchK = 10

  /** (doc_id, term, tf) of a documents frame under [[toksExpr]]. */
  private[graft] def docTermCounts(docs: DataFrame): DataFrame =
    TW.termCounts(docs.select(col("doc_id"), explode(expr(toksExpr)).as("term")), "doc_id")

  /** The corpus's term counts and smoothed TF-IDF idf: (doc_id, term,
    * tf) and (term, idf), the idf over n = all documents. */
  private def tfidfOf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tf = docTermCounts(Tables.documents(s, dir))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    (tf, TW.tfidfIdf(TW.docFreqs(tf), n))
  }

  /** Oracle CTEs `tf`, `n` and `idf` of [[tfidfOf]]. */
  private val tfidfCtesSql: String =
    s"""tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
       |  GROUP BY 1, 2),
       |n AS (SELECT count(*) AS n FROM documents),
       |idf AS (
       |  SELECT term, ${TW.tfidfIdfSql("n.n", "df")} AS idf
       |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1), n)""".stripMargin

  /** Full-text relevance search: TF-IDF scored top-k documents per
    * keyword query — the "find me training docs about X" primitive.
    *
    * Layout: term frequencies are one partial-aggregated shuffle on
    * (doc, term) — the inverted index; document frequencies reuse
    * that frame with a second partial agg on the term; the smoothed
    * idf ([[graft.functions.TermWeights.tfidfIdf]]) joins back; the
    * bounded query set broadcasts so the posting side never
    * reshuffles for it; per-(query, doc) scores are an exact
    * fixed-point [[graft.functions.Agg.dsum]] (order-independent —
    * deterministic at any cluster size); and the final top-k runs on
    * the native [[graft.plans.TopKPerGroup]] operator — per-partition
    * bounded heaps, so a query matching the whole corpus ships only
    * k rows per partition to the final stage, never the corpus. */
  def textSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    val (tf, idf) = tfidfOf(s, dir)
    val q = broadcast(searchQueries.toDF("query_id", "terms")
      .select($"query_id", explode(split($"terms", " ")).as("term")))
    val scores = tf.join(q, "term").join(idf, "term")
      .groupBy($"query_id", $"doc_id")
      .agg(dsum($"tf" * $"idf").as("score"))
    graft.plans.TopK.perGroup(scores, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), searchK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  val searchIndexTable = "graft_postings_idx"
  val searchIndexBuckets = 16

  /** Build the PERSISTED inverted index: per-(term, doc) posting with
    * its idf-weighted score contribution precomputed, written
    * bucketed+sorted by term. The explode/aggregate over the corpus
    * is paid ONCE here, not per query — the index-build analog of
    * [[graft.operators.Dedup.buildMinhashIndex]]. The stored weight
    * is the exact double product tf·idf that [[textSearch]] sums, so
    * the indexed path is bit-identical to the from-scratch path. */
  def buildPostingsIndex(s: SparkSession, dir: String,
                         table: String = searchIndexTable): Unit =
    graft.sources.Sinks.writeBucketedOnce(dir, table,
        Seq("term"), searchIndexBuckets)(postingsOf(s, dir))

  /** The postings frame (term, doc_id, w) of [[buildPostingsIndex]]. */
  private[graft] def postingsOf(s: SparkSession, dir: String): DataFrame = {
    val (tf, idf) = tfidfOf(s, dir)
    tf.join(idf, "term")
      .select(col("term"), col("doc_id"), (col("tf") * col("idf")).as("w"))
  }

  /** Query-time search against the persisted index: the term filter
    * is a set of literals, so the bucketed scan PRUNES to the buckets
    * holding query terms (SelectedBucketsCount in the plan) — the
    * corpus postings are never re-derived, re-read in full, or
    * shuffled on the term. Scores are the same exact fixed-point sum
    * as [[textSearch]], so this shares its oracle verbatim. */
  def textSearchIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    buildPostingsIndex(s, dir)
    val terms = searchQueries.flatMap(_._2.split(" ")).distinct
    val q = broadcast(searchQueries.toDF("query_id", "terms")
      .select($"query_id", explode(split($"terms", " ")).as("term")))
    val scored = s.table(searchIndexTable)
      .filter($"term".isin(terms: _*))
      .join(q, "term")
      .groupBy($"query_id", $"doc_id")
      .agg(dsum($"w").as("score"))
    graft.plans.TopK.perGroup(scored, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), searchK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  /** `VALUES` rows of [[searchQueries]], one per (query, term). */
  private def searchQueryValuesSql: String =
    searchQueries.flatMap { case (id, terms) =>
      terms.split(" ").map(t => s"($id, '$t')")
    }.mkString(", ")

  val textSearchSql: String = {
    import graft.functions.Agg.dsumSql
    s"""WITH $tfidfCtesSql,
       |q(query_id, term) AS (VALUES $searchQueryValuesSql),
       |scores AS (
       |  SELECT q.query_id, tf.doc_id, ${dsumSql("tf.tf * idf.idf")} AS score
       |  FROM tf JOIN q USING (term) JOIN idf USING (term)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM scores)
       |SELECT query_id, rank, doc_id, score FROM ranked
       |WHERE rank <= $searchK ORDER BY query_id, rank""".stripMargin
  }

  /** One-row (avgdl, n) BM25 statistics of a documents frame: avgdl =
    * total tokens / total docs, one exact integer division in double
    * space, identical on both engines (docs with zero tokens still
    * count in n — BM25's avgdl is corpus-wide). avgdl is NULL when
    * the corpus has no term. */
  private[graft] def bm25DocStats(docs: DataFrame, dl: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n"))
    dl.agg(sum(col("dl")).as("tot")).crossJoin(broadcast(n))
      .select((col("tot").cast("double") / col("n").cast("double")).as("avgdl"), col("n"))
  }

  /** Oracle CTEs `tf`, `dl`, `stats` and `idf` of the document-level
    * BM25 chain over the whole corpus. */
  private[operators] val bm25CtesSql: String =
    s"""tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (
       |  SELECT (SELECT CAST(sum(dl) AS DOUBLE) FROM dl) /
       |         (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS avgdl,
       |         (SELECT count(*) FROM documents) AS n),
       |idf AS (
       |  SELECT term, ${TW.bm25IdfSql("n", "df")} AS idf, avgdl
       |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats)""".stripMargin

  /** The BM25 weight of the [[bm25CtesSql]] row `tf JOIN dl JOIN idf`. */
  private[operators] val bm25WeightSql: String =
    TW.bm25WeightSql("tf.tf", "dl.dl", "idf.idf", "idf.avgdl")

  /** §2.6 — BM25 relevance search: the production-default ranking
    * function (what Lucene/Elasticsearch score with) next to 35d's
    * plain TF-IDF. Same layout as [[textSearch]] — ONE (doc, term)
    * partial-agg shuffle builds the postings; doc length and the
    * corpus avgdl derive from that frame (dl is a doc-keyed partial
    * agg; avgdl is total_tokens/n_docs, an exact integer ratio
    * broadcast as a scalar); the bounded query set broadcasts. The
    * weight is [[graft.functions.TermWeights.bm25Weight]], quantized
    * before the exact fixed-point sum, so scores are bit-stable at any
    * parallelism. Top-k per query runs on the native bounded-heap
    * TopKPerGroup — a query matching the whole corpus ships k rows per
    * partition, never the corpus. */
  def textBm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.dsum
    val tf = docTermCounts(Tables.documents(s, dir))
    val dl = TW.unitLengths(tf, "doc_id")
    val idf = TW.bm25Idf(TW.docFreqs(tf), bm25DocStats(Tables.documents(s, dir), dl))
    val q = broadcast(searchQueries.toDF("query_id", "terms")
      .select($"query_id", explode(split($"terms", " ")).as("term")))
    val weighted = tf.join(dl, "doc_id").join(q, "term").join(idf, "term")
      .select($"query_id", $"doc_id",
        TW.bm25Weight($"tf", $"dl", $"idf", $"avgdl").as("w"))
    val scores = weighted.groupBy($"query_id", $"doc_id")
      .agg(dsum($"w").as("score"))
    graft.plans.TopK.perGroup(scores, Seq("query_id"),
        Seq("score" -> true, "doc_id" -> false), searchK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  val textBm25SearchSql: String = {
    import graft.functions.Agg.dsumSql
    s"""WITH $bm25CtesSql,
       |q(query_id, term) AS (VALUES $searchQueryValuesSql),
       |weighted AS (
       |  SELECT q.query_id, tf.doc_id, $bm25WeightSql AS w
       |  FROM tf JOIN dl USING (doc_id) JOIN q USING (term)
       |    JOIN idf USING (term)),
       |scores AS (
       |  SELECT query_id, doc_id, ${dsumSql("w")} AS score
       |  FROM weighted GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM scores)
       |SELECT query_id, rank, doc_id, score FROM ranked
       |WHERE rank <= $searchK ORDER BY query_id, rank""".stripMargin
  }

  /** Keywords returned per document. */
  val keywordsK = 3

  /** §2.6 — per-document keyword extraction: the top-[[keywordsK]]
    * terms by tf·idf, the metadata tag a corpus browser / retrieval
    * filter wants on every document. Same tf and idf derivations as
    * [[textSearch]] (idf 1e-6-quantized, products quantized before
    * the rank so both engines cut identical top-k sets; ties by
    * term). Per-doc top-k runs on the bounded-heap
    * [[graft.plans.TopK.perGroup]] — millions of doc-groups, ≤k rows
    * per group per partition ship, no per-doc sort. The idf join is
    * term-keyed against the |vocab|-sized idf table — AQE broadcasts
    * it when it fits and falls back to the hash join on the term
    * partitioning the tf aggregate already produced. */
  def corpusKeywords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val (tf, idf) = tfidfOf(s, dir)
    val scored = tf.join(idf, "term")
      .select($"doc_id", $"term", rnd($"tf" * $"idf", 6).as("score"))
    graft.plans.TopK.perGroup(scored, Seq("doc_id"),
        Seq("score" -> true, "term" -> false), keywordsK)
      .select($"doc_id", $"rank", $"term", $"score")
      .orderBy($"doc_id", $"rank")
  }

  val corpusKeywordsSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH $tfidfCtesSql,
       |scored AS (
       |  SELECT doc_id, term, ${rndSql("tf.tf * idf.idf", 6)} AS score
       |  FROM tf JOIN idf USING (term)),
       |ranked AS (
       |  SELECT doc_id, term, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, score FROM ranked
       |WHERE rank <= $keywordsK ORDER BY doc_id, rank""".stripMargin
  }

  /** §2.6 — readability scoring: Flesch reading-ease and
    * Flesch-Kincaid grade per document from three row-local counts —
    * words (whitespace tokens), sentences (terminal-punctuation runs,
    * floored at 1 so fragmentary docs don't divide by zero), and
    * syllables (vowel-group runs — the standard dictionary-free
    * approximation). Pure scan work: zero shuffles, codegen'd regex
    * counts, identical RE2∩Java patterns on both engines, constants
    * are the published Flesch coefficients, arithmetic written in the
    * same association order on both sides and quantized at 1e-4. */
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    Tables.documents(s, dir)
      .withColumn("n_words", size(expr(toksExpr)).cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1L), size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")))
      .withColumn("n_syllables",
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long"))
      .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
        rnd(lit(206.835d)
          - lit(1.015d) * $"n_words".cast("double") / $"n_sentences".cast("double")
          - lit(84.6d) * $"n_syllables".cast("double") / $"n_words".cast("double"), 4)
          .as("flesch"),
        rnd(lit(0.39d) * $"n_words".cast("double") / $"n_sentences".cast("double")
          + lit(11.8d) * $"n_syllables".cast("double") / $"n_words".cast("double")
          - lit(15.59d), 4).as("fk_grade"))
      .orderBy($"doc_id")
  }

  val textReadabilitySql: String = {
    import graft.functions.Agg.rndSql
    val wps = "CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)"
    val spw = "CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)"
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len($duckToks) AS BIGINT) AS n_words,
       |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${rndSql(s"CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * $wps - CAST(84.6 AS DOUBLE) * $spw", 4)} AS flesch,
       |  ${rndSql(s"CAST(0.39 AS DOUBLE) * $wps + CAST(11.8 AS DOUBLE) * $spw - CAST(15.59 AS DOUBLE)", 4)} AS fk_grade
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Entropy prefix cap: per-document work is O(distinct-chars ×
    * prefix), bounded by the clock-constant below — a 10 GB document
    * costs the same as a 4 KB one. */
  val entropyPrefix = 4096

  /** §2.6 #35e — character-distribution quality signals: Shannon
    * entropy of the char histogram, distinct-char count and top-char
    * dominance over the first [[entropyPrefix]] chars. Degenerate
    * generated text (repeated chars, base64 blobs, mono-character
    * padding) separates cleanly from prose on these three numbers.
    *
    * Row-local higher-order-function arithmetic — no shuffle, no
    * explode (a (doc, char) explode would shuffle ~n_chars rows per
    * doc for a per-doc reduction). Determinism: each entropy term
    * `p·ln p` is half-up-quantized to 1e-6 BEFORE summing, making
    * every term an integer-valued double — the sum is then exact and
    * ORDER-INDEPENDENT, so `array_distinct`/`list_distinct` ordering
    * differences between engines (and partitionings) cannot move the
    * result. */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = entropyPrefix
    // fused native pass ([[graft.functions.CharEntropyStats]]) — the
    // composed higher-order-function formulation computed the same
    // numbers through O(distinct × n) interpreted lambdas per row
    // (measured 8.7 s over sf0.1; this runs it in one code-point loop)
    Tables.documents(s, dir)
      .withColumn("st", expr(s"graft_entropy(substring(text, 1, $p))"))
      .select(
        $"doc_id",
        element_at($"st", 1).cast("long").as("n_distinct_chars"),
        element_at($"st", 2).as("top_char_ratio"),
        element_at($"st", 3).as("char_entropy"))
      .orderBy($"doc_id")
  }

  val textEntropySql: String = {
    import graft.functions.Agg.rndSql
    val p = entropyPrefix
    s"""WITH d AS (
       |  SELECT doc_id, substring(text, 1, $p) AS head FROM documents
       |), c AS (
       |  SELECT doc_id, CAST(length(head) AS DOUBLE) AS n,
       |    list_transform(range(1, length(head) + 1),
       |                   i -> substring(head, i, 1)) AS chs
       |  FROM d
       |), h AS (
       |  SELECT doc_id, n,
       |    list_transform(list_distinct(chs),
       |                   c -> CAST(len(list_filter(chs, x -> x = c)) AS DOUBLE)) AS counts
       |  FROM c
       |)
       |SELECT doc_id,
       |  CAST(len(counts) AS BIGINT) AS n_distinct_chars,
       |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE ${rndSql("list_aggregate(counts, 'max') / n", 6)} END AS top_char_ratio,
       |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE -list_aggregate(list_transform(counts,
       |      c -> floor((c / n) * ln(c / n) * 1000000.0 + CAST(0.5 AS DOUBLE))), 'sum')
       |    / 1000000.0 END AS char_entropy
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // text_cosine_pairs — sparse TF-IDF cosine similarity
  // ------------------------------------------------------------------

  /** Shingles appearing in more documents than this are dropped
    * before the pair join: a term in df documents yields df²
    * candidate pairs, so ubiquitous terms are the one quadratic
    * blowup in sparse similarity — and carry near-zero idf weight
    * anyway. Same df-cap device as
    * [[graft.operators.Dedup.shingleDfCap]], part of the semantics
    * and mirrored in the oracle. */
  val cosineDfCap = 64
  val cosineTopN = 50

  /** §2.6 — idf-weighted cosine document similarity over the word-
    * 3-gram shingle space: the WEIGHTED lexical relatedness score
    * next to [[graft.operators.Dedup.dedupNgramJaccard]]'s unweighted
    * Jaccard (a pair sharing three rare shingles outranks one sharing
    * three boilerplate shingles — Jaccard can't tell them apart) and
    * the embedding suite's dense cosine. Docs become L2-normalized
    * idf vectors over the df-capped shingle set (shingles via the
    * native [[graft.functions]] `graft_shingles` — row-local, one
    * pass); pair dot products come from ONE self-join of the exploded
    * corpus on the shingle (fan-out ≤ cap² per shingle — never an
    * all-pairs doc join), partial-aggregated on the (a, b) key.
    * Every float step is deterministic cross-engine: idf is
    * 1e-6-quantized after ln, norms come from 1e-4-quantized exact
    * sums under a correctly-rounded sqrt, the dot sums 1e-9-quantized
    * longs, and top-N ranks the 1e-6-rounded score with an (a, b)
    * total-order tiebreak. */
  def textCosinePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.{quantize, rndSql}
    val ex = Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr("graft_shingles(toks)")).as("term"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val idf = TW.tfidfIdf(TW.docFreqs(ex).filter($"df" <= cosineDfCap), n)
    val w = ex.join(idf, "term")
    val norms = w.groupBy($"doc_id")
      .agg(sqrt(sum(quantize($"idf" * $"idf", 4).cast("long")).cast("double") / lit(10000.0))
        .as("norm"))
    val nw = w.join(norms, "doc_id")
      .select($"doc_id", $"term", ($"idf" / $"norm").as("nw"))
    // shuffle-hash, never broadcast: the exploded corpus is the BIG
    // side at scale (same rationale as the ngram pair join)
    nw.as("a").hint("shuffle_hash").join(nw.as("b"),
        $"a.term" === $"b.term" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg((sum(quantize($"a.nw" * $"b.nw", 9).cast("long")).cast("double") / lit(1.0e9))
        .as("sim0"))
      .select($"doc_a", $"doc_b", expr(rndSql("sim0", 6)).as("sim"))
      .orderBy($"sim".desc, $"doc_a", $"doc_b")
      .limit(cosineTopN)
  }

  val textCosinePairsSql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
       |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
       |  WHERE len(toks) >= 3),
       |ex AS (SELECT doc_id, unnest(shingles) AS term FROM sh),
       |n AS (SELECT count(*) AS n FROM documents),
       |idf AS (
       |  SELECT term, ${TW.tfidfIdfSql("n.n", "df")} AS idf
       |  FROM (SELECT term, count(*) AS df FROM ex GROUP BY 1
       |        HAVING count(*) <= $cosineDfCap), n),
       |w AS (SELECT ex.doc_id, ex.term, idf.idf FROM ex JOIN idf USING (term)),
       |norms AS (
       |  SELECT doc_id,
       |    sqrt(CAST(sum(CAST(floor(idf * idf * 10000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
       |         / 10000.0) AS norm
       |  FROM w GROUP BY 1),
       |nw AS (
       |  SELECT w.doc_id, w.term, w.idf / norms.norm AS nw
       |  FROM w JOIN norms USING (doc_id)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(sum(CAST(floor(a.nw * b.nw * 1000000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT))
       |         AS DOUBLE) / 1000000000.0 AS sim0
       |  FROM nw a JOIN nw b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, ${rndSql("sim0", 6)} AS sim
       |FROM p
       |ORDER BY sim DESC, doc_a, doc_b
       |LIMIT $cosineTopN""".stripMargin
  }

  /** §2.6 #35i — canonical text normalization (the pre-hash step of
    * every dedup/tokenization pipeline): Unicode NFC + simple
    * lowercase + ASCII-whitespace collapse via the codegen'd
    * [[graft.functions.TextNormalize]] expression — one tight pass
    * per document, no regex engine in the hot path (the oracle's
    * regexp_replace formulation is the cross-engine yardstick, not
    * the production implementation). Row-local and pipelined: at
    * 100 TB this runs inside the scan's whole-stage-codegen with
    * zero exchanges. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("text_norm", expr("graft_normalize(text)"))
      .select($"doc_id", $"text_norm",
        length($"text_norm").cast("long").as("n_chars_norm"),
        ($"text_norm" =!= $"text").as("changed"))
      .orderBy($"doc_id")
  }

  val textNormalizeSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(nfc_normalize(text)),
      |                        '[ \t\n\r\f\x0b]+', ' ', 'g')) AS text_norm,
      |    text
      |  FROM documents)
      |SELECT doc_id, text_norm,
      |  CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
      |  text_norm <> text AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // text_novelty — first-occurrence n-gram novelty per document
  // ------------------------------------------------------------------

  /** §2.6 — per-document lexical novelty: the share of a document's
    * distinct token 3-grams whose corpus-wide FIRST occurrence (by
    * doc_id order) is this document. The per-document complement of
    * `corpus_vocab_growth`'s checkpoint curve — low-novelty docs are
    * templated/near-dup content a curation pass down-weights, and a
    * novelty collapse across a crawl snapshot is the earliest
    * templating alarm.
    *
    * Corpus-linear: (doc, gram) dedup shuffle, a gram-keyed
    * first-occurrence partial agg (min), one gram-keyed join that
    * reuses the same partitioning, and a doc-sized final rollup.
    * Gram text never exceeds 3 tokens and the df skew of hot grams is
    * absorbed by the map-side partial min. */
  def textNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Agg.rnd
    val grams = Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))")).as("g"))
      .distinct()
    val first = grams.groupBy($"g").agg(min($"doc_id").as("first_doc"))
    grams.join(first, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"doc_id" === $"first_doc", 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        rnd($"n_novel".cast("double") / $"n_grams".cast("double"), 6))
      .orderBy($"doc_id")
  }

  val textNoveltySql: String = {
    import graft.functions.Agg.rndSql
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g
       |  FROM t WHERE len(toks) >= 3),
       |g AS (SELECT DISTINCT doc_id, g FROM g0),
       |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
       |SELECT g.doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  ${rndSql("CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS novelty
       |FROM g JOIN f USING (g)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_novelty"     -> (textNovelty _),
    "text_langid_confusion" -> (textLangidConfusion _),
    "text_normalize"   -> (textNormalize _),
    "text_entropy"     -> (textEntropy _),
    "text_stats"       -> (textStats _),
    "text_quality"     -> (textQuality _),
    "text_langid"      -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
    "text_repetition"  -> (textRepetition _),
    "text_redact"      -> (textRedact _),
    "text_search"      -> (textSearch _),
    "text_bm25_search" -> (textBm25Search _),
    "text_search_indexed" -> (textSearchIndexed _),
    "text_cosine_pairs"  -> (textCosinePairs _),
    "corpus_keywords"  -> (corpusKeywords _),
    "text_readability" -> (textReadability _)
  )

  def oracles: Map[String, String] = Map(
    "text_novelty"     -> textNoveltySql,
    "text_langid_confusion" -> textLangidConfusionSql,
    "text_normalize"   -> textNormalizeSql,
    "text_entropy"     -> textEntropySql,
    "text_stats"       -> textStatsSql,
    "text_quality"     -> textQualitySql,
    "text_langid"      -> textLangidSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_repetition"  -> textRepetitionSql,
    "text_redact"      -> textRedactSql,
    "text_search"      -> textSearchSql,
    "text_bm25_search" -> textBm25SearchSql,
    // bit-identical to the from-scratch path — shares its oracle
    "text_search_indexed" -> textSearchSql,
    "text_cosine_pairs"  -> textCosinePairsSql,
    "corpus_keywords"  -> corpusKeywordsSql,
    "text_readability" -> textReadabilitySql
  )
}
