package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Agg.{countIf, countIfSql, davg, davgSql, quantize, rnd, rndSql}
import graft.sources.Tables

/** §2.8 Trained quality classifier — distributed logistic regression
  * by bounded-round gradient descent.
  *
  * The pattern every production corpus pipeline lands on: the
  * hand-tuned heuristic gate (rows 40/45i) gets DISTILLED into a
  * calibrated model — train on the heuristic's own verdicts, then
  * ship the model's probability instead of the rule (the
  * labeling-function-distillation move; fasttext-style quality
  * classifiers in reference pipelines are trained exactly like
  * this). Label: quality score above its corpus mean (scale-free —
  * a fixed cut degenerates at 10×, the q11 lesson); features: the
  * three row-local quality metrics, z-standardized (raw features sit
  * in [0,1] with tiny variance — unstandardized GD barely moves in
  * bounded rounds; measured: acc 0.74 vs 0.85 at the same budget).
  *
  * Distribution shape: standardization is ONE exact-sum aggregate
  * (Σq, Σq² per feature in DECIMAL(38,0) quanta); each GD round is
  * ONE partial-aggregated pass over the staged feature frame — four
  * quantized gradient sums, no corpus shuffle, driver state is the
  * (d+1) weight vector (bounded, like the PQ codebooks). At 100 TB:
  * `rounds`+2 column-pruned scans of a cached narrow projection,
  * each embarrassingly parallel.
  *
  * Cross-engine determinism (the oracle REPLAYS the whole training):
  * the sigmoid is the rational fast-sigmoid 0.5 + 0.5·m/(1+|m|) — NO
  * transcendental, so every step is IEEE-754 basic ops (plus one
  * correctly-rounded sqrt in the σ's) that Spark, the JVM driver and
  * DuckDB round identically; per-row gradient contributions are
  * 1e-9-quantized and summed exactly in DECIMAL(38,0) (order-free at
  * any parallelism); weights re-quantize at 1e-9 after every update.
  * Training is BIT-DETERMINISTIC: the oracle's unrolled
  * MATERIALIZED-CTE replay lands on identical weights.
  */
object QualityModel {

  /** Gradient-descent rounds (each = one pass over the corpus). */
  val gdRounds = 16
  /** Learning rate (features are standardized, so it can be big). */
  val gdLr = 8.0

  /** Driver-side mirror of [[rnd]]/[[rndSql]]. */
  private def roundAt(x: Double, p: Double): Double =
    math.floor(x * p + 0.5) / p

  private val D0 = DecimalType(38, 0)

  /** Exact order-independent sum of 1e-9-quantized values, collected
    * as DECIMAL(38,0) (a 100 TB corpus at ~1e9 quanta/row sums to
    * ~1e20 — inside decimal range where a long would wrap). */
  private def qsum(c: Column, scale: Int): Column =
    sum(quantize(c, scale).cast("long").cast(D0))

  // ------------------------------------------------------------------
  // feature frame: row-local metrics + the distillation label
  // ------------------------------------------------------------------

  /** The three metrics in 1e-6 QUANTA (exact integers) + the 1e-4
    * quality quanta the label derives from. Row-local — works on any
    * documents-shaped frame, batch or stream. */
  private def rawFeaturesOf(docs: DataFrame): DataFrame = {
    TextAnalysis.withQualityMetrics(docs.withColumn("toks", expr(TextAnalysis.toksExpr)))
      .select(
        col("doc_id"),
        quantize(col("stop_ratio"), 6).as("q1"),
        quantize(col("ttr"), 6).as("q2"),
        quantize(col("len_score"), 6).as("q3"),
        quantize(lit(0.4) * (lit(1.0) - col("stop_ratio")) + lit(0.4) * col("ttr") +
          lit(0.2) * col("len_score"), 4).as("qq"))
  }

  private def rawFeatures(s: SparkSession, dir: String): DataFrame =
    rawFeaturesOf(Tables.documents(s, dir))

  /** DuckDB rendering of [[rawFeatures]] (CTEs `t`, `raw`). */
  private def rawFeaturesSql: String = {
    val toks = TextAnalysis.duckToks
    def q(e: String, scale: Long) =
      s"floor(($e) * $scale + CAST(0.5 AS DOUBLE))"
    s"""t AS (
       |  SELECT doc_id, $toks AS toks, len($toks) AS n_tokens
       |  FROM documents),
       |raw AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${q("CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE) / n_tokens", 1000000L)} AS q1,
       |    ${q("CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens", 1000000L)} AS q2,
       |    ${q("least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)", 1000000L)} AS q3,
       |    ${q("CAST(0.4 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE) / n_tokens) + CAST(0.4 AS DOUBLE) * (CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens) + CAST(0.2 AS DOUBLE) * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)", 10000L)} AS qq
       |  FROM t)""".stripMargin
  }

  /** Standardization + label statistics, one exact aggregate:
    * (n, Σq_j, Σq_j², Σqq). All sums exact decimals. */
  private case class Stats(n: Long, mu: Array[Double], sd: Array[Double],
                           qmean: Double)

  private def stats(s: SparkSession, dir: String): Stats =
    graft.sources.Memo("quality.stats", dir, s) {
      val raw = rawFeatures(s, dir)
      val aggs = (1 to 3).flatMap { j =>
        Seq(sum(col(s"q$j").cast("long").cast(D0)).as(s"s$j"),
          sum((col(s"q$j") * col(s"q$j")).cast("long").cast(D0)).as(s"ss$j"))
      } ++ Seq(sum(col("qq").cast("long").cast(D0)).as("sq"),
        count(lit(1)).as("n"))
      val r = raw.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = r.getLong(7)
      // empty corpus: no statistics to train on — identity
      // standardization and a zero threshold keep the model defined
      // (all consumers score an empty corpus to an empty frame)
      if (n == 0L) Stats(0L, Array.fill(3)(0.0), Array.fill(3)(1.0), 0.0)
      else {
        val nD = n.toDouble
        val mu = new Array[Double](3); val sd = new Array[Double](3)
        for (j <- 0 until 3) {
          val sj = r.getDecimal(2 * j).doubleValue
          val ssj = r.getDecimal(2 * j + 1).doubleValue
          mu(j) = sj / nD
          // population variance in quanta² — identical two-pass-free
          // formula on both engines; floored at 1 quantum² so a
          // constant feature can't divide by zero
          sd(j) = math.sqrt(math.max(ssj / nD - mu(j) * mu(j), 1.0))
        }
        // label threshold: mean quality, re-quantized to 1e-4 quanta
        val qmean = math.floor(r.getDecimal(6).doubleValue / nD + 0.5)
        Stats(n, mu, sd, qmean)
      }
    }

  /** (z1, z2, z3, y): standardized features (1e-6-requantized) and
    * the above-mean-quality label; staged once per dataset. */
  /** The standardized columns z1..z3 for a frame carrying q1..q3. */
  private def zCols(st: Stats): Seq[Column] =
    (1 to 3).map { j =>
      rnd((col(s"q$j") - lit(st.mu(j - 1))) / lit(st.sd(j - 1)), 6)
        .as(s"z$j")
    }

  private[graft] def features(s: SparkSession, dir: String): DataFrame =
    graft.sources.Memo("quality.features", dir, s) {
      import s.implicits._
      val st = stats(s, dir)
      rawFeatures(s, dir)
        .select(zCols(st) :+
          when($"qq" > lit(st.qmean), lit(1.0)).otherwise(lit(0.0)).as("y"): _*)
        .localCheckpoint()
    }

  /** Score any documents-shaped frame (batch or STREAM — everything
    * here is row-local against driver-literal weights and moments,
    * the model-serving path): per doc, the calibrated probability and
    * the keep verdict. */
  private[graft] def scoreDocs(s: SparkSession, dir: String,
                               docs: DataFrame): DataFrame = {
    val st = stats(s, dir)
    val (w, _) = trainedWeights(s, dir)
    val z = rawFeaturesOf(docs).select(col("doc_id") +: zCols(st): _*)
    val m = margin(w)
    z.select(col("doc_id"), rnd(sigmoid(m), 6).as("score"),
      when(m > lit(0.0), lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** Oracle CTEs mirroring [[stats]] + [[features]]: `st` (one row of
    * μ/σ/threshold) and `f` (standardized features + label). */
  private def featureCtes: String = {
    val stCols = (1 to 3).map { j =>
      s"""CAST(sum(CAST(q$j AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu$j,
         |    sqrt(greatest(CAST(sum(CAST(q$j * q$j AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |      - (CAST(sum(CAST(q$j AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |      * (CAST(sum(CAST(q$j AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE)),
         |      CAST(1 AS DOUBLE))) AS sd$j""".stripMargin
    }.mkString(",\n    ")
    val zCols = (1 to 3).map { j =>
      s"${rndSql(s"(raw.q$j - st.mu$j) / st.sd$j", 6)} AS z$j"
    }.mkString(",\n    ")
    s"""$rawFeaturesSql,
       |st AS MATERIALIZED (
       |  SELECT $stCols,
       |    floor(CAST(sum(CAST(qq AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      + CAST(0.5 AS DOUBLE)) AS qmean,
       |    count(*) AS n
       |  FROM raw),
       |f AS MATERIALIZED (
       |  SELECT $zCols,
       |    CASE WHEN raw.qq > st.qmean THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(0 AS DOUBLE) END AS y
       |  FROM raw, st),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM f)""".stripMargin
  }

  /** The margin w·z as a Column for fixed driver-side weights. */
  private def margin(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("z1") + lit(w(2)) * col("z2") +
      lit(w(3)) * col("z3")

  /** Rational fast sigmoid — transcendental-free, hence bit-portable. */
  private def sigmoid(m: Column): Column =
    lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m))

  /** Run the bounded GD loop; memoized per dataset (train + every
    * scoring query share one training run, like the PQ codebooks). */
  private[graft] def trainedWeights(s: SparkSession, dir: String): (Array[Double], Long) =
    graft.sources.Memo("quality.weights", dir, s) {
      val f = features(s, dir)
      val n = stats(s, dir).n
      val nD = n.toDouble
      var w = Array(0.0, 0.0, 0.0, 0.0)
      // empty corpus: zero gradient rounds — the zero model
      for (_ <- 1 to (if (n == 0L) 0 else gdRounds)) {
        val p = sigmoid(margin(w))
        val xs = Seq(lit(1.0), col("z1"), col("z2"), col("z3"))
        val row = f.select(xs.zipWithIndex.map { case (x, j) =>
          qsum((p - col("y")) * x, 9).as(s"g$j") }: _*).collect()(0)
        val g = (0 to 3).map(j => row.getDecimal(j).doubleValue / 1e9)
        w = w.indices.map(j => roundAt(w(j) - gdLr * g(j) / nD, 1e9)).toArray
      }
      (w, n)
    }

  // ------------------------------------------------------------------
  // quality_model_train
  // ------------------------------------------------------------------

  /** Final weights + training accuracy, one row. */
  def qualityModelTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, _) = trainedWeights(s, dir)
    val f = features(s, dir)
    val m = margin(w)
    f.agg(
        countIf((m > lit(0.0)) === ($"y" === lit(1.0))).as("n_correct"),
        count(lit(1)).as("n"))
      // empty corpus: no model row (the oracle's f-grouped readout
      // yields none either), and no 0/0 accuracy
      .filter($"n" > 0)
      .select(
        lit(gdRounds).as("n_rounds"),
        lit(w(0)).as("w_bias"), lit(w(1)).as("w_stop"),
        lit(w(2)).as("w_ttr"), lit(w(3)).as("w_len"),
        $"n",
        rnd($"n_correct".cast("double") / $"n".cast("double"), 6)
          .as("train_acc"))
  }

  /** The unrolled training replay: one (gradient, weight-update) CTE
    * pair per round. EVERY multiply-referenced CTE is MATERIALIZED
    * (f feeds all rounds; each w feeds the next round's gradient AND
    * its own update — DuckDB inlining would go exponential on the
    * 16-deep chain otherwise). */
  private lazy val trainCtes: String = {
    def gj(pp: String, x: String) =
      s"(CAST(sum(CAST(floor((($pp - f.y) * $x) * 1000000000 + " +
        s"CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))) AS DOUBLE) / " +
        "CAST(1000000000 AS DOUBLE))"
    val head =
      s"""$featureCtes,
         |w0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
         |  CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3)""".stripMargin
    val rounds = (1 to gdRounds).map { r =>
      val m = "(w.w0 + w.w1 * f.z1 + w.w2 * f.z2 + w.w3 * f.z3)"
      val pp = s"(CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * $m / " +
        s"(CAST(1 AS DOUBLE) + abs($m)))"
      val upd = (0 to 3).map { j =>
        s"${rndSql(s"w.w$j - (CAST($gdLr AS DOUBLE) * g.g$j) / nn.n", 9)} AS w$j"
      }.mkString(",\n    ")
      s"""g$r AS MATERIALIZED (
         |  SELECT ${gj(pp, "CAST(1 AS DOUBLE)")} AS g0,
         |    ${gj(pp, "f.z1")} AS g1,
         |    ${gj(pp, "f.z2")} AS g2,
         |    ${gj(pp, "f.z3")} AS g3
         |  FROM f, w${r - 1} w),
         |w$r AS MATERIALIZED (
         |  SELECT $upd
         |  FROM w${r - 1} w, g$r g, nn)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  val qualityModelTrainSql: String = {
    val m = s"(w.w0 + w.w1 * f.z1 + w.w2 * f.z2 + w.w3 * f.z3)"
    s"""WITH $trainCtes
       |SELECT $gdRounds AS n_rounds,
       |  w.w0 AS w_bias, w.w1 AS w_stop, w.w2 AS w_ttr, w.w3 AS w_len,
       |  nn.n AS n,
       |  ${rndSql(s"CAST(${countIfSql(s"($m > CAST(0 AS DOUBLE)) = (f.y = CAST(1 AS DOUBLE))")} AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS train_acc
       |FROM f, w$gdRounds w, nn
       |GROUP BY w.w0, w.w1, w.w2, w.w3, nn.n""".stripMargin
  }

  // ------------------------------------------------------------------
  // quality_model_calibration — the scorer + its evaluation artifact
  // ------------------------------------------------------------------

  /** Decile calibration table of the trained scorer: per predicted-
    * probability bucket, how many documents land there and what share
    * is actually above the quality cut. A well-trained model shows
    * pos_rate rising with the bucket — THE check before the score
    * gates any data. One partial-agged groupBy to a ≤10-row frame. */
  def qualityModelCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, _) = trainedWeights(s, dir)
    val f = features(s, dir)
    f.select(sigmoid(margin(w)).as("p"), $"y")
      .withColumn("bucket", floor($"p" * lit(10.0)).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        countIf($"y" === lit(1.0)).as("n_pos"),
        rnd(davg($"p"), 6).as("mean_p"))
      .withColumn("pos_rate",
        rnd($"n_pos".cast("double") / $"n_docs".cast("double"), 6))
      .select($"bucket", $"n_docs", $"n_pos", $"mean_p", $"pos_rate")
      .orderBy($"bucket")
  }

  val qualityModelCalibrationSql: String = {
    val m = s"(w.w0 + w.w1 * f.z1 + w.w2 * f.z2 + w.w3 * f.z3)"
    val pp = s"(CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * $m / " +
      s"(CAST(1 AS DOUBLE) + abs($m)))"
    s"""WITH $trainCtes,
       |scored AS (
       |  SELECT $pp AS p, f.y FROM f, w$gdRounds w)
       |SELECT CAST(floor(p * CAST(10 AS DOUBLE)) AS BIGINT) AS bucket,
       |  count(*) AS n_docs,
       |  ${countIfSql("y = CAST(1 AS DOUBLE)")} AS n_pos,
       |  ${rndSql(davgSql("p"), 6)} AS mean_p,
       |  ${rndSql(s"CAST(${countIfSql("y = CAST(1 AS DOUBLE)")} AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS pos_rate
       |FROM scored
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Batch oracle for the streaming scorer: replay training, then the
    * identical per-doc z/margin arithmetic keyed by doc_id. */
  val qualityScoreSql: String = {
    val zs = (1 to 3).map { j =>
      s"${rndSql(s"(raw.q$j - st.mu$j) / st.sd$j", 6)} AS z$j"
    }.mkString(",\n    ")
    val m = s"(w.w0 + w.w1 * z.z1 + w.w2 * z.z2 + w.w3 * z.z3)"
    val pp = s"(CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * $m / " +
      s"(CAST(1 AS DOUBLE) + abs($m)))"
    s"""WITH $trainCtes,
       |z AS (SELECT raw.doc_id, $zs FROM raw, st)
       |SELECT z.doc_id, ${rndSql(pp, 6)} AS score,
       |  CASE WHEN $m > CAST(0 AS DOUBLE) THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS keep
       |FROM z, w$gdRounds w
       |ORDER BY z.doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_model_train" -> (qualityModelTrain _),
    "quality_model_calibration" -> (qualityModelCalibration _)
  )

  def oracles: Map[String, String] = Map(
    "quality_model_train" -> qualityModelTrainSql,
    "quality_model_calibration" -> qualityModelCalibrationSql
  )
}
