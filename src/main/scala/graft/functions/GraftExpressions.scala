package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot arithmetic paths.
  *
  * The built-in higher-order functions (`aggregate`, `zip_with`,
  * `transform`) evaluate their lambda per element through the
  * interpreted expression tree — fine for 100-element arrays hit
  * once per row, ruinous for 12M-pair × 64-dim cosine math. These
  * expressions do the same arithmetic in one tight primitive loop:
  *
  *   - [[DotProduct]]: codegen'd Σ aᵢ·bᵢ (left-to-right, so results
  *     stay bit-identical to the oracle's sequential list kernels).
  *   - [[MinHashSig]]: k=64 MinHash in a single pass using the
  *     standard double-hashing family h₁ + k·h₂ (two xxhash64 evals
  *     per shingle instead of 64).
  *   - [[SimHash64]]: 64-bit SimHash, one xxhash64 per token then 64
  *     counter updates — identical output to the former
  *     aggregate-based formulation (same per-token xxhash64 seed 42).
  *
  * Every expression implements doGenCode (the array-returning ones
  * via a reference-object call into their tight JVM loop, like
  * Spark's regexp expressions), so none is a CodegenFallback and the
  * text/dedup projection stages stay inside whole-stage codegen.
  *
  * Registered as SQL functions `graft_dot` / `graft_minhash64` /
  * `graft_simhash64` through [[GraftExpressions.install]]
  * (SparkSessionExtensions), so they resolve in `expr(...)` strings
  * and `spark.sql` alike.
  */
object GraftExpressions {

  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash64"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash64"),
      (es: Seq[Expression]) => MinHashSig(es(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (es: Seq[Expression]) => SimHash64(es(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (es: Seq[Expression]) => WordShingles(es(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[CountIn].getName, "graft_count_in"),
      (es: Seq[Expression]) => CountIn(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[TokenFingerprint].getName, "graft_fingerprint"),
      (es: Seq[Expression]) => TokenFingerprint(es(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_entropy"),
      new ExpressionInfo(classOf[CharEntropyStats].getName, "graft_entropy"),
      (es: Seq[Expression]) => CharEntropyStats(es(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
      (es: Seq[Expression]) => HilbertIndex(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[TextNormalize].getName, "graft_normalize"),
      (es: Seq[Expression]) => TextNormalize(es(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_matvec"),
      new ExpressionInfo(classOf[MatVec].getName, "graft_matvec"),
      (es: Seq[Expression]) => MatVec(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_qmatvec"),
      new ExpressionInfo(classOf[QuantMatVec].getName, "graft_qmatvec"),
      (es: Seq[Expression]) => QuantMatVec(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_qmatvec_c"),
      new ExpressionInfo(classOf[CenteredQuantMatVec].getName, "graft_qmatvec_c"),
      (es: Seq[Expression]) => CenteredQuantMatVec(es(0), es(1), es(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (es: Seq[Expression]) => PqEncode(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_adc"),
      new ExpressionInfo(classOf[AdcSum].getName, "graft_adc"),
      (es: Seq[Expression]) => AdcSum(es(0), es(1))))
    // Spark's internal bloom-filter pair (what InjectRuntimeFilter
    // plants automatically when stats allow), surfaced as session
    // functions so the engine can build EXPLICIT semi-join reductions:
    // aggregate a key set into one bloom blob, prefilter the probe
    // side before its exchange. Thin registration only — the
    // expressions themselves are Spark's, not reimplemented.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (es: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          es(0), es(1), es(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (es: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }

  private[functions] def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private[functions] def isDoubleMatrix(t: DataType): Boolean = t match {
    case ArrayType(inner, _) => isDoubleArray(inner)
    case _ => false
  }

  private[functions] def isIntArray(t: DataType): Boolean = t match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  private[functions] def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
}

/** Σ aᵢ·bᵢ over two double arrays, whole-stage-codegen'd. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isDoubleArray(left.dataType) &&
        GraftExpressions.isDoubleArray(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** 16-level Hilbert curve index of two keys masked to [0, 2¹⁶) —
  * the space-filling-curve layout key with strictly better locality
  * than Z-order (every curve step is grid-adjacent; Z-order jumps).
  * The per-level quadrant rotation is inherently sequential state
  * (x, y mutate each level), which as 16 chained Column projections
  * risks CollapseProject expression blow-up — so it runs as ONE
  * codegen'd primitive loop, keeping layout staging inside
  * whole-stage codegen. Classic xy2d (Wikipedia Hilbert-curve
  * algorithm): d += s²·((3·rx) xor ry), then reflect+swap when
  * ry = 0. The DuckDB oracle unrolls the same 16 levels as a CTE
  * chain ([[graft.operators.Layout.hilbertLevelSql]]) — all-integer
  * arithmetic, so both engines agree bit-for-bit. */
case class HilbertIndex(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hilbert expects (bigint, bigint), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    var x = (a.asInstanceOf[Long] & 65535L).toInt
    var y = (b.asInstanceOf[Long] & 65535L).toInt
    var d = 0L
    var s = 32768
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * (if (rx == 1) 3 - ry else ry)
      if (ry == 0) {
        if (rx == 1) { x = 65535 - x; y = 65535 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d"); val s = ctx.freshName("s")
      val rx = ctx.freshName("rx"); val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |int $x = (int) ($a & 65535L);
         |int $y = (int) ($b & 65535L);
         |long $d = 0L;
         |for (int $s = 32768; $s > 0; $s >>= 1) {
         |  int $rx = (($x & $s) > 0) ? 1 : 0;
         |  int $ry = (($y & $s) > 0) ? 1 : 0;
         |  $d += ((long) $s) * $s * (($rx == 1) ? (3 - $ry) : $ry);
         |  if ($ry == 0) {
         |    if ($rx == 1) { $x = 65535 - $x; $y = 65535 - $y; }
         |    int $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

/** k=64 MinHash signature of an array<string> in one pass.
  * Double-hashing family: hₖ = h₁ + k·h₂ (h₂ forced odd), the
  * standard trick that keeps the family pairwise-independent enough
  * for Jaccard estimation at 1/32 the hashing cost. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  val k = 64
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isStringArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash64 expects array<string>, got ${child.dataType}")

  /** The tight loop, shared by interpreted eval and codegen (the
    * generated code calls it through a reference object — same
    * pattern as Spark's regexp expressions; JIT inlines it). */
  def hash(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      val h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 1337L) | 1L
      var j = 0
      var h = h1
      while (j < k) {
        if (h < sig(j)) sig(j) = h
        h += h2
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
      s"${ev.value} = $ref.hash($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Distinct word-3-gram shingles of an array<string> — equivalent to
  * `array_distinct(transform(sequence(1, size(t)-2),
  * i -> array_join(slice(t, i, 3), ' ')))` but one pass with no
  * per-position array allocations (the interpreted lambda chain costs
  * ~100× this). Tokens shorter than 3 yield an empty array. */
case class WordShingles(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isStringArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects array<string>, got ${child.dataType}")

  def shingle(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= n - 3) {
      seen.add(UTF8String.concat(
        arr.getUTF8String(i), space, arr.getUTF8String(i + 1), space,
        arr.getUTF8String(i + 2)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    shingle(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("shingles", this, classOf[WordShingles].getName)
      s"${ev.value} = $ref.shingle($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Occurrence count of array elements within a (foldable) marker
  * set — `size(filter(toks, t -> t IN (...)))` without the
  * per-token interpreted lambda. The marker set is materialized once
  * per expression instance. */
case class CountIn(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isStringArray(left.dataType) &&
        GraftExpressions.isStringArray(right.dataType) && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_count_in expects (array<string>, foldable array<string>), got (${left.dataType}, ${right.dataType})")

  @transient private lazy val markers: java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    val arr = right.eval(null).asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) { set.add(arr.getUTF8String(i)); i += 1 }
    set
  }

  def countIn(arr: ArrayData): Long = {
    var n = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (markers.contains(arr.getUTF8String(i))) n += 1L
      i += 1
    }
    n
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    countIn(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, _) => {
      // the foldable marker set is baked into the instance; the
      // generated code only evaluates the data-side array
      val ref = ctx.addReferenceObj("countIn", this, classOf[CountIn].getName)
      s"${ev.value} = $ref.countIn($x);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CountIn =
    copy(left = newLeft, right = newRight)
}

/** Position-weighted token fingerprint of an array<string> — the
  * mod-1e9+7 rolling hash behind `text_fingerprint` and the
  * stratified-sampling bucket, as one tight loop instead of the
  * interpreted aggregate/transform lambda chain. Bit-identical to the
  * SQL formula
  * `aggregate(transform(sequence(1, size(t)), i -> (i * (ascii(t[i])
  * * 10000 + ascii(substring(t[i], -1, 1)) * 100 + length(t[i]))) %
  * P), 0, (a, x) -> (a + x) % P)` (code points for first/last char,
  * char count for length — same as Spark's ascii/length and DuckDB's
  * ascii/length). */
case class TokenFingerprint(child: Expression) extends UnaryExpression {
  private val P = 1000000007L

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isStringArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fingerprint expects array<string>, got ${child.dataType}")

  def fingerprint(arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val str = t.toString
      val len = t.numChars().toLong
      val first = if (str.isEmpty) 0L else str.codePointAt(0).toLong
      val last = if (str.isEmpty) 0L else str.codePointBefore(str.length).toLong
      // the inner product stays far below Long range for any real
      // token stream (≤ ~1.1e10 per token × position), matching the
      // SQL engines' non-ANSI BIGINT arithmetic exactly
      val code = ((i + 1).toLong * (first * 10000L + last * 100L + len)) % P
      acc = (acc + code) % P
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any =
    fingerprint(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("fingerprint", this, classOf[TokenFingerprint].getName)
      s"${ev.value} = $ref.fingerprint($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprint =
    copy(child = newChild)
}

/** 64-bit SimHash of an array<string>: one xxhash64 (seed 42 — same
  * as the SQL `xxhash64`) per token, ±1 vote per bit. */
case class SimHash64(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isStringArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 expects array<string>, got ${child.dataType}")

  def hash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      s"${ev.value} = $ref.hash($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Char-distribution statistics of a string in ONE fused pass:
  * `[n_distinct_chars, top_char_ratio(q6), char_entropy(q6-terms)]`.
  *
  * Replaces the interpreted higher-order-function formulation in
  * `TextAnalysis.textEntropy` (O(distinct × n) lambda evaluations per
  * row — measured 8.7 s over sf0.1) with the same arithmetic in a
  * tight code-point loop. Semantics are IDENTICAL to the composed
  * version and to the DuckDB oracle: each entropy term
  * `p·ln p` is half-up-quantized at 1e-6 before the (exact,
  * order-independent) sum, and the top-char ratio is quantized the
  * same way. */
case class CharEntropyStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_entropy expects string, got ${child.dataType}")

  def stats(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.computeIfAbsent(cp, _ => new Array[Long](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    if (n == 0L) return new GenericArrayData(Array[Any](0.0, 0.0, 0.0))
    val nd = n.toDouble
    var maxC = 0L
    var termSum = 0.0 // integer-valued doubles: exact, order-free
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > maxC) maxC = c
      val p = c / nd
      termSum += math.floor(p * java.lang.Math.log(p) * 1000000.0 + 0.5)
    }
    val topRatio = math.floor(maxC / nd * 1000000.0 + 0.5) / 1000000.0
    new GenericArrayData(Array[Any](
      counts.size().toDouble, topRatio, -termSum / 1000000.0))
  }

  override protected def nullSafeEval(input: Any): Any =
    stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("entropy", this, classOf[CharEntropyStats].getName)
      s"${ev.value} = $ref.stats($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
}

/** Canonical text normalization — the first step of every dedup /
  * tokenization pipeline, where byte-different spellings of the same
  * text (composed vs decomposed accents, case, ragged whitespace)
  * must collapse BEFORE hashing or shingling, or every downstream
  * exact/MinHash/SimHash signature fragments: Unicode NFC, then
  * per-code-point simple lowercase, then ASCII whitespace runs
  * collapsed to one space with ends trimmed — one pass, one string
  * allocation, whole-stage-codegen'd.
  *
  * Cross-engine contract (the oracle is
  * `trim(regexp_replace(lower(nfc_normalize(text)), ws+, ' ', 'g'))`):
  * lowercase uses `Character.toLowerCase(int)` — Unicode SIMPLE case
  * mapping, no locale/context rules — matching DuckDB's
  * utf8proc-based `lower()` (e.g. both map Σ→σ everywhere; Java's
  * String.toLowerCase would apply final-sigma ς contextually and
  * diverge). Whitespace is the explicit ASCII class
  * [ \t\n\r\f\x0B]; Unicode spaces (NBSP etc.) are DATA here —
  * regex-engine \s classes differ across engines, a fixed class
  * doesn't. */
case class TextNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize expects string, got ${child.dataType}")

  def norm(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < nfc.length) {
      val cp = nfc.codePointAt(i)
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' ||
        cp == '\f' || cp == 0x0B
      if (ws) pendingSpace = started
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(Character.toLowerCase(cp))
        started = true
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def nullSafeEval(input: Any): Any =
    norm(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("normalize", this, classOf[TextNormalize].getName)
      s"${ev.value} = $ref.norm($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): TextNormalize =
    copy(child = newChild)
}

/** Raw matrix·vector product: `graft_matvec(rows, v)` — one sequential
  * left-to-right dot per output component, exactly
  * `transform(sequence(0, k-1), j -> graft_dot(rows[j+1], v))` but as
  * ONE primitive loop instead of k interpreted lambda dispatches per
  * row (the OPQ rotation's d² fold — the project's round-3
  * native-expression rule applied to the matvec family). Each dot
  * truncates to the shorter operand, matching [[DotProduct]]. */
case class MatVec(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isDoubleMatrix(left.dataType) &&
        GraftExpressions.isDoubleArray(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_matvec expects (array<array<double>>, array<double>), got (${left.dataType}, ${right.dataType})")

  def matvec(rows: ArrayData, v: ArrayData): ArrayData = {
    val k = rows.numElements()
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val r = rows.getArray(j)
      val n = math.min(r.numElements(), v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        // containsNull=true inputs are accepted by the type check
        // (parquet-derived arrays carry the flag); a null ELEMENT is
        // malformed vector data and must fail loudly — UnsafeArrayData
        // getDouble would silently read it as 0.0
        if (r.isNullAt(i) || v.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft_matvec: null element at row $j index $i")
        s += r.getDouble(i) * v.getDouble(i); i += 1
      }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    matvec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val ref = ctx.addReferenceObj("matvec", this, classOf[MatVec].getName)
      s"${ev.value} = $ref.matvec($x, $y);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MatVec =
    copy(left = newLeft, right = newRight)
}

/** Quantized-term projection: `graft_qmatvec(v, rows)` — per output
  * component j the BIGINT sum Σᵢ floor(vᵢ·rows[j][i]·1e9 + 0.5),
  * bit-identical to the whiten/JL/PCA family's
  * `aggregate(zip_with(v, r, (x, w) -> CAST(floor(x * w * 1e9 + 0.5)
  * AS BIGINT)), 0, (a, q) -> a + q)` per-component fold (exact
  * integer sums → order-independent, the family's cross-engine
  * hash contract) but as one primitive loop instead of a k·d
  * interpreted lambda chain. Scaling (the /1e9, /√λ, /√k terms)
  * stays in SQL — it is O(k) per row. */
case class QuantMatVec(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isDoubleArray(left.dataType) &&
        GraftExpressions.isDoubleMatrix(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_qmatvec expects (array<double>, array<array<double>>), got (${left.dataType}, ${right.dataType})")

  def qmatvec(v: ArrayData, rows: ArrayData): ArrayData = {
    val k = rows.numElements()
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val r = rows.getArray(j)
      val n = math.min(r.numElements(), v.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        // see MatVec.matvec: null elements are malformed, fail loudly
        if (r.isNullAt(i) || v.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft_qmatvec: null element at row $j index $i")
        acc += math.floor(v.getDouble(i) * r.getDouble(i) * 1000000000.0 + 0.5).toLong
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    qmatvec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val ref = ctx.addReferenceObj("qmatvec", this, classOf[QuantMatVec].getName)
      s"${ev.value} = $ref.qmatvec($x, $y);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): QuantMatVec =
    copy(left = newLeft, right = newRight)
}

/** [[QuantMatVec]] with fused centering:
  * `graft_qmatvec_c(v, mu, rows)` quantizes
  * floor((vᵢ − muᵢ)·rows[j][i]·1e9 + 0.5) per term — the whiten/PCA
  * shape, identical to first materializing
  * `zip_with(v, mu, (x, m) -> x - m)` (same double subtraction,
  * same product order) and folding. */
case class CenteredQuantMatVec(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isDoubleArray(first.dataType) &&
        GraftExpressions.isDoubleArray(second.dataType) &&
        GraftExpressions.isDoubleMatrix(third.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_qmatvec_c expects (array<double>, array<double>, array<array<double>>), " +
        s"got (${first.dataType}, ${second.dataType}, ${third.dataType})")

  def qmatvec(v: ArrayData, mu: ArrayData, rows: ArrayData): ArrayData = {
    val k = rows.numElements()
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val r = rows.getArray(j)
      var n = math.min(r.numElements(), v.numElements())
      n = math.min(n, mu.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        // see MatVec.matvec: null elements are malformed, fail loudly
        if (r.isNullAt(i) || v.isNullAt(i) || mu.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft_qmatvec_c: null element at row $j index $i")
        acc += math.floor(
          (v.getDouble(i) - mu.getDouble(i)) * r.getDouble(i) * 1000000000.0 + 0.5).toLong
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    qmatvec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, z) => {
      val ref = ctx.addReferenceObj("cqmatvec", this, classOf[CenteredQuantMatVec].getName)
      s"${ev.value} = $ref.qmatvec($x, $y, $z);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CenteredQuantMatVec =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Fused PQ encode: `graft_pq_encode(v, cbs)` with a FOLDABLE
  * codebook literal (pqM × pqKsub × pqDsub) returns
  * `struct(codes array<int>, err double)` — per subspace the argmin
  * codeword of |c|² − 2·sub·c (FIRST minimum on ties, the
  * `array_position(ds, array_min(ds))` rule) and the total
  * reconstruction L2² (per-subspace Σ(x−c)² inner sums, subspaces
  * accumulated in ascending order — the exact fold order of the
  * `aggregate`-chain formulation it replaces). The codeword
  * self-dots |c|² precompute once per expression instance (the
  * [[CountIn]] foldable-argument device); each row then costs one
  * tight M·K·dsub loop instead of M·K interpreted lambda dispatches
  * plus per-position slice allocations. */
case class PqEncode(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("err", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isDoubleArray(left.dataType) &&
        (right.dataType match {
          case ArrayType(inner, _) => GraftExpressions.isDoubleMatrix(inner)
          case _ => false
        })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode expects (array<double>, array<array<array<double>>>), " +
        s"got (${left.dataType}, ${right.dataType})")

  // Codebooks and their self-dots, decoded once per task: the
  // codebook operand is a broadcast literal column, so every row of a
  // task passes the SAME ArrayData instance — cache keyed on
  // reference identity (a varying operand would merely rebuild per
  // row, staying correct). Self-dots |c|² use the sequential
  // left-to-right graft_dot order.
  //
  // THREAD-SAFETY CONTRACT: Spark deserializes a fresh expression
  // instance per task, so this mutable cache is single-threaded in
  // every execution path Spark has today. Defensively, decodeBooks
  // still follows local-assemble-then-publish: cb/cc/dims build into
  // locals first and cbsRef (the cache-hit key) is assigned LAST, so
  // even a hypothetical shared-instance evaluator could never see
  // cbsRef set while the decoded arrays are stale.
  @transient private var cbsRef: AnyRef = _
  @transient private var cb: Array[Array[Array[Double]]] = _
  @transient private var cc: Array[Array[Double]] = _
  @transient private var dims: Int = _

  private def decodeBooks(arr: ArrayData): Unit = {
    val b = Array.tabulate(arr.numElements()) { m =>
      val bm = arr.getArray(m)
      Array.tabulate(bm.numElements()) { c =>
        val cw = bm.getArray(c)
        Array.tabulate(cw.numElements())(cw.getDouble)
      }
    }
    cb = b
    cc = b.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })
    dims = b.map(bm => if (bm.isEmpty) 0 else bm(0).length).sum
    cbsRef = arr // publish last (see contract above)
  }

  def encode(v: ArrayData, cbsData: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (cbsRef ne cbsData) decodeBooks(cbsData)
    // UnsafeArrayData.getDouble does not bounds-check: a vector
    // shorter than the codebooks' combined subspace width would
    // silently encode garbage — reject it loudly instead
    if (v.numElements() < dims)
      throw new IllegalArgumentException(
        s"graft_pq_encode: vector has ${v.numElements()} elements, codebooks need $dims")
    val m = cb.length
    val codes = new Array[Any](m)
    var err = 0.0
    var mi = 0
    var off = 0
    while (mi < m) {
      val book = cb(mi)
      val dsub = if (book.isEmpty) 0 else book(0).length
      var best = Double.MaxValue
      var bestC = 0
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var qc = 0.0
        var i = 0
        while (i < dsub) { qc += v.getDouble(off + i) * cw(i); i += 1 }
        val d = cc(mi)(c) - 2.0 * qc
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      codes(mi) = bestC
      // reconstruction: inner Σ(x−c)² left-to-right, then += per
      // subspace in ascending order (the aggregate-chain fold order)
      val cw = book(bestC)
      var e = 0.0
      var i = 0
      while (i < dsub) {
        val dx = v.getDouble(off + i) - cw(i)
        e += dx * dx
        i += 1
      }
      err += e
      off += dsub
      mi += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(codes), err)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    encode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
      s"${ev.value} = $ref.encode($x, $y);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** ADC lookup-sum: `graft_adc(dt, codes)` = Σₘ dt[m][codes[m]] in
  * ascending-m order — the `aggregate(sequence(0, M-1), 0, (acc, m)
  * -> acc + element_at(element_at(dt, m+1), element_at(codes, m+1)
  * + 1))` chain as one loop. The distance table is a per-query
  * COLUMN (broadcast join side), so no foldable precompute — the
  * loop reads both ArrayDatas directly. */
case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (GraftExpressions.isDoubleMatrix(left.dataType) &&
        GraftExpressions.isIntArray(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_adc expects (array<array<double>>, array<int>), got (${left.dataType}, ${right.dataType})")

  def adc(dt: ArrayData, codes: ArrayData): Double = {
    val m = math.min(dt.numElements(), codes.numElements())
    var s = 0.0
    var i = 0
    while (i < m) {
      // see MatVec.matvec: null elements are malformed, fail loudly —
      // getInt on a null slot silently reads 0 (a VALID index), which
      // is exactly the silent-garbage class the bounds check rejects
      if (codes.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_adc: null element (code) at index $i")
      val row = dt.getArray(i)
      val c = codes.getInt(i)
      // UnsafeArrayData does not bounds-check: a malformed code would
      // silently read a neighboring slot — reject it loudly (the
      // element_at chain this loop replaced errored here)
      if (c < 0 || c >= row.numElements())
        throw new IllegalArgumentException(
          s"graft_adc: code $c out of range for a ${row.numElements()}-entry distance row (m=$i)")
      s += row.getDouble(c)
      i += 1
    }
    s
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val ref = ctx.addReferenceObj("adc", this, classOf[AdcSum].getName)
      s"${ev.value} = $ref.adc($x, $y);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): AdcSum =
    copy(left = newLeft, right = newRight)
}
