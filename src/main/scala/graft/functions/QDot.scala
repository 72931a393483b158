package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Integer dot product of two `array<bigint>` quantized vectors as a
  * native codegen'd expression.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * lambdas interpreted, row by row — ~10× slower on a 64-dim dot
  * product and the hot inner loop of every similarity join. This
  * expression compiles to a tight `for` loop inside whole-stage
  * codegen (bench: q34 embedding-NN dropped from 26s to ~3s at sf0.1).
  */
case class QDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long ${ev.value}Acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): QDot =
    copy(left = l, right = r)
}

object QDot {
  def qdot(a: Column, b: Column): Column = column(QDot(expression(a), expression(b)))
}

/** Elementwise difference of two `array<bigint>` quantized vectors —
  * the residual step of residual-encoded IVF-PQ (`x − centroid`).
  * Same codegen rationale as [[QDot]]: `zip_with` would evaluate an
  * interpreted lambda per row on the encode scan.
  */
case class QSub(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = x.getLong(i) - y.getLong(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long[] $arr = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $arr[$i] = $a.getLong($i) - $b.getLong($i);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): QSub =
    copy(left = l, right = r)
}

object QSub {
  def qsub(a: Column, b: Column): Column = column(QSub(expression(a), expression(b)))
}

/** Dot product of two `array<double>` vectors as a native codegen'd
  * expression — the [[QDot]] rationale for the paths whose values are
  * inherently doubles (the SQ8 asymmetric scan's affine
  * reconstruction): `zip_with` + `aggregate` evaluate an interpreted
  * lambda PER PAIR ELEMENT in the hot join loop. Accumulation order
  * is ascending-index, identical to the HOF chain it replaces, so
  * results are bit-for-bit the same.
  */
case class DDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0d
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DDot =
    copy(left = l, right = r)
}

object DDot {
  def ddot(a: Column, b: Column): Column = column(DDot(expression(a), expression(b)))
}

/** Hamming distance of two packed `array<bigint>` bit signatures —
  * Σ bitCount(a XOR b) over the common prefix, the binary-ANN scoring
  * kernel. Same codegen rationale as [[QDot]]: the HOF form
  * (`aggregate(zip_with(bit_count(xor)))`) evaluates ~8 interpreted
  * expressions per WORD per PAIR in the hot join loop. Integer result
  * and ascending-word accumulation match the HOF chain it replaces
  * bit-for-bit (signatures are equal-length by construction).
  */
case class HammingFold(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // analysis-time type check: a wrong-typed child must fail in the
  // analyzer, not as a runtime getLong ClassCastException (ADVICE r17)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) { acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int ${ev.value}Acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingFold =
    copy(left = l, right = r)
}

object HammingFold {
  def hamming(a: Column, b: Column): Column =
    column(HammingFold(expression(a), expression(b)))
}

/** Sign-threshold bit packing for binary ANN: word w, bit b is set
  * iff `v[w·32+b] >= thr[w·32+b]` (dims past `thr`'s length contribute
  * 0), packed 32 bits per LONG word — the encode scan of
  * [[graft.operators.Similarity.binaryTopK]]. The HOF form
  * (`transform(sequence, aggregate(sequence(0,31), when(...))))` with a
  * per-bit `pow(2,b)`) evaluates ~6 interpreted expressions plus a
  * transcendental per BIT per ROW; at 100 TB the encode is a full
  * corpus pass, so it compiles to two tight loops here. Threshold
  * comparison is the same long→double widening compare, so packed
  * words are bit-identical to the HOF chain it replaces.
  */
case class SignPack32(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // analysis-time type check (ADVICE r17): vector is the quantized
  // array<bigint>, threshold the trained array<double>
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(DoubleType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val thr = b.asInstanceOf[ArrayData]
    val dim = thr.numElements()
    val nWords = (dim + 31) / 32
    val out = new Array[Long](nWords)
    var w = 0
    while (w < nWords) {
      var acc = 0L
      var bit = 0
      while (bit < 32) {
        val d = w * 32 + bit
        if (d < dim && d < v.numElements() &&
            v.getLong(d).toDouble >= thr.getDouble(d)) acc += 1L << bit
        bit += 1
      }
      out(w) = acc
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, thr) => {
      val w = ctx.freshName("w")
      val bit = ctx.freshName("bit")
      val d = ctx.freshName("d")
      val dim = ctx.freshName("dim")
      val nw = ctx.freshName("nw")
      val acc = ctx.freshName("acc")
      val arr = ctx.freshName("arr")
      s"""
         |int $dim = $thr.numElements();
         |int $nw = ($dim + 31) / 32;
         |long[] $arr = new long[$nw];
         |for (int $w = 0; $w < $nw; $w++) {
         |  long $acc = 0L;
         |  for (int $bit = 0; $bit < 32; $bit++) {
         |    int $d = $w * 32 + $bit;
         |    if ($d < $dim && $d < $v.numElements() &&
         |        (double) $v.getLong($d) >= $thr.getDouble($d)) {
         |      $acc += 1L << $bit;
         |    }
         |  }
         |  $arr[$w] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SignPack32 =
    copy(left = l, right = r)
}

object SignPack32 {
  def signPack(v: Column, thr: Column): Column =
    column(SignPack32(expression(v), expression(thr)))
}

/** Integer-grid quantization of a float/double vector — `v[i] →
  * round(v[i]·1000) as BIGINT`, the [[graft.operators.Similarity
  * .prepare]] encode kernel. The HOF form
  * (`transform(v, x => round(x.cast("double")*1000).cast("long"))`)
  * evaluates an interpreted Round + two casts per ELEMENT per row; at
  * 100 TB `prepare` is a full corpus scan per gate consumer, so it
  * compiles to one loop here (locally the pass is sub-noise — the win
  * is the scan shape, r17 verdict item 4).
  *
  * Rounding parity: Spark's `round(d)` is decimal HALF_UP. For scale 0
  * the decision boundary x.5 is exactly representable for every double
  * that has a fractional part, and `Double.toString` round-trips (its
  * decimal lies within half an ulp of the double, so on the same side
  * of a representable x.5), so binary-exact and decimal-string
  * BigDecimal constructions agree for ALL doubles — the kernel's fast
  * path resolves every value whose fraction is clearly on one side and
  * defers the guard band around .5 to the same BigDecimal arithmetic
  * Spark uses ([[QuantizeVec.gridRound]]). InterpretedParitySpec pins
  * kernel == HOF (incl. exact-tie values) across both eval modes.
  * Magnitudes are < 2^53 by the repo's quantization contract; NaN, ±∞
  * and values past long range throw, exactly where the HOF's ANSI
  * cast does.
  */
case class QuantizeVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, n) => ArrayType(LongType, containsNull = n)
    case _ => ArrayType(LongType)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_vec needs array<float> or array<double>, got ${other.catalogString}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val d = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = QuantizeVec.gridRound(d * 1000d)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      val get = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |Object[] $arr = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$v.isNullAt($i)) {
         |    $arr[$i] = graft.functions.QuantizeVec.gridRound(($get) * 1000d);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): QuantizeVec =
    copy(child = c)
}

object QuantizeVec {
  /** `round(d)` (decimal HALF_UP to scale 0) as a long. Fast path for
    * fractions clearly on one side of .5 (pure floor/compare, no
    * allocation); the ±1e-7 guard band around .5 — which contains
    * every representable exact tie — goes through the same BigDecimal
    * HALF_UP arithmetic Spark's Round uses. Throws where the ANSI
    * double→long cast after `round` does: NaN, ±∞, and d outside
    * [-2^63, 2^63] (Spark's `DoubleExactNumeric.toLong` bounds, which
    * for doubles reduce to this closed range). From 2^52 up every
    * double is an integer and converts directly (2^63 saturates to
    * Long.MaxValue, as in Spark).
    */
  def gridRound(d: Double): Long = {
    if (!(d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble))
      throw new ArithmeticException(
        s"quantize_vec: $d does not fit a BIGINT (ANSI cast overflow)")
    val a = math.abs(d)
    if (a >= 4503599627370496d) return d.toLong // 2^52
    val fl = math.floor(a)
    val af = a - fl // exact: fl = floor(a), difference < 1, both < 2^53
    val r =
      if (af < 0.4999999) fl.toLong
      else if (af > 0.5000001) fl.toLong + 1L
      else new java.math.BigDecimal(java.lang.Double.toString(a))
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    if (d < 0) -r else r
  }

  def quantizeVec(v: Column): Column = column(QuantizeVec(expression(v)))
}

/** Identity wrapper that pins its child's evaluation to ONCE PER
  * INPUT ROW. Whole-stage codegen splices a projected expression's
  * code at its first USE site — for the stream side of a (broadcast)
  * nested-loop join that site is INSIDE the per-pair inner loop, so a
  * pure-codegen encode expression silently re-runs per PAIR (measured
  * on q196: binaryTopK 0.99 s with the old CodegenFallback HOF encode
  * — which was evaluated eagerly per row precisely BECAUSE it was
  * fallback — vs 1.55 s after the encode became codegen-able and got
  * deferred into the corpus×queries loop; at 100 TB that deferral
  * multiplies a full-corpus encode by the query count). Wrapping the
  * projected column in EvalOnce makes the projection CodegenFallback:
  * the row's value is computed once by the expression's own
  * interpreted eval (the kernels' nullSafeEval is the same tight loop
  * the generated code runs) and downstream consumers read the
  * materialized value.
  */
case class EvalOnce(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def withNewChildInternal(c: Expression): EvalOnce =
    copy(child = c)
}

object EvalOnce {
  def evalOnce(c: Column): Column = column(EvalOnce(expression(c)))
}

/** Hashing-trick vectorizer bucket of a token: the position-weighted
  * code-point sum `Σ cp_i·(i+1)` mod `dim` — the kernel of
  * [[graft.operators.Retrieval.hashedVectors]], which runs once per
  * TOKEN of the exploded corpus. The HOF form
  * (`aggregate(transform(split(term, ""), ascii·(i+1)))`) evaluates an
  * interpreted lambda plus a regex split per token; this compiles to
  * one code-point loop. Semantics are identical: `split("")` yields
  * one element per code point (zero-width regex matches never split a
  * surrogate pair) and `ascii` is the element's first code point, so
  * the weighted sum below matches it for every string.
  */
case class TokenBucket(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    TokenBucket.bucket(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, d) =>
      s"${ev.value} = graft.functions.TokenBucket.bucket($t, $d);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenBucket =
    copy(left = l, right = r)
}

object TokenBucket {
  /** Shared eval kernel (interpreted + codegen call the same code).
    *
    * Overflow note (ADVICE r17, benign and deliberate): the per-term
    * product accumulates in Long here, while the HOF chain this
    * replaced multiplied `ascii(c) * (i+1)` in 32-bit Int, which wraps
    * once codePoint × position exceeds 2^31 — reachable only for
    * pathological tokens (≥ ~2M chars of high code points; the
    * corpus' tokens are whitespace-split words). The Long form is the
    * committed semantics: the oracle recomputes it in 64-bit and the
    * gates have pinned it green since r17 — do NOT "fix" this to
    * Int-wrap, that would change query output.
    */
  def bucket(term: org.apache.spark.unsafe.types.UTF8String, dim: Long): Long = {
    val s = term.toString
    var acc = 0L
    var i = 0
    var pos = 1
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc += cp.toLong * pos
      pos += 1
      i += Character.charCount(cp)
    }
    acc % dim
  }

  def tokenBucket(term: Column, dim: Int): Column =
    column(TokenBucket(expression(term),
      expression(org.apache.spark.sql.functions.lit(dim.toLong))))
}
