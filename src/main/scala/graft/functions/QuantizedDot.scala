package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** `quantized_dot(a, b)`: exact integer inner product of two float/double
  * array columns on the 10^7 quantization grid (see
  * [[graft.ext.VectorOps]] for why vector math quantizes: double sums are
  * order-dependent under partial aggregation and float->decimal rounding
  * is engine-specific, integer grids are not).
  *
  * Each element maps to `(long) floor(x * 1e7)` — float widens to double
  * exactly, the multiply and floor are single IEEE ops, so the value is
  * bit-identical on any engine — and the products accumulate in primitive
  * long arithmetic (|dot| <= dims * (10^7)^2 << 2^63 for unit-norm-ish
  * embeddings).
  *
  * A native expression (not `aggregate(zip_with(...))`) because Spark's
  * higher-order functions are CodegenFallback: inside a pairwise scoring
  * join they interpret two lambdas per element per pair. `doGenCode`
  * keeps the whole 64-element loop inside whole-stage codegen — this is
  * the hot loop of every similarity-search rescore
  * ([[graft.ext.AnnLsh]], [[graft.ext.AnnIvf]]) and of the exact
  * all-pairs embedding dedup ([[graft.ext.VectorOps.blockedAllPairs]]).
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quantized_dot requires array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Dimension mismatch and null elements THROW (identically on the
    * interpreted and codegen paths): a truncated-to-min partial dot or a
    * null-skipping sum would be a plausible-but-wrong similarity that
    * hides dims bugs; parquet array columns carry containsNull=true even
    * when no data is null, so this is enforced at runtime, not in
    * checkInputDataTypes.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = elemIsFloat(left); val yf = elemIsFloat(right)
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"quantized_dot: dimension mismatch ($n vs ${y.numElements()})")
    if (n > QuantizedDot.MaxDims)
      throw new IllegalArgumentException(
        s"quantized_dot: $n dims exceeds the overflow-safe bound " +
          s"${QuantizedDot.MaxDims} (dims * QMax^2 must stay below 2^63)")
    var i = 0; var acc = 0L
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(s"quantized_dot: null element at index $i")
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += QuantizedDot.quantize(xv) * QuantizedDot.quantize(yv)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val xa = ctx.freshName("xa"); val xb = ctx.freshName("xb")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression, idx: String): String =
        if (elemIsFloat(e)) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |long $acc = 0L;
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "quantized_dot: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |if ($n > ${QuantizedDot.MaxDims}) {
         |  throw new IllegalArgumentException(
         |    "quantized_dot: " + $n + " dims exceeds the overflow-safe bound ${QuantizedDot.MaxDims}");
         |}
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    throw new IllegalArgumentException("quantized_dot: null element at index " + $i);
         |  }
         |  final double ${xa}y = java.lang.Math.floor((${get(a, left, i)}) * ${QuantizedDot.Grid}D);
         |  final double ${xb}y = java.lang.Math.floor((${get(b, right, i)}) * ${QuantizedDot.Grid}D);
         |  final long $xa = ${xa}y >= ${QuantizedDot.QMax}.0D ? ${QuantizedDot.QMax}L
         |    : (${xa}y <= -${QuantizedDot.QMax}.0D ? -${QuantizedDot.QMax}L : (long) ${xa}y);
         |  final long $xb = ${xb}y >= ${QuantizedDot.QMax}.0D ? ${QuantizedDot.QMax}L
         |    : (${xb}y <= -${QuantizedDot.QMax}.0D ? -${QuantizedDot.QMax}L : (long) ${xb}y);
         |  $acc += $xa * $xb;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantizedDot {
  /** THE canonical quantization grid (10^7 steps per unit) — every
    * quantized-vector computation ([[graft.ext.VectorOps.Q]], the DuckDB
    * oracles' `floor(x * 10000000)`, and this expression's codegen) derives
    * from this one constant so they cannot silently diverge.
    */
  val Grid: Double = 1e7

  /** Saturation bound on the quantized value: |q| <= 10^8 (|x| <= 10 on
    * the grid — far beyond any normalized embedding) keeps every
    * accumulated product within long range (dims * QMax^2 = 64 * 10^16
    * << 2^63), so a huge component can never wrap the accumulator or
    * trip an ANSI overflow downstream (the scoring plans multiply dots
    * by plan constants with Spark's ANSI `Multiply`).
    */
  val QMax: Long = 100000000L

  /** Overflow-safe dimension bound derived from [[QMax]], not assumed:
    * an all-saturated pair accumulates dims * QMax^2, so dims must stay
    * ≤ 2^63 / QMax^2 ≈ 922 for the long accumulator to be wrap-proof
    * even in the worst case. Enforced at runtime in BOTH eval paths
    * (one compare per call, outside the element loop); purely
    * theoretical headroom for this repo's 64-dim embeddings, but it
    * turns a silent wraparound at ~922+ dims into a loud error.
    */
  val MaxDims: Long = Long.MaxValue / (QMax * QMax) // = 922, floor((2^63-1)/1e16)

  /** THE quantization function (both eval paths and the Scala-side
    * codebook/centroid builders use this arithmetic): values floor onto
    * the grid and SATURATE at ±[[QMax]] — ±Inf clamps like any
    * out-of-range value, and NaN quantizes to 0 for free (both clamp
    * comparisons are false for NaN, and `(long) NaN == 0` in Java), so
    * an all-NaN vector has zero norm and is excluded from scoring by
    * [[graft.ext.VectorOps.validNorm]] while a saturated vector scores
    * as the ±10-per-axis direction it clamps to. Deliberately
    * branch-light — two double compares, no isNaN/isInfinite calls: this
    * runs per element per PAIR in the rescore loops, and the guarded
    * form measured 1.5× on the all-pairs dedup (janino call sites don't
    * inline Scala statics). [[QuantizedDot.doGenCode]] emits the same
    * three-operand clamp INLINE for the codegen path. In-range data
    * (|x| < 10, i.e. every real embedding) is untouched — the DuckDB
    * oracles' plain `floor(x * Grid)` stays bit-identical there.
    */
  def quantize(x: Double): Long = {
    val y = math.floor(x * Grid)
    if (y >= QMax.toDouble) QMax
    else if (y <= -QMax.toDouble) -QMax
    else y.toLong // NaN lands here: both compares false, (long) NaN == 0
  }

  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def of(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(QuantizedDot(expression(a), expression(b)))
  }
}
