package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** `sign_lsh_codes(v)`: all `bands` sign-LSH bucket codes of a vector in
  * one pass — code b's bit j is the sign of the exact integer projection
  * of the quantized vector onto hyperplane (b, j), whose +-1 components
  * come from a driver-precomputed md5-parity table (the identical
  * arithmetic the DuckDB oracle uses ([[graft.ext.AnnLsh.codesOracleCtes]]), so
  * results are bit-exact across engines).
  *
  * A native expression for the same reason as [[QuantizedDot]], plus a
  * codegen-SIZE one: expressing bands x bits projections as composed
  * built-ins either fans the corpus out by `dims` through a join-
  * aggregate (shuffles corpus x bands x bits partial sums) or inlines
  * bands x bits separate dot loops into a single giant projection whose
  * generated class takes seconds of janino compile time per stage. Here
  * the whole thing is ONE small triple loop over a broadcast-sized sign
  * table — narrow, shuffle-free, compiled once.
  */
case class SignLshCodes(child: Expression, bands: Int, bits: Int, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh_codes requires array<float|double> input, got ${other.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** +-1 per (band, bit, dim), flattened plane-id order (matching the oracle's planes CTE):
    * index = (band*bits + bit)*dims + dim.
    */
  @transient private lazy val signs: Array[Byte] = SignLshCodes.signTable(bands, bits, dims)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    require(x.numElements() == dims,
      s"sign_lsh_codes: expected $dims dims, got ${x.numElements()}")
    val q = new Array[Long](dims)
    var d = 0
    while (d < dims) {
      if (x.isNullAt(d))
        throw new IllegalArgumentException(s"sign_lsh_codes: null element at index $d")
      val xv = if (elemIsFloat) x.getFloat(d).toDouble else x.getDouble(d)
      // the saturating quantizer, not a bare floor: an unclamped ±Inf
      // maps to Long.MaxValue and silently WRAPS the ±1-sign projection
      // accumulator, yielding arbitrary buckets for corrupt vectors —
      // saturated components bucket as the ±10-per-axis direction they
      // clamp to, the same contract as [[QuantizedDot]] (in-range data,
      // i.e. every real embedding, is untouched, so the md5-parity
      // oracle stays bit-identical)
      q(d) = QuantizedDot.quantize(xv)
      d += 1
    }
    val s = signs
    val out = new Array[Long](bands)
    var band = 0
    while (band < bands) {
      var code = 0L
      var bit = 0
      while (bit < bits) {
        val base = (band * bits + bit) * dims
        var proj = 0L
        var i = 0
        while (i < dims) { proj += q(i) * s(base + i); i += 1 }
        if (proj >= 0) code |= (1L << bit)
        bit += 1
      }
      out(band) = code
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val signsRef = ctx.addReferenceObj("signs", signs, "byte[]")
      val q = ctx.freshName("q"); val out = ctx.freshName("out")
      val d = ctx.freshName("d"); val band = ctx.freshName("band")
      val bit = ctx.freshName("bit"); val i = ctx.freshName("i")
      val proj = ctx.freshName("proj"); val code = ctx.freshName("code")
      val base = ctx.freshName("base")
      val get = if (elemIsFloat) s"(double) $x.getFloat($d)" else s"$x.getDouble($d)"
      val qy = ctx.freshName("qy")
      s"""
         |if ($x.numElements() != $dims) {
         |  throw new IllegalArgumentException(
         |    "sign_lsh_codes: expected $dims dims, got " + $x.numElements());
         |}
         |final long[] $q = new long[$dims];
         |for (int $d = 0; $d < $dims; $d++) {
         |  if ($x.isNullAt($d)) {
         |    throw new IllegalArgumentException("sign_lsh_codes: null element at index " + $d);
         |  }
         |  final double $qy = java.lang.Math.floor(($get) * ${QuantizedDot.Grid}D);
         |  $q[$d] = $qy >= ${QuantizedDot.QMax}.0D ? ${QuantizedDot.QMax}L
         |    : ($qy <= -${QuantizedDot.QMax}.0D ? -${QuantizedDot.QMax}L : (long) $qy);
         |}
         |final long[] $out = new long[$bands];
         |for (int $band = 0; $band < $bands; $band++) {
         |  long $code = 0L;
         |  for (int $bit = 0; $bit < $bits; $bit++) {
         |    final int $base = ($band * $bits + $bit) * $dims;
         |    long $proj = 0L;
         |    for (int $i = 0; $i < $dims; $i++) {
         |      $proj += $q[$i] * $signsRef[$base + $i];
         |    }
         |    if ($proj >= 0L) { $code |= (1L << $bit); }
         |  }
         |  $out[$band] = $code;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignLshCodes {

  /** Driver-side sign table: md5 of the plane id's decimal string, first
    * hex digit even -> +1 (shared with the SQL oracle verbatim).
    */
  def signTable(bands: Int, bits: Int, dims: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bands * bits * dims) { id =>
      md.reset()
      val digest = md.digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((((digest(0) >> 4) & 0xf) % 2) == 0) 1.toByte else (-1).toByte
    }
  }

  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def of(v: Column, bands: Int, bits: Int, dims: Int): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(SignLshCodes(expression(v), bands, bits, dims))
  }
}
