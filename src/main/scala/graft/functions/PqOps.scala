package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native product-quantization kernels ([[PqCodes]], [[PqDistanceTable]])
  * — the two scans of [[graft.ext.AnnPq]] as single compiled loops over a
  * driver-precomputed quantized codebook.
  *
  * Both existed first as composed built-ins (an `nSub × nCodes` forest of
  * `slice` + [[QuantizedDot]] literal expressions per row). That form is
  * semantically right and stayed hash-green, but its generated
  * `processNext()` exceeds the JVM's 64 KB method limit at the default
  * 8×16 geometry — janino fails, Spark silently falls back to INTERPRETED
  * eval for the projection (an `ERROR CodeGenerator` in every suite log),
  * and each row pays 128 `slice` array copies plus 16× redundant
  * re-quantization of every subvector. The corpus-side encode is the scan
  * that builds the PQ index — at 100 TB an interpreted index build is the
  * kind of silent 10× this engine exists to avoid. Same cure as
  * [[SignLshCodes]]: one small triple loop over an
  * `addReferenceObj`-shared table, constant generated-code size in the
  * codebook geometry, the input vector quantized exactly once per row.
  *
  * Arithmetic is bit-identical to the expression-forest form (pinned by
  * PqExprSpec): `score(m, j) = |c_mj|² − 2·v_m·c_mj` on the
  * [[QuantizedDot]] integer grid, codes = per-subspace argmin with ties
  * to the lower code id, so the DuckDB oracles
  * ([[graft.ext.AnnPq.topKOracle]]) replay unchanged.
  */
private[graft] sealed trait PqExpression extends UnaryExpression {
  def codebook: Array[Array[Array[Float]]]

  // loud-failure convention (r18 advisory): a malformed codebook must name
  // its defect at construction, not surface as a raw
  // ArrayIndexOutOfBounds deep in qcb — and a ragged codebook with EXTRA
  // codes in a later subspace would otherwise be silently truncated to
  // subspace 0's count (a plausible-but-wrong index, the worst failure
  // mode this engine has).
  require(codebook.nonEmpty, s"$prettyName: codebook must have at least one subspace")
  require(codebook(0).nonEmpty, s"$prettyName: subspace 0 has no codes")
  require(codebook(0)(0).nonEmpty, s"$prettyName: codes must have at least one dimension")

  protected val nSub: Int = codebook.length
  protected val nCodes: Int = codebook(0).length
  protected val dsub: Int = codebook(0)(0).length
  protected val dims: Int = nSub * dsub

  // the table-shape and overflow guards run ONCE per codebook identity
  // (r19: Catalyst copies expressions freely during analysis — copy →
  // trait re-init — and the exact overflow scan is O(nSub·nCodes·dsub);
  // GuardOnce memoizes by the array reference the copies all share, so
  // the loud-at-construction convention costs one scan per table, not
  // one per plan transform)
  GuardOnce(codebook) {
    require(codebook.forall(_.length == nCodes),
      s"$prettyName: ragged codebook — every subspace must have $nCodes codes, " +
        s"got ${codebook.map(_.length).toSeq}")
    // ragged dsub previously passed construction (the overflow loop
    // iterated code.length) and died task-side in qcb — name it here,
    // on the driver, like every other shape defect (r18 advisory)
    require(codebook.forall(_.forall(_.length == dsub)),
      s"$prettyName: ragged codebook — every code must have $dsub dims, " +
        s"got lengths ${codebook.flatMap(_.map(_.length)).distinct.toSeq}")
    // overflow guard for the fused score accumulator, EXACT rather than
    // assumed: the input side is clamped at ±QMax per element by the
    // quantizer and the codebook is known here, so the true worst case
    // is per-code |score| <= c2(m,j) + 2·QMax·Σ|q_code| — checked
    // against 2^63/nSub for every code: AnnPq's adcSum adds one score
    // per subspace with plain Add, so the per-code bound must leave
    // headroom for the nSub-term cross-subspace sum, not just the code's
    // own accumulator (r18 advisory — the old 2^63 bound covered the
    // kernel but not the downstream sum). A blanket dsub bound
    // (307 = 2^63/(3·QMax²)) would assume SATURATED values in every
    // position and reject legitimate wide subspaces where wrap is
    // impossible; this fails loudly exactly when wrap is reachable,
    // mirroring QuantizedDot's loud-error-over-silent-wrap rule with
    // its derivation sharpened.
    val bound = Long.MaxValue / nSub
    require({
      var ok = true
      var m = 0
      while (ok && m < nSub) {
        var j = 0
        while (ok && j < nCodes) {
          val code = codebook(m)(j)
          var c2v = 0L; var sumAbs = 0L; var i = 0
          while (ok && i < code.length) {
            val q = QuantizedDot.quantize(code(i).toDouble)
            try {
              c2v = Math.addExact(c2v, Math.multiplyExact(q, q))
              sumAbs = Math.addExact(sumAbs, math.abs(q))
            } catch { case _: ArithmeticException => ok = false }
            i += 1
          }
          if (ok) {
            try ok =
              Math.addExact(c2v, Math.multiplyExact(2L * QuantizedDot.QMax, sumAbs)) <= bound
            catch { case _: ArithmeticException => ok = false }
          }
          j += 1
        }
        m += 1
      }
      ok
    }, s"$prettyName: codebook exceeds the overflow-safe bound — worst-case " +
      s"|score| = c2 + 2*QMax*sum|c| must stay below 2^63/nSub = $bound for " +
      s"every code so the nSub-term ADC sum cannot wrap (reduce dsub or code " +
      s"magnitudes; saturated values allow at most " +
      s"${PqExpression.MaxSubDims / nSub} dims per subspace)")
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> input, got ${other.catalogString}")
  }

  protected def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Quantized codebook, flattened `(m·nCodes + j)·dsub + i` — computed
    * once per task from the float codebook with THE quantizer
    * ([[QuantizedDot.quantize]]), exactly as the expression-forest form's
    * driver-side `quantL` literals were.
    */
  @transient protected lazy val qcb: Array[Long] = {
    val out = new Array[Long](nSub * nCodes * dsub)
    var m = 0
    while (m < nSub) {
      var j = 0
      while (j < nCodes) {
        val c = codebook(m)(j)
        require(c.length == dsub, s"$prettyName: ragged codebook at ($m, $j)")
        val base = (m * nCodes + j) * dsub
        var i = 0
        while (i < dsub) { out(base + i) = QuantizedDot.quantize(c(i).toDouble); i += 1 }
        j += 1
      }
      m += 1
    }
    out
  }

  /** `|c_mj|²` on the grid, flattened `m·nCodes + j`. */
  @transient protected lazy val c2: Array[Long] = {
    val out = new Array[Long](nSub * nCodes)
    var mj = 0
    while (mj < nSub * nCodes) {
      var acc = 0L
      var i = 0
      while (i < dsub) { val q = qcb(mj * dsub + i); acc += q * q; i += 1 }
      out(mj) = acc
      mj += 1
    }
    out
  }

  /** The input vector quantized once (dimension and null-element checks
    * identical in spirit to [[QuantizedDot]]: a silently truncated or
    * null-skipping score would be plausible-but-wrong).
    */
  protected final def quantizeInput(input: Any): Array[Long] = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() != dims)
      throw new IllegalArgumentException(
        s"$prettyName: expected $dims dims, got ${x.numElements()}")
    val q = new Array[Long](dims)
    val f = elemIsFloat
    var d = 0
    while (d < dims) {
      if (x.isNullAt(d))
        throw new IllegalArgumentException(s"$prettyName: null element at index $d")
      q(d) = QuantizedDot.quantize(if (f) x.getFloat(d).toDouble else x.getDouble(d))
      d += 1
    }
    q
  }

  /** Shared codegen prelude: dims check, null-element check, quantize the
    * vector into `long[] q` with the same inline three-operand clamp as
    * [[QuantizedDot.doGenCode]].
    */
  protected final def genQuantize(ctx: CodegenContext, x: String, q: String): String = {
    val d = ctx.freshName("d"); val qy = ctx.freshName("qy")
    val get = if (elemIsFloat) s"(double) $x.getFloat($d)" else s"$x.getDouble($d)"
    s"""
       |if ($x.numElements() != $dims) {
       |  throw new IllegalArgumentException(
       |    "$prettyName: expected $dims dims, got " + $x.numElements());
       |}
       |final long[] $q = new long[$dims];
       |for (int $d = 0; $d < $dims; $d++) {
       |  if ($x.isNullAt($d)) {
       |    throw new IllegalArgumentException("$prettyName: null element at index " + $d);
       |  }
       |  final double $qy = java.lang.Math.floor(($get) * ${QuantizedDot.Grid}D);
       |  $q[$d] = $qy >= ${QuantizedDot.QMax}.0D ? ${QuantizedDot.QMax}L
       |    : ($qy <= -${QuantizedDot.QMax}.0D ? -${QuantizedDot.QMax}L : (long) $qy);
       |}
     """.stripMargin
  }
}

/** `pq_codes(v)`: the PQ encoding — per subspace `m`, the code id `j`
  * minimizing `|c_mj|² − 2·v_m·c_mj` (argmin of subspace L2 on the
  * integer grid), ties to the LOWER j — exactly `array_min` over
  * `struct(score, code)` in the forest form and `row_number() ... ORDER
  * BY score, j` in the DuckDB oracle.
  */
case class PqCodes(child: Expression, codebook: Array[Array[Array[Float]]])
    extends PqExpression {

  override def prettyName: String = "pq_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val q = quantizeInput(input)
    val out = new Array[Int](nSub)
    var m = 0
    while (m < nSub) {
      var best = Long.MaxValue; var bestJ = 0
      var j = 0
      while (j < nCodes) {
        val base = (m * nCodes + j) * dsub
        var acc = c2(m * nCodes + j)
        var i = 0
        while (i < dsub) { acc -= 2L * q(m * dsub + i) * qcb(base + i); i += 1 }
        if (acc < best) { best = acc; bestJ = j }
        j += 1
      }
      out(m) = bestJ
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val qcbRef = ctx.addReferenceObj("qcb", qcb, "long[]")
      val c2Ref = ctx.addReferenceObj("c2", c2, "long[]")
      val q = ctx.freshName("q"); val out = ctx.freshName("out")
      val m = ctx.freshName("m"); val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val base = ctx.freshName("base")
      val best = ctx.freshName("best"); val bestJ = ctx.freshName("bestJ")
      s"""
         |${genQuantize(ctx, x, q)}
         |final int[] $out = new int[$nSub];
         |for (int $m = 0; $m < $nSub; $m++) {
         |  long $best = Long.MAX_VALUE;
         |  int $bestJ = 0;
         |  for (int $j = 0; $j < $nCodes; $j++) {
         |    final int $base = ($m * $nCodes + $j) * $dsub;
         |    long $acc = $c2Ref[$m * $nCodes + $j];
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      $acc -= 2L * $q[$m * $dsub + $i] * $qcbRef[$base + $i];
         |    }
         |    if ($acc < $best) { $best = $acc; $bestJ = $j; }
         |  }
         |  $out[$m] = $bestJ;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_distance_table(v)`: the full ADC table — `out(m)(j) = |c_mj|² −
  * 2·v_m·c_mj` for every subspace and code, the per-query constant work
  * of a PQ scan. Each candidate then costs `nSub` static array lookups
  * off this table ([[graft.ext.AnnPq.topK]]'s unrolled `adcSum`).
  */
case class PqDistanceTable(child: Expression, codebook: Array[Array[Array[Float]]])
    extends PqExpression {

  override def prettyName: String = "pq_distance_table"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val q = quantizeInput(input)
    val rows = new Array[ArrayData](nSub)
    var m = 0
    while (m < nSub) {
      val row = new Array[Long](nCodes)
      var j = 0
      while (j < nCodes) {
        val base = (m * nCodes + j) * dsub
        var acc = c2(m * nCodes + j)
        var i = 0
        while (i < dsub) { acc -= 2L * q(m * dsub + i) * qcb(base + i); i += 1 }
        row(j) = acc
        j += 1
      }
      rows(m) = new GenericArrayData(row)
      m += 1
    }
    new GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val qcbRef = ctx.addReferenceObj("qcb", qcb, "long[]")
      val c2Ref = ctx.addReferenceObj("c2", c2, "long[]")
      val q = ctx.freshName("q"); val rows = ctx.freshName("rows")
      val row = ctx.freshName("row"); val m = ctx.freshName("m")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val base = ctx.freshName("base")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      s"""
         |${genQuantize(ctx, x, q)}
         |final $ad[] $rows = new $ad[$nSub];
         |for (int $m = 0; $m < $nSub; $m++) {
         |  final long[] $row = new long[$nCodes];
         |  for (int $j = 0; $j < $nCodes; $j++) {
         |    final int $base = ($m * $nCodes + $j) * $dsub;
         |    long $acc = $c2Ref[$m * $nCodes + $j];
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      $acc -= 2L * $q[$m * $dsub + $i] * $qcbRef[$base + $i];
         |    }
         |    $row[$j] = $acc;
         |  }
         |  $rows[$m] = new $gad($row);
         |}
         |${ev.value} = new $gad($rows);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[graft] object PqExpression {
  /** Saturated-worst-case accumulation bound, quoted in the overflow
    * guards' error messages: with every element clamped at ±QMax,
    * `|score| = c2 + 2·dot <= 3 · dims · QMax²`, so at most
    * `2^63 / (3·QMax²) = 307` dims are wrap-proof — tighter than
    * [[QuantizedDot.MaxDims]] (922) because the kernels fuse `c2 − 2·dot`
    * into one long accumulator where the forest form's dot was bounded
    * alone. The guards themselves are EXACT per cell/code (they bound
    * `c2 + 2·QMax·Σ|c|` against the actual table), so non-saturated wide
    * geometries — 768-dim normalized embeddings — stay accepted; this
    * constant is the floor no table can be rejected under. The PQ guard
    * divides it by `nSub` (r19): AnnPq's adcSum adds one score per
    * subspace, so per-code headroom must cover the cross-subspace sum.
    * The IVF guard keeps the undivided bound — cell scores are compared,
    * never summed.
    */
  val MaxSubDims: Long = Long.MaxValue / (3L * QuantizedDot.QMax * QuantizedDot.QMax)
}

object PqCodes {
  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def of(v: Column, codebook: Array[Array[Array[Float]]]): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(PqCodes(expression(v), codebook))
  }
}

object PqDistanceTable {
  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def of(v: Column, codebook: Array[Array[Array[Float]]]): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(PqDistanceTable(expression(v), codebook))
  }
}
