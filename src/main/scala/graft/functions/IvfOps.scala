package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native IVF centroid-scoring kernels ([[IvfNearestCell]],
  * [[IvfTopCells]]) — [[graft.ext.AnnIvf]]'s assign and probe scans as
  * single compiled loops over a driver-quantized centroid table.
  *
  * The composed form (`array_min` / `array_sort` over an `nCells`-wide
  * forest of `struct(score, cell)` quantized-dot literals) is the same
  * construction [[PqOps]] replaced, with the same cliff in a different
  * axis: generated code grows LINEARLY IN nCells, and the operator's own
  * contract says nCells ≈ √n — so the corpus assign scan compiles at
  * gate geometry (16–64 cells) and silently falls out of whole-stage
  * codegen exactly at production geometry (a 1M-vector corpus wants
  * ~1000 cells ⇒ ~1000 inlined dot loops ≫ the JVM's 64 KB method
  * limit). That is the r16 sketch lesson applied to codegen: a path
  * verified only below its design point hides its failure exactly
  * there. PqExprSpec/IvfExprSpec pin both kernels compiling at
  * production-sized geometry under `spark.sql.codegen.fallback=false`.
  *
  * Scoring is bit-identical to the forest form (IvfExprSpec):
  * `score(i) = |c_i|² − 2·v·c_i` on the [[QuantizedDot]] integer grid
  * over centroids quantized ONCE on the driver — both of
  * [[graft.ext.AnnIvf]]'s centroid representations (float vectors, and
  * already-quantized longs re-entering via `(q+0.5)/Grid` doubles)
  * collapse to the same `Array[Long]` table, so one kernel serves both.
  * Argmin and probe order break ties to the lower cell id, exactly the
  * lexicographic `struct(score, cell)` ordering they replace.
  */
private[graft] sealed trait IvfExpression extends UnaryExpression {
  /** Quantized centroids, one `Array[Long]` per cell (all same length). */
  def centsQ: Array[Array[Long]]

  // loud-failure convention (r18 advisory): AnnIvf's gated paths guard the
  // zero-cell fit via emptyTopK, but assign/assignQ are public — a caller
  // with an empty fit must get a named error here, not an opaque
  // ArrayIndexOutOfBounds from the driver-side trait constructor.
  require(centsQ.nonEmpty, s"$prettyName: at least one centroid required")

  protected val nCells: Int = centsQ.length
  protected val dims: Int = centsQ(0).length

  // overflow guard for the fused score accumulator, EXACT rather than
  // assumed: the input side is clamped at ±QMax per element by the
  // quantizer, and the centroid table is known here, so the true worst
  // case is per-cell |score| <= c2(c) + 2·QMax·Σ|q_ci| — checked against
  // 2^63 for every cell (scores are compared, never summed, so unlike
  // [[PqExpression]] no cross-cell headroom is needed). A blanket dims
  // bound (307 = 2^63/(3·QMax²))
  // would assume SATURATED values (|x| >= 10) in every position and
  // reject legitimate geometries like 768-dim normalized embeddings
  // where wrap is impossible; this guard fails loudly exactly when wrap
  // is actually reachable, mirroring QuantizedDot's
  // loud-error-over-silent-wrap rule with its derivation sharpened.
  // GuardOnce (r19): the scan is O(nCells·dims) — ~786k Math.*Exact ops
  // at the 1024×768 production geometry — and Catalyst re-runs trait
  // initializers on every expression copy during analysis/optimization;
  // memoizing by table identity keeps loud-at-construction semantics at
  // one scan per table instead of several per query plan.
  GuardOnce(centsQ) {
    // ragged centroids previously escaped this scan as a bare
    // ArrayIndexOutOfBounds (the loop reads centsQ(c)(i) for i < dims but
    // catches only ArithmeticException) — name the shape defect here, on
    // the driver, mirroring the PQ ragged-dsub fix (r19 advisory)
    require(centsQ.forall(_.length == dims),
      s"$prettyName: ragged centroid table — every centroid must have $dims dims, " +
        s"got lengths ${centsQ.map(_.length).distinct.toSeq}")
    require({
    var ok = true
    var c = 0
    while (ok && c < nCells) {
      var c2v = 0L; var sumAbs = 0L; var i = 0
      while (i < dims) {
        val q = centsQ(c)(i)
        // c2 itself can wrap while being accumulated at extreme dims ×
        // saturation; detect via Math.*Exact and treat as over-bound
        try {
          c2v = Math.addExact(c2v, Math.multiplyExact(q, q))
          sumAbs = Math.addExact(sumAbs, math.abs(q))
        } catch { case _: ArithmeticException => ok = false }
        i += 1
      }
      if (ok) {
        try Math.addExact(c2v, Math.multiplyExact(2L * QuantizedDot.QMax, sumAbs))
        catch { case _: ArithmeticException => ok = false }
      }
      c += 1
    }
    ok
  }, s"$prettyName: centroid table exceeds the overflow-safe bound — worst-case " +
    s"|score| = c2 + 2*QMax*sum|c| must stay below 2^63 for every cell " +
    s"(reduce dims or centroid magnitudes; saturated values allow at most " +
    s"${PqExpression.MaxSubDims} dims)")
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> input, got ${other.catalogString}")
  }

  protected def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Centroid table flattened `cell·dims + i`. */
  @transient protected lazy val flat: Array[Long] = {
    val out = new Array[Long](nCells * dims)
    var c = 0
    while (c < nCells) {
      require(centsQ(c).length == dims, s"$prettyName: ragged centroid $c")
      System.arraycopy(centsQ(c), 0, out, c * dims, dims)
      c += 1
    }
    out
  }

  /** `|c_i|²` per cell. */
  @transient protected lazy val c2: Array[Long] = {
    val out = new Array[Long](nCells)
    var c = 0
    while (c < nCells) {
      var acc = 0L; var i = 0
      while (i < dims) { val q = flat(c * dims + i); acc += q * q; i += 1 }
      out(c) = acc
      c += 1
    }
    out
  }

  /** All `nCells` scores for one quantized-on-the-fly input vector. */
  protected final def scores(input: Any): Array[Long] = {
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
    val s = new Array[Long](nCells)
    var c = 0
    while (c < nCells) {
      var acc = c2(c); var i = 0
      while (i < dims) { acc -= 2L * q(i) * flat(c * dims + i); i += 1 }
      s(c) = acc
      c += 1
    }
    s
  }

  /** Codegen: dims/null checks, quantize the vector (the same inline
    * clamp as [[QuantizedDot.doGenCode]]), score every cell into
    * `long[] s`.
    */
  protected final def genScores(ctx: CodegenContext, x: String, s: String): String = {
    val flatRef = ctx.addReferenceObj("cents", flat, "long[]")
    val c2Ref = ctx.addReferenceObj("c2", c2, "long[]")
    val q = ctx.freshName("q"); val d = ctx.freshName("d")
    val qy = ctx.freshName("qy"); val c = ctx.freshName("c")
    val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
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
       |final long[] $s = new long[$nCells];
       |for (int $c = 0; $c < $nCells; $c++) {
       |  long $acc = $c2Ref[$c];
       |  for (int $i = 0; $i < $dims; $i++) {
       |    $acc -= 2L * $q[$i] * $flatRef[$c * $dims + $i];
       |  }
       |  $s[$c] = $acc;
       |}
     """.stripMargin
  }
}

/** `ivf_nearest_cell(v)`: the assign kernel — the cell id minimizing
  * `|c|² − 2·v·c`, ties to the lower id.
  */
case class IvfNearestCell(child: Expression, centsQ: Array[Array[Long]])
    extends IvfExpression {

  override def prettyName: String = "ivf_nearest_cell"
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any = {
    val s = scores(input)
    var best = 0; var c = 1
    while (c < nCells) { if (s(c) < s(best)) best = c; c += 1 }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val s = ctx.freshName("s"); val best = ctx.freshName("best")
      val c = ctx.freshName("c")
      s"""
         |${genScores(ctx, x, s)}
         |int $best = 0;
         |for (int $c = 1; $c < $nCells; $c++) {
         |  if ($s[$c] < $s[$best]) { $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ivf_top_cells(v)`: the probe kernel — the `nProbe` nearest cell ids
  * in ascending `(score, cell)` order (exactly
  * `slice(array_sort(struct(score, cell) array), 1, nProbe)` projected
  * to cells). `nProbe` passes of linear selection — no per-row sort, no
  * allocation beyond the score table.
  */
case class IvfTopCells(child: Expression, centsQ: Array[Array[Long]], nProbe: Int)
    extends IvfExpression {
  require(nProbe >= 1, s"ivf_top_cells: nProbe=$nProbe must be >= 1")

  override def prettyName: String = "ivf_top_cells"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def take: Int = math.min(nProbe, nCells)

  override def nullSafeEval(input: Any): Any = {
    val s = scores(input)
    val out = new Array[Int](take)
    var lastScore = Long.MinValue; var lastCell = -1
    var p = 0
    while (p < take) {
      var best = -1
      var c = 0
      while (c < nCells) {
        if ((s(c) > lastScore || (s(c) == lastScore && c > lastCell)) &&
            (best < 0 || s(c) < s(best))) best = c
        c += 1
      }
      out(p) = best
      lastScore = s(best); lastCell = best
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val s = ctx.freshName("s"); val out = ctx.freshName("out")
      val p = ctx.freshName("p"); val c = ctx.freshName("c")
      val best = ctx.freshName("best")
      val lastScore = ctx.freshName("lastScore"); val lastCell = ctx.freshName("lastCell")
      s"""
         |${genScores(ctx, x, s)}
         |final int[] $out = new int[$take];
         |long $lastScore = Long.MIN_VALUE;
         |int $lastCell = -1;
         |for (int $p = 0; $p < $take; $p++) {
         |  int $best = -1;
         |  for (int $c = 0; $c < $nCells; $c++) {
         |    if (($s[$c] > $lastScore || ($s[$c] == $lastScore && $c > $lastCell)) &&
         |        ($best < 0 || $s[$c] < $s[$best])) { $best = $c; }
         |  }
         |  $out[$p] = $best;
         |  $lastScore = $s[$best];
         |  $lastCell = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfNearestCell {
  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def of(v: Column, centsQ: Array[Array[Long]]): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(IvfNearestCell(expression(v), centsQ))
  }
}

object IvfTopCells {
  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def of(v: Column, centsQ: Array[Array[Long]], nProbe: Int): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(IvfTopCells(expression(v), centsQ, nProbe))
  }
}
