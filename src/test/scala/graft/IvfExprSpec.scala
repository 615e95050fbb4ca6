package graft

import graft.functions.{IvfNearestCell, IvfTopCells, QuantizedDot}
import graft.ext.VectorOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the native IVF scoring kernels
  * ([[graft.functions.IvfOps]]) — the [[graft.ext.AnnIvf]] assign/probe
  * scans.
  *
  * The replaced form (`array_min` / `array_sort` over an nCells-wide
  * `struct(score, cell)` quantized-dot forest) generated code LINEAR IN
  * nCells while the operator's own contract says nCells ≈ √n: fine at
  * the 16-cell gate geometry, out of whole-stage codegen (silently
  * interpreted, with the centroid table re-materialized as plan
  * literals) at the hundreds-to-thousands of cells a production corpus
  * wants. This spec pins (1) bit-parity with the forest on both
  * centroid representations — float/ML vectors and already-quantized
  * longs — including ties and adversarial values; (2) loud failure on
  * malformed vectors; (3) compilation at PRODUCTION geometry (512
  * cells) under `spark.sql.codegen.fallback=false`, with the forest's
  * compile failure at the same geometry as the red baseline.
  */
class IvfExprSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** The replaced float-centroid forest, verbatim reference semantics. */
  private def forestCells(v: Column, cents: Array[Array[Float]]): Column =
    array(cents.toIndexedSeq.zipWithIndex.map { case (cf, i) =>
      val c2 = cf.map { x =>
        val q = QuantizedDot.quantize(x.toDouble); q * q
      }.sum
      struct(
        (lit(c2) - lit(2L) * VectorOps.dotQ(v, typedLit(cf))).as("score"),
        lit(i).as("cell"))
    }: _*)

  /** The replaced quantized-centroid forest: q re-enters as the double
    * `(q + 0.5) / Grid`, whose re-quantization is exactly q.
    */
  private def forestCellsQ(v: Column, centsQ: Array[Array[Long]]): Column =
    array(centsQ.toIndexedSeq.zipWithIndex.map { case (cq, i) =>
      val c2 = cq.map(q => q * q).sum
      val cd = cq.map(q => (q.toDouble + 0.5) / QuantizedDot.Grid)
      struct(
        (lit(c2) - lit(2L) * VectorOps.dotQ(v, typedLit(cd))).as("score"),
        lit(i).as("cell"))
    }: _*)

  private val rng = new scala.util.Random(170002L)
  private val weird: Seq[Float] = Seq(
    Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
    1e9f, -1e9f, 10.000000049f, 1e-9f, 0.0f)

  private def randVec(dims: Int): Array[Float] =
    Array.tabulate(dims)(_ =>
      if (rng.nextInt(8) == 0) weird(rng.nextInt(weird.size))
      else (rng.nextDouble() * 2 - 1).toFloat)

  private def quant(cf: Array[Float]): Array[Long] =
    cf.map(x => QuantizedDot.quantize(x.toDouble))

  test("nearest/top-cells match the forest form on float centroids (gate geometry)") {
    val cents = Array.tabulate(16)(c =>
      Array.tabulate(8)(i => (math.sin(c * 19 + i) / 2).toFloat))
    val centsQ = cents.map(quant)
    val vecs = (0L until 40L).map(i => (i, randVec(8)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val rows = vecs.select(
      IvfNearestCell.of(col("embedding"), centsQ).as("cell"),
      IvfTopCells.of(col("embedding"), centsQ, 4).as("cells"),
      array_min(forestCells(col("embedding"), cents)).getField("cell").as("fcell"),
      transform(slice(array_sort(forestCells(col("embedding"), cents)), 1, 4),
        s => s.getField("cell")).as("fcells")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(2), "nearest cell diverged from the forest")
      assert(r.getSeq[Int](1) == r.getSeq[Int](3), "probe order diverged from the forest")
    }
  }

  test("quantized-centroid path matches the (q+0.5)/Grid forest it replaced") {
    // include saturated and zero centroids: the grid edge cases the
    // double-roundtrip equivalence note is about
    val centsQ = Array.tabulate(12)(c => Array.tabulate(8)(i =>
      if (c == 0) QuantizedDot.QMax
      else if (c == 1) -QuantizedDot.QMax
      else if (c == 2) 0L
      else math.round(math.sin(c * 31 + i) * 5000000).toLong))
    val vecs = (0L until 30L).map(i => (i, randVec(8)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val rows = vecs.select(
      IvfNearestCell.of(col("embedding"), centsQ).as("cell"),
      IvfTopCells.of(col("embedding"), centsQ, 3).as("cells"),
      array_min(forestCellsQ(col("embedding"), centsQ)).getField("cell").as("fcell"),
      transform(slice(array_sort(forestCellsQ(col("embedding"), centsQ)), 1, 3),
        s => s.getField("cell")).as("fcells")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(2))
      assert(r.getSeq[Int](1) == r.getSeq[Int](3))
    }
  }

  test("score ties break to the lower cell id, in argmin and in probe order") {
    // cells 1 and 4 identical; 2 and 5 identical: every vector ties them
    val base = Array.tabulate(6)(c => Array.tabulate(4)(i =>
      (math.cos(c * 13 + i) / 3).toFloat))
    base(4) = base(1).clone(); base(5) = base(2).clone()
    val centsQ = base.map(quant)
    val vecs = (0L until 20L).map(i => (i, randVec(4))).toDF("vec_id", "embedding")
    val rows = vecs.select(
      IvfNearestCell.of(col("embedding"), centsQ).as("cell"),
      IvfTopCells.of(col("embedding"), centsQ, 6).as("cells")).collect()
    rows.foreach { r =>
      val cells = r.getSeq[Int](1)
      assert(cells.length == 6 && cells.distinct.length == 6,
        s"probe order must enumerate every cell exactly once, got $cells")
      assert(cells.indexOf(1) < cells.indexOf(4), s"tie 1/4 misordered: $cells")
      assert(cells.indexOf(2) < cells.indexOf(5), s"tie 2/5 misordered: $cells")
      assert(r.getInt(0) == cells.head)
    }
  }

  test("nProbe past nCells yields all cells; malformed vectors fail loudly") {
    val centsQ = Array.tabulate(3)(c => Array.tabulate(4)(i => (c * 10 + i).toLong))
    val vecs = Seq((1L, Array(0.1f, 0.2f, 0.3f, 0.4f))).toDF("vec_id", "embedding")
    val all = vecs.select(IvfTopCells.of(col("embedding"), centsQ, 99)).collect()
    assert(all.head.getSeq[Int](0).sorted == Seq(0, 1, 2))
    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
    val short = Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception](
      short.select(IvfNearestCell.of(col("embedding"), centsQ)).collect())
    assert(msgChain(e1).contains("dims"))
    val hole = Seq((1L, Array[java.lang.Float](1.0f, null, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception](
      hole.select(IvfTopCells.of(col("embedding"), centsQ, 2)).collect())
    assert(msgChain(e2).contains("null element"))
  }

  test("malformed centroid tables fail loudly at construction (r18 advisory guards)") {
    val v = col("embedding")
    // empty fit: AnnIvf's gated paths guard in their scoring body, but
    // assign/assignQ are public — a zero-cell table must name the defect,
    // not throw a raw ArrayIndexOutOfBounds from the trait constructor
    val e1 = intercept[IllegalArgumentException](
      IvfNearestCell.of(v, Array.empty[Array[Long]]))
    assert(e1.getMessage.contains("at least one centroid"))
    // overflow guard, EXACT per cell: with saturated centroids (q = QMax)
    // the fused c2 - 2*dot accumulator wraps above dims = 307 — rejected
    // at construction with a named error
    val wide = Array(Array.fill(308)(graft.functions.QuantizedDot.QMax))
    val e2 = intercept[IllegalArgumentException](IvfTopCells.of(v, wide, 1))
    assert(e2.getMessage.contains("overflow-safe"))
    // 307 saturated dims sit exactly inside the bound
    IvfNearestCell.of(v, Array(Array.fill(307)(graft.functions.QuantizedDot.QMax)))
    // and the guard is worst-case-EXACT, not a blanket dims cap: 768-dim
    // NORMALIZED centroids (production embedding width, q = Grid = 1e7)
    // cannot wrap — accepted
    IvfNearestCell.of(v, Array(Array.fill(768)(10000000L)))
    // ragged centroid (r19 advisory): centroid 1 one dim SHORT previously
    // escaped the overflow scan as a bare ArrayIndexOutOfBounds (the loop
    // reads centsQ(c)(i) for i < dims but catches only
    // ArithmeticException) — now a named error, like the PQ ragged-dsub
    // case
    val e3 = intercept[IllegalArgumentException](
      IvfNearestCell.of(v, Array(Array.fill(32)(500L), Array.fill(31)(500L))))
    assert(e3.getMessage.contains("ragged centroid table"))
    // ragged LONG must be named too (it would read past dims silently if
    // only the short case were guarded)
    val e4 = intercept[IllegalArgumentException](
      IvfTopCells.of(v, Array(Array.fill(32)(500L), Array.fill(33)(500L)), 1))
    assert(e4.getMessage.contains("ragged centroid table"))
  }

  test("kernels compile and match the forest at 768-dim production embedding width") {
    // the exact overflow guard (r18) exists to ADMIT wide normalized
    // geometries — so the admitted geometry must be verified working,
    // not just constructible: 64 cells at 768 dims, kernel compiled
    // under fallback=false vs the forest evaluated interpreted on a
    // LocalRelation (the reference arithmetic, janino never involved)
    val cents = Array.tabulate(64)(c =>
      Array.tabulate(768)(i => (math.sin(c * 31 + i) / 2).toFloat))
    val centsQ = cents.map(quant)
    val data = (0L until 20L).map(i => (i, randVec(768)))
    val vecs = data.toDF("vec_id", "embedding").localCheckpoint(true)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val kernel = try {
      vecs.select(
        col("vec_id"),
        IvfNearestCell.of(col("embedding"), centsQ).as("cell"),
        IvfTopCells.of(col("embedding"), centsQ, 4).as("cells"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    val forest = data.toDF("vec_id", "embedding").select(
      col("vec_id"),
      array_min(forestCellsQ(col("embedding"), centsQ)).getField("cell").as("fcell"),
      transform(slice(array_sort(forestCellsQ(col("embedding"), centsQ)), 1, 4),
        s => s.getField("cell")).as("fcells"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    assert(kernel == forest)
  }

  test("kernels compile at production geometry (512 cells); the forest cannot") {
    val cents = Array.tabulate(512)(c =>
      Array.tabulate(16)(i => (math.sin(c * 7 + i) / 2).toFloat))
    val centsQ = cents.map(quant)
    val vecs = (0L until 16L).map(i => (i, randVec(16)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = vecs.select(
        IvfNearestCell.of(col("embedding"), centsQ).as("cell"),
        IvfTopCells.of(col("embedding"), centsQ, 4).as("cells"))
        .where(col("cell") >= 0 && col("cells")(0) >= 0).count()
      assert(n == 16)
      // red baseline: the replaced forest at the same geometry blows the
      // 64 KB generated-method limit (collect the FULL array —
      // extraction over CreateArray simplifies away the bulk)
      val thrown = QuietExpectedThrows {
        intercept[Throwable](
          vecs.select(forestCells(col("embedding"), cents).as("f")).collect())
      }
      assert(thrown != null)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("the exact centroid guard runs once per table identity across kernels and copies (r19)") {
    import graft.functions.GuardOnce
    // fresh array = fresh identity (parallel suites can't touch it); the
    // SAME table feeds both IVF kernels — one validation must serve the
    // assign expression, the probe expression, and every Catalyst copy
    // either undergoes during analysis/optimization
    val table = Array.tabulate(8)(c => Array.tabulate(32)(d => (c * 32 + d) * 500L))
    val vecs = (0L until 5L).map(i =>
      (i, Array.tabulate(32)(d => (math.sin(i * 17.0 + d) / 2).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val out = vecs.select(
      IvfNearestCell.of(col("embedding"), table).as("cell"),
      IvfTopCells.of(col("embedding"), table, 3).as("cells"))
      .where(col("cell") >= 0).collect()
    assert(out.length == 5)
    // callsFor > runsFor, not an absolute copy count: the hard claim is
    // "re-entered more often than it ran" (both kernels construct once
    // each, so >= 2 calls); pinning how MANY times Catalyst copies the
    // expression would fail on an optimizer that copies less with no
    // real regression (r19 advisory)
    assert(GuardOnce.callsFor(table) > GuardOnce.runsFor(table),
      s"expected copies/both kernels to re-enter the guard, saw ${GuardOnce.callsFor(table)}")
    assert(GuardOnce.runsFor(table) == 1,
      s"the O(nCells*dims) scan ran ${GuardOnce.runsFor(table)} times for one table identity")
  }
}
