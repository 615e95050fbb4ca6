package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.functions.sort_array

/** `sorted_intersect_count(a, b)`: |a ∩ b| for two ascending-sorted
  * long-array columns, as a native Catalyst expression with codegen.
  *
  * Built-in `size(array_intersect(a, b))` allocates a hash set per *call*
  * — ruinous inside a pairwise similarity join where it runs millions of
  * times (the hot loop of [[graft.ext.NgramJaccard]] /
  * [[graft.ext.MinHashDedup]] verification). A merge scan over pre-sorted
  * arrays needs zero allocation and ~|a|+|b| primitive comparisons, and
  * `doGenCode` keeps it inside whole-stage codegen so the join loop never
  * leaves generated code.
  *
  * Inputs must be sorted ascending and distinct (use
  * `sort_array(array_distinct(...))` once per *row*, not per pair);
  * output then equals `size(array_intersect(a, b))` exactly.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count requires array<bigint> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  // null-element contract (r19 verdict item 3): `getLong` on a null
  // element is the landmine class the kernel audits exist for —
  // UnsafeArrayData returns whatever bytes sit in the slot (a SILENTLY
  // WRONG count), GenericArrayData throws a bare NPE, and the two
  // execution paths diverge. Statically conditional: every in-repo gram
  // producer declares containsNull=false, so the hot verify-join loop
  // stays branch-free; only a nullable user array pays the per-read
  // check, and a null it reads is a named error on both paths.
  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  @transient private lazy val checkNulls: Boolean =
    mayHaveNullElems(left) || mayHaveNullElems(right)

  private def nullElem(): Nothing =
    throw new IllegalArgumentException(
      "sorted_intersect_count: null element in input array " +
        "(array_compact before sorting)")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(j))) nullElem()
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      // same static condition as eval: the named check is only EMITTED
      // when the input type admits null elements
      val guard = if (checkNulls)
        s"""if ($a.isNullAt($i) || $b.isNullAt($j)) {
           |  throw new IllegalArgumentException(
           |    "sorted_intersect_count: null element in input array (array_compact before sorting)");
           |}""".stripMargin
      else ""
      s"""
         |int $i = 0, $j = 0;
         |final int $nx = $a.numElements(), $ny = $b.numElements();
         |int ${ev.value}Tmp = 0;
         |while ($i < $nx && $j < $ny) {
         |  $guard
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv == $yv) { ${ev.value}Tmp++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = ${ev.value}Tmp;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Column-API entry point (Spark 4 classic Column<->Expression bridge). */
  def ofSorted(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(SortedIntersectCount(expression(a), expression(b)))
  }

  def sortedArr(a: Column): Column = sort_array(a)
}
