package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** `regex_counts(text, patterns...)`: the number of non-overlapping
  * matches of each pattern, as one `array<int>` per row — the counting
  * core of [[graft.ext.TextStats]] (token counts, quality scoring,
  * language ID) without `regexp_extract_all`'s match-list
  * materialization.
  *
  * Value-identical to `size(regexp_extract_all(text, p, 0))` per
  * pattern: the same java.util.regex engine runs the same `find()`
  * iteration, so every count matches the built-in formulation (and
  * therefore the DuckDB oracle, which keeps the
  * `len(regexp_extract_all(...))` form) bit-for-bit. What changes is
  * cost only: patterns compile once at plan time instead of being
  * re-resolved per expression, the UTF8String -> String conversion
  * happens once for ALL patterns instead of once per count, and no
  * per-match strings are allocated just to be counted. The curation
  * predicate needs six counts per row — at 100 TB that per-row
  * constant IS the pipeline's CPU bill.
  */
object RegexCounts {

  /** One matcher pass per pattern over a single materialized string. */
  def counts(text: UTF8String, patterns: Array[java.util.regex.Pattern]): GenericArrayData = {
    val s = text.toString
    val out = new Array[Int](patterns.length)
    var i = 0
    while (i < patterns.length) {
      val m = patterns(i).matcher(s)
      var c = 0
      while (m.find()) c += 1
      out(i) = c
      i += 1
    }
    new GenericArrayData(out)
  }

  def of(text: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(RegexCounts(expression(text), patterns))
  }
}

case class RegexCounts(child: Expression, patterns: Seq[String]) extends UnaryExpression {
  require(patterns.nonEmpty, "regex_counts needs at least one pattern")

  // compiled once per plan (per task after serialization), never per row
  @transient private lazy val compiled: Array[java.util.regex.Pattern] =
    patterns.map(java.util.regex.Pattern.compile).toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "regex_counts")

  override def nullSafeEval(input: Any): Any =
    RegexCounts.counts(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("regexCountsPatterns", compiled,
      "java.util.regex.Pattern[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.RegexCounts.counts($x, $patRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
