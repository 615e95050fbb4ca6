package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** `token_member_counts(text, lists...)`: for each word list, how many
  * ASCII-alphanumeric tokens of `text` are members — the marker-word
  * counting core of [[graft.ext.TextStats]] (stopword ratio, language
  * ID) as ONE tokenizer pass.
  *
  * Value-identical to `size(filter(regexp_extract_all(text,
  * '[A-Za-z0-9]+', 0), t -> [lower(t)] IN (words)))` per list — the same
  * java.util.regex `find()` tokenization, the same membership test (the
  * tokens are pure ASCII by construction, so `toLowerCase` cannot
  * diverge from Spark's `lower`) — pinned on adversarial text by
  * NativeParityFuzzSpec. What changes is cost only: the r20 form ran
  * regexp_extract_all once PER LIST (the curation predicate needs four),
  * materialized every token list, and filtered it through a
  * higher-order lambda that executes interpreted per element
  * (CodegenFallback). Here the text is tokenized once for all lists, no
  * token array is allocated, and membership is a hash-set probe — at
  * 100 TB the per-row constant of the quality/lang predicate IS the
  * curation pipeline's CPU bill (measured: the quality+lang projection
  * at sf0.1 was 0.93 s of the c1/c2 prep pass vs 0.22 s for BOTH
  * shingle kernels, OPTIMIZATION_r21.md).
  */
object TokenMemberCounts {

  private val Token = java.util.regex.Pattern.compile("[A-Za-z0-9]+")

  /** One tokenizer pass; per token one optional ASCII lowering and one
    * set probe per list.
    */
  def counts(text: UTF8String, sets: Array[java.util.HashSet[String]],
             lowers: Array[Boolean]): GenericArrayData = {
    val s = text.toString
    val out = new Array[Int](sets.length)
    val m = Token.matcher(s)
    while (m.find()) {
      val tok = s.substring(m.start(), m.end())
      var low: String = null
      var i = 0
      while (i < sets.length) {
        val key = if (lowers(i)) {
          // tokens are [A-Za-z0-9]+ — pure ASCII, where Java and Spark
          // (and utf8proc) case mapping coincide exactly
          if (low == null) low = tok.toLowerCase(java.util.Locale.ROOT)
          low
        } else tok
        if (sets(i).contains(key)) out(i) += 1
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  def of(text: Column, lists: Seq[(Seq[String], Boolean)]): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(TokenMemberCounts(expression(text), lists))
  }
}

case class TokenMemberCounts(child: Expression, lists: Seq[(Seq[String], Boolean)])
    extends UnaryExpression {
  require(lists.nonEmpty, "token_member_counts needs at least one word list")

  // built once per plan (per task after serialization), never per row
  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    lists.map { case (words, _) =>
      val s = new java.util.HashSet[String]()
      words.foreach(w => s.add(w))
      s
    }.toArray
  @transient private lazy val lowers: Array[Boolean] = lists.map(_._2).toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "token_member_counts")

  override def nullSafeEval(input: Any): Any =
    TokenMemberCounts.counts(input.asInstanceOf[UTF8String], sets, lowers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("tokenMemberSets", sets,
      "java.util.HashSet[]")
    val lowersRef = ctx.addReferenceObj("tokenMemberLowers", lowers, "boolean[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TokenMemberCounts.counts($x, $setsRef, $lowersRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
