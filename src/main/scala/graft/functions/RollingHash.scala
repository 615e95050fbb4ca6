package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `rolling_hash(text)`: polynomial (Karp-Rabin) fingerprint
  * `h = fold(bytes, (h * 31 + byte) mod 1e9+7)` as a native Catalyst
  * expression with codegen.
  *
  * Document fingerprinting for corpus pipelines: a cheap, incremental,
  * order-sensitive digest (unlike set-based MinHash/SimHash) — the
  * primitive under content-defined chunking and shift-resistant dup scan.
  * A custom expression rather than a HOF chain because the per-character
  * fold over a lambda allocates per element; this loop runs over the
  * UTF8String bytes in place, inside whole-stage codegen.
  *
  * The modulus keeps values < 2^30 so `h * 31 + b` never overflows a
  * long. Bytes are unsigned; for ASCII text the value equals the
  * codepoint fold (what the SQL oracle computes via `ascii`).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  // string folds its UTF-8 bytes; binary folds the payload bytes
  // directly (the multimodal lane's natural type — frame/image payloads
  // are binary columns). Anything else is a named analysis error, not a
  // janino failure + interpreted ClassCastException (r18: the codegen
  // compile sweep caught exactly that opaque pair on an unchecked input).
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires string or binary input, got ${other.catalogString}")
  }

  private def isBinary: Boolean = child.dataType == BinaryType

  val Mod = 1000000007L

  override def nullSafeEval(v: Any): Any = {
    val bytes =
      if (isBinary) v.asInstanceOf[Array[Byte]]
      else v.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xff)) % Mod
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val get = if (isBinary) c else s"$c.getBytes()"
      s"""
         |byte[] $bytes = $get;
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xff)) % ${Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  def apply(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(new RollingHash(expression(c)))
  }

  /** DuckDB oracle fragment computing the identical UTF-8 BYTE fold:
    * `hex(encode(text))` turns the string into its byte sequence as an
    * ASCII hex string, and each `substr` pair is one byte — so the
    * replay agrees with the engine on EVERY input, not just ASCII (the
    * earlier per-character `ascii()` form coincided with the byte fold
    * on ASCII corpora but diverged on multi-byte text — caught by the
    * r13 unicode parity probe).
    */
  def oracleSql(textCol: String): String =
    // NULL text has no fingerprint: the engine expression null-propagates
    // (standard unary-expression semantics) but an unguarded list_reduce
    // over the NULL-seeded prepend folds to 0 in DuckDB
    s"""CASE WHEN $textCol IS NULL THEN NULL ELSE list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, octet_length(encode($textCol)) + 1),
       |        i -> CAST(('0x' || substr(hex(encode($textCol)), 2*i - 1, 2)) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 1000000007) END""".stripMargin
}
