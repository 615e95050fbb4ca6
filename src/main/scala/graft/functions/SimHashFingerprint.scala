package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(text)`: the 64-bit SimHash fingerprint as a 64-char
  * '0'/'1' string (bit 0 first), in one per-row pass.
  *
  * Same contract as the exploded formulation the DuckDB oracle replays
  * ([[graft.ext.SimHash.fingerprintsOracle]]): whitespace tokens
  * (`\s+` split, empties dropped), one md5 per token OCCURRENCE, bit b
  * set iff `2 * count_b > n_tokens`. Returns NULL for token-less docs —
  * the explode formulation produced no row for them (callers filter).
  *
  * The aggregate formulation needed 15-bit lane packing to squeeze 64
  * per-bit counts into 16 shuffled longs; evaluated per row there is no
  * shuffle and no packing — 64 plain int counters — but the same
  * >= 2^15-token guard still RAISES, because the oracle's packed replay
  * errors there and silent divergence between engines is the one
  * unacceptable outcome.
  */
object SimHashFingerprint {

  val maxTokens: Int = 1 << 15

  // hoisted out of the per-row path: compiling \s+ and constructing an
  // MD5 MessageDigest per row dominates short docs (MessageDigest is not
  // thread-safe, hence thread-local — one per codegen'd task thread)
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Null when the text has no tokens. */
  def fingerprint(text: UTF8String): UTF8String = {
    val tokens = ws.split(text.toString)
    val md = localMd.get()
    val counts = new Array[Int](64)
    var n = 0
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      if (tok.nonEmpty) {
        n += 1
        md.reset()
        val digest = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // hex digit d = nibble d of the digest (high nibble first);
        // digit d's bit k is fingerprint bit 4*d + k
        var d = 0
        while (d < 16) {
          val byte = digest(d / 2) & 0xff
          val v = if (d % 2 == 0) byte >> 4 else byte & 0xf
          var k = 0
          while (k < 4) {
            if (((v >> k) & 1) == 1) counts(4 * d + k) += 1
            k += 1
          }
          d += 1
        }
      }
      t += 1
    }
    if (n == 0) return null
    if (n >= maxTokens)
      throw new IllegalArgumentException(
        s"simhash lane overflow: doc has $n tokens (limit ${maxTokens - 1}); widen laneBits")
    val sb = new java.lang.StringBuilder(64)
    var b = 0
    while (b < 64) { sb.append(if (2 * counts(b) > n) '1' else '0'); b += 1 }
    UTF8String.fromString(sb.toString)
  }

  def of(text: Column): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(SimHashFingerprint(expression(text)))
  }
}

case class SimHashFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "simhash64")

  override def nullSafeEval(input: Any): Any =
    SimHashFingerprint.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val result = nullSafeCodeGen(ctx, ev, x =>
      s"""
         |${ev.value} = graft.functions.SimHashFingerprint.fingerprint($x);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
    result
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
