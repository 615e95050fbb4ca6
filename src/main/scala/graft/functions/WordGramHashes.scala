package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass hashed WORD n-grams — the word-token sibling of
  * [[ShingleHashes]]' character shingles, for the containment /
  * decontamination family.
  *
  * The relational formulation (`transform(wordGramsCol(text, n), g =>
  * Md5Prefix.of(g))`) is semantically right but structurally slow:
  * Spark's higher-order functions are CodegenFallback, and the outer
  * `split(trim(text))` referenced inside the `transform` lambda is
  * re-evaluated PER ELEMENT in interpreted mode — every gram
  * re-splits the whole document, O(words²) regex work per row (measured:
  * the gram build was 7.9 s of d14's 7.8-s sf0.1 bench cost, everything
  * downstream ~1 s). Here the split runs once, a reused MessageDigest
  * hashes each gram, and codegen emits one static call.
  *
  * Bit-parity contract (what the DuckDB oracles replay, unchanged from
  * the relational form):
  *  - tokens = `trim(text)` (ASCII space only, Spark's default trim)
  *    split by java-regex `\s+` with limit -1 — a leading tab/newline
  *    therefore yields a leading EMPTY token, exactly like
  *    `split(trim(text), '\\s+')`;
  *  - fewer than `n` tokens → empty array (the `when(size >= n)` guard);
  *  - gram i = tokens[i..i+n-1] joined by a single space, document order,
  *    duplicates kept;
  *  - hash = [[Md5Prefix]] lane 0 of the gram's UTF-8 bytes.
  */
object WordGramHashes {

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  def wordGramHashes(text: UTF8String, n: Int): GenericArrayData = {
    // UTF8String.trim() strips ASCII 0x20 only — the StringTrim twin
    val tokens = Whitespace.split(text.trim().toString, -1)
    if (tokens.length < n) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](tokens.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      md.reset()
      out(i) = Md5Prefix.fold(md.digest(sb.toString.getBytes(StandardCharsets.UTF_8)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_gram_hashes(text)`: document-order hashed word n-grams (see
  * [[WordGramHashes]]). Codegen emits a single static call — the loop
  * lives in compiled Scala, keeping the generated class tiny while the
  * hot path avoids interpreted lambda dispatch (same design as
  * [[HashedNgrams]]).
  */
case class WordGramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def prettyName: String = "word_gram_hashes"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "word_gram_hashes")

  override def nullSafeEval(input: Any): Any =
    WordGramHashes.wordGramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.WordGramHashes.wordGramHashes($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGramHashesExpr {
  def of(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(WordGramHashesExpr(expression(text), n))
  }
}
