package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenizer-faithful token counting: deterministic greedy longest-match
  * segmentation over an embedded subword vocabulary, the BPE-inference
  * stand-in (real BPE *inference* IS greedy longest-match over a merges
  * vocab for most fast tokenizers; only training differs). Whitespace
  * token counts under-budget sequence packing — multi-piece words and
  * space-prefixed merges make the tokenizer count the one a training
  * pipeline actually packs by.
  *
  * The vocabulary is DATA checked into the repo (this object): full
  * words, their space-prefixed merge forms (GPT-style), and 2-char
  * subword pieces; any byte with no vocab match is consumed as a
  * single-BYTE fallback token (byte-level BPE behavior — a 4-byte emoji
  * with no merge is 4 fallback tokens, as in GPT-style byte BPE — so the
  * count is total and never fails on OOV text).
  *
  * Greedy semantics the DuckDB oracle replays step for step: at each
  * BYTE position take the LONGEST vocab token matching, else advance one
  * byte; every emission (vocab or fallback) counts 1.
  */
object BpeTokenize {

  /** The embedded merges vocabulary (90 entries). Order is irrelevant —
    * matching is longest-first; duplicates removed.
    */
  val vocab: Seq[String] = {
    val words = Seq(
      "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
      "small", "slow", "merge", "order", "vector", "line", "table", "data",
      "agg", "value", "key", "stream", "window", "spark", "group", "part",
      "big", "sort", "query", "fast", "the", "dup")
    val pieces = Seq(
      "jo", "ha", "sc", "cu", "st", "co", "fi", "ta", "da", "va", "ke", "wi",
      "sp", "gr", "pa", "qu", "fa", "me", "or", "ve", "li", "so", "sl", "sm",
      "ba", "bi", "ro", "ag", "du", "th")
    (words ++ words.map(" " + _) ++ pieces).distinct
  }

  // per-first-byte candidate lists, longest first — precomputed once per
  // JVM so the match loop never allocates or re-sorts
  private val byFirst: Array[Array[Array[Byte]]] = {
    val m = Array.fill(256)(List.empty[Array[Byte]])
    vocab.foreach { t =>
      val b = t.getBytes("UTF-8")
      m(b(0) & 0xff) = b :: m(b(0) & 0xff)
    }
    m.map(_.sortBy(-_.length).toArray)
  }

  def countTokens(text: UTF8String): Long = {
    val bytes = text.getBytes
    var pos = 0
    var n = 0L
    while (pos < bytes.length) {
      val cands = byFirst(bytes(pos) & 0xff)
      var step = 1
      var i = 0
      while (i < cands.length && step == 1) {
        val t = cands(i)
        if (t.length > 1 && pos + t.length <= bytes.length &&
          java.util.Arrays.equals(bytes, pos, pos + t.length, t, 0, t.length))
          step = t.length
        i += 1
      }
      pos += step
      n += 1
    }
    n
  }

  /** DuckDB replay of [[countTokens]] as a recursive CTE: one step per
    * emitted token, advancing by the longest vocab match at the cursor
    * (or 1 for the fallback). The cursor walks BYTES, exactly like the
    * engine: the text becomes its UTF-8 byte sequence via
    * `hex(encode(text))` and every position/length is doubled into hex
    * digits — the vocabulary is pure ASCII, so vocab matches land on
    * identical byte offsets in both engines and only the fallback stride
    * (1 byte, never 1 character) needed the byte-exact form (the
    * earlier per-character replay over-merged multi-byte characters —
    * r13 unicode parity probe). Emits `name(doc_id, n_bpe_tokens)`
    * CTEs; prepend `WITH RECURSIVE` and select from `name`.
    */
  def oracleCtes(name: String, table: String = "documents"): String = {
    val values = vocab.map(t => s"('$t')").mkString(", ")
    s"""bpe_vocab(tok) AS (VALUES $values),
       |bpe_vhx AS (
       |  SELECT tok, hex(encode(tok)) AS thx, octet_length(encode(tok)) AS tlen
       |  FROM bpe_vocab),
       |bpe_docs AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
       |  FROM $table),
       |bpe_step AS (
       |  SELECT doc_id, 1 AS pos, 0 AS n FROM bpe_docs
       |  UNION ALL
       |  SELECT s.doc_id,
       |    s.pos + coalesce((SELECT max(tlen) FROM bpe_vhx
       |                      WHERE tlen > 1
       |                        AND substr(d.hx, 2 * (s.pos - 1) + 1, 2 * tlen) = thx), 1),
       |    s.n + 1
       |  FROM bpe_step s JOIN bpe_docs d USING (doc_id)
       |  WHERE s.pos <= d.nb),
       |$name AS (
       |  SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_bpe_tokens
       |  FROM bpe_step s JOIN bpe_docs d USING (doc_id)
       |  WHERE s.pos > d.nb)""".stripMargin
  }
}

/** `bpe_token_count(text)`: greedy longest-match token count over the
  * embedded [[BpeTokenize.vocab]]. Codegen emits one static call (the
  * [[ShingleHashes]] pattern).
  */
case class BpeTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "bpe_token_count")

  override def nullSafeEval(input: Any): Any =
    BpeTokenize.countTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.BpeTokenize.countTokens($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeTokenCount {
  def of(text: Column): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(BpeTokenCount(expression(text)))
  }
}
