package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared grid-window Karp-Rabin hashing for span-level dedup.
  *
  * Emits the [[RollingHash]] fold (`h = fold(bytes, (h*31+b) mod 1e9+7)`)
  * of every `window`-CHARACTER substring starting at character offsets
  * `0, stride, 2*stride, …` — the fixed sampling grid that makes
  * cross-document repeated-span detection a bucketed equi-join instead of
  * an all-substrings comparison. Positions and window width are
  * CHARACTERS (codepoints) so they mean the same thing to every later
  * stage — [[graft.ext.SpanDedup]]'s `substring` verify and removal, and
  * the oracle's `substr` grid, are all character-indexed; the hash
  * itself folds the window's UTF-8 BYTES, so it still equals
  * [[RollingHash]] of the extracted span. (The pre-r13 form gridded by
  * BYTE offsets, which coincides with characters only on ASCII — on
  * multi-byte text the downstream character-based `substring` read a
  * DIFFERENT span than the one hashed. Caught by the r13 unicode parity
  * probe.)
  *
  * One O(n) pass per document via prefix folds: with `H[i]` the fold of
  * the first `i` bytes and `P[i] = 31^i`, the fold of bytes `[l, r)` is
  * `H[r] − H[l]·P[r−l] (mod M)` — constant work per grid position even
  * though windows vary in BYTE length on multi-byte text.
  *
  * Bit-parity contract for the DuckDB oracle: each emitted value equals
  * [[RollingHash]] of `substr(text, pos+1, window)` — for ALL text, not
  * just ASCII (SpanDedupSpec pins it on the corpus,
  * UnicodeParitySpec on adversarial text).
  */
object WindowHashing {

  private val Mod = 1000000007L

  /** Grid-window hashes; empty array when the text is shorter than
    * `window` CHARACTERS (such docs can never share a full span).
    */
  def windowHashes(text: UTF8String, window: Int, stride: Int): GenericArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    // character count = UTF-8 lead bytes (continuation bytes are 10xxxxxx)
    var nc = 0
    var i = 0
    while (i < nb) { if ((bytes(i) & 0xc0) != 0x80) nc += 1; i += 1 }
    if (nc < window) return new GenericArrayData(Array.emptyLongArray)
    // cs(k) = byte offset of the k-th character; cs(nc) = nb
    val cs = new Array[Int](nc + 1)
    var c = 0
    i = 0
    while (i < nb) { if ((bytes(i) & 0xc0) != 0x80) { cs(c) = i; c += 1 }; i += 1 }
    cs(nc) = nb
    // prefix folds and powers of 31, both mod M
    val pre = new Array[Long](nb + 1)
    val pow = new Array[Long](nb + 1)
    pow(0) = 1L
    i = 0
    while (i < nb) {
      pre(i + 1) = (pre(i) * 31L + (bytes(i) & 0xff)) % Mod
      pow(i + 1) = pow(i) * 31L % Mod
      i += 1
    }
    val out = new Array[Long]((nc - window) / stride + 1)
    var e = 0
    var p = 0
    while (p <= nc - window) {
      val l = cs(p)
      val r = cs(p + window)
      out(e) = ((pre(r) - pre(l) * pow(r - l) % Mod) + Mod) % Mod
      e += 1
      p += stride
    }
    new GenericArrayData(out)
  }
}

/** `window_rolling_hashes(text)`: grid-window Karp-Rabin hashes (see
  * [[WindowHashing]]). Codegen emits a single static call — the loop
  * lives in compiled Scala (the [[ShingleHashes]] pattern).
  */
case class WindowRollingHashes(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  require(window > 0 && stride > 0, "window and stride must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "window_rolling_hashes")

  override def nullSafeEval(input: Any): Any =
    WindowHashing.windowHashes(input.asInstanceOf[UTF8String], window, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.WindowHashing.windowHashes($x, $window, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WindowRollingHashes {
  def of(text: Column, window: Int, stride: Int): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(WindowRollingHashes(expression(text), window, stride))
  }
}
