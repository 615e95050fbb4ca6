package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared one-pass shingle hashing for the dedup family.
  *
  * The relational formulation — `transform(charNgrams(text), g =>
  * Md5Prefix.of(g))` plus an explode + 64-min groupBy for MinHash
  * signatures — is semantically right but pays two structural costs
  * at scale: Spark's higher-order functions are CodegenFallback
  * (per-element interpreted lambda dispatch over millions of
  * shingles), and the signature aggregate shuffles
  * (doc_id, shingle-hash) rows only to take 64 per-doc minimums. Both
  * collapse into a narrow per-row pass: hash each distinct shingle once
  * with a reused MessageDigest and either emit the sorted 48-bit gram
  * hashes ([[HashedNgrams]]) or fold the Kirsch-Mitzenmacher minimums
  * in-place ([[MinHashSignature]]) — no lambda dispatch, no explode, no
  * shuffle.
  *
  * Bit-parity contract (what the DuckDB oracles replay, unchanged):
  * shingles are the DISTINCT (first-occurrence) code-point n-grams of
  * `substr` semantics; gram hash = [[Md5Prefix]] lane 0; `a = hash %
  * P`, `b` = lane 1 `% P`; `sig_j = min over shingles of (a + j*b) %
  * P`. All exact integer arithmetic — engine- and order-independent.
  */
object ShingleHashes {

  /** Distinct code-point n-grams of `text` (first-occurrence order),
    * hashed; returns null-free UTF8String bytes path only.
    */
  private def distinctShingleDigests(text: UTF8String, n: Int): java.util.ArrayList[Array[Byte]] = {
    val out = new java.util.ArrayList[Array[Byte]]()
    val chars = text.numChars()
    if (chars < n) return out
    val seen = new java.util.HashSet[UTF8String]()
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i <= chars - n) {
      val g = text.substringSQL(i + 1, n)
      if (seen.add(g)) {
        md.reset()
        out.add(md.digest(g.getBytes))
      }
      i += 1
    }
    out
  }

  /** Sorted 48-bit gram hashes, md5-collision duplicates kept —
    * identical multiset to `sort_array(transform(charNgrams(text, n),
    * g => Md5Prefix.of(g)))`.
    */
  def gramHashes(text: UTF8String, n: Int): GenericArrayData = {
    val digests = distinctShingleDigests(text, n)
    val out = new Array[Long](digests.size())
    var i = 0
    while (i < out.length) { out(i) = Md5Prefix.fold(digests.get(i)); i += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** The full `numHashes`-element MinHash signature in one pass; empty
    * array when the text is shorter than `n` (callers filter such docs,
    * matching the explode formulation where they produce no row).
    */
  def minHashSignature(text: UTF8String, n: Int, numHashes: Int, p: Long): GenericArrayData = {
    val digests = distinctShingleDigests(text, n)
    if (digests.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < digests.size()) {
      val d = digests.get(i)
      val a = Md5Prefix.fold(d) % p
      val b = Md5Prefix.fold(d, 1) % p
      var j = 0
      while (j < numHashes) {
        val h = (a + j * b) % p
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private[functions] def checkText(dt: DataType, name: String): TypeCheckResult = dt match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires a string input, got ${other.catalogString}")
  }
}

/** `hashed_ngrams(text)`: sorted distinct-shingle 48-bit hashes (see
  * [[ShingleHashes]]). Codegen emits a single static call — the loop
  * lives in compiled Scala, not generated Java, so the generated class
  * stays tiny while the hot path avoids interpreted lambda dispatch.
  */
case class HashedNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "hashed_ngrams")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.gramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleHashes.gramHashes($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedNgrams {
  def of(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(HashedNgrams(expression(text), n))
  }
}

/** `minhash_signature(text)`: the whole signature vector in one pass
  * (see [[ShingleHashes]]); empty array for texts shorter than `n`.
  */
case class MinHashSignature(child: Expression, n: Int, numHashes: Int, p: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleHashes.checkText(child.dataType, "minhash_signature")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.minHashSignature(input.asInstanceOf[UTF8String], n, numHashes, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleHashes.minHashSignature($x, $n, $numHashes, ${p}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  def of(text: Column, n: Int, numHashes: Int, p: Long): Column = {
    import org.apache.spark.sql.GraftBridge._
    column(MinHashSignature(expression(text), n, numHashes, p))
  }
}
