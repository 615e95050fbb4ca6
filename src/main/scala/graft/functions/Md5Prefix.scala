package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's shared hash: 12 hex chars of an md5, read as an
  * unsigned 48-bit integer. Lane 0 is hex chars 1–12 (digest bytes
  * 0–5), lane 1 hex chars 13–24 (bytes 6–11). Dedup, text analysis,
  * the sketches and the reproducible splits all stand on it, and the
  * DuckDB oracles replay it, which is what lets the hash gate check
  * those operators (murmur/xxhash forms could never be replayed by
  * another engine).
  *
  * ONE definition, in the three forms the engine needs, so the scheme
  * cannot silently diverge between call sites or engines:
  *  - [[of]] / [[bucket]]: the Spark Column, `conv(substring(md5(s),
  *    1, 12), 16, 10)` and its `pmod(…, m)`;
  *  - [[sql]]: the DuckDB fragment, `CAST('0x' || substr(md5(s), …, 12)
  *    AS BIGINT)`;
  *  - [[fold]]: the JVM form the native kernels ([[ShingleHashes]],
  *    [[WordGramHashes]]) and driver-side fits use, folding digest bytes
  *    big-endian instead of formatting hex and parsing it back.
  * The fold and Spark's `conv`/`substring` are two independent
  * computations of the same value; the parity specs pin them equal.
  * Lane 1 has no Spark form: only the MinHash `b` term reads it, and
  * its Spark side is the native kernel.
  */
object Md5Prefix {

  /** Lane 0 of the UTF-8 bytes of string column `s`, as a long. */
  def of(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 12), 16, 10).cast("long")

  /** [[of]] mod `m`, in `[0, m)`. */
  def bucket(s: Column, m: Long): Column = pmod(of(s), lit(m))

  /** DuckDB fragment: `lane` of the md5 of VARCHAR expression `s`, a
    * non-negative BIGINT.
    */
  def sql(s: String, lane: Int = 0): String =
    s"CAST('0x' || substr(md5($s), ${1 + 12 * lane}, 12) AS BIGINT)"

  /** `lane` of an md5 `digest`: bytes `[6·lane, 6·lane + 6)` read
    * big-endian, equal to the lane's 12 hex chars parsed base 16.
    * Formatting the digest to hex and parsing it back instead spent
    * most of AlsTwin's fit driver wall (~40k init hashes × 16
    * String.format calls, OPTIMIZATION_r21.md).
    */
  def fold(digest: Array[Byte], lane: Int = 0): Long = {
    var v = 0L
    var i = 6 * lane
    while (i < 6 * lane + 6) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v
  }
}
