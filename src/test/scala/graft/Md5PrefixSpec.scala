package graft

import java.nio.charset.StandardCharsets

import graft.functions.Md5Prefix
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The three forms of the engine's md5-prefix hash against references
  * written out here by hand: the JVM fold (both lanes) against Spark
  * evaluating `conv(substring(md5(x), 1|13, 12), 16, 10)`, the Spark
  * column and bucket forms against the fold, and the DuckDB fragment
  * against its literal text.
  */
class Md5PrefixSpec extends AnyFunSuite with SharedSpark {

  // ASCII, empty, multi-byte UTF-8 (2-, 3- and 4-byte code points) and
  // an AlsTwin init key
  private val inputs = Seq("the quick brown fox", "", "naïve 東京 🙂", "als:7:1")

  private def jvm(x: String, lane: Int): Long = Md5Prefix.fold(
    java.security.MessageDigest.getInstance("MD5").digest(x.getBytes(StandardCharsets.UTF_8)), lane)

  test("the JVM fold equals Spark's conv(substring(md5(x))) in both lanes") {
    import spark.implicits._
    val got = inputs.toDF("x").selectExpr("x",
      "CAST(conv(substring(md5(CAST(x AS BINARY)), 1, 12), 16, 10) AS BIGINT)",
      "CAST(conv(substring(md5(CAST(x AS BINARY)), 13, 12), 16, 10) AS BIGINT)")
      .as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._1).sorted == inputs.sorted)
    for ((x, lane0, lane1) <- got) {
      assert(jvm(x, 0) == lane0, s"lane 0 of '$x'")
      assert(jvm(x, 1) == lane1, s"lane 1 of '$x'")
    }
  }

  test("the Spark column is lane 0 and its bucket is lane 0 mod m, never negative") {
    import spark.implicits._
    val ms = Seq(2L, 100L, 1024L, 2001L)
    val got = inputs.toDF("x")
      .select(col("x") +: Md5Prefix.of(col("x")) +: ms.map(m => Md5Prefix.bucket(col("x"), m)): _*)
      .collect()
    for (r <- got) {
      val x = r.getString(0)
      assert(r.getLong(1) == jvm(x, 0), s"of('$x')")
      for ((m, i) <- ms.zipWithIndex) {
        val b = r.getLong(2 + i)
        assert(b == jvm(x, 0) % m && b >= 0L, s"bucket('$x', $m) = $b")
      }
    }
  }

  test("the DuckDB fragment is the hex-prefix cast of the lane") {
    assert(Md5Prefix.sql("shingle") == "CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT)")
    assert(Md5Prefix.sql("shingle", 1) == "CAST('0x' || substr(md5(shingle), 13, 12) AS BIGINT)")
  }
}
