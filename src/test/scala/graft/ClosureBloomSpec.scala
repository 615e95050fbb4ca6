package graft

import graft.ext.Triangles
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sketch-honesty pin (r16): `Triangles.closureBloom` must deliver
  * the FPP it was asked for at sizes PAST Spark's silent 64M-bit clamp.
  * Spark 4.1's `stat.bloomFilter` caps every sketch at
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (67,108,864 —
  * even via the explicit-numBits overload), which turns a requested 1%
  * FPP into 11% at m=10^7 and a ~99% no-op by m=5·10^7; the regime-2
  * closure prune shipped in that state for three rounds, measured live
  * as its pruned wedge shuffle converging to the unpruned semi-join's
  * (`bench_records/r16_regime3_probe.json`). This spec builds the
  * sketch at 8M keys — optimal sizing 76.7M bits, just past the clamp,
  * small enough for the suite — and asserts the three facts the fix
  * restores: honest bit size (the assertion a stat-based build fails),
  * zero false negatives, and a measured false-positive rate at the
  * requested 1% (≤ 2.5% leaves generous sampling slack; the clamped
  * build measures ~15% here).
  */
class ClosureBloomSpec extends AnyFunSuite with SharedSpark {

  test("closureBloom stays at the requested FPP past the 64M-bit stat clamp") {
    val n = 8000000L
    // disjoint (src, dst) keyspaces for inserts vs probes: inserted
    // pairs are (i, i + 10^9), probes are (i + 2·10^9, i + 3·10^9)
    val inserted = spark.range(0, n)
      .select(col("id").as("src"), (col("id") + 1000000000L).as("dst"))
    val bf = Triangles.closureBloom(inserted, n)

    val optimalBits = math.ceil(-n * math.log(0.01) /
      (math.log(2) * math.log(2))).toLong
    assert(bf.bitSize() >= optimalBits,
      s"sketch sized ${bf.bitSize()} bits < optimal $optimalBits — the " +
        "silent 64M-bit clamp is back (a stat.bloomFilter-style build)")

    // the probe seam hashes with Catalyst's xxhash64, so sample hashes
    // are computed by the engine exactly as countUnd's UDF would
    def hashes(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.select(expr("xxhash64(src, dst)")).collect().map(_.getLong(0))

    val insertedSample = hashes(inserted.where(col("src") % 40 === 0))
    val falseNegatives = insertedSample.count(h => !bf.mightContainLong(h))
    assert(falseNegatives == 0,
      s"$falseNegatives of ${insertedSample.length} inserted keys probe " +
        "absent — a Bloom filter can NEVER false-negative; the build or " +
        "merge is broken")

    val probeSample = hashes(spark.range(0, 200000L)
      .select((col("id") + 2000000000L).as("src"),
        (col("id") + 3000000000L).as("dst")))
    val fpRate = probeSample.count(bf.mightContainLong).toDouble / probeSample.length
    assert(fpRate <= 0.025,
      f"measured false-positive rate $fpRate%.4f exceeds the requested 1%% " +
        "(plus sampling slack) — the sketch is undersized or saturated")
  }

  test("sketch is bit-identical across partials counts; a non-positive bound is a named error") {
    // the bound is pure cost tuning: the merged sketch must be
    // bit-identical at any partials count (OR is associative and the
    // sizing depends only on m), so a caller passing another bound can
    // never change results
    val n = 200000L
    val inserted = spark.range(0, n)
      .select(col("id").as("src"), (col("id") + 1000000000L).as("dst"))
      .repartition(14)
    def bytesAt(p: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      Triangles.closureBloom(inserted, n, maxPartials = p).writeTo(bos)
      bos.toByteArray
    }
    assert(java.util.Arrays.equals(bytesAt(2), bytesAt(7)),
      "sketch bits differ across partials counts — the bound is no longer cost-only")
    // an explicit non-positive maxPartials is a named error, not a
    // coalesce to zero partitions (r19 advisory)
    for (bad <- Seq(0, -4, -1)) {
      val e = intercept[IllegalArgumentException](
        Triangles.closureBloom(inserted, n, maxPartials = bad))
      assert(e.getMessage.contains("maxPartials"),
        s"error for explicit $bad must name the argument")
    }
  }
}
