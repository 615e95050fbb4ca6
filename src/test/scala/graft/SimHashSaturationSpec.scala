package graft

import graft.ext.SimHash
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SimHash pigeonhole saturation guard (r19 verdict item 2).
  *
  * The r20 saturation probe (`bench_records/r20_simhash_saturation.json`)
  * measured the lane's collapse as mean block-bucket occupancy
  * λ = n / 2^blockWidth approaches the stop-bucket cap — recall 0.95 at
  * λ/cap = 0.64, 0.355 at 1.28, with the ratio (not n alone) governing.
  * `pairs()` now rejects corpora past λ > bound × cap with a named error
  * instead of silently returning a recall-dead pair set. This spec pins
  * the guard's arithmetic, its named error, and the 0.5 bound itself at
  * its boundary — using a NARROW block layout (maxHamming=15 → 16
  * blocks of 4 bits, space 2⁴=16) so a few hundred docs cross the
  * ceiling that needs millions at the default 16-bit layout.
  */
class SimHashSaturationSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // 500 docs over 4-bit blocks: λ = 500/16 = 31.25
  private def docs = spark.range(0, 500)
    .selectExpr("id AS doc_id",
      "concat('alpha beta gamma ', md5(cast(id AS string)), ' delta ', md5(cast(id*7 AS string))) AS text")

  test("past the measured ceiling pairs() fails loudly, naming the occupancy, the bound, and the remedies") {
    // λ=31.25 > 0.5 × cap=50 = 25 → named rejection
    val e = intercept[IllegalArgumentException](
      SimHash.pairs(docs, maxHamming = 15, bucketCap = 50))
    for (needle <- Seq("block space saturated", "occupancy", "MinHash",
        "r20_simhash_saturation"))
      assert(e.getMessage.contains(needle),
        s"guard error must carry '$needle', got: ${e.getMessage.take(400)}")
  }

  test("the guard is the ratio to the cap, not an absolute doc count") {
    // same corpus, cap 200: λ/cap = 0.16 — healthy, runs to completion
    assert(SimHash.pairs(docs, maxHamming = 15, bucketCap = 200).count() >= 0L)
    // and an uncapped run is exempt (no stop-bucket drop ⇒ no cap-induced
    // recall loss — the caller explicitly chose the cost)
    assert(SimHash.pairs(docs, maxHamming = 15, bucketCap = Int.MaxValue).count() >= 0L)
  }

  test("the bound is the measured 0.5 knee, pinned at its boundary") {
    assert(SimHash.maxOccupancyPerCap == 0.5, "the bound must be the measured 0.5 knee")
    // λ = 31.25: 0.5 × 63 = 31.5 admits the corpus, 0.5 × 62 = 31 does not
    assert(SimHash.pairs(docs, maxHamming = 15, bucketCap = 63).count() >= 0L)
    val e = intercept[IllegalArgumentException](
      SimHash.pairs(docs, maxHamming = 15, bucketCap = 62))
    assert(e.getMessage.contains("bucketCap=62"), e.getMessage.take(400))
  }

  test("the default 16-bit layout admits gate-scale corpora untouched") {
    // 2000 docs at the default 4×16-bit layout: λ = 2000/65536 ≈ 0.03 —
    // three orders of magnitude inside the bound; d5/d6 gates stay green
    val small = spark.range(0, 2000)
      .selectExpr("id AS doc_id",
        "concat('w x y z ', md5(cast(id AS string))) AS text")
    assert(SimHash.pairs(small).count() >= 0L)
  }
}
