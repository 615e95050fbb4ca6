package graft

import graft.core.{BoundedFit, Catalog}
import graft.ml.{SegmentationAutoK, SegmentationLloyd, SegmentationPipeline}
import org.scalatest.funsuite.AnyFunSuite

/** Engine-side laws for the auto-K selection twin (the oracle gate
  * covers Spark≡DuckDB; these pin the semantics the oracle replays).
  */
class AutoKSpec extends AnyFunSuite with SharedSpark {

  test("report emits one row per K with exactly one selected, ranked by (sil desc, wssse asc, k asc)") {
    val c = Catalog(spark, sf)
    val rows = SegmentationAutoK.report(c.customer, c.orders).collect()
    assert(rows.map(_.getInt(0)).toSeq == (2 to 8))
    assert(rows.count(_.getInt(3) == 1) == 1)
    val best = rows.minBy(r => (-r.getLong(2), r.getDouble(1), r.getInt(0)))
    assert(best.getInt(3) == 1,
      s"selected row is not the (sil desc, wssse asc, k asc) winner: ${rows.mkString("; ")}")
  }

  test("per-K WSSSE equals the driver-computed sum of nearest squared distances") {
    val c = Catalog(spark, sf)
    val q = SegmentationLloyd.quantized(
      SegmentationPipeline.features(c.customer, c.orders))
    val data = q.select("q1", "q2", "q3", "q4").collect()
      .map(r => Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sample = SegmentationLloyd.fitSample(q)
    val reported = SegmentationAutoK.report(c.customer, c.orders).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Seq(2, 5, 8).foreach { k =>
      val cents = BoundedFit.lloyd(sample, k, iters = 3)
      val wssse = data.map { v =>
        cents.map(ct => v.zip(ct).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }.map(BigDecimal(_)).sum
      assert(reported(k) == wssse.toString.toDouble,
        s"k=$k reported ${reported(k)} vs driver $wssse")
    }
  }

  test("empty inputs: full K range, null criteria, deterministic selection at kMin") {
    val c = Catalog(spark, sf)
    val customer0 = c.customer.limit(0)
    val orders0 = c.orders.limit(0)
    val rows = SegmentationAutoK.report(customer0, orders0).collect()
    assert(rows.length == 7)
    assert(rows.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(rows.filter(_.getInt(3) == 1).map(_.getInt(0)).toSeq == Seq(2))
  }
}
