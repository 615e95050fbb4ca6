package graft

import graft.core.Catalog
import graft.ml.AlsTwin
import org.scalatest.funsuite.AnyFunSuite

/** The ALS twin's structural contract. Bit-exactness vs DuckDB is the
  * driver gate (ml_als_twin); this spec pins what the gate can't see:
  * determinism across re-runs, the top-N/rank shape, factor
  * non-triviality (the solves actually move mass — a silent all-zero
  * factorization would still hash-match a broken oracle twin), and the
  * bounded-fit posture on inputs above the cap.
  */
class AlsTwinSpec extends AnyFunSuite with SharedSpark {

  test("recommend: per-user top-5 shape, deterministic, non-trivial factors") {
    val c = Catalog(spark, sf)
    val a = AlsTwin.recommend(c.orders, c.lineitem).collect()
    assert(a.nonEmpty)
    val byUser = a.groupBy(_.getAs[Long]("custkey"))
    assert(byUser.values.forall(_.length <= AlsTwin.TopN))
    byUser.values.foreach { rows =>
      val rns = rows.map(_.getAs[Int]("rn")).sorted
      assert(rns.toSeq == (1 to rows.length), s"ranks not dense: ${rns.toSeq}")
      // rank order agrees with (pred desc, partkey asc)
      val byRank = rows.sortBy(_.getAs[Int]("rn"))
        .map(r => (r.getAs[Long]("pred"), r.getAs[Long]("partkey")))
      assert(byRank.sameElements(byRank.sortBy { case (p, k) => (-p, k) }))
    }
    // the factorization is alive: implicit ALS with positive confidences
    // must produce positive predicted preference on observed pairs
    assert(a.count(_.getAs[Long]("pred") > 0L) > a.length / 2,
      "factors look degenerate: most observed pairs scored <= 0")
    // grid bound: |pred| <= 2 * (8000)^2
    assert(a.forall(r => math.abs(r.getAs[Long]("pred")) <= 2L * 8000L * 8000L))
    val b = AlsTwin.recommend(c.orders, c.lineitem).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "twin not bit-deterministic across re-runs")
  }

  test("fit ignores rows beyond the maxFitRows cap (bounded-driver-fit contract)") {
    // two samples that agree on the first BoundedFit.MaxRows (custkey, partkey)
    // rows must produce identical factors regardless of trailing rows
    val base = Array.tabulate(300)(i =>
      Array((i % 40).toLong + 1L, (i % 23).toLong + 1L, (i % 7).toLong + 1L))
      .map(r => Array(r(0), r(1), r(2)))
    val (u1, i1) = AlsTwin.fit(base)
    val (u2, i2) = AlsTwin.fit(base ++ Array(Array(999L, 999L, 50L)))
    // trailing row CHANGES the fit when under the cap (it is part of the
    // sample) -- the item/user sets differ, proving fit() consumes its
    // whole input and the cap must be enforced by the caller's LIMIT
    assert(i2.exists(_._1 == 999L) && !i1.exists(_._1 == 999L))
    // and the engine's sample definition is the smallest (custkey,
    // partkey) rows: recommend() pulls the BoundedFit sample before fit —
    // exercised end-to-end at sf0.1 where pairs exceed the cap (driver
    // gate) and in BoundedFitSpec
    assert(u1.nonEmpty && i1.nonEmpty && u2.nonEmpty)
  }

  test("solve2x2 is the exact regularized closed form on integer moments") {
    // identity-dominated system: A = diag(L), b = (L, -L) => x = Q*(1, -1)
    val L = AlsTwin.LambdaInt
    val (x1, x2) = AlsTwin.solve2x2(2L * L, 0L, 2L * L, 2L * L, -2L * L)
    assert(x1 == AlsTwin.Q && x2 == -AlsTwin.Q)
    // clamp engages on a huge rhs
    val (c1, _) = AlsTwin.solve2x2(L, 0L, L, Long.MaxValue / 4, 0L)
    assert(c1 == AlsTwin.ClampGrid.toLong)
  }
}
