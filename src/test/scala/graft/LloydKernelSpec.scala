package graft

import graft.core.BoundedFit
import org.scalatest.funsuite.AnyFunSuite

/** [[BoundedFit.lloyd]], the integer Lloyd kernel both k-means twins fit
  * with, against a straight-line reference that scores by the FULL
  * squared distance (what the oracles order by) on tie-heavy integer
  * data. The kernel's `|c|² − 2·v·c` score drops the per-row constant
  * `|v|²`, so every assignment, tie included, must agree.
  */
class LloydKernelSpec extends AnyFunSuite {

  private def reference(data: Array[Array[Long]], k: Int, iters: Int): Array[Array[Long]] = {
    var cents = data.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      def d2(v: Array[Long], c: Array[Long]) = v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      val cell = data.map(v => cents.indices.minBy(c => (d2(v, cents(c)), c)))
      cents = cents.indices.map { c =>
        val members = data.indices.filter(cell(_) == c).map(data(_))
        if (members.isEmpty) cents(c)
        else cents(c).indices.map(i => Math.floorDiv(members.map(_(i)).sum, members.length.toLong)).toArray
      }.toArray
    }
    cents
  }

  private def same(a: Array[Array[Long]], b: Array[Array[Long]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }

  private def show(a: Array[Array[Long]]): String = a.map(_.mkString("(", ",", ")")).mkString(" ")

  private def rows(xs: (Long, Long)*): Array[Array[Long]] = xs.map { case (a, b) => Array(a, b) }.toArray

  test("a point equidistant from two cells goes to the lower cell") {
    // seeds (0,0) and (10,0); (5,0) is 25 from both
    val data = rows((0, 0), (10, 0), (5, 0))
    val got = BoundedFit.lloyd(data, k = 2, iters = 1)
    assert(show(got) == "(2,0) (10,0)", show(got))
    assert(same(got, reference(data, 2, 1)))
  }

  test("a cell that loses all its members keeps its centroid") {
    // round 1 moves cell 2 from its seed -2 to -1 (members -2, 0); in
    // round 2 both members tie into a lower cell (-2 between -3 and -1,
    // 0 between 1 and -1), so cell 2 is empty and stays at -1
    val data = Array(3L, -3L, -2L, 1L, 1L, 0L).map(Array(_))
    val got = BoundedFit.lloyd(data, k = 3, iters = 2)
    assert(show(got) == "(1) (-3) (-1)", show(got))
    assert(same(got, reference(data, 3, 2)))
    // duplicate seeds: every row ties between cells 0 and 1, so cell 1
    // never gets a member and keeps its seed
    val dup = rows((3, -3), (3, -3), (-7, 5), (1, 1))
    val once = BoundedFit.lloyd(dup, k = 2, iters = 1)
    assert(show(once) == "(0,0) (3,-3)", show(once))
    assert(same(once, reference(dup, 2, 1)))
  }

  test("a corpus smaller than k seeds fewer cells; an empty one seeds none") {
    val data = rows((1, 2), (1, 2), (4, -6))
    val got = BoundedFit.lloyd(data, k = 5, iters = 3)
    assert(got.length == 3 && same(got, reference(data, 5, 3)), show(got))
    assert(BoundedFit.lloyd(Array.empty[Array[Long]], k = 4, iters = 3).isEmpty)
  }

  test("equals the full-squared-distance reference on tie-heavy grids") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 200) {
      val dims = 1 + trial % 4
      val n = rnd.nextInt(40)
      // values in [-3, 3] (many ties), some rows scaled to the ±10⁸ saturation bound
      val scale = if (trial % 5 == 0) 33333333L else 1L
      val data = Array.fill(n, dims)((rnd.nextInt(7) - 3).toLong * scale)
      val k = 1 + rnd.nextInt(8)
      val iters = rnd.nextInt(5)
      val got = BoundedFit.lloyd(data, k, iters)
      val want = reference(data, k, iters)
      assert(same(got, want), s"trial $trial (n=$n k=$k iters=$iters): ${show(got)} vs ${show(want)}")
    }
  }
}
