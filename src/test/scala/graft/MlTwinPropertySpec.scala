package graft

import graft.Rows.canon
import graft.core.Catalog
import graft.ml.{AlsTwin, ChurnTree, SegmentationLloyd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-layout invariance for the three hash-gated deterministic ML
  * twins. The graph family already carries this law (ExtPropertySpec
  * pins PageRank bit-identical under row order/partitioning); the twins
  * lean on the same promise through a sharper mechanism — the bounded
  * driver fit is `orderBy(keys).limit(cap).collect()`, so the fit
  * SAMPLE (and therefore every factor/split/centroid literal downstream)
  * must be a function of the DATA alone, never of how the input happens
  * to be partitioned or ordered. A layout-sensitive sample would still
  * hash-green on the driver gate (Verify reads one fixed layout) and
  * only diverge in production under AQE re-partitioning or upstream
  * shuffle changes — exactly the failure this law makes a permanent
  * regression case. Seeded scrambles, three rounds each.
  */
class MlTwinPropertySpec extends AnyFunSuite with SharedSpark {

  private def scramble(df: DataFrame, seed: Int): DataFrame =
    df.orderBy(rand(seed)).repartition(7)

  test("ml_als_twin is bit-identical under input row order and partitioning") {
    val c = Catalog(spark, sf)
    val base = canon(AlsTwin.recommend(c.orders, c.lineitem))
    (1 to 3).foreach { i =>
      val got = canon(AlsTwin.recommend(
        scramble(c.orders, 40 + i), scramble(c.lineitem, 50 + i)))
      assert(got == base, s"ALS twin diverged under scramble $i")
    }
  }

  test("ml_churn_twin is bit-identical under input row order and partitioning") {
    val c = Catalog(spark, sf)
    val base = canon(ChurnTree.scores(c.customer, c.orders, c.lineitem))
    (1 to 3).foreach { i =>
      val got = canon(ChurnTree.scores(
        scramble(c.customer, 60 + i), scramble(c.orders, 70 + i),
        scramble(c.lineitem, 80 + i)))
      assert(got == base, s"churn twin diverged under scramble $i")
    }
  }

  test("ml_kmeans_lloyd is bit-identical under input row order and partitioning") {
    val c = Catalog(spark, sf)
    val base = canon(SegmentationLloyd.segments(c.customer, c.orders))
    (1 to 3).foreach { i =>
      val got = canon(SegmentationLloyd.segments(
        scramble(c.customer, 90 + i), scramble(c.orders, 95 + i)))
      assert(got == base, s"Lloyd twin diverged under scramble $i")
    }
  }

  test("ml_kmeans_autok is bit-identical under input row order and partitioning") {
    val c = Catalog(spark, sf)
    val base = canon(graft.ml.SegmentationAutoK.report(c.customer, c.orders))
    (1 to 3).foreach { i =>
      val got = canon(graft.ml.SegmentationAutoK.report(
        scramble(c.customer, 100 + i), scramble(c.orders, 105 + i)))
      assert(got == base, s"auto-K twin diverged under scramble $i")
    }
  }
}
