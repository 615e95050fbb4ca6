package graft

import graft.core.{Catalog, GraftSession, QueryTrace}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-loop probe: what does pre-sorting the oriented cache by `src`
  * buy the triangle wedge self-join (the r20 sorted-cache change cited
  * in `Triangles.scala` and SCALING.md §4)? Min-of-2 per arm, traced.
  * Usage: Test/runMain graft.ProbeIterJoin2 [sfDir]
  */
object ProbeIterJoin2 {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("probe-iterjoin2", 32)
    val li = Catalog(spark, sf).lineitem
    li.count()
    def edges: DataFrame = Probes.coPurchaseEdges(li)
    def triRun(sortCache: Boolean): Long = {
      val und = edges.selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
        .where(col("u") =!= col("v")).distinct().cache()
      val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")).cache()
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val base = und
        .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
        .select(
          when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, col("dv")).otherwise(col("du")).as("ddeg"))
        .repartition(col("src"))
      val oriented = (if (sortCache) base.sortWithinPartitions(col("src")) else base).cache()
      oriented.count()
      und.unpersist(); deg.unpersist()
      val x = oriented.select(col("src"), col("dst").as("a"), col("ddeg").as("da"))
      val y = oriented.select(col("src"), col("dst").as("b"), col("ddeg").as("db"))
      val wedges = x.join(y, Seq("src"))
        .where(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")))
      val n = wedges.count()
      oriented.unpersist()
      n
    }
    for ((arm, sorted) <- Seq("unsorted" -> false, "sorted" -> true))
      Trace.report(s"g2 wedge, $arm cache",
        (1 to 2).map(_ => QueryTrace.timed(spark)(triRun(sorted))).minBy(_.wall))
    spark.stop()
  }
}
