package graft

import graft.core.{Catalog, GraftSession}
import graft.ext.{AnnIvf, AnnPq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off PQ and IVF-PQ recall probe (dev tool, not a test): top-5
  * recall of flat PQ and of IVF x PQ against the brute-force top-5.
  */
object ProbePq {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("probe-pq", 8)
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = Catalog(spark, sf).embeddings.cache()
      val q = e.filter(col("vec_id") < 10)
      def pairs(df: DataFrame) =
        df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
      val want = pairs(graft.queries.ExtensionQueries.bruteTopK(e, q, 5))
      def recall(got: DataFrame): Double = pairs(got).intersect(want).size.toDouble / want.size
      val cb = AnnPq.fixedCodebooks(e)
      println(s"PQRECALL $sf = ${recall(AnnPq.topK(e, q, 5, cb))}")
      println(s"IVFPQ_RECALL $sf = ${recall(AnnPq.ivfPqTopK(e, q, 5, AnnIvf.fixedCentroids(e, 16), cb))}")
      e.unpersist()
    }
  }
}
