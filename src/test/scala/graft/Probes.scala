package graft

import scala.collection.mutable

import graft.core.QueryTrace
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the dev probes share: the one-line JSON record each prints, a
  * timed point through [[QueryTrace.timed]], and the scale probes'
  * structure-preserving replica synthesis.
  */
object Probes {
  type Record = mutable.LinkedHashMap[String, Any]

  /** `r` as one JSON object; a string value starting with `[` is a literal array. */
  def json(r: Record): String = r.map {
    case (k, v: String) if v.startsWith("[") => s""""$k":$v"""
    case (k, v: String) => s""""$k":"$v""""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  /** Min-of-`runs` timed runs of `f`, printed and recorded as `<name>_sec`
    * (the min), `<name>_runs` and `<name>_loads` (each run's wall and
    * load, when `runs` > 1) and `<name>_rows`; returns the min. The
    * harness's hygiene keeps a predecessor's cleanup out of the window:
    * without it a probe once read g5_capped_clique800 at 20.6 s for
    * following g2's 45 s wedge blowout (5.4 s alone).
    */
  def time(spark: SparkSession, r: Record, name: String, runs: Int = 1)(f: => Long): Double = {
    val rs = (1 to runs).map(_ => QueryTrace.timed(spark)(f))
    val secs = rs.map(run => math.rint(run.wall * 1000) / 1000)
    println(f"PROBE $name%-24s ${secs.min}%8.3f s  rows=${rs.head.rows}" +
      (if (runs > 1) secs.mkString("  runs=", "/", "") else ""))
    r += s"${name}_sec" -> secs.min
    if (runs > 1) {
      r += s"${name}_runs" -> secs.mkString("[", ",", "]")
      r += s"${name}_loads" -> rs.map(_.load).mkString("[", ",", "]")
    }
    r += s"${name}_rows" -> rs.head.rows
    secs.min
  }

  /** Co-purchase edges over `lineitem`, as the graph queries build them:
    * one directed edge per ordered pair of parts sharing an order.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
  }

  /** `n` replicas of `docs` with doc ids offset by replica * 10^7 and a
    * per-replica Caesar bijection over letters and digits (spaces fixed):
    * a bijection on characters is one on shingles and keeps lengths, so
    * within a replica every Jaccard value, bucket structure and length is
    * the original's, while cross-replica shingle overlap is ~zero.
    * Replica 0 is the identity; replica i > 0 rotates by
    * ((i - 1 + rotSeed) mod 25) + 1, distinct across replicas for n <= 26.
    */
  def rotatedDocs(docs: DataFrame, n: Int, rotSeed: Int = 0): DataFrame = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, i: Int) = s.drop(i % s.length) + s.take(i % s.length)
    val from = lower + upper + digits
    def to(i: Int) = rot(lower, i) + rot(upper, i) + rot(digits, i)
    def rotIdx(i: Int) = ((i - 1 + rotSeed) % 25) + 1
    val replicas = docs.sparkSession.range(0, n).select(col("id").as("replica"))
    val rotated = (1 until n).foldLeft(when(col("replica") === 0, col("text"))) {
      (acc, i) => acc.when(col("replica") === i, translate(col("text"), from, to(rotIdx(i))))
    }
    docs.crossJoin(broadcast(replicas))
      .select(
        (col("doc_id") + col("replica") * 10000000L).as("doc_id"),
        rotated.as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `n` disjoint replicas: every column in `offsets` is shifted by
    * replica * `unit`, all other columns pass through, so per-key local
    * structure is preserved exactly and cross-replica keys never collide.
    */
  def replicated(df: DataFrame, n: Int, offsets: Seq[String], unit: Long = 1000000000L): DataFrame = {
    val replicas = df.sparkSession.range(0, n).select(col("id").as("replica"))
    val base = df.crossJoin(broadcast(replicas))
    offsets.foldLeft(base) { (acc, c) =>
      acc.withColumn(c, col(c) + col("replica") * unit)
    }.drop("replica")
  }
}
