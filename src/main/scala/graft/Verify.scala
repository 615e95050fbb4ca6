package graft
import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `outDir/<name>` parquet; a query that
    * throws is recorded in the returned (insertion-ordered) error map AND
    * published as `outDir/errors.json` by [[main]] — a crashed query must
    * surface as a red row in CORRECTNESS, not vanish (r9 lost three
    * crashed queries to a swallowed-Throwable catch with no manifest).
    * Factored out of [[main]] so the red-row contract is testable
    * (VerifySpec) without a driver run.
    */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
              queries: Iterable[(String, (SparkSession, String) => DataFrame)])
      : collection.Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
      }
    }
    errors
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dev-loop query subset both mains honour: `SPARK_GRAFT_ONLY=a,b,c`
    * keeps the named queries. Empty tokens are dropped, and a value that
    * names no query keeps every query — a blank variable must never
    * select zero queries (Bench once ran none, wrote `n_queries: 0` and
    * exited 0).
    */
  def onlyFilter(raw: Option[String]): String => Boolean = {
    val names = raw.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    name => names.isEmpty || names(name)
  }

  /** What the mains start from: the engine session at `SPARK_GRAFT_CPUS`
    * cores (default 4) and the `SPARK_GRAFT_ONLY` subset. The driver sets
    * no filter.
    */
  def mainSetup(appName: String): (SparkSession, String => Boolean) =
    (GraftSession.local(appName, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt),
      onlyFilter(sys.env.get("SPARK_GRAFT_ONLY")))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val (spark, only) = mainSetup("graft-verify")
    new java.io.File(outDir).mkdirs()
    val errors = dumpAll(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only(name) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // twin map for the driver: a no_oracle gate is covered iff its twin
    // is hash-green this round (SparkEntry.twinOf scaladoc)
    val twinJson = SparkEntry.twinOf
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/twin_of.json"), twinJson)
    val errJson = errors.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
