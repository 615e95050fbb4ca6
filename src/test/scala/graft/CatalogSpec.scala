package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.core.{Catalog, QueryTrace}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.scalatest.funsuite.AnyFunSuite

/** `Catalog` reads each table's schema from its parquet footer on the
  * driver. These laws pin that the footer read gives exactly the schema
  * Spark's own inference gives, that building a frame runs no Spark job,
  * and that nothing goes stale between calls.
  */
class CatalogSpec extends AnyFunSuite with SharedSpark {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def assertSameSchema(path: String): Unit = {
    val got = GraftBridge.parquetSchema(spark, path)
    assert(got == inferred(path), path)
    assert(got.json == inferred(path).json, path)
  }

  private def jobs(body: => Unit): Int =
    QueryTrace.timed(spark) { body; 0L }.c.jobs.size

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  /** The one part file of a single-partition write of `df`. */
  private def partFile(df: DataFrame, dir: Path): Path = {
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
  }

  test("the footer schema equals Spark's inferred schema for every table") {
    for (t <- tables) assertSameSchema(s"$sf/$t.parquet")
    val c = Catalog(spark, sf)
    for (t <- tables) assert(c.table(t).schema == inferred(s"$sf/$t.parquet"), t)
  }

  test("a multi-file directory table reads the footer inference would pick") {
    val dir = tempDir("graft_catalog_dir")
    spark.read.parquet(s"$sf/lineitem.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assertSameSchema(s"$dir/lineitem.parquet")
    assert(Catalog(spark, dir.toString).lineitem.count() ==
      Catalog(spark, sf).lineitem.count())

    // two data files whose schemas differ, plus hidden files that sort
    // first: non-merging inference reads the first data file in path order
    import spark.implicits._
    val narrow = partFile(Seq(1, 2).toDF("a"), dir.resolve("narrow"))
    val wide = partFile(Seq((3, "x")).toDF("a", "b"), dir.resolve("wide"))
    val t = Files.createDirectories(dir.resolve("mixed.parquet"))
    Files.copy(wide, t.resolve("_hidden.parquet"))
    Files.copy(wide, t.resolve(".hidden.parquet"))
    Files.copy(narrow, t.resolve("part-00000.parquet"))
    Files.copy(wide, t.resolve("part-00001.parquet"))
    assertSameSchema(t.toString)
    assert(GraftBridge.parquetSchema(spark, t.toString).fieldNames.toSeq == Seq("a"))
  }

  test("the footer schema follows a runtime parquet conf: nanosAsLong on events") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try assertSameSchema(s"$sf/events.parquet")
    finally spark.conf.unset(key)
  }

  test("building a catalog frame runs no Spark job; an inferring read runs one") {
    assert(jobs(Catalog(spark, sf).lineitem) == 0)
    assert(jobs(Catalog(spark, sf).events) == 0)
    // the counter is live: the bare read the catalog replaces runs one
    assert(jobs(spark.read.parquet(s"$sf/lineitem.parquet")) == 1)
  }

  test("a table rewritten with a different column type is read with the new type") {
    import spark.implicits._
    val dir = tempDir("graft_catalog_rewrite")
    val c = Catalog(spark, dir.toString)
    def rewrite(df: DataFrame): Unit = {
      val file = partFile(df, dir.resolve("staging"))
      val table = Files.createDirectories(dir.resolve("t.parquet"))
      Files.copy(file, table.resolve("part-00000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    rewrite(Seq(1, 2).toDF("x"))
    assert(c.table("t").schema("x").dataType.simpleString == "int")
    rewrite(Seq("p", "q").toDF("x"))
    assert(c.table("t").schema("x").dataType.simpleString == "string")
    assert(c.table("t").as[String].collect().sorted.toSeq == Seq("p", "q"))
  }
}
