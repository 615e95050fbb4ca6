package graft

import graft.functions.Exact
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hostile-values lane — the in-suite half of the r13 value probe.
  *
  * The DuckDB gate corpus carries no NULLs, no extremes, no malformed
  * payloads — so null/extreme contract gaps hash-green there and
  * surface only in production data, which at 100 TB ALWAYS contains
  * them. The probe (scripts/gen_hostile_sf.py + Verify + check.py over
  * an injected corpus: nulls, zeros, negatives, 10^9 magnitudes, empty/
  * whitespace/4000-char strings, malformed JSON, null/jagged/NaN/Inf
  * vectors) found 36 divergences across 10 root causes; every fix is a
  * CONTRACT (documented, both-engine) rather than a patch. The
  * cross-engine compare stays in the dev loop; THIS spec pins the
  * engine-side halves of each contract on adversarial in-memory data,
  * so a regression fails in `sbt test` without the probe.
  */
class HostileValuesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("Exact.dsum/davg: in-domain identity, out-of-domain NULL-out, no crash") {
    // in-domain values, plus every hostile class the guard must NULL-out
    val df = Seq(
      ("a", Some(12.34)), ("a", Some(-0.5)), ("a", Some(1e9)),
      ("a", None),                              // NULL: skipped
      ("a", Some(Double.NaN)),                  // NaN: not a measurement
      ("a", Some(Double.PositiveInfinity)),     // Inf: not representable
      ("a", Some(1e15)), ("a", Some(-1e15))     // beyond the 10^14 grid
    ).toDF("g", "x")
    val out = df.groupBy(col("g"))
      .agg(Exact.dsum(col("x")).as("s"), Exact.davg(col("x")).as("m"),
        Exact.qsum(col("x")).as("qs"))
      .head()
    // the sum is EXACTLY the in-domain subset's sum — a saturating
    // guard would have added ±10^14 monsters, a crashing cast nothing
    assert(out.getDouble(1) == 12.34 - 0.5 + 1e9)
    // davg divides by count(x) = non-null count (7 here, incl. NaN/Inf
    // rows — deterministic, matches the oracle's COUNT(x))
    assert(out.getDouble(2) == (12.34 - 0.5 + 1e9) / 7)
    assert(out.getDouble(3) == 12.34 - 0.5 + 1e9)
  }

  test("Exact.qsumD floors the decimal product rescale (tie-free by construction)") {
    // 0.5 * (1 - 0.9999) = 0.00005000 at scale 8 — EXACTLY half a
    // scale-4 quantum. Spark's decimal rescale rounds HALF_UP (.0001)
    // and DuckDB's rounds half-toward-zero (.0000): the only engine-
    // portable rescale is floor, which must yield 0 here.
    val df = Seq((0.5, 0.9999)).toDF("price", "disc")
    val s = df.agg(Exact.qsumD(
      Exact.dec(col("price")) * (lit(1).cast(Exact.D) - Exact.dec(col("disc"))))
      .as("s")).head().getDouble(0)
    assert(s == 0.0, s"tie must floor to 0, got $s")
    // and an exactly-representable benign product is NOT distorted
    val b = Seq((100.25, 0.10)).toDF("price", "disc")
    val sb = b.agg(Exact.qsumD(
      Exact.dec(col("price")) * (lit(1).cast(Exact.D) - Exact.dec(col("disc"))))
      .as("s")).head().getDouble(0)
    assert(sb == 90.225, s"benign product distorted: $sb")
  }

  test("catalog embeddings: structural invalids excluded, element corruption kept") {
    val rows = Seq(
      (1L, Some(Array.tabulate(64)(i => 0.01f * i)), 0),
      (2L, None, 0),                                        // NULL array
      (3L, Some(Array.empty[Float]), 0),                    // empty
      (4L, Some(Array.tabulate(32)(i => 0.01f * i)), 0),    // jagged
      (5L, Some(Array.tabulate(64)(i =>
        if (i == 0) Float.NaN else 0.01f * i)), 0),         // NaN elem: kept
      (6L, Some(Array.tabulate(64)(i =>
        if (i == 0) Float.PositiveInfinity else 0.01f * i)), 0)) // Inf: kept
    val dir = java.nio.file.Files.createTempDirectory("graft_hostile_emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val e = graft.core.Catalog(spark, dir).embeddings
      val kept = e.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L, 6L),
        s"structural validity filter wrong: kept $kept")
      // the whole ANN baseline runs clean over the surviving corpus
      val out = graft.queries.ExtensionQueries.bruteTopK(e, e, 2).collect()
      assert(out.nonEmpty && out.forall(r => !r.getAs[Double]("cosine").isNaN))
    } finally {
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("stateful streaming totals: null values count as events, contribute 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hostile_ev").toString
    val ts0 = java.sql.Timestamp.valueOf("2024-01-15 10:00:00")
    Seq(
      (1L, ts0, 7L, Some(2.5)),
      (2L, ts0, 7L, None),            // NULL value: counted, adds 0
      (3L, ts0, 8L, None),            // all-NULL user: total 0.0, not null
      (4L, ts0, 7L, Some(-1.25)))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/src")
    try {
      val out = graft.streaming.EventStream
        .runStatefulToCompletion(spark, s"$dir/src")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(out(7L) == ((3L, 1.25)), s"user 7: ${out(7L)}")
      assert(out(8L) == ((1L, 0.0)), s"user 8: ${out(8L)}")
    } finally {
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("CSV roundtrip is the identity on null vs empty vs whitespace strings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hostile_csv").toString
    val vals = Seq((1L, Some("plain")), (2L, None), (3L, Some("")),
      (4L, Some(" ")), (5L, Some("\t")), (6L, Some("a" * 4000)),
      (7L, Some("quote\" and, comma")))
    try {
      val df = vals.toDF("k", "v")
      graft.sources.CsvIo.write(df, s"$dir/csv")
      val back = graft.sources.CsvIo.read(spark, s"$dir/csv",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      for ((k, v) <- vals)
        assert(back(k) == v, s"k=$k: wrote $v, read ${back(k)} — lossy CSV options")
    } finally {
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("portable null semantics: min_by skips, unpivot excludes, malformed JSON nulls") {
    // q27's contract: pick among rows with a RECORDED value (DuckDB
    // arg_min semantics) — a null ordering key makes min_by skip the row
    val picked = Seq((1L, 10L, Some("B")), (1L, 5L, None), (1L, 7L, Some("A")))
      .toDF("g", "k", "v")
      .groupBy(col("g"))
      .agg(min_by(col("v"), when(col("v").isNotNull, col("k"))).as("first_v"))
      .head().getString(1)
    assert(picked == "A", s"min_by null contract: got $picked")
    // q26's contract: malformed / overflowing JSON values are NULL
    val k = Seq(("{", 1), ("not json", 2), ("""{"k": 1e309}""", 3),
      ("""{"k": 7}""", 4)).toDF("props", "i")
      .select(get_json_object(col("props"), "$.k").try_cast("int").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(k.toSeq == Seq(None, None, None, Some(7)))
  }
}
