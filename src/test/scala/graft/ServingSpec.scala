package graft

import graft.core.{Catalog, QueryTrace}
import graft.ml.SegmentationPipeline
import graft.serve.Serving
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Serving path + model persistence round-trip (S12/M12, reference EP3). */
class ServingSpec extends AnyFunSuite with SharedSpark {

  test("model save/load round-trip, predict by key and manual row") {
    val c = Catalog(spark, sf)
    val features = SegmentationPipeline.features(c.customer, c.orders).cache()
    val fitted = SegmentationPipeline.fitAutoK(features, 2 to 3)

    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    Serving.saveModel(fitted.model, s"$dir/m")
    val loaded = Serving.loadModel(s"$dir/m")

    val aKey = features.head().getAs[Long]("custkey")
    val byKey = Serving.predictByKey(loaded, features, "custkey", aKey)
    assert(byKey.isDefined)
    val pred = byKey.get.select("prediction").head().getInt(0)
    assert(pred >= 0 && pred < fitted.k)

    assert(Serving.predictByKey(loaded, features, "custkey", -1L).isEmpty)

    val schema = StructType(Seq(
      StructField("custkey", LongType),
      StructField("acctbal", DoubleType),
      StructField("frequency", DoubleType),
      StructField("monetary", DoubleType),
      StructField("recency_days", DoubleType)))
    val manual = Serving.predictManual(spark, loaded, schema,
      Seq[Any](0L, 1000.0, 5.0, 20000.0, 30.0))
    assert(manual.select("prediction").head().getInt(0) >= 0)
    features.unpersist()
  }

  /** The serving frame as a caller holds it: features persisted as a
    * multi-file parquet table (so the lookup's one job must cover every
    * file), and a model fitted on it.
    */
  private lazy val served = {
    val dir = java.nio.file.Files.createTempDirectory("graft_serve_jobs").toString
    val c = Catalog(spark, sf)
    SegmentationPipeline.features(c.customer, c.orders).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/features.parquet")
    val features = Catalog(spark, dir).table("features")
    (features, SegmentationPipeline.fitFixedK(features, 3))
  }

  private def batchPredictions(model: PipelineModel, frame: DataFrame, key: Long): Seq[(Double, Int)] =
    model.transform(frame).filter(col("custkey") === key)
      .select("acctbal", "prediction").collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq.sorted

  test("a present key costs one job, the caller's collect included; an absent key one job and None") {
    val (features, model) = served
    val key = features.select("custkey").head().getLong(0)
    var preds = Seq.empty[Int]
    val present = QueryTrace.timed(spark) {
      preds = Serving.predictByKey(model, features, "custkey", key).get
        .select("prediction").collect().map(_.getInt(0)).toSeq
      preds.size.toLong
    }
    assert(present.c.jobs.size == 1, present.c.jobs.map(_._4).mkString("; "))
    assert(preds == batchPredictions(model, features, key).map(_._2))

    var absent: Option[DataFrame] = Some(features)
    val missing = QueryTrace.timed(spark) {
      absent = Serving.predictByKey(model, features, "custkey", -1L); 0L
    }
    assert(absent.isEmpty)
    assert(missing.c.jobs.size == 1, missing.c.jobs.map(_._4).mkString("; "))
  }

  test("a key with more rows than the bound is scored in full, as a batch transform scores it") {
    val (features, model) = served
    val key = features.select("custkey").head().getLong(0)
    val n = Serving.MaxKeyRows + 5
    // n distinct rows of one key: its features with acctbal shifted by 0 until n
    val crowded = features.filter(col("custkey") === key).crossJoin(spark.range(n))
      .withColumn("acctbal", col("acctbal") + col("id")).drop("id")
      .unionByName(features.filter(col("custkey") =!= key))
    val got = Serving.predictByKey(model, crowded, "custkey", key).get
      .select("acctbal", "prediction").collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq.sorted
    assert(got.size == n)
    assert(got == batchPredictions(model, crowded, key))
  }

  test("ml_model_roundtrip registry gate: loaded model rescoring matches exactly") {
    val row = graft.SparkEntry.queries("ml_model_roundtrip")(spark, sf).head()
    assert(row.getAs[Long]("n_scored") > 0)
    assert(row.getAs[Long]("n_mismatch") == 0L,
      "loaded PipelineModel assigned different clusters than the in-memory fit")
    assert(row.getAs[Long]("n_centers_mismatch") == 0L,
      "loaded KMeans stage's cluster centers differ from the in-memory fit's")
  }

  /** The r14 verdict's item 5: the randomized registry soak covers
    * read-only queries, but the surface a real concurrent USER hits is
    * this one — many predict calls against ONE long-lived loaded model
    * on one shared session. A PipelineModel's transform plans a new
    * query per call over shared (immutable) stage metadata, so
    * concurrent calls must neither race nor cross-contaminate; every
    * concurrent prediction is compared bit-for-bit to its sequential
    * baseline.
    */
  test("serving soak: 8 threads of predictByKey/predictManual on one shared loaded model match sequential baselines") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration

    val c = Catalog(spark, sf)
    val features = SegmentationPipeline.features(c.customer, c.orders).cache()
    try {
      val fitted = SegmentationPipeline.fitAutoK(features, 2 to 3)
      val dir = java.nio.file.Files.createTempDirectory("graft_serve_soak").toString
      Serving.saveModel(fitted.model, s"$dir/m")
      val loaded = Serving.loadModel(s"$dir/m")

      val manualSchema = StructType(Seq(
        StructField("custkey", LongType),
        StructField("acctbal", DoubleType),
        StructField("frequency", DoubleType),
        StructField("monetary", DoubleType),
        StructField("recency_days", DoubleType)))
      val rng = new scala.util.Random(15)
      val keys = features.select("custkey").limit(64).collect()
        .map(_.getLong(0)).distinct.take(10).toSeq
      val manualRows: Seq[Seq[Any]] = (0 until 4).map(i =>
        Seq[Any](i.toLong, rng.nextDouble() * 5000, rng.nextDouble() * 10,
          rng.nextDouble() * 40000, rng.nextDouble() * 90))

      def byKey(k: Long): Seq[(Long, Int)] =
        Serving.predictByKey(loaded, features, "custkey", k).get
          .select("custkey", "prediction")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
      def manual(vs: Seq[Any]): Int =
        Serving.predictManual(spark, loaded, manualSchema, vs)
          .select("prediction").head().getInt(0)

      val keyBase = keys.map(k => k -> byKey(k)).toMap
      val manBase = manualRows.map(vs => vs -> manual(vs)).toMap
      // absent key: the None guard must also hold mid-soak
      assert(Serving.predictByKey(loaded, features, "custkey", -1L).isEmpty)

      val tasks = rng.shuffle(
        keys.map(Left(_): Either[Long, Seq[Any]]) ++
          manualRows.map(Right(_): Either[Long, Seq[Any]]) ++
          keys.map(Left(_): Either[Long, Seq[Any]]))
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futures = tasks.map {
          case Left(k) => Future {
            assert(byKey(k) == keyBase(k),
              s"predictByKey($k) diverged under the concurrent serving soak")
          }
          case Right(vs) => Future {
            assert(manual(vs) == manBase(vs),
              s"predictManual($vs) diverged under the concurrent serving soak")
          }
        }
        Await.result(Future.sequence(futures), Duration.Inf)
      } finally pool.shutdown()
    } finally features.unpersist()
  }
}
