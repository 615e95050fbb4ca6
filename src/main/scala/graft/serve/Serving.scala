package graft.serve

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-serving paths (reference entry point 3, SURVEY §3).
  *
  * The reference serves predictions by shelling out from Streamlit to
  * `spark-submit` per request (`streamlit_segmentation_app.py:21-36` →
  * `src/main/java/com/retail/ml/SegmentationPrediction.java`), paying a
  * full JVM + session per query. The engine keeps a *long-lived* session
  * and preserves the two serving modes:
  *
  *  - [[predictByKey]]: parquet feature lookup + guard + transform
  *    (`SegmentationPrediction.java:36-49`) in one bounded job, returned
  *    as a local relation;
  *  - [[predictManual]]: one ad-hoc row from an explicit `StructType`
  *    (`SegmentationPrediction.java:74-92` — the reference's only
  *    explicit schema).
  *
  * Model persistence round-trip (save/load, [S12/M12]) mirrors
  * `SegmentationModel.java:198` / `SegmentationPrediction.java:26-27`.
  */
object Serving {

  def saveModel(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadModel(path: String): PipelineModel = PipelineModel.load(path)

  /** Rows of one key a lookup brings to the driver. A key with more is
    * scored as a distributed frame instead: never truncated.
    */
  val MaxKeyRows: Int = 1024

  /** Score the feature row(s) of one entity key; None when absent (the
    * reference's count()==0 guard, `SegmentationPrediction.java:40-44`).
    *
    * One bounded Spark job per lookup: the key's rows are collected once,
    * at most `MaxKeyRows + 1` per partition, and the model transforms them
    * as a local relation, so the caller's action runs no further job (the
    * optimizer folds the transform into the local rows). A key with more
    * than [[MaxKeyRows]] rows gets the distributed transform of all of
    * them, whose action scans again.
    */
  def predictByKey(model: PipelineModel, features: DataFrame,
                   keyCol: String, key: Long): Option[DataFrame] = {
    val rows = features.filter(col(keyCol) === key)
    val got = rows.mapPartitions(_.take(MaxKeyRows + 1))(Encoders.row(features.schema)).collect()
    if (got.isEmpty) None
    else if (got.length > MaxKeyRows) Some(model.transform(rows))
    else Some(model.transform(
      features.sparkSession.createDataFrame(java.util.Arrays.asList(got: _*), features.schema)))
  }

  /** Score one manually-specified row against a declared schema. */
  def predictManual(spark: SparkSession, model: PipelineModel,
                    schema: StructType, values: Seq[Any]): DataFrame = {
    val df = spark.createDataFrame(
      java.util.List.of(Row.fromSeq(values)), schema)
    model.transform(df)
  }
}
