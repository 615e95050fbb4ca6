package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Table access over a scale-factor directory of parquet files
  * (`/root/testdata/sf*` layout, see TESTDATA.md).
  *
  * The reference loads every table through a single helper with schema
  * inference (`src/main/java/com/retail/ingestion/DataLoader.java:9-11`);
  * here parquet carries its own schema so the catalog is a thin path
  * mapper. Each [[table]] call reads that schema from the table's parquet
  * footer on the driver ([[GraftBridge.parquetSchema]]) and hands it to
  * the reader, so building a frame runs no Spark job: a bare
  * `spark.read.parquet` runs one per table just to read the same footer,
  * before the query's own action. The catalog keeps no state, so every
  * call sees the files and the conf as they are now. CSV ingestion with
  * *declared* schemas (the engine's fix for the reference's inferSchema
  * double-scan anti-pattern, SURVEY §4) lives in [[graft.sources.CsvIo]].
  */
final case class Catalog(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(GraftBridge.parquetSchema(spark, path)).parquet(path)
  }

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** `events.ts` has shipped under several parquet footer encodings across
    * driver runtimes (TIMESTAMP_NTZ micros today; TIMESTAMP(NANOS) read as
    * LongType under the legacy flag before). All arrival shapes normalize
    * to ONE canonical `TimestampType` here — see [[EventTime.normalizeTs]],
    * the single ingestion code path shared with the streaming source
    * ([[graft.streaming.EventStream.readStream]]).
    */
  def events: DataFrame = EventTime.normalizeTs(table("events"))
  def documents: DataFrame  = table("documents")

  /** Structurally INVALID embeddings — NULL arrays or arrays whose
    * length is not the corpus dimension — are excluded at the catalog
    * boundary: every downstream vector operator (quantized dots, LSH
    * codes, IVF/PQ fits) assumes a rectangular corpus, and a single
    * jagged row otherwise aborts the whole job (the r13 hostile-values
    * probe killed all eight ANN gates with one NULL and one truncated
    * vector). Element-level corruption (NaN/±Inf) stays IN the corpus
    * under the saturate-or-exclude contract (CorruptVectorSpec).
    * Oracles mirror with `WHERE len(embedding) = 64`
    * ([[graft.ext.VectorOps.oracleValidWhere]]).
    */
  def embeddings: DataFrame = {
    import org.apache.spark.sql.functions.{col, size}
    table("embeddings")
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === Catalog.EmbeddingDim)
  }
}

object Catalog {
  /** The corpus embedding dimension (testdata layout; oracles hardcode
    * the same constant in `range(1, 65)` element unnesting).
    */
  val EmbeddingDim: Int = 64
}
