package graft.analytics

import graft.core.{Catalog, Materialize}
import graft.functions.Exact._
import graft.transform.{Derive, SchemaCompat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed ETL job — the reference's core deliverable
  * (`/root/reference/src/main/java/com/retail/ingestion/FullPreprocessingPipeline.java:140-231`):
  * ONE cleaned base frame fanned out to four outputs (transactions,
  * weekly demand, customer RFM + demographics, item detail), each with
  * the reference's conditional partitioned sink.
  *
  * Composition notes, Spark-first:
  *  - the base is computed once and `.cache()`d across the four outputs
  *    in [[run]] (the reference recomputes its DataFrame lineage per
  *    sink); at 100 TB the cache becomes a checkpointed staging table,
  *    same shape.
  *  - the product column is PROBED ([[SchemaCompat.probeOrThrow]]) for
  *    pandas-merge residue variants, the reference's defining ingest
  *    quirk (`:137-145`).
  *  - `week_no` is derived CONDITIONALLY at the temporal step
  *    ([[SchemaCompat.ensureWeekNo]]), exactly where the reference does
  *    it (`:157-162`) — the base deliberately carries only `day`.
  *  - demographics are INTERSECTED with what actually arrived
  *    (`:189-193`) and sentinel-filled with UNKNOWN after a left join.
  *  - every aggregate that sums doubles routes through
  *    [[graft.functions.Exact]] so outputs hash-match the DuckDB twin.
  */
object Etl {

  /** Outlier bounds (the reference's MAX_UNIT_QUANTITY / discount-rate
    * clamp, `FullPreprocessingPipeline.java:115-119`), in this schema's
    * units.
    */
  val maxUnitQuantity = 50.0
  val maxDiscountRate = 0.1

  /** Cleaned, denormalized base: lineitem x orders with pricing/calendar
    * derivations and outlier filters. Fact-fact equi-join on the order
    * key — co-partitionable at scale (both sides bucket by order key);
    * AQE picks broadcast when the orders side fits.
    */
  def cleanBase(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val productCol =
      SchemaCompat.probeOrThrow(lineitem, SchemaCompat.productIdCandidates :+ "l_partkey")
    lineitem
      .filter(col("l_quantity") >= 0 && col("l_quantity") <= maxUnitQuantity)
      .filter(col("l_extendedprice") >= 0)
      .filter(col("l_discount").between(0.0, maxDiscountRate))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_custkey").as("household_key"),
        col("l_orderkey").as("basket_id"),
        col(productCol).as("product_id"),
        col("l_suppkey").as("store_id"),
        col("l_quantity").as("quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_sales"),
        when(col("l_quantity") > 0, col("l_extendedprice") / col("l_quantity"))
          .otherwise(lit(0.0)).as("unit_price"),
        col("l_discount").as("discount_rate"),
        when(col("l_discount") > 0, lit(1)).otherwise(lit(0)).as("is_discounted"),
        Derive.dayIndex(col("l_shipdate")).cast("int").as("day"))
  }

  /** Distinct (basket, product) pairs for itemset mining — the
    * reference's transaction table (`:146-153`).
    */
  def transactions(base: DataFrame): DataFrame =
    base
      .filter(col("basket_id").isNotNull && col("product_id").isNotNull)
      .select(col("basket_id"), col("product_id"))
      .distinct()

  /** Weekly demand per (store, product) — the temporal/forecasting table
    * (`:163-175`); `week_no` derived here iff absent.
    */
  def weeklyDemand(base: DataFrame): DataFrame =
    SchemaCompat.ensureWeekNo(base)
      .groupBy(col("store_id"), col("product_id"), col("week_no"))
      .agg(
        qsum(col("net_sales")).as("total_net_sales"),
        sum(col("quantity")).as("total_quantity"),
        // unit_price is a division result -> grid-quantized avg (see Exact.qavg)
        qavg(col("unit_price")).as("avg_unit_price"),
        davg(col("discount_rate")).as("avg_discount_rate"),
        max(col("is_discounted")).as("is_discounted"))

  /** RFM + demographics per household — the customer table (`:177-211`).
    * Recency joins a broadcast one-row global max (no driver pull);
    * demographics are schema-intersected, left-joined, UNKNOWN-filled.
    */
  def customerProfile(base: DataFrame, customer: DataFrame): DataFrame = {
    val maxDay = base.agg(max(col("day")).as("global_max_day"))
    val rfm = base
      .groupBy(col("household_key"))
      .agg(
        max(col("day")).as("last_purchase"),
        countDistinct(col("basket_id")).as("frequency"),
        qsum(col("net_sales")).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency", col("global_max_day") - col("last_purchase"))
      .drop("global_max_day", "last_purchase")
    val demoCols = SchemaCompat.intersect(customer, Seq("c_mktsegment", "c_name", "c_phone"))
    val demo = customer.select(col("c_custkey").as("household_key") +: demoCols.map(col): _*)
    rfm
      .join(broadcast(demo), Seq("household_key"), "left")
      .na.fill("UNKNOWN", demoCols)
  }

  /** Wide per-line item detail with part attributes — the item table
    * (`:213-225`). Part is a dimension: broadcast.
    */
  def itemTable(base: DataFrame, part: DataFrame): DataFrame =
    base
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"), col("p_type"))),
        col("product_id") === col("p_partkey"))
      .select(
        col("household_key"), col("basket_id"), col("day"), col("product_id"),
        col("quantity"), col("net_sales"), col("store_id"), col("unit_price"),
        col("discount_rate"), col("is_discounted"), col("p_brand"), col("p_type"))

  /** The composed job: one cached base, four sinks, conditional
    * partitioning per the reference (`:175,208-211,222-225`). Returns
    * written row counts (read back from the sinks, verifying the write).
    */
  def run(spark: SparkSession, sfDir: String,
          outDir: String): Map[String, Long] = Materialize.scoped { scope =>
    val cat = Catalog(spark, sfDir)
    val base = scope.cache(cleanBase(cat.lineitem, cat.orders))
    graft.sources.Writers.parquet(transactions(base), s"$outDir/transactions")
    SchemaCompat.writePartitionedIfPresent(weeklyDemand(base), s"$outDir/temporal", "week_no")
    SchemaCompat.writePartitionedIfPresent(
      customerProfile(base, cat.customer), s"$outDir/customer", "c_mktsegment")
    SchemaCompat.writePartitionedIfPresent(itemTable(base, cat.part), s"$outDir/item", "p_brand")
    Seq("transactions", "temporal", "customer", "item")
      .map(t => t -> spark.read.parquet(s"$outDir/$t").count()).toMap
  }

  /** Shared DuckDB CTE replaying [[cleanBase]]. */
  val baseOracle: String =
    """base AS (
      |  SELECT o.o_custkey AS household_key,
      |         l.l_orderkey AS basket_id,
      |         l.l_partkey AS product_id,
      |         l.l_suppkey AS store_id,
      |         l.l_quantity AS quantity,
      |         l.l_extendedprice * (1.0 - l.l_discount) AS net_sales,
      |         CASE WHEN l.l_quantity > 0 THEN l.l_extendedprice / l.l_quantity ELSE 0.0 END AS unit_price,
      |         l.l_discount AS discount_rate,
      |         CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END AS is_discounted,
      |         CAST(datediff('day', DATE '1995-01-01', CAST(l.l_shipdate AS DATE)) + 1 AS INT) AS day
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_quantity >= 0 AND l.l_quantity <= 50
      |    AND l.l_extendedprice >= 0
      |    AND l.l_discount BETWEEN 0.0 AND 0.1)""".stripMargin
}
