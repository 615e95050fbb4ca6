package graft.queries

import graft.core.Catalog
import graft.functions.Exact._
import graft.sources.CsvIo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink operator coverage (SURVEY §2.1): CSV round-trip with a
  * *declared* schema proves the CSV read path (S1/S8) produces results
  * identical to the parquet path — the oracle reads the original parquet.
  */
object IoQueries {

  /** Scratch dir per roundtrip query, under the per-process root
    * (`core/Scratch`): every sink below writes mode("overwrite"), so
    * repeated invocations WITHIN one JVM (Bench's min-of-N cold runs)
    * reuse one directory. Reuse is per-process only — each new process
    * pays a fresh staged copy under its own nonce'd root, and the
    * Scratch shutdown hook deletes the whole root at exit (the price of
    * making cross-process races structurally impossible).
    */
  private def scratch(name: String): String = graft.core.Scratch.dir(name)

  private def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("csv")
    CsvIo.write(Catalog(s, d).customer, s"$tmp/customer_csv")
    CsvIo.read(s, s"$tmp/customer_csv", CsvIo.customerSchema)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** Inferred-schema CSV scan (S2): the reference's `inferSchema=true`
    * path (`DataLoader.java:10`; `MarketBasketAnalysis.java:96-99` reads
    * all-string, which is inference's degenerate form). Write customer
    * to CSV, read it back WITHOUT a declared schema, canonical-cast the
    * inferred columns to the declared types, and hash the full rows
    * against the original parquet — proving inference reconstructs the
    * same values the declared-schema read (q20) gets. Inference pays an
    * extra full pass over the file before any query runs; that cost (a
    * 100 TB pre-scan at scale) is WHY the engine declares schemas and
    * keeps this path opt-in.
    */
  private def inferredCsv(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("csv_inf")
    CsvIo.write(Catalog(s, d).customer, s"$tmp/customer_csv")
    val inferred = CsvIo.readInferred(s, s"$tmp/customer_csv")
    // canonical-cast: inference picks the narrowest type the data allows
    // (c_nationkey may infer int where the catalog declares long, and
    // vice versa); value equality is asserted at the declared types
    inferred.select(CsvIo.customerSchema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Local-collection source (S10) outside the ML serving path: a
    * hand-built dimension from `createDataFrame(Seq(...))` — the
    * reference's manual-row construction
    * (`SegmentationPrediction.java:74-87`) — broadcast-joined to a
    * parquet fact and aggregated. The oracle inlines the same rows as a
    * VALUES CTE. Unmapped segments drop via the inner join.
    */
  private def localSource(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tiers = Seq(("BUILDING", "B", 1), ("AUTOMOBILE", "A", 2), ("MACHINERY", "M", 3))
      .toDF("segment", "code", "priority")
    Catalog(s, d).customer
      .join(broadcast(tiers), col("c_mktsegment") === col("segment"))
      .groupBy(col("segment"), col("code"), col("priority"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))
  }

  /** Hive-partitioned parquet roundtrip (S5): write the derived lineitem
    * table partitioned by week_no, read it back filtered to one week —
    * the read plan prunes to that single partition directory (the whole
    * point of the reference's partitioned layouts,
    * `FullPreprocessingPipeline.java:175,208-225`). Oracle recomputes
    * from the source table.
    */
  private def partitionedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("part")
    val derived = graft.transform.Derive.pricing(Catalog(s, d).lineitem)
      .select("l_orderkey", "l_linenumber", "net_price", "week_no")
    graft.sources.Writers.partitionedParquet(derived, s"$tmp/by_week", "week_no")
    s.read.parquet(s"$tmp/by_week")
      .filter(col("week_no") === 52)
      .groupBy(col("week_no"))
      .agg(count(lit(1)).as("n_lines"), qsum(col("net_price")).as("week_net"))
  }

  /** ORC round-trip (beyond the reference's formats): write orders to
    * ORC, read it back with a filter+aggregate — the ORC reader supports
    * the same predicate pushdown/column pruning as parquet, so the
    * engine's source surface is format-agnostic. Oracle recomputes from
    * the original parquet.
    */
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("orc")
    Catalog(s, d).orders.write.mode("overwrite").orc(s"$tmp/orders_orc")
    s.read.orc(s"$tmp/orders_orc")
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
  }

  /** Composite sink roundtrip closing the minor-sink coverage (S6 single
    * file + S11 stable rename, S7 JSON, S9 text): nation goes out as ONE
    * stable-named CSV file (read back from that exact filename — the
    * rename is load-bearing), region as JSON (schema re-inferred on
    * read), and a nation-derived line format through the text sink
    * (parsed back with split). The aggregate joins all three
    * roundtripped frames, so a corruption in any sink breaks the hash;
    * the oracle recomputes from the original parquet. Mirrors the
    * reference's report outputs (`ProductRecommendation.java:79-108`,
    * `SegmentationModel.java:156-171`).
    */
  private def sinkRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("sink")
    val c = Catalog(s, d)
    val csvFile = graft.sources.Writers.singleCsvFile(c.nation, tmp, "nation.csv")
    val ncsv = CsvIo.read(s, csvFile, CsvIo.nationSchema)
    graft.sources.Writers.json(c.region, s"$tmp/region_json")
    val rjson = s.read.json(s"$tmp/region_json")
    // TOTAL formatting: concat_ws silently DROPS null fields, so a null
    // name produced a one-token line and the read-back element_at(2)
    // ANSI-aborted (the r13 hostile probe). A null length serializes as
    // the empty token and try_casts back to NULL — the roundtrip is
    // null-faithful and the oracle's null-skipping SUM(length) agrees.
    graft.sources.Writers.textLines(
      c.nation.select(concat(col("n_nationkey").cast("string"), lit("|"),
        coalesce(length(col("n_name")).cast("string"), lit(""))).as("value")),
      s"$tmp/nation_txt")
    val ntxt = s.read.text(s"$tmp/nation_txt")
      .select(split(col("value"), "\\|").as("kv"))
      .select(
        element_at(col("kv"), 1).cast("int").as("n_nationkey"),
        element_at(col("kv"), 2).try_cast("long").as("name_len"))
    ncsv.join(rjson, col("n_regionkey") === col("r_regionkey"))
      .join(ntxt, "n_nationkey")
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"), sum(col("name_len")).as("name_chars"))
      .orderBy(col("r_name"))
  }

  /** The pre-existing week-partitioned lineitem table the upsert and
    * the merge each target (one copy per `tag`, as both write to it),
    * built once per (process, sf) — in production the base table IS
    * standing state, so the measured write pays only the slice
    * overwrite + read-back. Memoizing is sound because the fix is
    * always derived from the SOURCE lineitem (not from the table),
    * making the write idempotent across bench's min-of-N repeats; the
    * week-51 invariant then also proves repeated writes leave other
    * partitions alone.
    */
  private def weeklyBaseTable(s: SparkSession, d: String, tag: String): String =
    graft.core.Scratch.staged(tag, d) { tmp =>
      val derived = graft.transform.Derive.pricing(Catalog(s, d).lineitem)
        .select("l_orderkey", "l_linenumber", "net_price", "week_no")
      graft.sources.Writers.partitionedParquet(derived, s"$tmp/by_week", "week_no")
      s"$tmp/by_week"
    }

  /** Partition-level upsert (dynamic partition overwrite): write the
    * derived lineitem table partitioned by week, then overwrite ONLY
    * week 52 with corrected rows (net_price doubled — a late-arriving
    * fix). The gate reads BOTH weeks back: week 52 must show the fix and
    * week 51 must be byte-identical to the original load — the latter is
    * what static overwrite mode would destroy (it truncates the whole
    * table to the written slice).
    */
  private def dynamicUpsert(s: SparkSession, d: String): DataFrame = {
    val table = weeklyBaseTable(s, d, "upsert")
    val fix = graft.transform.Derive.pricing(Catalog(s, d).lineitem)
      .select("l_orderkey", "l_linenumber", "net_price", "week_no")
      .filter(col("week_no") === 52)
      .withColumn("net_price", col("net_price") * 2)
    graft.sources.Writers.overwritePartitions(fix, table, "week_no")
    s.read.parquet(table)
      .filter(col("week_no").isin(51, 52))
      .groupBy(col("week_no"))
      .agg(count(lit(1)).as("n_lines"), qsum(col("net_price")).as("week_net"))
      .orderBy(col("week_no"))
  }

  /** Range-sorted layout roundtrip: write orders range-clustered on
    * o_orderdate, read back with a quarter-range predicate + aggregate.
    * The hash gate proves the layout round-trips losslessly; the
    * file-disjointness property that makes the layout PRUNE (each file a
    * non-overlapping date slice, so min/max stats skip files outside the
    * quarter) is asserted per-file in WritersSpec.
    */
  private def rangeLayoutRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("range")
    graft.sources.Writers.rangeSortedParquet(
      Catalog(s, d).orders, s"$tmp/orders_range", "o_orderdate", 8)
    s.read.parquet(s"$tmp/orders_range")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Row-level MERGE into a partitioned table ([[graft.sources.Writers
    * .mergePartitioned]]): week 52 gets half its rows UPDATED (even
    * orderkeys, net_price doubled) and new rows INSERTED (odd orderkeys
    * re-keyed +1e9, net_price tripled); week 51 must come back
    * byte-identical — the partition-bounded contract. The merge is
    * idempotent (updates derive from the SOURCE lineitem), so bench
    * repeats converge to the same state and the read-back hash is
    * stable. Grouped by (week_no, inserted-flag) so the gate separates
    * updated, untouched, and inserted row populations.
    */
  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val table = weeklyBaseTable(s, d, "merge")
    val w52 = graft.transform.Derive.pricing(Catalog(s, d).lineitem)
      .select("l_orderkey", "l_linenumber", "net_price", "week_no")
      .filter(col("week_no") === 52)
    val updates = w52.filter(pmod(col("l_orderkey"), lit(2)) === 0)
      .withColumn("net_price", col("net_price") * 2)
      .unionByName(w52.filter(pmod(col("l_orderkey"), lit(2)) === 1)
        .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
        .withColumn("net_price", col("net_price") * 3))
    graft.sources.Writers.mergePartitioned(updates, table, "week_no",
      Seq("l_orderkey", "l_linenumber"), scratch("merge_staging"))
    s.read.parquet(table)
      .filter(col("week_no").isin(51, 52))
      .groupBy(col("week_no"), (col("l_orderkey") >= 1000000000L).as("inserted"))
      .agg(count(lit(1)).as("n_lines"), qsum(col("net_price")).as("total_net"))
  }

  /** Z-order layout roundtrip: write lineitem clustered on the Morton
    * interleave of (l_partkey, l_suppkey), read back with a predicate on
    * BOTH dimensions + aggregate. The hash gate proves the layout
    * round-trips losslessly; the compact per-file bounding boxes that
    * make BOTH-dimension predicates skip files (what a single-column
    * range sort cannot give) are asserted per-file in WritersSpec.
    */
  private def zOrderRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("zorder")
    graft.sources.Writers.zOrderedParquet(
      Catalog(s, d).lineitem
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice"),
      s"$tmp/lineitem_z", "l_partkey", "l_suppkey", 8)
    s.read.parquet(s"$tmp/lineitem_z")
      .filter(col("l_partkey") <= 500 && col("l_suppkey") <= 25)
      .agg(
        count(lit(1)).as("n_lines"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  def registry: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q47_merge_upsert" -> (
      (mergeUpsert _),
      // doubling/tripling a double is one IEEE multiply — deterministic
      // in both engines — and the decimal-grid sum is the shared q21/q40
      // aggregation form
      Some("""WITH base AS (
             |  SELECT l_orderkey,
             |    CAST(CEIL((datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
             |    l_extendedprice * (1.0 - l_discount) AS net_price
             |  FROM lineitem),
             |merged AS (
             |  SELECT week_no, FALSE AS inserted,
             |    CASE WHEN week_no = 52 AND l_orderkey % 2 = 0 THEN net_price * 2
             |         ELSE net_price END AS net_price
             |  FROM base WHERE week_no IN (51, 52)
             |  UNION ALL
             |  SELECT week_no, TRUE AS inserted, net_price * 3 AS net_price
             |  FROM base WHERE week_no = 52 AND l_orderkey % 2 = 1)
             |SELECT week_no, inserted, count(*) AS n_lines,
             |  CAST(CAST(SUM(CAST(floor(CASE WHEN net_price IS NULL OR isnan(net_price) OR abs(net_price) > 900000000000000.0 THEN NULL ELSE net_price END * 10000) AS BIGINT)) AS VARCHAR(64)) AS DOUBLE) / 10000 AS total_net
             |FROM merged GROUP BY 1, 2""".stripMargin)),

    "q46_zorder_layout" -> (
      (zOrderRoundtrip _),
      Some("""SELECT count(*) AS n_lines,
             |  CAST(CAST(SUM(CAST(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR abs(l_quantity) > 99999999999999.9 THEN NULL ELSE l_quantity END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
             |  CAST(CAST(SUM(CAST(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) OR abs(l_extendedprice) > 99999999999999.9 THEN NULL ELSE l_extendedprice END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
             |FROM lineitem WHERE l_partkey <= 500 AND l_suppkey <= 25""".stripMargin)),

    "q41_range_layout" -> (
      (rangeLayoutRoundtrip _),
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |  CAST(CAST(SUM(CAST(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) OR abs(o_totalprice) > 99999999999999.9 THEN NULL ELSE o_totalprice END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_price
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "q40_partition_upsert" -> (
      (dynamicUpsert _),
      // doubling a double is exact (exponent bump), so the oracle can
      // scale before the shared decimal-grid cast
      Some("""WITH base AS (
             |  SELECT CAST(CEIL((datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
             |    l_extendedprice * (1.0 - l_discount) AS net_price
             |  FROM lineitem)
             |SELECT week_no, count(*) AS n_lines,
             |  CAST(CAST(SUM(CAST(floor(CASE WHEN CASE WHEN week_no = 52 THEN net_price * 2 ELSE net_price END IS NULL OR isnan(CASE WHEN week_no = 52 THEN net_price * 2 ELSE net_price END) OR abs(CASE WHEN week_no = 52 THEN net_price * 2 ELSE net_price END) > 900000000000000.0 THEN NULL ELSE CASE WHEN week_no = 52 THEN net_price * 2 ELSE net_price END END * 10000) AS BIGINT)) AS VARCHAR(64)) AS DOUBLE) / 10000 AS week_net
             |FROM base WHERE week_no IN (51, 52)
             |GROUP BY week_no ORDER BY week_no""".stripMargin)),

    "q39_sink_roundtrip" -> (
      (sinkRoundtrip _),
      Some("""SELECT r.r_name, count(*) AS n_nations,
             |  CAST(SUM(length(n.n_name)) AS BIGINT) AS name_chars
             |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
             |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)),

    "q36_orc_roundtrip" -> (
      (orcRoundtrip _),
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |  CAST(CAST(SUM(CAST(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) OR abs(o_totalprice) > 99999999999999.9 THEN NULL ELSE o_totalprice END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_price
             |FROM orders WHERE o_orderstatus = 'F'
             |GROUP BY o_orderpriority""".stripMargin)),

    "q21_partitioned_roundtrip" -> (
      (partitionedRoundtrip _),
      Some("""SELECT CAST(CEIL((datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
             |  count(*) AS n_lines,
             |  CAST(CAST(SUM(CAST(floor(CASE WHEN l_extendedprice * (1.0 - l_discount) IS NULL OR isnan(l_extendedprice * (1.0 - l_discount)) OR abs(l_extendedprice * (1.0 - l_discount)) > 900000000000000.0 THEN NULL ELSE l_extendedprice * (1.0 - l_discount) END * 10000) AS BIGINT)) AS VARCHAR(64)) AS DOUBLE) / 10000 AS week_net
             |FROM lineitem
             |WHERE CAST(CEIL((datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) = 52
             |GROUP BY 1""".stripMargin)),

    "q20_csv_roundtrip" -> (
      (csvRoundtrip _),
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
             |  CAST(CAST(SUM(CAST(CASE WHEN c_acctbal IS NULL OR isnan(c_acctbal) OR abs(c_acctbal) > 99999999999999.9 THEN NULL ELSE c_acctbal END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_acctbal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    "q42_inferred_csv" -> (
      (inferredCsv _),
      Some("""SELECT c_custkey, c_name, CAST(c_nationkey AS INT) AS c_nationkey,
             |  c_acctbal, c_mktsegment
             |FROM customer""".stripMargin)),

    "q43_local_source" -> (
      (localSource _),
      Some("""WITH tiers(segment, code, priority) AS (
             |  VALUES ('BUILDING', 'B', 1), ('AUTOMOBILE', 'A', 2), ('MACHINERY', 'M', 3))
             |SELECT segment, code, priority, count(*) AS n_customers,
             |  CAST(CAST(SUM(CAST(CASE WHEN c_acctbal IS NULL OR isnan(c_acctbal) OR abs(c_acctbal) > 99999999999999.9 THEN NULL ELSE c_acctbal END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_acctbal
             |FROM customer JOIN tiers ON c_mktsegment = segment
             |GROUP BY 1, 2, 3""".stripMargin))
  )
}
