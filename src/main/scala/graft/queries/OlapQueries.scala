package graft.queries

import graft.core.Catalog
import graft.functions.Exact._
import graft.functions.Md5Prefix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OLAP surface beyond the reference (SURVEY §2.4 notes "no grouping
  * sets / cube / rollup" and §2.5 a single window function — the engine
  * exposes the full surface): multi-dimensional aggregates, analytic
  * window frames, the SQL-text API, and semi-structured (JSON) columns.
  */
object OlapQueries {

  /** Running/leading/lagging window frames per customer. The running sum
    * goes through a decimal accumulator — windowed double sums are not
    * guaranteed sequential in either engine (segment-tree evaluation), so
    * exactness needs the associative type here too.
    */
  private def windowFrames(s: SparkSession, d: String): DataFrame = {
    val o = Catalog(s, d).orders
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    o.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").as("running_spend"),
      lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
      lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
      row_number().over(w).as("order_seq"))
  }

  private val windowFramesOracle: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) OR abs(o_totalprice) > 99999999999999.9 THEN NULL ELSE o_totalprice END AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  lag(o_orderkey, 1) OVER w AS prev_orderkey,
      |  lead(o_orderkey, 1) OVER w AS next_orderkey,
      |  CAST(row_number() OVER w AS INT) AS order_seq
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin

  /** Per-invocation temp-view suffix. The serving mode runs registry
    * queries concurrently on ONE long-lived session, and temp views live
    * in the session catalog: two in-flight queries registering the same
    * view name race between registration and `spark.sql`'s (eager)
    * analysis — the loser silently computes over the winner's catalog.
    * Unique names make the collision impossible; the views are dropped
    * as soon as analysis has inlined them, so nothing accumulates in
    * the catalog either.
    */
  private val viewEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Register `frames` under uniquely-suffixed temp-view names, run
    * `sql` (given the resolved name for each base name), drop the views.
    * Dropping after `spark.sql` returns is safe: analysis is eager and
    * inlines a view's plan, so the returned frame no longer reads the
    * catalog entry.
    */
  private def withTempViews(s: SparkSession, frames: (String, DataFrame)*)
                           (sql: Map[String, String] => DataFrame): DataFrame = {
    val tag = viewEpoch.incrementAndGet()
    val names = frames.map { case (base, df) =>
      val unique = s"${base}_$tag"
      df.createOrReplaceTempView(unique)
      base -> unique
    }.toMap
    try sql(names)
    finally names.valuesIterator.foreach(s.catalog.dropTempView)
  }

  /** SQL-text API parity (F4): the same star join as q3 expressed through
    * `spark.sql` over registered temp views.
    */
  private def sqlApi(s: SparkSession, d: String): DataFrame = {
    val c = Catalog(s, d)
    withTempViews(s,
      "v_lineitem" -> c.lineitem, "v_supplier" -> c.supplier,
      "v_nation" -> c.nation, "v_region" -> c.region) { v =>
      s.sql(
        s"""SELECT n_name,
           |  CAST(CAST(SUM(CAST(CAST(floor(CASE WHEN CAST(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) OR abs(l_extendedprice) > 99999999999999.9 THEN NULL ELSE l_extendedprice END AS DECIMAL(19,4)) * (CAST(1 AS DECIMAL(19,4)) - CAST(CASE WHEN l_discount IS NULL OR isnan(l_discount) OR abs(l_discount) > 99999999999999.9 THEN NULL ELSE l_discount END AS DECIMAL(19,4))) IS NULL OR abs(CAST(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) OR abs(l_extendedprice) > 99999999999999.9 THEN NULL ELSE l_extendedprice END AS DECIMAL(19,4)) * (CAST(1 AS DECIMAL(19,4)) - CAST(CASE WHEN l_discount IS NULL OR isnan(l_discount) OR abs(l_discount) > 99999999999999.9 THEN NULL ELSE l_discount END AS DECIMAL(19,4)))) > CAST(900000000000000.0 AS DECIMAL(38,8)) THEN NULL ELSE CAST(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) OR abs(l_extendedprice) > 99999999999999.9 THEN NULL ELSE l_extendedprice END AS DECIMAL(19,4)) * (CAST(1 AS DECIMAL(19,4)) - CAST(CASE WHEN l_discount IS NULL OR isnan(l_discount) OR abs(l_discount) > 99999999999999.9 THEN NULL ELSE l_discount END AS DECIMAL(19,4))) END * 10000) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR(64)) AS DOUBLE) / 10000 AS revenue,
           |  count(*) AS n_lines
           |FROM ${v("v_lineitem")}
           |JOIN ${v("v_supplier")} ON l_suppkey = s_suppkey
           |JOIN ${v("v_nation")} ON s_nationkey = n_nationkey
           |JOIN ${v("v_region")} ON n_regionkey = r_regionkey
           |WHERE r_name = 'EUROPE'
           |GROUP BY n_name
           |ORDER BY revenue DESC, n_name ASC""".stripMargin)
    }
  }

  /** q54's rate/z-score expressions, ONE literal string parsed by both
    * engines (Spark selectExpr and the DuckDB oracle) so the IEEE op
    * sequence cannot diverge. `CAST(1 AS DOUBLE)` everywhere a bare
    * `1.0` would be: DuckDB types `1.0` as DECIMAL(2,1) and
    * decimal-by-integer division follows different scale rules than
    * Spark's double literal.
    */
  private val abRateExprs: Seq[String] = {
    val pa = "(conv_a / CAST(n_a AS DOUBLE))"
    val pb = "(conv_b / CAST(n_b AS DOUBLE))"
    val pp = "((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))"
    Seq(
      s"$pa AS p_a",
      s"$pb AS p_b",
      s"($pa - $pb) / sqrt($pp * (CAST(1 AS DOUBLE) - $pp) * " +
        s"(CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS z_score")
  }

  /** q55's closed forms over the exact grid sums — same shared-literal
    * discipline as [[abRateExprs]]. Grids: x on 1/10000 (quantity),
    * y on 1/100 (price), xy and y^2 on 1/100, x^2 on 1/10000.
    */
  private val momentExprs: Seq[String] = {
    val sumx  = "(CAST(sx AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val sumy  = "(CAST(sy AS DOUBLE) / CAST(100 AS DOUBLE))"
    val sumxx = "(CAST(sxx AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val sumyy = "(CAST(syy AS DOUBLE) / CAST(100 AS DOUBLE))"
    val sumxy = "(CAST(sxy AS DOUBLE) / CAST(100 AS DOUBLE))"
    val covN  = s"(n * $sumxy - $sumx * $sumy)"
    val varXN = s"(n * $sumxx - $sumx * $sumx)"
    val varYN = s"(n * $sumyy - $sumy * $sumy)"
    Seq(
      s"$sumx / n AS mean_x",
      s"$sumy / n AS mean_y",
      s"$covN / sqrt($varXN * $varYN) AS corr_xy",
      s"$covN / $varXN AS ols_slope")
  }

  def registry: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(

    // ROLLUP with grouping_id
    "q22_rollup" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid"))),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(CAST(SUM(CAST(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR abs(l_quantity) > 99999999999999.9 THEN NULL ELSE l_quantity END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
             |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // CUBE over two independent dimensions
    "q23_cube" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).orders
        .withColumn("order_year", year(col("o_orderdate")))
        .cube(col("o_orderpriority"), col("order_year"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),
      Some("""SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS order_year,
             |  count(*) AS n,
             |  CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS BIGINT) AS gid
             |FROM orders GROUP BY CUBE (o_orderpriority, year(o_orderdate))""".stripMargin)),

    // PIVOT: per-returnflag quantity with line status spread to columns.
    // The value list is explicit, so the plan is ONE aggregate pass —
    // no hidden distinct-values collect job before the pivot (the
    // two-job form Spark runs when values are omitted, which at 100 TB
    // is an extra full scan).
    "q45_pivot" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).lineitem
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")))
        .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))),
      Some("""SELECT l_returnflag,
             |  CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR abs(l_quantity) > 99999999999999.9 THEN NULL ELSE l_quantity END AS DECIMAL(18,4)) END) AS VARCHAR(64)) AS DOUBLE) AS qty_f,
             |  CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR abs(l_quantity) > 99999999999999.9 THEN NULL ELSE l_quantity END AS DECIMAL(18,4)) END) AS VARCHAR(64)) AS DOUBLE) AS qty_o
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // UNPIVOT (wide measures -> long (measure, val) rows): q45's
    // inverse, one projection-only pass — Spark plans Expand, no
    // shuffle, no per-measure rescan
    "q51_unpivot" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).lineitem
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "measure", "val")
        // SQL-standard UNPIVOT semantics EXCLUDE NULLS (the oracle's
        // default); Spark's unpivot keeps them — align on the standard:
        // an unknown measurement has no row in the long format
        .filter(col("val").isNotNull)),
      Some("""SELECT l_orderkey, l_linenumber, measure, val FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             |         l_discount, l_tax
             |  FROM lineitem WHERE l_orderkey % 10 = 0)
             |UNPIVOT (val FOR measure IN
             |  (l_quantity, l_extendedprice, l_discount, l_tax))""".stripMargin)),

    // explicit GROUPING SETS (the general form rollup/cube lower to):
    // disjoint dimension breakdowns in ONE pass over the fact table —
    // at 100 TB the alternative is one scan per breakdown
    "q52_grouping_sets" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        withTempViews(s, "v_lineitem" -> c.lineitem) { v =>
          s.sql(
            s"""SELECT l_returnflag, l_linestatus, l_shipdate,
               |  count(*) AS n,
               |  CAST(CAST(SUM(CAST(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR abs(l_quantity) > 99999999999999.9 THEN NULL ELSE l_quantity END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
               |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
               |  CAST(grouping(l_shipdate) AS INT) AS g_sd
               |FROM ${v("v_lineitem")}
               |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_shipdate))""".stripMargin)
        }
      }),
      Some("""SELECT l_returnflag, l_linestatus, l_shipdate,
             |  count(*) AS n,
             |  CAST(CAST(SUM(CAST(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR abs(l_quantity) > 99999999999999.9 THEN NULL ELSE l_quantity END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
             |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             |  CAST(GROUPING(l_shipdate) AS INT) AS g_sd
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_shipdate))""".stripMargin)),

    // A/B conversion z-test: md5 split, exact counts, IEEE-only test
    // statistic (sqrt is correctly rounded by IEEE 754 — unlike
    // log/exp it is safe on the wire, so the z-score hash-gates)
    "q54_ab_test" -> (
      ((s: SparkSession, d: String) => {
        val users = Catalog(s, d).events
          .groupBy(col("user_id"))
          // conversion = any HIGH-VALUE purchase: with value > 150 the
          // rate is ~45%, so both variance terms are non-degenerate (a
          // p=1 cohort would make z exactly 0/0 — ANSI throws, and the
          // test would be meaningless anyway)
          .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0, 1)
            .otherwise(0)).as("converted"))
          .withColumn("variant",
            when(Md5Prefix.bucket(col("user_id").cast("string"), 2) === 0, "A").otherwise("B"))
        val g = users.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
        val a = g.filter(col("variant") === "A")
          .select(col("n").as("n_a"), col("conv").as("conv_a"))
        val b = g.filter(col("variant") === "B")
          .select(col("n").as("n_b"), col("conv").as("conv_b"))
        a.crossJoin(broadcast(b)).selectExpr(
          Seq("n_a", "conv_a", "n_b", "conv_b") ++ abRateExprs: _*)
      }),
      Some(s"""WITH u AS (
              |  SELECT user_id,
              |    max(CASE WHEN event_type = 'purchase' AND value > 150.0
              |             THEN 1 ELSE 0 END) AS converted,
              |    CASE WHEN ${Md5Prefix.sql("CAST(user_id AS VARCHAR)")} % 2 = 0
              |         THEN 'A' ELSE 'B' END AS variant
              |  FROM events GROUP BY 1),
              |g AS (SELECT variant, count(*) AS n,
              |             CAST(sum(converted) AS BIGINT) AS conv FROM u GROUP BY 1),
              |ab AS (SELECT
              |  (SELECT n FROM g WHERE variant = 'A') AS n_a,
              |  (SELECT conv FROM g WHERE variant = 'A') AS conv_a,
              |  (SELECT n FROM g WHERE variant = 'B') AS n_b,
              |  (SELECT conv FROM g WHERE variant = 'B') AS conv_b)
              |SELECT n_a, conv_a, n_b, conv_b,
              |  ${abRateExprs.mkString(",\n  ")}
              |FROM ab""".stripMargin)),

    // correlation + OLS slope from EXACT sufficient statistics: Spark's
    // corr() streams order-dependent double co-moments (unmatchable);
    // here the six sufficient sums are exact longs on the value grid
    // (one partial+final pass, map-side combinable — the 100 TB shape),
    // and the closed forms are identical IEEE expression text in both
    // engines
    "q55_exact_stats" -> (
      ((s: SparkSession, d: String) => {
        // per-MEASURE stats domains, sized so the worst-case long
        // accumulation of the squared grids fits at 10^6 rows/group
        // (n·B²·grid ≤ 2^63; shard the aggregate beyond): quantities
        // ±10^4 (benign max ~50), prices ±3·10^5 (benign max ~10^5).
        // Out-of-domain observations are NULL-out like Exact.dec —
        // saturation would stack huge quanta and overflow the SUM (the
        // r13 hostile probe did exactly that twice)
        def sg(c: org.apache.spark.sql.Column, bound: Double) =
          when(c.isNull || isnan(c) || abs(c) > lit(bound), lit(null))
            .otherwise(c)
        val x = sg(col("l_quantity"), 1.0e4); val y = sg(col("l_extendedprice"), 3.0e5)
        Catalog(s, d).lineitem
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(floor(x * 10000.0).cast("long")).as("sx"),
            sum(floor(y * 100.0).cast("long")).as("sy"),
            sum(floor(x * x * 10000.0).cast("long")).as("sxx"),
            sum(floor(y * y * 100.0).cast("long")).as("syy"),
            sum(floor(x * y * 100.0).cast("long")).as("sxy"))
          .selectExpr(Seq("l_returnflag", "n") ++ momentExprs: _*)
          .orderBy(col("l_returnflag"))
      }),
      Some {
        def sg(x: String, bound: String) =
          s"(CASE WHEN $x IS NULL OR isnan($x) OR abs($x) > $bound " +
            s"THEN NULL ELSE $x END)"
        val x = sg("l_quantity", "10000.0"); val y = sg("l_extendedprice", "300000.0")
        s"""WITH sums AS (
           |  SELECT l_returnflag, count(*) AS n,
           |    CAST(sum(CAST(floor($x * 10000.0) AS BIGINT)) AS BIGINT) AS sx,
           |    CAST(sum(CAST(floor($y * 100.0) AS BIGINT)) AS BIGINT) AS sy,
           |    CAST(sum(CAST(floor($x * $x * 10000.0) AS BIGINT)) AS BIGINT) AS sxx,
           |    CAST(sum(CAST(floor($y * $y * 100.0) AS BIGINT)) AS BIGINT) AS syy,
           |    CAST(sum(CAST(floor($x * $y * 100.0) AS BIGINT)) AS BIGINT) AS sxy
           |  FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n,
           |  ${momentExprs.mkString(",\n  ")}
           |FROM sums ORDER BY l_returnflag""".stripMargin
      }),

    // analytic window frames: running sum + lag/lead
    "q24_window_frames" -> (windowFrames _, Some(windowFramesOracle)),

    // SQL-text frontend over temp views
    "q25_sql_api" -> (sqlApi _, Some(graft.analytics.RevenueByNation.oracle("EUROPE"))),

    // exact interpolated percentiles (continuous definition, identical
    // in both engines; interpolation is two IEEE ops on exact ranks)
    "q28_percentiles" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS median_qty,
             |  quantile_cont(l_quantity, 0.9) AS p90_qty,
             |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // string function family (F7 extension surface)
    "q29_string_funcs" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).part
        .select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devoweled"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 3).as("name_prefix"),
          levenshtein(col("p_brand"), lit("Brand#00")).as("brand_dist"),
          // concat (null-propagating, SQL || semantics), not concat_ws
          // (null-SKIPPING): the oracle's `a || '|' || b` is NULL when
          // either side is — the two only agree on non-null inputs
          concat(col("p_brand"), lit("|"), col("p_type")).as("brand_type"))),
      Some("""SELECT p_partkey,
             |  lower(p_name) AS name_lower,
             |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
             |  CAST(length(p_name) AS INT) AS name_len,
             |  substr(p_name, 1, 3) AS name_prefix,
             |  CAST(levenshtein(p_brand, 'Brand#00') AS INT) AS brand_dist,
             |  p_brand || '|' || p_type AS brand_type
             |FROM part""".stripMargin)),

    // date/time arithmetic family (F6 extension surface: the reference
    // deliberately avoids date functions; the engine offers both).
    // weekday (Mon=0) is the portable day-of-week: Spark dayofweek
    // (Sun=1) and DuckDB dayofweek (Sun=0) disagree, isodow-1 matches.
    "q30_date_arith" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).orders
        .select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("order_date"),
          date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          weekday(col("o_orderdate")).as("dow_mon0"),
          date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since_epoch"))),
      Some("""SELECT o_orderkey,
             |  CAST(o_orderdate AS DATE) AS order_date,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
             |  CAST(year(o_orderdate) AS INT) AS y,
             |  CAST(quarter(o_orderdate) AS INT) AS q,
             |  CAST(isodow(o_orderdate) - 1 AS INT) AS dow_mon0,
             |  CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
             |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch
             |FROM orders""".stripMargin)),

    // semi-structured JSON column extraction + aggregate
    "q26_json_props" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).events
        // malformed JSON and non-int k values are NULL, not errors:
        // get_json_object already nulls bad documents; try_cast nulls
        // non-numeric / overflowing extracts (ANSI cast aborted the
        // whole query on a single {"k": 1e309} in the hostile probe).
        // DuckDB mirrors with json_valid + TRY_CAST.
        .withColumn("k",
          get_json_object(col("props"), "$.k").try_cast("int"))
        .groupBy(col("event_type"))
        .agg(
          count(col("k")).as("n_with_k"),
          sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
             |                  THEN json_extract_string(props, '$.k') END AS INT) AS k
             |  FROM events)
             |SELECT event_type,
             |  count(k) AS n_with_k,
             |  CAST(SUM(k) AS BIGINT) AS sum_k,
             |  max(k) AS max_k
             |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // incremental maintenance of a weekly aggregate: stored partials
    // (pre-cutoff) merged with delta partials (post-cutoff) by
    // re-aggregation — the oracle is the FULL RECOMPUTE, so the hash
    // match proves merged-partials == batch (d12/q57's claim, for
    // materialized aggregates). The mergeable state is (count,
    // DECIMAL sum): decimal addition is associative, so two-level
    // summation is bit-identical to one-level; avg is derived from the
    // merged state at the end (avg itself is not distributive). The
    // cutoff week straddles the boundary, so base and delta genuinely
    // merge rows, not just union disjoint key ranges.
    "q60_incremental_agg" -> (
      ((s: SparkSession, d: String) => {
        val orders = Catalog(s, d).orders
        val cutTs = lit("2000-01-01 00:00:00").cast("timestamp")
        def partials(df: DataFrame): DataFrame = df
          .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week"),
            col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).as("sdec"))
        partials(orders.filter(col("o_orderdate") < cutTs))
          .unionByName(partials(orders.filter(col("o_orderdate") >= cutTs)))
          .groupBy(col("week"), col("o_orderpriority"))
          .agg(sum(col("n_orders")).as("n_orders"), sum(col("sdec")).as("sdec"))
          .select(col("week"), col("o_orderpriority"), col("n_orders"),
            col("sdec").cast("double").as("total_price"),
            (col("sdec").cast("double") / col("n_orders")).as("avg_price"))
      }),
      Some("""SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             |  o_orderpriority, count(*) AS n_orders,
             |  CAST(CAST(SUM(CAST(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) OR abs(o_totalprice) > 99999999999999.9 THEN NULL ELSE o_totalprice END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_price,
             |  CAST(CAST(SUM(CAST(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) OR abs(o_totalprice) > 99999999999999.9 THEN NULL ELSE o_totalprice END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) / count(*) AS avg_price
             |FROM orders GROUP BY 1, 2""".stripMargin))
  )
}
