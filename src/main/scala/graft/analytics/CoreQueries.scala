package graft.analytics

import graft.Tables._
import graft.etl.DimDate
import graft.ingest.Ingest
import QueryDsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational surface (SURVEY §2.1-2.8): scans, projections, filters,
  * joins, aggregations, windows, sorts, set ops, scalar functions — each
  * entry paired with its DuckDB oracle. Join strategy notes inline: small
  * dimensions are broadcast explicitly; aggregations rely on partial
  * (map-side) aggregation; every output is deterministically ordered so
  * the driver's hash compare is stable.
  */
object CoreQueries {

  private def li(s: SparkSession, d: String) = lineitem(s, d)
  private def ord(s: SparkSession, d: String) = orders(s, d)

  // --- aggregations -------------------------------------------------------

  /** A4/F10: TPC-H-Q1-shaped pricing summary. */
  val pricingSummary = Q("q_pricing_summary",
    (s, d) => li(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some(s"""SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_quantity")} AS sum_qty,
             ${dsumSql("l_extendedprice")} AS sum_base_price,
             ${dsumSql(revenueSql)} AS sum_disc_price,
             count(*) AS count_order
             FROM lineitem GROUP BY l_returnflag, l_linestatus
             ORDER BY l_returnflag, l_linestatus"""))

  /** A1-A3: grand-total KPIs (total revenue, row count, average price). */
  val kpiTotals = Q("q_kpi_totals",
    (s, d) => li(s, d).agg(
      dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("total_revenue"),
      count(lit(1)).as("n_items"),
      (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_item_price")),
    Some(s"""SELECT ${dsumSql(revenueSql)} AS total_revenue,
             count(*) AS n_items,
             ${dsumSql("l_extendedprice")} / count(*) AS avg_item_price
             FROM lineitem"""))

  /** A9: scalar MAX for surrogate-key sequencing. */
  val maxKey = Q("q_max_key",
    (s, d) => ord(s, d).agg(max(col("o_orderkey")).as("max_key")),
    Some("SELECT max(o_orderkey) AS max_key FROM orders"))

  /** A5/A6/A8: projected distinct, sorted (UI option lists). */
  val distinctFlags = Q("q_distinct_flags",
    (s, d) => li(s, d).select(col("l_returnflag"), col("l_linestatus"))
      .distinct().orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
            ORDER BY l_returnflag, l_linestatus"""))

  val distinctPriorities = Q("q_distinct_priorities",
    (s, d) => ord(s, d).select(col("o_orderpriority")).distinct().orderBy(col("o_orderpriority")),
    Some("SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"))

  /** A10: sales-performance mart — nation × year × status rollup. */
  val martSalesPerformance = Q("q_mart_sales_performance",
    (s, d) => ord(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("order_year"), col("o_orderstatus"))
      .agg(
        dsum(col("o_totalprice")).as("total_sales"),
        count(lit(1)).as("n_orders"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_order_value"))
      .orderBy(col("n_name"), col("order_year"), col("o_orderstatus")),
    Some(s"""SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
             ${dsumSql("o_totalprice")} AS total_sales,
             count(*) AS n_orders,
             ${dsumSql("o_totalprice")} / count(*) AS avg_order_value
             FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             GROUP BY n_name, year(o_orderdate), o_orderstatus
             ORDER BY n_name, order_year, o_orderstatus"""))

  /** A10: category-analysis mart over part type. */
  val martCategoryAnalysis = Q("q_mart_category_analysis",
    (s, d) => li(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(
        dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        dsum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_type")),
    Some(s"""SELECT p_type, ${dsumSql(revenueSql)} AS revenue,
             ${dsumSql("l_quantity")} AS total_qty, count(*) AS n_lines
             FROM lineitem JOIN part ON l_partkey = p_partkey
             GROUP BY p_type ORDER BY p_type"""))

  // --- filters / projections ---------------------------------------------

  /** P5: equality filter, aggregated (filter reaches the parquet scan). */
  val filterReturns = Q("q_filter_returns",
    (s, d) => li(s, d).filter(col("l_returnflag") === "R")
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("l_linestatus")),
    Some(s"""SELECT l_linestatus, count(*) AS n, ${dsumSql("l_extendedprice")} AS total_price
             FROM lineitem WHERE l_returnflag = 'R'
             GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** P6: conjunctive predicate, row output. */
  val filterConj = Q("q_filter_conj",
    (s, d) => ord(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_orderstatus = 'F' AND o_totalprice > 100000
            ORDER BY o_orderkey"""))

  /** P8: inequality filter (rest-of-market slice). */
  val filterNeq = Q("q_filter_neq",
    (s, d) => part(s, d).filter(col("p_brand") =!= "Brand#13")
      .groupBy(col("p_type")).agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_type")),
    Some("""SELECT p_type, count(*) AS n_parts FROM part
            WHERE p_brand <> 'Brand#13' GROUP BY p_type ORDER BY p_type"""))

  /** P1-P4: projection + renames (the reference's dim column mapping). */
  val projectRename = Q("q_project_rename",
    (s, d) => customer(s, d).select(
      col("c_custkey").as("customer_key"),
      col("c_name").as("customer_name"),
      col("c_mktsegment").as("segment"))
      .orderBy(col("customer_key")),
    Some("""SELECT c_custkey AS customer_key, c_name AS customer_name,
            c_mktsegment AS segment FROM customer ORDER BY customer_key"""))

  // --- joins --------------------------------------------------------------

  /** J1: key-mapping left join, dimension broadcast. */
  val keymapJoin = Q("q_keymap_join",
    (s, d) => ord(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("c_name").as("customer_name"), col("c_mktsegment").as("segment"))
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_totalprice, c_name AS customer_name,
            c_mktsegment AS segment
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey"""))

  /** J2 flagship: 3-way star join + calendar rollup (the dashboard's
    * star query re-expressed). lineitem⋈orders shuffles on orderkey;
    * customer broadcasts.
    */
  val starMonthlySegment = Q("q_star_monthly_segment",
    (s, d) => li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        col("c_mktsegment").as("segment"))
      .agg(
        dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("order_year"), col("order_month"), col("segment")),
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(month(o_orderdate) AS INT) AS order_month,
             c_mktsegment AS segment,
             ${dsumSql(revenueSql)} AS revenue, count(*) AS n_lines
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             GROUP BY 1, 2, 3 ORDER BY order_year, order_month, segment"""))

  /** Left-anti join: customers with no orders. */
  val antiJoin = Q("q_anti_join",
    (s, d) => customer(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey"""))

  /** Left-semi join: customers with at least one order. */
  val semiJoin = Q("q_semi_join",
    (s, d) => customer(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey"""))

  // --- windows ------------------------------------------------------------

  /** W1: monthly revenue trend + MoM growth via lag. */
  val monthlyGrowth = Q("q_monthly_growth",
    (s, d) => {
      val monthly = li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      val w = Window.orderBy(col("order_year"), col("order_month"))
      monthly
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("growth_pct",
          round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100, 6))
        .orderBy(col("order_year"), col("order_month"))
    },
    Some(s"""WITH monthly AS (
             SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                    CAST(month(o_orderdate) AS INT) AS order_month,
                    ${dsumSql(revenueSql)} AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1, 2)
             SELECT order_year, order_month, revenue,
                    lag(revenue) OVER (ORDER BY order_year, order_month) AS prev_revenue,
                    round((revenue - lag(revenue) OVER (ORDER BY order_year, order_month))
                          / lag(revenue) OVER (ORDER BY order_year, order_month) * 100, 6) AS growth_pct
             FROM monthly ORDER BY order_year, order_month"""))

  /** W2/A11: revenue share of total per segment (empty-frame window). */
  val revenueShare = Q("q_revenue_share",
    (s, d) => {
      val seg = li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      seg.withColumn("share_pct",
          round(col("revenue") / sum(col("revenue")).over(Window.partitionBy()) * 100, 6))
        .orderBy(col("segment"))
    },
    Some(s"""WITH seg AS (
             SELECT c_mktsegment AS segment, ${dsumSql(revenueSql)} AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey GROUP BY 1)
             SELECT segment, revenue,
                    round(revenue / sum(revenue) OVER () * 100, 6) AS share_pct
             FROM seg ORDER BY segment"""))

  /** W3/O3: top-10 customers by revenue (rank + deterministic tiebreak). */
  val topCustomers = Q("q_top_customers",
    (s, d) => {
      val rev = li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      // Distributed top-k (TakeOrderedAndProject) first; the global
      // row_number window then sorts only the 10 survivors — never the
      // whole per-customer aggregate through one partition.
      val top = rev.orderBy(col("revenue").desc, col("o_custkey")).limit(10)
      val w = Window.orderBy(col("revenue").desc, col("o_custkey"))
      top.withColumn("rk", row_number().over(w).cast("bigint"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("rk"), col("o_custkey").as("custkey"),
          col("c_name").as("customer_name"), col("revenue"))
        .orderBy(col("rk"))
    },
    Some(s"""WITH rev AS (
             SELECT o_custkey, ${dsumSql(revenueSql)} AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
             ranked AS (
             SELECT row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rk,
                    o_custkey AS custkey, revenue FROM rev)
             SELECT rk, custkey, c_name AS customer_name, revenue
             FROM ranked JOIN customer ON custkey = c_custkey
             WHERE rk <= 10 ORDER BY rk"""))

  /** W4: quarterly revenue with YoY comparison (lag 4). */
  val quarterlyYoy = Q("q_quarterly_yoy",
    (s, d) => {
      val q = li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("order_year"),
          quarter(col("o_orderdate")).as("order_quarter"))
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      val w = Window.orderBy(col("order_year"), col("order_quarter"))
      q.withColumn("prev_year_revenue", lag(col("revenue"), 4).over(w))
        .withColumn("yoy_pct", round(
          (col("revenue") - col("prev_year_revenue")) / col("prev_year_revenue") * 100, 6))
        .orderBy(col("order_year"), col("order_quarter"))
    },
    Some(s"""WITH q AS (
             SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                    CAST(quarter(o_orderdate) AS INT) AS order_quarter,
                    ${dsumSql(revenueSql)} AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2)
             SELECT order_year, order_quarter, revenue,
                    lag(revenue, 4) OVER (ORDER BY order_year, order_quarter) AS prev_year_revenue,
                    round((revenue - lag(revenue, 4) OVER (ORDER BY order_year, order_quarter))
                          / lag(revenue, 4) OVER (ORDER BY order_year, order_quarter) * 100, 6) AS yoy_pct
             FROM q ORDER BY order_year, order_quarter"""))

  /** W5: deterministic dense surrogate keys — the scalable assignment
    * ([[graft.etl.Scd2.denseKeys]]: range-partition + in-partition sort +
    * zipWithIndex). Same 1..n sequence a global `row_number` window would
    * produce, with no single-partition sort in the plan (Scd2Spec asserts
    * the plan shape).
    */
  val surrogateKeys = Q("q_surrogate_keys",
    (s, d) => graft.etl.Scd2.denseKeys(
      part(s, d).select(col("p_partkey"), col("p_name")),
      Seq("p_partkey"), "surrogate_key")
      .orderBy(col("surrogate_key")),
    Some("""SELECT p_partkey, p_name,
            row_number() OVER (ORDER BY p_partkey) AS surrogate_key
            FROM part ORDER BY surrogate_key"""))

  // --- set operations -----------------------------------------------------

  /** U1: union of two slices, re-aggregated. */
  val unionPriorities = Q("q_union_priorities",
    (s, d) => {
      val o = ord(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT")
        .unionByName(o.filter(col("o_orderpriority") === "2-HIGH"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS total
             FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
                   UNION ALL SELECT * FROM orders WHERE o_orderpriority = '2-HIGH')
             GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** EXCEPT: customer keys with no orders (set semantics). */
  val exceptCustomers = Q("q_except_customers",
    (s, d) => customer(s, d).select(col("c_custkey"))
      .except(ord(s, d).select(col("o_custkey")))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey FROM customer
            EXCEPT SELECT o_custkey FROM orders ORDER BY c_custkey"""))

  /** INTERSECT: customer keys that did order. */
  val intersectCustomers = Q("q_intersect_customers",
    (s, d) => customer(s, d).select(col("c_custkey"))
      .intersect(ord(s, d).select(col("o_custkey")))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey FROM customer
            INTERSECT SELECT o_custkey FROM orders ORDER BY c_custkey"""))

  // --- scalar functions / date dim ---------------------------------------

  /** F3/F4/F9: the date dimension (yyyymmdd key, calendar parts, pandas
    * Mon=0 weekday, weekend + fiscal-year buckets).
    */
  val dateDim = Q("q_date_dim",
    (s, d) => DimDate.fromColumn(ord(s, d), "o_orderdate").orderBy(col("order_date")),
    Some("""SELECT CAST(o_orderdate AS DATE) AS order_date,
            CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate) AS INT) AS date_key,
            CAST(year(o_orderdate) AS INT) AS year,
            CAST(quarter(o_orderdate) AS INT) AS quarter,
            CAST(month(o_orderdate) AS INT) AS month,
            CAST(isodow(o_orderdate) - 1 AS INT) AS weekday,
            CAST(CASE WHEN isodow(o_orderdate) >= 6 THEN 1 ELSE 0 END AS INT) AS is_weekend,
            CAST(CASE WHEN month(o_orderdate) >= 7 THEN year(o_orderdate)+1
                      ELSE year(o_orderdate) END AS INT) AS fiscal_year
            FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS o_orderdate FROM orders)
            ORDER BY order_date"""))

  /** The declared 4-dim model's product-category dimension (reference
    * README.md:132-138 gives category its own dim; the warehouse folds it
    * into dim_product): distinct (p_type, p_brand) take scalable dense
    * surrogate keys ([[graft.etl.Scd2.denseKeys]] — no single-partition
    * window), products bridge to the dim on the natural key, and the mart
    * aggregates per category_key.
    */
  val categoryBridge = Q("q_category_bridge",
    (s, d) => {
      val dim = graft.etl.Scd2.denseKeys(
        part(s, d).select(col("p_type"), col("p_brand")).distinct(),
        Seq("p_type", "p_brand"), "category_key")
      part(s, d)
        .join(broadcast(dim), Seq("p_type", "p_brand"))
        .groupBy(col("category_key"), col("p_type"), col("p_brand"))
        .agg(count(lit(1)).as("n_products"),
          dsum(col("p_retailprice")).as("total_retail"))
        .orderBy(col("category_key"))
    },
    Some(s"""WITH dim AS (SELECT p_type, p_brand,
               row_number() OVER (ORDER BY p_type, p_brand) AS category_key
               FROM (SELECT DISTINCT p_type, p_brand FROM part))
             SELECT category_key, p.p_type, p.p_brand, count(*) AS n_products,
               ${dsumSql("p_retailprice")} AS total_retail
             FROM part p JOIN dim ON p.p_type = dim.p_type AND p.p_brand = dim.p_brand
             GROUP BY 1, 2, 3 ORDER BY category_key"""))

  /** Declared analytical query #5 (reference README.md:290): weekend vs
    * weekday revenue — star join × the DimDate weekend flag (pandas
    * Mon=0 weekday semantics, so weekend = weekday >= 5).
    */
  val weekendRevenue = Q("q_weekend_revenue",
    (s, d) => li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(weekday(col("o_orderdate")).geq(5).cast("int").as("is_weekend"))
      .agg(
        dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("is_weekend")),
    Some(s"""SELECT CAST(CASE WHEN isodow(o_orderdate) >= 6 THEN 1 ELSE 0 END AS INT) AS is_weekend,
             ${dsumSql(revenueSql)} AS revenue, count(*) AS n_lines,
             count(DISTINCT o_orderkey) AS n_orders
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1 ORDER BY is_weekend"""))

  /** F5/F6: null synthesis + fill defaults (numeric and string). */
  val fillNa = Q("q_fillna",
    (s, d) => customer(s, d)
      .withColumn("segment_raw", when(col("c_mktsegment") === "BUILDING", lit(null))
        .otherwise(col("c_mktsegment")))
      .withColumn("bal_raw", when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      .na.fill(Map("segment_raw" -> "UNKNOWN", "bal_raw" -> 0.0))
      .select(col("c_custkey"), col("segment_raw").as("segment_filled"),
        col("bal_raw").as("bal_filled"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
            coalesce(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END,
                     'UNKNOWN') AS segment_filled,
            coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_filled
            FROM customer ORDER BY c_custkey"""))

  /** F9: CASE bucketing (declared age-group/segment buckets, applied to
    * account balance).
    */
  val caseBuckets = Q("q_case_buckets",
    (s, d) => customer(s, d)
      .withColumn("balance_bucket",
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 1000, "low")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high"))
      .groupBy(col("balance_bucket")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("balance_bucket")),
    Some("""SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                        WHEN c_acctbal < 1000 THEN 'low'
                        WHEN c_acctbal < 5000 THEN 'mid'
                        ELSE 'high' END AS balance_bucket,
            count(*) AS n_customers FROM customer
            GROUP BY 1 ORDER BY balance_bucket"""))

  /** F8: md5 row-hash change-detection fingerprint. */
  val rowHash = Q("q_row_hash",
    (s, d) => nation(s, d).select(col("n_nationkey"),
      md5(concat_ws("|", col("n_nationkey").cast("string"), col("n_name"),
        col("n_regionkey").cast("string"))).as("row_hash"))
      .orderBy(col("n_nationkey")),
    Some("""SELECT n_nationkey,
            md5(concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name,
                CAST(n_regionkey AS VARCHAR))) AS row_hash
            FROM nation ORDER BY n_nationkey"""))

  /** S7: JSON field extraction (the declared REST/JSON flatten path). */
  val jsonExtract = Q("q_json_extract",
    (s, d) => events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k")),
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
            FROM events GROUP BY 1 ORDER BY k"""))

  // --- source/sink roundtrips --------------------------------------------

  /** S1/S2/P2/F2: CSV sink + scan roundtrip with explicit schema. */
  val csvRoundtrip = Q("q_csv_roundtrip",
    (s, d) => {
      val out = Fixtures.tablePath(s, d, "csv")
      region(s, d).coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
      Ingest.readCsv(s, out, schema).orderBy(col("r_regionkey"))
    },
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  /** Data-quality audit over lineitem: four constraints evaluated in one
    * aggregation pass ([[graft.operators.DataQuality.audit]]); null
    * constraint results count as violations (IS NOT TRUE) in both
    * engines.
    */
  val dataQuality = Q("q_data_quality",
    (s, d) => graft.operators.DataQuality.audit(li(s, d), Seq(
      graft.operators.DataQuality.Check("discount_range",
        col("l_discount") >= 0 && col("l_discount") <= 0.1),
      graft.operators.DataQuality.Check("orderkey_not_null",
        col("l_orderkey").isNotNull),
      graft.operators.DataQuality.Check("quantity_range",
        col("l_quantity") >= 1 && col("l_quantity") <= 50),
      graft.operators.DataQuality.Check("revenue_positive",
        revenue(col("l_extendedprice"), col("l_discount")) > 0)))
      .orderBy(col("check_name")),
    Some("""WITH t AS (SELECT count(*) AS n_rows,
              count(*) FILTER (WHERE (l_discount >= 0 AND l_discount <= 0.1) IS NOT TRUE)
                AS v_disc,
              count(*) FILTER (WHERE (l_orderkey IS NOT NULL) IS NOT TRUE) AS v_ok,
              count(*) FILTER (WHERE (l_quantity >= 1 AND l_quantity <= 50) IS NOT TRUE)
                AS v_qty,
              count(*) FILTER (WHERE (l_extendedprice*(1-l_discount) > 0) IS NOT TRUE)
                AS v_rev
              FROM lineitem)
            SELECT 'discount_range' AS check_name, v_disc AS n_violations, n_rows FROM t
            UNION ALL SELECT 'orderkey_not_null', v_ok, n_rows FROM t
            UNION ALL SELECT 'quantity_range', v_qty, n_rows FROM t
            UNION ALL SELECT 'revenue_positive', v_rev, n_rows FROM t
            ORDER BY check_name"""))

  /** Privacy release gate: k-anonymity suppression over the
    * (segment, nation) quasi-identifier
    * ([[graft.operators.DataQuality.kAnonymize]]) — cells under k=10
    * collapse into one '(suppressed)' bucket, and the suppression set
    * EXTENDS over the next-smallest cells until that bucket itself holds
    * ≥ k rows (a residual under k would leak exactly the small-group
    * fact the gate hides). The oracle replays the whole rule: cell
    * counts, the deterministic (count, values) order, the
    * cumulative-before-prefix extension, and the masked rollup.
    */
  val kAnonymity = Q("q_k_anonymity",
    (s, d) => {
      val cust = customer(s, d).select(col("c_mktsegment"),
        col("c_nationkey"), col("c_acctbal"))
      graft.operators.DataQuality.kAnonymize(cust,
          Seq("c_mktsegment", "c_nationkey"), k = 10L)
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("total_balance"))
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    },
    Some(s"""WITH cells AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
           count(*) AS cnt FROM customer GROUP BY 1, 2),
         ord AS (SELECT seg, nat, cnt,
           coalesce(sum(cnt) OVER (
             ORDER BY cnt, seg, CAST(nat AS VARCHAR)
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
           FROM cells),
         anyu AS (SELECT max(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) AS a
           FROM cells),
         flag AS (SELECT seg, nat,
           (SELECT a FROM anyu) = 1 AND (cnt < 10 OR cumb < 10) AS supp
           FROM ord),
         g AS (SELECT c.c_acctbal,
           CASE WHEN f.supp THEN '(suppressed)' ELSE c.c_mktsegment END
             AS c_mktsegment,
           CASE WHEN f.supp THEN '(suppressed)'
             ELSE CAST(c.c_nationkey AS VARCHAR) END AS c_nationkey
           FROM customer c JOIN flag f
             ON c.c_mktsegment = f.seg AND c.c_nationkey = f.nat)
         SELECT c_mktsegment, c_nationkey, count(*) AS n_customers,
           ${dsumSql("c_acctbal")} AS total_balance
         FROM g GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Interval-OVERLAP join via the same bucketed scale path
    * ([[graft.operators.RangeJoin.intervalOverlap]]): lineitem shipping
    * windows (3-7 days, width derived deterministically from the line
    * number) matched against two-week order windows on a bounded key
    * slice. Pairs are found by a bucket hash join and kept at exactly ONE
    * bucket (the later start), so the dedup is a codegen filter, not a
    * distinct shuffle; the oracle is the plain quadratic BETWEEN join
    * over the same slice.
    */
  val intervalJoin = Q("q_interval_join",
    (s, d) => {
      val cap = ord(s, d).agg(max(col("o_orderkey")).cast("long"))
        .head().getLong(0) / 100
      val liIv = li(s, d).filter(col("l_orderkey") <= cap)
        .select(col("l_orderkey"), col("l_linenumber"),
          unix_date(to_date(col("l_shipdate"))).cast("long").as("l_start"))
        .withColumn("l_end",
          col("l_start") + pmod(col("l_linenumber").cast("long"), lit(5L)) +
            lit(3L))
      val odIv = ord(s, d).filter(col("o_orderkey") <= cap)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
          unix_date(to_date(col("o_orderdate"))).cast("long").as("o_start"))
        .withColumn("o_end", col("o_start") + lit(14L))
      val pairs = graft.operators.RangeJoin
        .intervalOverlap(liIv, odIv, "l_start", "l_end", "o_start", "o_end",
          bucketWidth = 7L)
        // three aggregation consumers (count, two distincts) share one
        // materialization instead of three range joins
        .localCheckpoint()
      // AT MOST ONE count_distinct per agg: two+ makes Spark's
      // RewriteDistinctAggregates assign Expand group ids by hash-map
      // iteration over expression ids — session-history-dependent plan
      // text, the q_profile fingerprint-drift class. The second distinct
      // is an explicit two-level aggregate instead.
      val base = pairs.groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("l_orderkey"), col("l_linenumber"))
            .as("n_lineitems"))
      val orders = pairs.select(col("o_year"), col("o_orderkey")).distinct()
        .groupBy(col("o_year")).agg(count(lit(1)).as("n_orders"))
      base.join(orders, Seq("o_year"))
        .select(col("o_year"), col("n_pairs"), col("n_lineitems"),
          col("n_orders"))
        .orderBy(col("o_year"))
    },
    Some("""WITH mk AS (SELECT max(o_orderkey) // 100 AS cap FROM orders),
         liv AS (SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ls
           FROM lineitem, mk WHERE l_orderkey <= cap),
         liv2 AS (SELECT l_orderkey, l_linenumber, ls,
             ls + (l_linenumber % 5) + 3 AS le FROM liv),
         oiv AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS os
           FROM orders, mk WHERE o_orderkey <= cap),
         oiv2 AS (SELECT o_orderkey, o_year, os, os + 14 AS oe FROM oiv),
         pairs AS (SELECT * FROM liv2 JOIN oiv2 ON ls <= oe AND os <= le)
         SELECT o_year, count(*) AS n_pairs,
           count(DISTINCT (l_orderkey, l_linenumber)) AS n_lineitems,
           count(DISTINCT o_orderkey) AS n_orders
         FROM pairs GROUP BY 1 ORDER BY 1"""))

  /** Point-in-interval range join via the bucketed scale path
    * ([[graft.operators.RangeJoin.pointInInterval]]): orders assigned to
    * quarter windows by containment, NOT by a nested-loop BETWEEN join —
    * the shape that survives when both sides are too big to broadcast.
    * 32-day buckets ≈ 4 buckets per quarter interval.
    */
  val rangeJoin = Q("q_range_join",
    (s, d) => {
      val pts = ord(s, d).select(col("o_orderkey"), col("o_totalprice"),
        unix_date(to_date(col("o_orderdate"))).as("day"))
      val iv = ord(s, d)
        .select(to_date(date_trunc("quarter", col("o_orderdate"))).as("q_start"))
        .distinct()
        .select(col("q_start"),
          unix_date(col("q_start")).as("s_day"),
          (unix_date(add_months(col("q_start"), 3)) - 1).as("e_day"))
      graft.operators.RangeJoin
        .pointInInterval(pts, iv, "day", "s_day", "e_day", bucketWidth = 32L)
        .groupBy(col("q_start"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("q_start"))
    },
    Some(s"""WITH pts AS (SELECT o_orderkey, o_totalprice,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
               FROM orders),
             qs AS (SELECT DISTINCT CAST(date_trunc('quarter', o_orderdate) AS DATE)
                 AS q_start FROM orders),
             iv AS (SELECT q_start,
               CAST(q_start - DATE '1970-01-01' AS BIGINT) AS s_day,
               CAST(CAST(q_start + INTERVAL 3 MONTH AS DATE)
                    - DATE '1970-01-01' AS BIGINT) - 1 AS e_day FROM qs)
             SELECT q_start, count(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS revenue
             FROM pts JOIN iv ON day BETWEEN s_day AND e_day
             GROUP BY 1 ORDER BY q_start"""))

  /** Column-profile discovery over lineitem: per-column null and exact
    * distinct counts in one scan ([[graft.operators.DataQuality.profile]])
    * — the step that precedes writing audit checks.
    */
  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
    "l_shipdate")

  val profileLineitem = Q("q_profile",
    (s, d) => graft.operators.DataQuality.profile(li(s, d), profileCols)
      .orderBy(col("column_name")),
    Some(profileCols.map(c =>
        s"""SELECT '$c' AS column_name,
            count(*) - count($c) AS n_nulls,
            count(DISTINCT $c) AS n_distinct,
            count(*) AS n_rows FROM lineitem""")
      .mkString("", "\nUNION ALL ", "\nORDER BY column_name")))

  /** Skew-salted join through the oracle gate: the salted plan must equal
    * the plain join exactly (the oracle IS the plain join), while fanning
    * any hot part key over saltFactor reducers.
    */
  val skewJoin = Q("q_skew_join",
    (s, d) => graft.operators.SkewJoin.saltedJoin(
        li(s, d).withColumnRenamed("l_partkey", "p_partkey"),
        part(s, d).select(col("p_partkey"), col("p_type")),
        keys = Seq("p_partkey"), saltFactor = 8, joinType = "inner",
        discriminators = Seq("l_orderkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("total_qty"))
      .orderBy(col("p_type")),
    Some(s"""SELECT p_type, count(*) AS n_lines, ${dsumSql("l_quantity")} AS total_qty
             FROM lineitem JOIN part ON l_partkey = p_partkey
             GROUP BY p_type ORDER BY p_type"""))

  /** S5/S6: parquet sink + scan roundtrip. */
  val parquetRoundtrip = Q("q_parquet_roundtrip",
    (s, d) => {
      val out = Fixtures.tablePath(s, d, "pq")
      nation(s, d).write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy(col("n_nationkey"))
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** S5/S6 variant: ORC sink + scan roundtrip (the second columnar
    * format a warehouse migration needs; same content oracle as parquet).
    */
  val orcRoundtrip = Q("q_orc_roundtrip",
    (s, d) => {
      val out = Fixtures.tablePath(s, d, "orc")
      nation(s, d).write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("n_nationkey"))
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** JSON-lines sink → scan roundtrip (the third interchange format next
    * to CSV and ORC): supplier written as json-lines and read back with
    * an EXPLICIT schema — inference would widen int32 to long and read
    * order is nondeterministic, so production json reads always declare
    * their schema. Doubles survive because Spark serializes the shortest
    * round-trip decimal form.
    */
  val jsonRoundtrip = Q("q_json_roundtrip",
    (s, d) => {
      val out = Fixtures.tablePath(s, d, "json")
      val src = supplier(s, d)
      src.write.mode("overwrite").json(out)
      s.read.schema(src.schema).json(out).orderBy(col("s_suppkey"))
    },
    Some("SELECT * FROM supplier ORDER BY s_suppkey"))

  /** Small-file compaction content roundtrip: fragment the nation table
    * into per-row files (the layout a micro-batch ingest accretes), run
    * [[graft.sources.Maintenance.compact]], and return the full content —
    * the oracle pins that a layout rewrite is row-for-row lossless, and
    * MaintenanceSpec pins the file-count collapse itself.
    */
  val compactRoundtrip = Q("q_compact",
    (s, d) => {
      val out = Fixtures.memo(s, d, "corecompact") { out =>
        nation(s, d).repartition(8).write.mode("overwrite").parquet(out)
        graft.sources.Maintenance.compact(s, out)
      }
      s.read.parquet(out).orderBy(col("n_nationkey"))
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey"))

  /** Dynamic partition overwrite: write orders partitioned by status,
    * then overwrite ONLY status 'O' with re-derived rows. Partitions 'F'
    * and 'P' must come back byte-identical (the oracle's non-O branch) —
    * static overwrite mode would have dropped them, which is exactly the
    * failure this query guards.
    */
  val partitionOverwrite = Q("q_partition_overwrite",
    (s, d) => {
      val out = Fixtures.memo(s, d, "dpo") { out =>
        val base = ord(s, d).select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        graft.sources.Maintenance.overwritePartitions(base, out,
          Seq("o_orderstatus"))
        val patch = base.filter(col("o_orderstatus") === "O")
          .withColumn("o_totalprice", col("o_totalprice") + 1)
        graft.sources.Maintenance.overwritePartitions(patch, out,
          Seq("o_orderstatus"))
      }
      s.read.parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n_orders,
         ${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 1 " +
        "ELSE o_totalprice END")} AS total
         FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Footer-exact metadata counts: per-table row counts read from parquet
    * footers only ([[graft.sources.ParquetMeta.rowCount]] — no Spark job)
    * vs the oracle's actual COUNT(*) — pins that metadata-only sizing
    * decisions (ANN planes, compaction splits) agree with the data.
    */
  val metaCount = Q("q_meta_count",
    (s, d) => {
      import s.implicits._
      Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier")
        .map(t => (t, graft.sources.ParquetMeta.rowCount(s, s"$d/$t.parquet")))
        .toDF("table_name", "n_rows").orderBy(col("table_name"))
    },
    Some("""SELECT 'customer' AS table_name, count(*) AS n_rows FROM customer
         UNION ALL SELECT 'documents', count(*) FROM documents
         UNION ALL SELECT 'embeddings', count(*) FROM embeddings
         UNION ALL SELECT 'events', count(*) FROM events
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         UNION ALL SELECT 'nation', count(*) FROM nation
         UNION ALL SELECT 'orders', count(*) FROM orders
         UNION ALL SELECT 'part', count(*) FROM part
         UNION ALL SELECT 'region', count(*) FROM region
         UNION ALL SELECT 'supplier', count(*) FROM supplier
         ORDER BY table_name"""))

  /** The SQL entry point end-to-end: temp views + `spark.sql` — the
    * dashboard's query path (reference dashboard/app.py:51-58 runs SQL
    * strings against the warehouse).
    */
  val sqlInterface = Q("q_sql_interface",
    (s, d) => {
      ord(s, d).createOrReplaceTempView("v_orders")
      customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""SELECT c_mktsegment, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total_sales
               FROM v_orders JOIN v_customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
    Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS total_sales
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** The native cosine expression reached from PURE SQL via the
    * registered extension function — proves the custom Expression is a
    * first-class SQL citizen, and the oracle replays the math with list
    * comprehensions.
    */
  val sqlCosine = Q("q_sql_cosine",
    (s, d) => {
      graft.GraftExtensions.register(s)
      embeddings(s, d).createOrReplaceTempView("v_embeddings")
      s.sql("""WITH q AS (SELECT embedding AS qv FROM v_embeddings WHERE vec_id = 0)
               SELECT vec_id, round(cosine_similarity(embedding, qv), 6) AS cosine_sim
               FROM v_embeddings, q WHERE vec_id <> 0
               ORDER BY cosine_sim DESC, vec_id LIMIT 10""")
    },
    Some(NorthStarQueries.cosineTopKOracle))

  /** X5: approx distinct (HLL++), ORACLED BY COMPOSITION: DuckDB cannot
    * replay Spark's sketch, so the output carries the EXACT distinct
    * count (replayable), the row count, and a bound flag asserting the
    * HLL estimate landed within 15% of exact (3x the default 5% rsd;
    * the sketch is deterministic per dataset, so the flag is stable) —
    * a drifted or broken sketch now fails the hash gate loudly instead
    * of hiding behind a rows-only check, while the estimate itself
    * stays engine-private.
    */
  val approxDistinctParts = Q("q_approx_distinct_parts",
    (s, d) => {
      val base = li(s, d)
      val ap = base.agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      val ex = base.select(col("l_partkey")).distinct()
        .agg(count(lit(1)).as("n_exact"))
      ap.crossJoin(broadcast(ex)).select(col("n_exact"), col("n_rows"),
        (abs(col("approx_parts") - col("n_exact")) <=
          col("n_exact") * lit(0.15)).as("hll_within_bound"))
    },
    Some("""SELECT count(DISTINCT l_partkey) AS n_exact,
            count(*) AS n_rows, true AS hll_within_bound FROM lineitem"""))

  val all: Seq[Q] = Seq(
    pricingSummary, kpiTotals, maxKey, distinctFlags, distinctPriorities,
    martSalesPerformance, martCategoryAnalysis, filterReturns, filterConj,
    filterNeq, projectRename, keymapJoin, starMonthlySegment, antiJoin,
    semiJoin, monthlyGrowth, revenueShare, topCustomers, quarterlyYoy,
    surrogateKeys, categoryBridge, unionPriorities, exceptCustomers,
    intersectCustomers, dateDim, weekendRevenue, fillNa, caseBuckets,
    rowHash, jsonExtract, dataQuality, profileLineitem, kAnonymity,
    rangeJoin, intervalJoin, skewJoin,
    csvRoundtrip,
    parquetRoundtrip, orcRoundtrip, jsonRoundtrip, compactRoundtrip,
    partitionOverwrite,
    metaCount, sqlInterface, sqlCosine,
    approxDistinctParts)
}
