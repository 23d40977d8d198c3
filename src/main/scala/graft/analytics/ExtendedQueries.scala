package graft.analytics

import graft.Tables._
import QueryDsl._
import org.apache.spark.sql.functions._

/** Extended analytics surface beyond the reference's literal queries:
  * hierarchical rollups, pivoted cross-tabs, exact percentiles — the
  * standard BI shapes a user of the reference's dashboard would reach for
  * next, all oracle-verified.
  */
object ExtendedQueries {

  /** ROLLUP: nation → year hierarchy with subtotals and a grand total.
    * `grouping()` flags disambiguate real nulls from subtotal rows.
    */
  val rollupSales = Q("q_rollup_sales",
    (s, d) => orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("order_year", year(col("o_orderdate")))
      .rollup(col("n_name"), col("order_year"))
      .agg(dsum(col("o_totalprice")).as("total_sales"), count(lit(1)).as("n_orders"),
        (grouping(col("n_name")) * 2 + grouping(col("order_year")))
          .cast("int").as("is_total_row"))
      .orderBy(col("is_total_row"), col("n_name"), col("order_year")),
    Some(s"""SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
             ${dsumSql("o_totalprice")} AS total_sales, count(*) AS n_orders,
             CAST(CASE WHEN GROUPING(n_name) = 1 AND GROUPING(year(o_orderdate)) = 1 THEN 3
                       WHEN GROUPING(year(o_orderdate)) = 1 THEN 1
                       ELSE 0 END AS INT) AS is_total_row
             FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             GROUP BY ROLLUP (n_name, year(o_orderdate))
             ORDER BY is_total_row, n_name, order_year"""))

  /** CUBE: all 2^2 grouping combinations of (status, priority) in one
    * pass — the full-lattice form of the rollup above, with the same
    * grouping-flag disambiguation of subtotal rows.
    */
  val cubeSales = Q("q_cube_sales",
    (s, d) => orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("total_sales"), count(lit(1)).as("n_orders"),
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
          .cast("int").as("grp"))
      .orderBy(col("grp"), col("o_orderstatus"), col("o_orderpriority")),
    Some(s"""SELECT o_orderstatus, o_orderpriority,
             ${dsumSql("o_totalprice")} AS total_sales, count(*) AS n_orders,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
               AS grp
             FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             ORDER BY grp, o_orderstatus, o_orderpriority"""))

  /** UNPIVOT/melt: wide per-flag metrics to long (flag, metric, value)
    * rows — the inverse of the pivot below (metrics cast to one type, as
    * melt requires).
    */
  val unpivotMetrics = Q("q_unpivot",
    (s, d) => lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n_lines"),
        dsum(col("l_quantity")).as("total_qty"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("n_lines"), col("total_qty")), "metric", "value")
      .orderBy(col("l_returnflag"), col("metric")),
    Some(s"""WITH b AS (SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n_lines,
               ${dsumSql("l_quantity")} AS total_qty
               FROM lineitem GROUP BY 1)
             SELECT l_returnflag, 'n_lines' AS metric, n_lines AS value FROM b
             UNION ALL
             SELECT l_returnflag, 'total_qty', total_qty FROM b
             ORDER BY l_returnflag, metric"""))

  /** Pivot: revenue per year cross-tabbed by market segment (the
    * dashboard's stacked-chart shape). Oracle uses conditional
    * aggregation — column names must match the pivoted output.
    */
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val pivotSegmentYear = Q("q_pivot_segment_year",
    (s, d) => orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("c_mktsegment", segments)
      .agg(dsum(col("o_totalprice")))
      .orderBy(col("order_year")),
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             ${segments.map(g =>
               s"CAST(sum(CASE WHEN c_mktsegment = '$g' THEN CAST(o_totalprice AS DECIMAL(27,4)) END) AS DOUBLE) AS $g")
               .mkString(", ")}
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY 1 ORDER BY order_year"""))

  /** Exact interpolated percentiles (median/p90 order value per status).
    * Spark `percentile` and DuckDB `quantile_cont` share the continuous
    * interpolation definition.
    */
  val percentiles = Q("q_percentiles",
    (s, d) => orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus,
            round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
            round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
            count(*) AS n
            FROM orders GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Histogram bucketing via width_bucket (value distribution shape). */
  val histogram = Q("q_histogram",
    (s, d) => lineitem(s, d)
      .select(width_bucket(col("l_quantity"), lit(0.0), lit(50.0), lit(10L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket")),
    // DuckDB 1.0 has no width_bucket — replay its definition arithmetically.
    Some("""SELECT CAST(CASE WHEN l_quantity < 0 THEN 0
                             WHEN l_quantity >= 50 THEN 11
                             ELSE 1 + floor(l_quantity / 5.0) END AS BIGINT) AS bucket,
            count(*) AS n FROM lineitem GROUP BY 1 ORDER BY bucket"""))

  /** Conditional aggregation (count_if / sum-where family). */
  val conditionalAgg = Q("q_conditional_agg",
    (s, d) => lineitem(s, d).agg(
      count_if(col("l_returnflag") === "R").as("n_returned"),
      count_if(col("l_discount") > 0.05).as("n_discounted"),
      dsum(when(col("l_returnflag") === "R",
        revenue(col("l_extendedprice"), col("l_discount")))).as("returned_revenue")),
    Some(s"""SELECT count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
             count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
             CAST(sum(CAST($revenueSql AS DECIMAL(27,4)))
                  FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS returned_revenue
             FROM lineitem"""))

  /** GROUPING SETS: two independent rollup axes (by nation, by status) in
    * one pass over the join — the general form of the marts' rollups.
    */
  val groupingSets = Q("q_grouping_sets",
    (s, d) => {
      val j = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      j.groupingSets(Seq(Seq(col("n_name")), Seq(col("o_orderstatus"))),
          col("n_name"), col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("total_sales"), count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"), col("o_orderstatus"))
    },
    Some(s"""SELECT n_name, o_orderstatus,
             ${dsumSql("o_totalprice")} AS total_sales, count(*) AS n_orders
             FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             GROUP BY GROUPING SETS ((n_name), (o_orderstatus))
             ORDER BY n_name, o_orderstatus"""))

  /** Cumulative revenue over months (running-total window; exact decimal
    * accumulation keeps the cumulative sums oracle-exact too).
    */
  val runningTotal = Q("q_running_total",
    (s, d) => {
      val monthly = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(27,4)")).as("rev_dec"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("order_year"), col("order_month"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      monthly
        .withColumn("cumulative_revenue", sum(col("rev_dec")).over(w).cast("double"))
        .select(col("order_year"), col("order_month"),
          col("rev_dec").cast("double").as("revenue"), col("cumulative_revenue"))
        .orderBy(col("order_year"), col("order_month"))
    },
    Some(s"""WITH monthly AS (
             SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                    CAST(month(o_orderdate) AS INT) AS order_month,
                    sum(CAST($revenueSql AS DECIMAL(27,4))) AS rev_dec
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2)
             SELECT order_year, order_month,
                    CAST(rev_dec AS DOUBLE) AS revenue,
                    CAST(sum(rev_dec) OVER (ORDER BY order_year, order_month
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumulative_revenue
             FROM monthly ORDER BY order_year, order_month"""))

  /** Per-customer revenue within segment + its ranking window — shared by
    * q_window_stats and q_top_per_group so the tiebreak can never drift
    * between them.
    */
  private def segmentRevenue(s: org.apache.spark.sql.SparkSession, d: String) =
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(dsum(col("o_totalprice")).as("revenue"))

  private val segmentRevenueWindow = org.apache.spark.sql.expressions.Window
    .partitionBy(col("c_mktsegment"))
    .orderBy(col("revenue").desc, col("c_custkey"))

  /** Distribution window functions over one window spec (one sort):
    * segment-relative quartile, percent rank, cumulative distribution,
    * and the segment leader via first_value. Ties are broken by customer
    * key, so rank-family results are engine-independent.
    */
  val windowStats = Q("q_window_stats",
    (s, d) => {
      val w = segmentRevenueWindow
      segmentRevenue(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("revenue"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        first_value(col("c_custkey")).over(w).as("segment_leader"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    },
    Some(s"""WITH rev AS (
               SELECT c_custkey, c_mktsegment,
                      ${dsumSql("o_totalprice")} AS revenue
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_custkey, c_mktsegment)
             SELECT c_custkey, c_mktsegment, revenue,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               first_value(c_custkey) OVER w AS segment_leader
             FROM rev
             WINDOW w AS (PARTITION BY c_mktsegment
                          ORDER BY revenue DESC, c_custkey)
             ORDER BY c_mktsegment, c_custkey"""))

  /** Multiset set ops: EXCEPT ALL / INTERSECT ALL on order-priority
    * bags of two adjacent years (duplicates preserved — the semantics
    * DISTINCT-based set ops lose).
    */
  val exceptAllPriorities = Q("q_except_all",
    (s, d) => {
      def bag(y: Int) = orders(s, d)
        .filter(year(col("o_orderdate")) === y).select(col("o_orderpriority"))
      bag(1995).exceptAll(bag(1996))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH a AS (SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1995),
                 b AS (SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996),
                 x AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
            SELECT o_orderpriority, count(*) AS n FROM x
            GROUP BY 1 ORDER BY o_orderpriority"""))

  val intersectAllPriorities = Q("q_intersect_all",
    (s, d) => {
      def bag(y: Int) = orders(s, d)
        .filter(year(col("o_orderdate")) === y).select(col("o_orderpriority"))
      bag(1995).intersectAll(bag(1996))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH a AS (SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1995),
                 b AS (SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996),
                 x AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
            SELECT o_orderpriority, count(*) AS n FROM x
            GROUP BY 1 ORDER BY o_orderpriority"""))

  /** Gap-fill / resample: a complete month spine (sequence + explode over
    * the broadcast min/max span) left-joined to a sparse monthly series,
    * missing months filled with zeros — the time-series densification
    * every trend chart needs before plotting.
    */
  val gapFill = Q("q_gap_fill",
    (s, d) => {
      val sparse = orders(s, d).filter(col("o_totalprice") > 450000)
      val monthly = sparse
        .groupBy(trunc(col("o_orderdate"), "month").as("month"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      val span = sparse.agg(
        trunc(min(col("o_orderdate")), "month").as("_lo"),
        trunc(max(col("o_orderdate")), "month").as("_hi"))
      val spine = span.select(
        explode(sequence(col("_lo"), col("_hi"), expr("INTERVAL 1 MONTH"))).as("month"))
      spine.join(monthly, Seq("month"), "left")
        .select(col("month"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("month"))
    },
    Some(s"""WITH sparse AS (SELECT * FROM orders WHERE o_totalprice > 450000),
             monthly AS (
               SELECT date_trunc('month', o_orderdate) AS month,
                      ${dsumSql("o_totalprice")} AS revenue, count(*) AS n_orders
               FROM sparse GROUP BY 1),
             spine AS (
               SELECT unnest(generate_series(
                 (SELECT date_trunc('month', min(o_orderdate)) FROM sparse),
                 (SELECT date_trunc('month', max(o_orderdate)) FROM sparse),
                 INTERVAL 1 MONTH))::DATE AS month)
             SELECT s.month, coalesce(m.revenue, 0.0) AS revenue,
                    coalesce(m.n_orders, 0) AS n_orders
             FROM spine s LEFT JOIN monthly m ON s.month = m.month
             ORDER BY s.month"""))

  /** Sorted array aggregation, emitted as a joined string (driver-hash
    * safe): the distinct priorities seen per order status.
    */
  val arrayAgg = Q("q_array_agg",
    (s, d) => orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(concat_ws(",", sort_array(collect_set(col("o_orderpriority"))))
        .as("priorities"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus,
            string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
              AS priorities,
            count(*) AS n
            FROM orders GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Top-3 customers per segment: the rank-filter shape Spark rewrites
    * into WindowGroupLimit (per-partition top-k before the full sort —
    * BucketingSpec asserts the optimized plan), vs q_top_customers'
    * global orderBy().limit().
    */
  val topPerGroup = Q("q_top_per_group",
    (s, d) => segmentRevenue(s, d)
      .withColumn("rk", row_number().over(segmentRevenueWindow))
      .filter(col("rk") <= 3)
      .orderBy(col("c_mktsegment"), col("rk")),
    Some(s"""WITH rev AS (
               SELECT c_custkey, c_mktsegment,
                      ${dsumSql("o_totalprice")} AS revenue
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_custkey, c_mktsegment),
             ranked AS (
               SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY revenue DESC, c_custkey) AS rk FROM rev)
             SELECT c_custkey, c_mktsegment, revenue, rk
             FROM ranked WHERE rk <= 3 ORDER BY c_mktsegment, rk"""))

  /** Statistical profile per return flag: Pearson correlation, population
    * covariance, and population stddev of (extendedprice, quantity) —
    * from DECIMAL-EXACT co-moment sums ([[QueryDsl.dsum]] family)
    * combined in double only at the very end, so both engines execute
    * the identical final IEEE ops and the result hash-compares exactly.
    * Spark's built-in `corr`/`covar_pop` accumulate co-moments in
    * doubles with partition-order-dependent rounding — statistically
    * fine, but not reproducible across engines or partitionings; the
    * exact-sum form is also the one-pass shape a 100 TB profile job
    * wants (six map-side-combined sums, one shuffle).
    */
  val correlation = Q("q_correlation",
    (s, d) => {
      val x = col("l_extendedprice")
      val y = col("l_quantity")
      lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
          dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_price_qty"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6)
            .as("covar_pop_price_qty"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")), 6)
            .as("stddev_pop_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH s AS (
             SELECT l_returnflag, count(*) AS n,
               ${dsumSql("l_extendedprice")} AS sx,
               ${dsumSql("l_quantity")} AS sy,
               ${dsumSql("l_extendedprice*l_quantity")} AS sxy,
               ${dsumSql("l_extendedprice*l_extendedprice")} AS sxx,
               ${dsumSql("l_quantity*l_quantity")} AS syy
             FROM lineitem GROUP BY 1)
             SELECT l_returnflag, n,
               round((n*sxy - sx*sy)
                 / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
                 AS corr_price_qty,
               round((sxy - sx*sy/n)/n, 6) AS covar_pop_price_qty,
               round(sqrt((sxx - sx*sx/n)/n), 6) AS stddev_pop_price
             FROM s ORDER BY l_returnflag"""))

  /** 7-day trailing revenue per day — a RANGE frame over the day offset,
    * so days missing from the data still bound the window by VALUE (a
    * ROWS frame would silently widen across gaps). The frame runs over
    * the daily aggregate (bounded cardinality: one row per calendar day),
    * never the fact table, and the per-day sums are decimal-exact before
    * the single cast to double.
    */
  val rollingRevenue = Q("q_rolling_revenue",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("order_date"))
        .agg(sum(col("o_totalprice").cast("decimal(27,4)")).as("rev_dec"))
        .withColumn("day", unix_date(col("order_date")))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day")).rangeBetween(-6, 0)
      daily
        .withColumn("revenue_7d", sum(col("rev_dec")).over(w).cast("double"))
        .select(col("order_date"), col("rev_dec").cast("double").as("revenue"),
          col("revenue_7d"))
        .orderBy(col("order_date"))
    },
    Some(s"""WITH daily AS (
             SELECT CAST(o_orderdate AS DATE) AS order_date,
                    sum(CAST(o_totalprice AS DECIMAL(27,4))) AS rev_dec,
                    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                      AS day
             FROM orders GROUP BY 1)
             SELECT order_date, CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(sum(rev_dec) OVER (ORDER BY day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS revenue_7d
             FROM daily ORDER BY order_date"""))

  /** CDC MERGE: a deterministic synthetic change feed — double-update
    * (v2 wins), update-then-delete (key removed), insert on a key absent
    * from the snapshot — applied with last-writer-wins semantics via ONE
    * `max_by` aggregation + one full-outer join
    * ([[graft.operators.Cdc.applyChanges]]).
    */
  val cdcApply = Q("q_cdc_apply",
    (s, d) => {
      val o = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val k = pmod(col("o_orderkey"), lit(4))
      val snapshot = o.filter(k =!= 3)
      def ch(sel: Int, op: String, ver: Long,
          status: org.apache.spark.sql.Column,
          price: org.apache.spark.sql.Column) =
        o.filter(k === sel).select(col("o_orderkey"), lit(op).as("op"),
          lit(ver).as("version"), status.as("o_orderstatus"),
          price.as("o_totalprice"))
      val changes = ch(1, "U", 1L, lit("U1"), col("o_totalprice") + 1)
        .unionByName(ch(1, "U", 2L, lit("U2"), col("o_totalprice") + 2))
        .unionByName(ch(2, "U", 1L, lit("UD"), col("o_totalprice")))
        .unionByName(ch(2, "D", 2L, col("o_orderstatus"), col("o_totalprice")))
        .unionByName(ch(3, "I", 1L, lit("NEW"), col("o_totalprice")))
      graft.operators.Cdc.applyChanges(snapshot, changes, "o_orderkey")
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         snap AS (SELECT * FROM o WHERE o_orderkey % 4 <> 3),
         ch AS (
           SELECT o_orderkey, 'U' AS op, 1 AS version, 'U1' AS o_orderstatus,
                  o_totalprice + 1 AS o_totalprice FROM o WHERE o_orderkey % 4 = 1
           UNION ALL SELECT o_orderkey, 'U', 2, 'U2', o_totalprice + 2
             FROM o WHERE o_orderkey % 4 = 1
           UNION ALL SELECT o_orderkey, 'U', 1, 'UD', o_totalprice
             FROM o WHERE o_orderkey % 4 = 2
           UNION ALL SELECT o_orderkey, 'D', 2, o_orderstatus, o_totalprice
             FROM o WHERE o_orderkey % 4 = 2
           UNION ALL SELECT o_orderkey, 'I', 1, 'NEW', o_totalprice
             FROM o WHERE o_orderkey % 4 = 3),
         latest AS (SELECT o_orderkey, arg_max(op, version) AS op,
             arg_max(o_orderstatus, version) AS ns,
             arg_max(o_totalprice, version) AS np
           FROM ch GROUP BY 1)
         SELECT coalesce(s.o_orderkey, l.o_orderkey) AS o_orderkey,
           CASE WHEN l.op IS NOT NULL THEN l.ns ELSE s.o_orderstatus END
             AS o_orderstatus,
           CASE WHEN l.op IS NOT NULL THEN l.np ELSE s.o_totalprice END
             AS o_totalprice
         FROM snap s FULL JOIN latest l ON s.o_orderkey = l.o_orderkey
         WHERE l.op IS NULL OR l.op <> 'D'
         ORDER BY o_orderkey"""))

  /** Incremental rollup maintenance: prior-history rollup + delta-batch
    * rollup merged by summing additive state
    * ([[graft.operators.IncrementalAgg.mergeRollup]]). The oracle is the
    * FULL RECOMPUTE over all of orders — passing pins merge ≡ recompute,
    * which is the whole contract of incremental maintenance.
    */
  val incrementalRollup = Q("q_incremental_rollup",
    (s, d) => {
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(year(col("o_orderdate")).as("order_year"),
            month(col("o_orderdate")).as("order_month"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(27,4)")).as("rev_dec"))
      val prior = rollup(orders(s, d).filter(col("o_orderdate") < "1997-01-01"))
      val delta = rollup(orders(s, d).filter(col("o_orderdate") >= "1997-01-01"))
      graft.operators.IncrementalAgg.mergeRollup(prior, delta,
          Seq("order_year", "order_month"), Seq("n_orders", "rev_dec"))
        .select(col("order_year"), col("order_month"), col("n_orders"),
          col("rev_dec").cast("double").as("revenue"))
        .orderBy(col("order_year"), col("order_month"))
    },
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(month(o_orderdate) AS INT) AS order_month,
             count(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS revenue
             FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Transparent materialized-view rewrite
    * ([[graft.plans.MvRewriteRule]]): a (status, priority) rollup with
    * count + decimal partial sums is registered over orders, and the
    * SAME groupBy-status aggregate the catalog would run against the
    * fact is answered from the rollup — the optimizer swaps the fact
    * scan for the MV and re-aggregates the additive state (sum of sums
    * — exact, which the full-recompute oracle pins). localCheckpoint
    * forces execution while the registration is active; the registry is
    * cleared after, so no other catalog query's plan can be affected.
    * MaterializedViewsSpec proves the fact scan actually disappears.
    */
  val mvRewrite = Q("q_mv_rewrite",
    (s, d) => {
      val mvPath = Fixtures.tablePath(s, d, "mv")
      graft.plans.MaterializedViews.buildAndRegister(s,
        s"$d/orders.parquet", mvPath,
        keys = Seq("o_orderstatus", "o_orderpriority"), countCol = "n",
        sums = Seq(graft.plans.MaterializedViews.MvSum("rev", "o_totalprice",
          Some(org.apache.spark.sql.types.DecimalType(27, 4)))))
      try {
        val agg = orders(s, d)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(27,4)")).as("_rev"))
          .localCheckpoint()
        agg.select(col("o_orderstatus"), col("n_orders"),
            col("_rev").cast("double").as("revenue"))
          .orderBy(col("o_orderstatus"))
      } finally graft.plans.MaterializedViews.clear()
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS revenue
         FROM orders GROUP BY 1 ORDER BY 1"""))

  /** X52 widened: MV rewrite UNDER a key-column filter — a predicate on a
    * rollup KEY is constant within each rollup row, so it commutes with
    * the re-aggregation and the optimizer replays it over the rollup
    * (fact scan still gone; MaterializedViewsSpec pins the plan and the
    * four no-rewrite guards). The oracle is the filtered full recompute,
    * so passing pins rewritten ≡ recomputed exactly.
    */
  val mvRewriteFiltered = Q("q_mv_rewrite_filtered",
    (s, d) => {
      val mvPath = Fixtures.tablePath(s, d, "mvf")
      graft.plans.MaterializedViews.buildAndRegister(s,
        s"$d/orders.parquet", mvPath,
        keys = Seq("o_orderstatus", "o_orderpriority"), countCol = "n",
        sums = Seq(graft.plans.MaterializedViews.MvSum("rev", "o_totalprice",
          Some(org.apache.spark.sql.types.DecimalType(27, 4)))))
      try {
        val agg = orders(s, d)
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(27,4)")).as("_rev"))
          .localCheckpoint()
        agg.select(col("o_orderstatus"), col("n_orders"),
            col("_rev").cast("double").as("revenue"))
          .orderBy(col("o_orderstatus"))
      } finally graft.plans.MaterializedViews.clear()
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS revenue
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY 1 ORDER BY 1"""))

  /** Self-join-to-window rewrite ([[graft.plans.SelfJoinWindowRule]]):
    * the "share of group" query every BI tool emits as `fact JOIN (SELECT
    * k, agg FROM fact GROUP BY k)` is rewritten by the optimizer into ONE
    * scan + a window aggregate — at 100 TB that removes the second fact
    * scan and one of the two fact-sized shuffles. The oracle runs the
    * JOIN form in DuckDB, so passing pins join ≡ window semantics
    * (including inner-join null-key drop, which the rule reproduces with
    * an IsNotNull filter). localCheckpoint forces execution while the
    * registration is active; WindowRewriteSpec proves the join actually
    * disappears from the plan.
    */
  val windowRewrite = Q("q_window_rewrite",
    (s, d) => {
      graft.plans.WindowRewrite.enable(s, s"$d/lineitem.parquet")
      try {
        val probe = lineitem(s, d).select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity")).as("l")
        val totals = lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(27,4)")).as("_oq"),
            count(lit(1)).as("n_items"))
        probe.join(totals.as("t"),
            col("l.l_orderkey") === col("t.l_orderkey"))
          .select(col("l.l_orderkey").as("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("_oq").cast("double").as("order_qty"),
            col("n_items"))
          .localCheckpoint()
      } finally graft.plans.WindowRewrite.clear()
    },
    Some(s"""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           t.order_qty, t.n_items
         FROM lineitem l JOIN (
           SELECT l_orderkey, ${dsumSql("l_quantity")} AS order_qty,
             count(*) AS n_items
           FROM lineitem GROUP BY 1) t
         ON l.l_orderkey = t.l_orderkey"""))

  /** Column-level lineage ([[graft.plans.Lineage]]): the analyzed plan
    * of a 3-table star aggregate is walked driver-side into (output
    * column → source table.column) rows — zero execution, correct for
    * any plan the engine can run. Deterministic by construction, so the
    * oracle is the literal expected mapping: revenue ← orders
    * .o_totalprice, nation ← nation.n_name, and count(*) ← nothing
    * (direct data-flow lineage; predicate columns are intentionally
    * indirect). LineageSpec covers window/explode/rollup/union shapes.
    */
  val lineageQ = Q("q_lineage",
    (s, d) => {
      val qdf = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .select(col("n_name").as("nation"), col("revenue"), col("n_orders"))
      graft.plans.Lineage.lineageDf(s, qdf)
        .orderBy(col("out_col"), col("src_table"), col("src_col"))
    },
    Some("""SELECT * FROM (VALUES
           ('n_orders', '', ''),
           ('nation', 'nation', 'n_name'),
           ('revenue', 'orders', 'o_totalprice'))
         AS t(out_col, src_table, src_col)
         ORDER BY out_col, src_table, src_col"""))

  /** Z-order clustering key: native bit-interleave expression over
    * (l_partkey, l_suppkey) — the multi-dimensional sort key a 100 TB
    * warehouse writes by so row-group min/max stats prune box predicates
    * on either dimension (ZOrderSpec quantifies the pruning win on real
    * parquet footers). The oracle replays the five shift-mask spread
    * steps in exact BIGINT arithmetic.
    */
  val zorder = Q("q_zorder",
    (s, d) => lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        graft.functions.ZOrderExpression.zValue(col("l_partkey"),
          col("l_suppkey")).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(100),
    Some("""WITH s0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             CAST(l_partkey AS BIGINT) & 2147483647 AS a,
             CAST(l_suppkey AS BIGINT) & 2147483647 AS b FROM lineitem),
         s1 AS (SELECT * REPLACE ((a | (a << 16)) & 281470681808895 AS a,
             (b | (b << 16)) & 281470681808895 AS b) FROM s0),
         s2 AS (SELECT * REPLACE ((a | (a << 8)) & 71777214294589695 AS a,
             (b | (b << 8)) & 71777214294589695 AS b) FROM s1),
         s3 AS (SELECT * REPLACE ((a | (a << 4)) & 1085102592571150095 AS a,
             (b | (b << 4)) & 1085102592571150095 AS b) FROM s2),
         s4 AS (SELECT * REPLACE ((a | (a << 2)) & 3689348814741910323 AS a,
             (b | (b << 2)) & 3689348814741910323 AS b) FROM s3),
         s5 AS (SELECT * REPLACE ((a | (a << 1)) & 6148914691236517205 AS a,
             (b | (b << 1)) & 6148914691236517205 AS b) FROM s4)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           a | (b << 1) AS z
         FROM s5 ORDER BY z, l_orderkey, l_linenumber LIMIT 100"""))

  /** Three-dimensional Z-order key: the variadic interleave
    * ([[graft.functions.ZValueNExpr]], 20 bits per dimension) over
    * (l_partkey, l_suppkey, l_linenumber) — the date × customer ×
    * product-shaped clustering a real layout job writes. The oracle is
    * generated from the SAME (n, bits) parameters via
    * [[graft.functions.ZOrderExpression.zValueNSql]], so the curve has
    * one definition; ZOrderSpec additionally quantifies 3-dim row-group
    * pruning on real parquet footers.
    */
  val zorder3 = Q("q_zorder3",
    (s, d) => lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        graft.functions.ZOrderExpression.zValueN(col("l_partkey"),
          col("l_suppkey"), col("l_linenumber")).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(100),
    Some(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           ${graft.functions.ZOrderExpression.zValueNSql(
             Seq("l_partkey", "l_suppkey", "l_linenumber"))} AS z
         FROM lineitem ORDER BY z, l_orderkey, l_linenumber LIMIT 100"""))

  /** X71: Hilbert-curve clustering key over (partkey, suppkey) — the
    * no-jump alternative to the Morton key
    * ([[graft.functions.HilbertExpression]]): consecutive curve indexes
    * are always grid-neighbors, so a 2-D box packs into fewer row groups
    * than Z-order at the same sort cost (HilbertSpec quantifies both
    * properties on real parquet footers). The oracle replays the exact
    * xy→d recurrence as generated chained CTEs — engine and oracle share
    * one step emitter, like the z_value family.
    */
  val hilbert = Q("q_hilbert",
    (s, d) => lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        graft.functions.HilbertExpression.hilbert(col("l_partkey"),
          col("l_suppkey"), bits = 16).as("h"))
      .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"))
      .limit(100),
    Some(s"""WITH ${graft.functions.HilbertExpression.hilbertSqlCtes(
             "lineitem", "l_partkey", "l_suppkey", 16,
             Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))}
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, hd AS h
         FROM h16 ORDER BY h, l_orderkey, l_linenumber LIMIT 100"""))

  val all: Seq[Q] = Seq(rollupSales, cubeSales, unpivotMetrics,
    pivotSegmentYear, percentiles, histogram,
    conditionalAgg, groupingSets, runningTotal, windowStats,
    exceptAllPriorities, intersectAllPriorities, gapFill, arrayAgg,
    topPerGroup, correlation, rollingRevenue, cdcApply, incrementalRollup,
    mvRewrite, mvRewriteFiltered, windowRewrite, lineageQ,
    zorder, zorder3, hilbert)
}
