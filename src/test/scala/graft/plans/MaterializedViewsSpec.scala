package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class MaterializedViewsSpec extends SparkSpec {

  private val factPath = s"$sf001/orders.parquet"

  private def freshMv(): String =
    tempDir("mv") + "/mv"

  private def registerOrdersMv(): String = {
    val mvPath = freshMv()
    MaterializedViews.buildAndRegister(spark, factPath, mvPath,
      keys = Seq("o_orderstatus", "o_orderpriority"), countCol = "n",
      sums = Seq(MaterializedViews.MvSum("rev", "o_totalprice",
        Some(DecimalType(27, 4)))))
    mvPath
  }

  private def query() = spark.read.parquet(factPath)
    .groupBy(col("o_orderstatus"))
    .agg(count(lit(1)).as("n_orders"),
      sum(col("o_totalprice").cast("decimal(27,4)")).as("rev"))

  test("matching aggregate is answered from the MV scan, exactly") {
    val expect = query().collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
    val mvPath = registerOrdersMv()
    try {
      val df = query()
      val plan = executedPlan(df)
      assert(plan.contains(new java.io.File(mvPath).getName) ||
        plan.contains(mvPath), s"expected MV scan in:\n$plan")
      assert(!plan.contains("orders.parquet"),
        s"fact scan should be gone:\n$plan")
      val got = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
      assert(got === expect)
    } finally MaterializedViews.clear()
  }

  test("group-by on the full key set and schema/exprIds survive rewrite") {
    registerOrdersMv()
    try {
      val df = spark.read.parquet(factPath)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 0) // parent operator resolves against rewritten output
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      val direct = spark.read.parquet(factPath)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      assert(df.collect().map(_.toSeq).toSet ===
        direct.collect().map(_.toSeq).toSet)
    } finally MaterializedViews.clear()
  }

  test("filter on a KEY column commutes: rewritten, exact, no fact scan") {
    val direct = spark.read.parquet(factPath)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,4)")).as("rev"))
    val expect = direct.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
    val mvPath = registerOrdersMv()
    try {
      val df = spark.read.parquet(factPath)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(27,4)")).as("rev"))
      val plan = executedPlan(df)
      assert(!plan.contains("orders.parquet"),
        s"key-only filter should still rewrite away the fact scan:\n$plan")
      assert(plan.contains(new java.io.File(mvPath).getName) ||
        plan.contains(mvPath), s"expected MV scan in:\n$plan")
      val got = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet
      assert(got === expect)
    } finally MaterializedViews.clear()
  }

  test("filter on a key NOT in the group-by commutes too") {
    registerOrdersMv()
    try {
      // filter key o_orderpriority, group by o_orderstatus only — the
      // rollup re-aggregates the surviving key tuples
      val df = spark.read.parquet(factPath)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = executedPlan(df)
      assert(!plan.contains("orders.parquet"), plan)
      MaterializedViews.clear()
      val direct = spark.read.parquet(factPath)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      assert(df.collect().map(_.toSeq).toSet ===
        direct.collect().map(_.toSeq).toSet)
    } finally MaterializedViews.clear()
  }

  test("no rewrite when a filter, foreign column, or avg intervenes") {
    registerOrdersMv()
    try {
      // filtered fact: full-table MV cannot answer
      val filtered = spark.read.parquet(factPath)
        .filter(col("o_totalprice") > 100)
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      assert(executedPlan(filtered).contains("orders.parquet"))
      // grouping on a non-key column
      val badKey = spark.read.parquet(factPath)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      assert(executedPlan(badKey).contains("orders.parquet"))
      // non-additive aggregate
      val avgQ = spark.read.parquet(factPath)
        .groupBy(col("o_orderstatus")).agg(avg(col("o_totalprice")).as("a"))
      assert(executedPlan(avgQ).contains("orders.parquet"))
      // sum with a cast the MV did not register
      val badCast = spark.read.parquet(factPath)
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice").cast("decimal(20,2)")).as("s"))
      assert(executedPlan(badCast).contains("orders.parquet"))
    } finally MaterializedViews.clear()
  }

  test("cleared registry restores the fact scan") {
    registerOrdersMv()
    MaterializedViews.clear()
    assert(executedPlan(query()).contains("orders.parquet"))
  }
}
