package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Scale-path physical layout checks: bucketed tables co-locate joins
  * (no Exchange on either side), and a year-partitioned fact prunes
  * partitions under a date filter. These are plan-shape assertions — the
  * properties that decide whether the same query survives a 100×
  * scale-up.
  */
class BucketingSpec extends SparkSpec {

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    executedPlan(df, execute = false)

  test("bucketed tables join without any shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — remove stale locations
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq("b_orders", "b_customer")) {
      val p = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Tables.orders(spark, sf001).write
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.customer(spark, sf001).write
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    // disable broadcast so the join must pick a co-located strategy
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      joined.collect() // force execution with the final (AQE) plan
      val plan = physicalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
        s"orders side shuffled:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(c_custkey"),
        s"customer side shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // managed tables: dropping them deletes their warehouse directories
      Seq("b_orders", "b_customer").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // Thresholds sized for test data: the application side is tiny, so
    // lower its floor to 0; keep the join a shuffle join so the bloom
    // filter (not a broadcast reuse) is the pruning mechanism.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevApp = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB")
    val prevEnabled = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(spark, sf001)
      val ord = Tables.orders(spark, sf001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = physicalPlan(q)
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
      // pruned plan answers identically to the plain join
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expect = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevApp)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevEnabled)
    }
  }

  test("rank-filter queries push the limit into WindowGroupLimit") {
    val plan = graft.analytics.ExtendedQueries.topPerGroup
      .run(spark, sf001).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected the rank-limit pushdown in:\n$plan")
  }

  test("filters and projections reach the parquet scan") {
    val q = Tables.lineitem(spark, sf001)
      .filter(col("l_quantity") < 10 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") &&
      scan.contains("LessThan(l_quantity,10") &&
      scan.contains("EqualTo(l_returnflag,R)"),
      s"filters not pushed to the scan:\n$scan")
    // column pruning: the scan reads only the filter + projection columns
    // (ReadSchema rides at the end of the FileScan line)
    val readSchema = scan.indexOf("ReadSchema:") match {
      case -1 => ""
      case i => scan.substring(i, math.min(scan.length, scan.indexOf('\n', i)
        match { case -1 => scan.length; case j => j }))
    }
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity") &&
      readSchema.contains("l_returnflag") &&
      !readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_comment"),
      s"scan reads more than it needs: $readSchema")
  }

  test("year-partitioned fact prunes partitions under a date filter") {
    val dir = tempDir("part")
    Tables.orders(spark, sf001)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("order_year").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("order_year") === 1995)
      .agg(count(lit(1)))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("order_year") && scan.contains("1995"),
      s"no partition pruning:\n$scan")
    // and the pruned answer is right
    val expect = Tables.orders(spark, sf001)
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(q.collect()(0).getLong(0) === expect)
  }
}
