package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class RetailWarehouseSpec extends SparkSpec {
  import spark.implicits._

  private val asOf = java.sql.Date.valueOf("2024-06-01")
  private val superstore = "/root/reference/data/rawdata/Sample - Superstore.csv"

  private def staging = Seq(
    ("O1", "2024-01-05", "C1", "Ann", "Consumer", "P1", "Widget", "Tools", 10.0, 2.0),
    ("O2", "2024-01-06", "C2", "Bob", "Corporate", "P1", "Widget", "Tools", 20.0, 5.0),
    ("O3", "2024-02-07", "C1", "Ann", "Consumer", "P2", "Gadget", "Tech", 30.0, -1.0),
  ).toDF("order_id", "order_date", "customer_id", "customer_name", "segment",
    "product_id", "product_name", "category", "sales", "profit")
    .withColumn("order_date", to_date(col("order_date")))

  test("store dim is skipped when its natural key is absent (column guard)") {
    val dims = RetailWarehouse.buildDims(staging, Map.empty, asOf)
    assert(dims.keySet === Set("dim_customer", "dim_product"))
  }

  test("fact maps natural keys to surrogate keys and drops them") {
    val res = RetailWarehouse.run(staging, asOf)
    assert(res.fact.columns.toSet ===
      Set("order_id", "order_date", "sales", "profit", "customer_key", "product_key"))
    val f = res.fact.orderBy("order_id").collect()
    assert(f.forall(r => !r.isNullAt(r.fieldIndex("customer_key"))))
    // C1 appears twice and maps to the same surrogate key
    assert(f(0).getAs[Long]("customer_key") === f(2).getAs[Long]("customer_key"))
  }

  test("marts aggregate over the star with exact decimal sums") {
    val res = RetailWarehouse.run(staging, asOf)
    val mart = RetailWarehouse.martCategoryAnalysis(res.fact, res.dims("dim_product"))
      .orderBy("category").collect()
    assert(mart.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("Tech", 30.0), ("Tools", 30.0)))
  }

  test("incremental run: changed product category opens a new version") {
    val res0 = RetailWarehouse.run(staging, asOf)
    val changed = staging.withColumn("category",
      when(col("product_id") === "P1", lit("Hardware")).otherwise(col("category")))
    val res1 = RetailWarehouse.run(changed, java.sql.Date.valueOf("2024-07-01"),
      prior = res0.dims)
    val p1 = res1.dims("dim_product").filter(col("product_id") === "P1")
      .orderBy("product_key").collect()
    assert(p1.length === 2)
    assert(p1(0).getAs[Int]("is_current") === 0)
    assert(p1(1).getAs[String]("category") === "Hardware")
    // fact now maps P1 to the NEW surrogate key
    val f1 = RetailWarehouse.buildFact(changed, res1.dims,
      Seq("order_id", "order_date", "customer_id", "product_id", "sales", "profit"))
    val newKey = p1(1).getAs[Long]("product_key")
    assert(f1.filter(col("order_id") === "O1").collect()(0)
      .getAs[Long]("product_key") === newKey)
  }

  test("warehouse roundtrip: fact partitioned by year, dims re-readable as prior") {
    val dir = tempDir("wh")
    val res = RetailWarehouse.run(staging, asOf)
    RetailWarehouse.writeWarehouse(res, dir)
    assert(new java.io.File(s"$dir/fact_sales/order_year=2024").exists)
    val prior = RetailWarehouse.readPriorDims(spark, dir)
    assert(prior.keySet === Set("dim_customer", "dim_product"))
    // replay with same data: no new versions
    val res2 = RetailWarehouse.run(staging, asOf, prior)
    assert(res2.dims("dim_customer").count() === res.dims("dim_customer").count())
  }

  test("end-to-end on the reference's actual Superstore CSV") {
    assume(new java.io.File(superstore).exists)
    val res = RetailWarehouse.runFromCsv(spark, superstore, asOf)
    assert(res.staging.count() === 9994)
    // 793 distinct customers (FIXTURES.md A1)
    assert(res.dims("dim_customer").count() === 793)
    // 32 product_ids map to >1 (product_name, category) tuple -> extra versions
    assert(res.dims("dim_product").filter(col("is_current") === 1).count() >= 1862)
    assert(res.fact.count() === 9994)
    // every fact row resolved a current customer key
    assert(res.fact.filter(col("customer_key").isNull).count() === 0)
    val mart = RetailWarehouse.martSalesPerformance(res.fact, res.dims("dim_customer"))
    assert(mart.count() > 0)
  }

  /** Dimension-pool threads still alive after a grace period: a pool that
    * was shut down lets its idle threads exit, one that was not keeps them.
    */
  private def livePoolThreads(): Seq[Thread] = {
    val pool = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-dim-pool"))
    pool.foreach(_.join(5000))
    pool.filter(_.isAlive)
  }

  /** A written warehouse re-read as prior, plus an incremental batch that
    * changes a product's category, corrects nothing and adds a customer.
    */
  private def priorAndBatch(): (String, Map[String, org.apache.spark.sql.DataFrame],
      org.apache.spark.sql.DataFrame) = {
    val dir = tempDir("wh_inc")
    RetailWarehouse.writeWarehouse(RetailWarehouse.run(staging, asOf), dir)
    val batch = Seq(
      ("O4", "2024-03-01", "C3", "Cy", "Consumer", "P1", "Widget", "Hardware", 5.0, 1.0),
      ("O5", "2024-03-02", "C1", "Ann", "Consumer", "P2", "Gadget", "Tech", 7.0, 2.0),
    ).toDF("order_id", "order_date", "customer_id", "customer_name", "segment",
      "product_id", "product_name", "category", "sales", "profit")
      .withColumn("order_date", to_date(col("order_date")))
    (dir, RetailWarehouse.readPriorDims(spark, dir), batch)
  }

  test("incremental run: bounded jobs per dimension, all carrying the caller's local properties") {
    val (_, prior, batch) = priorAndBatch()
    val (res, tags) = jobTags {
      RetailWarehouse.run(batch, java.sql.Date.valueOf("2024-07-01"), prior)
    }
    // two dims at 7 jobs each; the four-branch merge this replaced
    // started 10 per dim on this batch
    assert(tags.nonEmpty && tags.size <= 2 * 8, s"${tags.size} jobs")
    assert(tags.forall(_ == "run"), tags)
    assert(livePoolThreads().isEmpty)
    val p1 = res.dims("dim_product").filter(col("product_id") === "P1")
      .orderBy("product_key").collect()
    assert(p1.map(_.getAs[String]("category")).toSeq === Seq("Tools", "Hardware"))
    assert(res.dims("dim_customer").filter(col("is_current") === 1).count() === 3)
  }

  test("a dimension that fails to materialize rethrows its cause and leaves no pool thread") {
    val (dir, prior, batch) = priorAndBatch()
    // the prior frame's schema is resolved; its files now read as garbage
    new java.io.File(s"$dir/dim_product").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, Array.fill[Byte](64)(7)))
    val e = intercept[Exception] {
      RetailWarehouse.run(batch, java.sql.Date.valueOf("2024-07-01"), prior)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException] &&
      !e.isInstanceOf[java.util.concurrent.CompletionException], e)
    assert(livePoolThreads().isEmpty)
  }

  test("writeSwap throws when rename fails; recoverSwap then restores the staged copy") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val local = FileSystem.getLocal(conf)
    // Hadoop's rename reports failure by returning false
    val failing = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val target = tempDir("swap") + "/dim"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    df.write.parquet(target)
    val staged = new Path(target + "._staged")
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v").write.parquet(staged.toString)
    val e = intercept[java.io.IOException] {
      RetailWarehouse.swapIn(failing, staged, new Path(target))
    }
    assert(e.getMessage.contains(staged.toString) && e.getMessage.contains(target), e.getMessage)
    // the failed swap left the target deleted and the staged copy complete
    assert(!local.exists(new Path(target)))
    intercept[java.io.IOException](RetailWarehouse.recoverSwap(failing, new Path(target)))
    RetailWarehouse.recoverSwap(spark, target)
    assert(spark.read.parquet(target).orderBy("k").collect().map(_.getLong(0)).toSeq ===
      Seq(3L, 4L, 5L))
    assert(!local.exists(staged))
  }
}
