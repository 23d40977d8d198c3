package graft

import graft.etl.RetailWarehouse

/** Batch ETL entry point — the working equivalent of the reference's
  * `python main.py` (which is broken by a bad import; see SURVEY §0):
  * CSV extract → clean/normalize → SCD2 dims (+ incremental prior state
  * if the warehouse already exists) → date dim → fact → marts → parquet
  * warehouse.
  *
  * Usage: runMain graft.RunEtl <superstoreCsv> <warehouseDir> [asOfDate]
  */
object RunEtl {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunEtl <csvPath> <warehouseDir> [asOfDate]")
    val Array(csvPath, outDir) = args.take(2)
    val asOf = java.sql.Date.valueOf(
      if (args.length > 2) args(2) else java.time.LocalDate.now().toString)
    val spark = Session.local()

    val prior = RetailWarehouse.readPriorDims(spark, outDir)
    val res0 = RetailWarehouse.runFromCsv(spark, csvPath, asOf, prior)
    // The fact feeds the sink, both marts, and the run log — persist it
    // once instead of recomputing the CSV→dims→join pipeline per action.
    val res = res0.copy(fact = res0.fact
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    RetailWarehouse.writeWarehouse(res, outDir)
    val marts = Seq(
      "mart_sales_performance" ->
        RetailWarehouse.martSalesPerformance(res.fact, res.dims("dim_customer")),
      "mart_category_analysis" ->
        RetailWarehouse.martCategoryAnalysis(res.fact, res.dims("dim_product")))
    marts.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$n")
    }
    val factRows = res.fact.count()
    val counts = (res.dims.map { case (n, d) => n -> d.count() } ++
      Map("fact_sales" -> factRows, "dim_date" -> res.dimDate.count()))
    counts.toSeq.sortBy(_._1).foreach { case (n, c) => println(s"[etl] $n: $c rows") }
    RetailWarehouse.runLogEntry(spark, "full_etl", factRows, asOf)
      .write.mode("append").parquet(s"$outDir/etl_run_log")
    spark.stop()
  }
}
