package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Sale(region: String, amount: java.math.BigDecimal)

class RollupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def dec(v: String) = new java.math.BigDecimal(v)

  private val rollupFn: DataFrame => DataFrame = df =>
    df.groupBy(col("region"))
      .agg(count(lit(1)).as("n"),
        sum(col("amount").cast("decimal(27,4)")).as("rev"))

  private def readState(path: String): Set[(String, Long, String)] =
    spark.read.parquet(path).drop(RollupStream.batchCol)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString))
      .toSet

  test("N micro-batches converge to the one-batch recompute, bit-identically") {
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("rollupstream") + "/rollup"
    val stream = MemoryStream[Sale]
    val q = RollupStream.maintainRollup(stream.toDF(), path, rollupFn,
      Seq("region"), Seq("n", "rev"))
    try {
      stream.addData(Sale("EU", dec("10.5")), Sale("US", dec("20.25")))
      q.processAllAvailable()
      stream.addData(Sale("EU", dec("1.0")), Sale("AP", dec("7.75")))
      q.processAllAvailable()
      stream.addData(Sale("US", dec("0.5")))
      q.processAllAvailable()

      val all = Seq(
        Sale("EU", dec("10.5")), Sale("US", dec("20.25")),
        Sale("EU", dec("1.0")), Sale("AP", dec("7.75")),
        Sale("US", dec("0.5"))).toDF()
      val expect = rollupFn(all).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString))
        .toSet
      assert(readState(path) === expect)
    } finally q.stop()
  }

  test("replayed batch id is skipped: at-least-once delivery cannot double-count") {
    val path = tempDir("rollupreplay") + "/rollup"
    val b0 = Seq(Sale("EU", dec("10.0")), Sale("US", dec("5.0"))).toDF()
    val b1 = Seq(Sale("EU", dec("2.0"))).toDF()
    RollupStream.foldBatch(b0, 0L, path, rollupFn, Seq("region"), Seq("n", "rev"))
    RollupStream.foldBatch(b1, 1L, path, rollupFn, Seq("region"), Seq("n", "rev"))
    val once = readState(path)
    // redelivery of both already-folded ids, in any order
    RollupStream.foldBatch(b1, 1L, path, rollupFn, Seq("region"), Seq("n", "rev"))
    RollupStream.foldBatch(b0, 0L, path, rollupFn, Seq("region"), Seq("n", "rev"))
    assert(readState(path) === once)
    assert(once === Set(("EU", 2L, "12.0000"), ("US", 1L, "5.0000")))
  }

  test("crash between delete and rename recovers: marker and state stay atomic") {
    val path = tempDir("rollupcrash") + "/rollup"
    val b0 = Seq(Sale("EU", dec("10.0"))).toDF()
    RollupStream.foldBatch(b0, 0L, path, rollupFn, Seq("region"), Seq("n", "rev"))
    // simulate writeSwap dying between its delete(target) and rename:
    // target gone, COMPLETE staged copy beside it already holding batch
    // 1's fold (EU: 2 sales, 12.0) and batch 1's marker
    val b1 = Seq(Sale("EU", dec("2.0"))).toDF()
    Seq(("EU", 2L, dec("12.0000"), 1L))
      .toDF("region", "n", "rev", RollupStream.batchCol)
      .select(col("region"), col("n"),
        col("rev").cast("decimal(27,4)").as("rev"), col(RollupStream.batchCol))
      .write.mode("overwrite").parquet(path + "._staged")
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // redelivery of batch 1 after the crash: recovery must surface the
    // staged marker and SKIP the re-fold (state already contains batch 1)
    RollupStream.foldBatch(b1, 1L, path, rollupFn, Seq("region"), Seq("n", "rev"))
    assert(readState(path) === Set(("EU", 2L, "12.0000")))
  }
}
