package graft.streaming

import graft.SparkSpec
import graft.operators.Baskets
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class BasketItem(basket: Long, item: Long)

class AssocStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshState(tag: String): String =
    tempDir(s"assoc_$tag") + "/state"

  // whole-basket batches: {1,2}x2 then {1,2,3} + {3} then {1,3}
  private val batch0 = Seq(BasketItem(10, 1), BasketItem(10, 2),
    BasketItem(11, 1), BasketItem(11, 2))
  private val batch1 = Seq(BasketItem(12, 1), BasketItem(12, 2),
    BasketItem(12, 3), BasketItem(13, 3))
  private val batch2 = Seq(BasketItem(14, 1), BasketItem(14, 3))

  private def rulesOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("streamed state ≡ one-shot batch rules, bit-identically") {
    implicit val sqlCtx = spark.sqlContext
    val path = freshState("eq")
    val stream = MemoryStream[BasketItem]
    val q = AssocStream.maintainBasketState(stream.toDF(), path,
      "basket", "item")
    try {
      stream.addData(batch0: _*); q.processAllAvailable()
      stream.addData(batch1: _*); q.processAllAvailable()
      stream.addData(batch2: _*); q.processAllAvailable()
      val streamed = rulesOf(AssocStream.rules(spark, path,
        minItemCount = 2, minPairCount = 2, topK = 10))
      val oneShot = rulesOf(Baskets.associationRules(
        (batch0 ++ batch1 ++ batch2).toDF(), "basket", "item", 2, 2, 10))
      assert(streamed === oneShot && streamed.nonEmpty)
    } finally q.stop()
  }

  test("replayed batch id is skipped; three tables stay consistent") {
    val path = freshState("replay")
    AssocStream.foldBatch(batch0.toDF(), 0L, path, "basket", "item")
    AssocStream.foldBatch(batch1.toDF(), 1L, path, "basket", "item")
    val once = rulesOf(AssocStream.rules(spark, path, 1, 1, 20))
    AssocStream.foldBatch(batch1.toDF(), 1L, path, "basket", "item")
    AssocStream.foldBatch(batch0.toDF(), 0L, path, "basket", "item")
    assert(rulesOf(AssocStream.rules(spark, path, 1, 1, 20)) === once)
    // basket count reflects each basket exactly once
    assert(spark.read.parquet(s"$path/baskets").head().getLong(0) === 4L)
  }

  test("crash between delete and rename recovers atomically") {
    val path = freshState("crash")
    AssocStream.foldBatch(batch0.toDF(), 0L, path, "basket", "item")
    val after = rulesOf(AssocStream.rules(spark, path, 1, 1, 20))
    // simulate the swap dying between delete(target) and rename: move the
    // published state aside as a COMPLETE staged copy, target missing
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "._staged"))
    // rules() and foldBatch() both recover the rename before reading
    assert(rulesOf(AssocStream.rules(spark, path, 1, 1, 20)) === after)
    AssocStream.foldBatch(batch1.toDF(), 1L, path, "basket", "item")
    val streamed = rulesOf(AssocStream.rules(spark, path, 1, 1, 20))
    val oneShot = rulesOf(Baskets.associationRules(
      (batch0 ++ batch1).toDF(), "basket", "item", 1, 1, 20))
    assert(streamed === oneShot)
  }
}
