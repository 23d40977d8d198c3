package graft.streaming

import graft.SparkSpec
import graft.operators.CountMin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class SkDoc(doc_id: Long, text: String)

class SketchStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docs: Seq[SkDoc] = Seq(
    SkDoc(0L, "the quick brown fox jumps over the lazy dog"),
    SkDoc(1L, "the cat sat on the mat"),
    SkDoc(2L, "dogs and cats and foxes"),
    SkDoc(3L, "the the the repeated token stress row"),
    SkDoc(4L, "entirely fresh vocabulary appears here"))

  private def cells(path: String): Map[(Int, Long), Long] =
    spark.read.parquet(path).drop(RollupStream.batchCol)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def batchCells(ds: Seq[SkDoc]): Map[(Int, Long), Long] =
    CountMin.sketch(CountMin.tokens(ds.toDF(), "text"), 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("streamed sketch equals the one-shot sketch cell-for-cell") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("cms")
    val stream = MemoryStream[SkDoc]
    val q = SketchStream.maintainSketch(stream.toDF(), s"$dir/sk",
      depth = 4, width = 64)
    try {
      stream.addData(docs.take(2): _*)
      q.processAllAvailable()
      stream.addData(docs.slice(2, 4): _*)
      q.processAllAvailable()
      stream.addData(docs.drop(4): _*)
      q.processAllAvailable()
      assert(cells(s"$dir/sk") === batchCells(docs))
    } finally q.stop()

    // estimates served from the stored state match estimates against a
    // freshly built sketch, and keep the CMS overestimate invariant
    val toks = Seq("the", "fox", "mat", "absent").toDF("tok")
    val fromState = SketchStream.estimatesFromState(spark, s"$dir/sk",
        toks, 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fresh = CountMin.estimates(
        CountMin.sketch(CountMin.tokens(docs.toDF(), "text"), 4, 64),
        toks, 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromState === fresh)
    assert(fromState("the") >= 7L) // exact count of "the" is 7
  }

  test("replayed batch id cannot double-count cells") {
    val dir = tempDir("cmsreplay")
    SketchStream.foldBatch(docs.take(3).toDF(), 0L, s"$dir/sk", "text", 4, 64)
    val once = cells(s"$dir/sk")
    SketchStream.foldBatch(docs.take(3).toDF(), 0L, s"$dir/sk", "text", 4, 64)
    assert(cells(s"$dir/sk") === once)
  }
}
