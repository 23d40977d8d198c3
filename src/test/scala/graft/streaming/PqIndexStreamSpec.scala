package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Vec(vec_id: Long, embedding: Seq[Float])

class PqIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  // same cluster-structured fixture discipline as SimilaritySpec: PQ
  // ordering on random vectors rides noise; clusters make top-k stable
  private def vecRows(ids: Range): Seq[Vec] = {
    val centers = Seq(
      Array(10f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 10f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 10f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 10f, 0f, 0f, 0f, 0f))
    ids.map { i =>
      val id = i.toLong
      val v = centers((i % 4).toInt).zipWithIndex.map { case (x, pos) =>
        val h = (id * 6364136223846793005L + pos * 1442695040888963407L) >>> 40
        x + ((h % 1000L) / 1000.0f - 0.5f)
      }
      Vec(id, v.toSeq)
    }
  }

  test("streamed appends converge to the one-shot append; replay skips") {
    implicit val sqlCtx = spark.sqlContext
    val base = vecRows(0 until 16)
    val later = vecRows(16 until 32)
    def newIndex(): String = {
      val p = tempDir("pqstream") + "/i"
      Similarity.writePqIndex(base.toDF(), p, nCentroids = 4, m = 4,
        ksub = 8, iters = 1, dim = 8)
      p
    }
    // reference: one-shot append of everything
    val ref = newIndex()
    Similarity.appendToPqIndex(spark, ref, later.toDF())
    val q = base.take(4).toDF()
    def key(path: String) =
      Similarity.probePqIndex(spark, path, q, k = 3, broadcastQueries = true)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    // streamed: two micro-batches through the maintainer
    val streamed = newIndex()
    val stream = MemoryStream[Vec]
    val sq = PqIndexStream.maintainIndex(stream.toDF(), streamed)
    try {
      stream.addData(later.take(8): _*)
      sq.processAllAvailable()
      stream.addData(later.drop(8): _*)
      sq.processAllAvailable()
      assert(key(streamed) === key(ref))
    } finally sq.stop()
    // replayed batch id: no double-encode (count stays 32)
    PqIndexStream.appendBatch(later.take(8).toDF(), 0, streamed)
    assert(spark.read.parquet(s"$streamed/codes").count() === 32)
    PqIndexStream.appendBatch(later.take(8).toDF(), 1, streamed)
    assert(spark.read.parquet(s"$streamed/codes").count() === 32)
  }
}
