package graft.streaming

import graft.SparkSpec
import graft.analytics.QueryDsl.dsum
import graft.operators.Series
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class AnomEv(event_type: String, ts: java.sql.Timestamp, value: Double)

class AnomalyStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(t: String, day: Int, v: Double) =
    AnomEv(t, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), v)

  // ten steady days and a spike, interleaved with a second key
  private val allEvents: Seq[AnomEv] =
    (1 to 10).flatMap(d => Seq(ev("click", d, 10.0), ev("view", d, d * 1.0))) ++
      Seq(ev("click", 11, 500.0), ev("click", 11, 500.0), ev("view", 11, 11.0))

  private def batchScores(events: Seq[AnomEv]) = {
    val daily = events.toDF()
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(dsum(col("value")).as("daily_total"))
    Series.rollingZScore(daily, "event_type", "day", "daily_total", 7, 2.0)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getDate(1).toString,
      r.getDouble(2), r.getLong(3),
      if (r.isNullAt(4)) null else r.getDouble(4), r.getBoolean(5))).toSet

  test("streamed scores equal the batch scorer bit-identically") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("anom")
    val stream = MemoryStream[AnomEv]
    val q = AnomalyStream.maintainScores(stream.toDF(),
      s"$dir/state", s"$dir/scores")
    try {
      // slice spans days out of order across batches: folds are additive
      // and scoring rederives, so slicing must not matter
      stream.addData(allEvents.take(8): _*)
      q.processAllAvailable()
      stream.addData(allEvents.slice(8, 9): _*)
      q.processAllAvailable()
      stream.addData(allEvents.drop(9): _*)
      q.processAllAvailable()
      val streamed = rows(spark.read.parquet(s"$dir/scores"))
      assert(streamed === rows(batchScores(allEvents).toDF()))
      // the engineered spike day is flagged
      assert(streamed.exists(t => t._1 == "click" && t._2 == "2024-01-11"
        && t._6))
    } finally q.stop()
  }

  test("crash between state and scores swaps repairs via rescore") {
    val dir = tempDir("anomcrash")
    val b0 = allEvents.take(12).toDF()
    val b1 = allEvents.drop(12).toDF()
    AnomalyStream.foldAndScore(b0, 0L, s"$dir/state", s"$dir/scores", 7, 2.0)
    // crash: batch 1's fold published but its scores never did — simulate
    // by folding WITHOUT scoring
    AnomalyStream.foldOnly(b1, 1L, s"$dir/state")
    // stale scores repaired by the idempotent rederive
    AnomalyStream.rescore(spark, s"$dir/state", s"$dir/scores")
    assert(rows(spark.read.parquet(s"$dir/scores")) ===
      rows(batchScores(allEvents).toDF()))
  }

  test("replayed batch cannot double-count the rollup or the scores") {
    val dir = tempDir("anomreplay")
    val b0 = allEvents.take(12).toDF()
    AnomalyStream.foldAndScore(b0, 0L, s"$dir/state", s"$dir/scores", 7, 2.0)
    val once = rows(spark.read.parquet(s"$dir/scores"))
    AnomalyStream.foldAndScore(b0, 0L, s"$dir/state", s"$dir/scores", 7, 2.0)
    assert(rows(spark.read.parquet(s"$dir/scores")) === once)
  }
}
