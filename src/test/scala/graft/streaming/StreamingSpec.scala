package graft.streaming

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Drives the SAME transforms used by the batch oracle queries through an
  * actual Structured Streaming query (MemoryStream source, memory sink) and
  * checks stream results equal batch results — the semantic contract that
  * lets the static `events` table oracle the streaming surface.
  */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batchEvents = Tables.events(spark, sf001)
    .select("event_id", "ts", "user_id", "event_type", "value")

  private def runStream(name: String,
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val rows = batchEvents.as[Ev].collect()
    val q = EventStreams.toMemorySink(f(stream.toDF()), name, "complete")
    // two micro-batches to exercise incremental state
    val (first, rest) = rows.splitAt(rows.length / 2)
    stream.addData(first.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(rest.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumblingHourly over a real stream equals the batch run") {
    val streamed = runStream("t_hourly", EventStreams.tumblingHourly)
    val batch = EventStreams.tumblingHourly(batchEvents)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("sessionize over a real stream equals the batch run") {
    val streamed = runStream("t_sessions", EventStreams.sessionize(_))
    val batch = EventStreams.sessionize(batchEvents)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("append-mode sessions drop a late event past the watermark; batch absorbs it") {
    // The semantics divergence window, pinned: in APPEND mode a session
    // emits once its window closes under the watermark, and an event
    // arriving later than the 10-minute watermark delay is DROPPED —
    // while the batch form of the same transform (the oracle) sees all
    // rows and absorbs the late event into the session. Anyone swapping
    // batch for append-mode streaming needs exactly this contract.
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, user: Long) =
      Ev(id, java.sql.Timestamp.valueOf(t), user, "click", 1.0)
    val onTime = Seq(
      ev(1, "2024-01-01 00:00:00", 1), ev(2, "2024-01-01 00:05:00", 1),
      ev(3, "2024-01-01 00:00:00", 2))
    val horizon = ev(9, "2024-01-01 02:00:00", 3) // pushes watermark to 01:50
    val late = ev(4, "2024-01-01 00:01:00", 1)    // 110 min behind it
    val stream = MemoryStream[Ev]
    val q = EventStreams.toMemorySink(
      EventStreams.sessionize(stream.toDF()), "t_append_sessions", "append")
    stream.addData(onTime)
    q.processAllAvailable()
    stream.addData(Seq(horizon))
    q.processAllAvailable()               // sessions of users 1,2 close + emit
    stream.addData(Seq(late))
    q.processAllAvailable()               // late event is beyond the watermark
    q.stop()
    val emitted = spark.table("t_append_sessions")
      .select("user_id", "n_events").as[(Long, Long)].collect().toMap
    assert(emitted === Map(1L -> 2L, 2L -> 1L),
      "closed sessions emit once; user 3's open session stays unemitted " +
        "and the late event must not reopen user 1's")
    // the batch oracle over ALL rows (late one included) absorbs it
    val batch = EventStreams.sessionize(
        (onTime :+ horizon :+ late).toDF())
      .select(col("user_id"), col("n_events")).as[(Long, Long)].collect().toMap
    assert(batch(1L) === 3L, "batch semantics: the late event joins the session")
    assert(batch(2L) === 1L && batch(3L) === 1L)
  }

  test("slidingCounts assigns each event to exactly 4 windows") {
    val n = batchEvents.count()
    val windowed = EventStreams.slidingCounts(batchEvents)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(windowed === 4 * n)
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches on a real stream") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, sec: Int) =
      Ev(id, new java.sql.Timestamp(t0.getTime + sec * 1000L), 1L, "click", 1.0)
    val deduped = stream.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = EventStreams.toMemorySink(deduped, "t_dedup", "append")
    stream.addData(ev(1, 0), ev(2, 1), ev(1, 2)) // in-batch dup
    q.processAllAvailable()
    stream.addData(ev(2, 3), ev(3, 4)) // cross-batch dup within watermark
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("file-source stream over a landing directory equals the batch run") {
    val dir = tempDir("stream")
    // land the raw events file as-is (ns timestamps and all)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf001, "events.parquet"),
      java.nio.file.Paths.get(dir, "batch0.parquet"))
    val q = EventStreams.toMemorySink(
      EventStreams.tumblingHourly(EventStreams.fromParquetDir(spark, dir)),
      "t_file_hourly", "complete")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_file_hourly")
    val batch = EventStreams.tumblingHourly(batchEvents)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-static enrichment join equals the batch join") {
    // the dimension-enrichment shape: a static (broadcastable) lookup
    // joined onto every micro-batch — Spark re-plans the static side per
    // batch, so the stream result must equal the one-shot batch join
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    def enrich(ev: org.apache.spark.sql.DataFrame) =
      ev.join(broadcast(dim), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value") * col("weight")).cast("decimal(27,4)"))
            .cast("double").as("weighted"))
    val streamed = runStream("t_enrich", enrich)
    val batch = enrich(batchEvents)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("file-source stream starts on an EMPTY landing directory") {
    // the normal starting state of an ingest: the stream must start
    // before the first file lands, then pick up arrivals
    val dir = tempDir("stream_empty")
    val q = EventStreams.toMemorySink(
      EventStreams.tumblingHourly(EventStreams.fromParquetDir(spark, dir)),
      "t_empty_hourly", "complete")
    try {
      q.processAllAvailable()
      assert(spark.table("t_empty_hourly").count() === 0)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf001, "events.parquet"),
        java.nio.file.Paths.get(dir, "batch0.parquet"))
      q.processAllAvailable()
      val streamed = spark.table("t_empty_hourly")
      val batch = EventStreams.tumblingHourly(batchEvents)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("dedupEvents: testdata event_ids are unique") {
    val d = EventStreams.dedupEvents(batchEvents)
    assert(d.filter(col("n_dupes") > 1).count() === 0)
    assert(d.count() === batchEvents.count())
  }
}
