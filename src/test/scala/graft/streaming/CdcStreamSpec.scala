package graft.streaming

import graft.SparkSpec
import graft.operators.Cdc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  case class Change(k: Long, op: String, version: Long, status: String, amount: Double)

  test("streamed micro-batches reproduce one batch apply of the whole feed") {
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("cdcstream") + "/snapshot"
    val stream = MemoryStream[Change]
    val q = CdcStream.maintainSnapshot(stream.toDF(), path, "k")
    try {
      // batch 1: bootstrap inserts (snapshot file does not exist yet)
      stream.addData(
        Change(1L, "I", 1L, "A", 10.0),
        Change(2L, "I", 1L, "B", 20.0),
        Change(3L, "I", 1L, "C", 30.0))
      q.processAllAvailable()
      assert(spark.read.parquet(path).count() === 3)

      // batch 2: double-update on 1 (v3 wins), delete 2, insert 4
      stream.addData(
        Change(1L, "U", 2L, "A1", 11.0),
        Change(1L, "U", 3L, "A2", 12.0),
        Change(2L, "D", 2L, "B", 20.0),
        Change(4L, "I", 2L, "D", 40.0))
      q.processAllAvailable()

      val streamed = spark.read.parquet(path)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(streamed === Set(
        (1L, "A2", 12.0), (3L, "C", 30.0), (4L, "D", 40.0)))

      // stream ≡ batch: one applyChanges of the concatenated feed onto an
      // empty snapshot (versions increase across batches, so within-batch
      // max_by and across-batch sequencing pick the same winners)
      val feed = Seq(
        (1L, "I", 1L, "A", 10.0), (2L, "I", 1L, "B", 20.0),
        (3L, "I", 1L, "C", 30.0),
        (1L, "U", 2L, "A1", 11.0), (1L, "U", 3L, "A2", 12.0),
        (2L, "D", 2L, "B", 20.0), (4L, "I", 2L, "D", 40.0),
      ).toDF("k", "op", "version", "status", "amount")
      val empty = Seq.empty[(Long, String, Double)].toDF("k", "status", "amount")
      val batch = Cdc.applyChanges(empty, feed, "k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("replaying an identical batch is idempotent") {
    val snap = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "status", "amount")
    val batch = Seq(
      (1L, "U", 5L, "A5", 15.0),
      (2L, "D", 5L, "B", 20.0),
      (9L, "I", 5L, "Z", 90.0),
    ).toDF("k", "op", "version", "status", "amount")
    val once = Cdc.applyChanges(snap, batch, "k")
    val twice = Cdc.applyChanges(once, batch, "k")
    assert(once.orderBy("k").collect().toSeq ===
      twice.orderBy("k").collect().toSeq)
  }
}
