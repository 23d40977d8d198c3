package graft.streaming

import graft.SparkSpec
import graft.operators.Cdc
import graft.sources.Snapshots
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MergeStreamSpec extends SparkSpec {
  import spark.implicits._

  case class Change(k: Long, op: String, version: Long, status: String,
      amount: Double)

  private def bootstrap(tbl: String): Unit = {
    Snapshots.commit(Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "status", "amount"), tbl, statsCols = Seq("k"))
  }

  test("streamed merges reproduce one batch apply; versions time-travel") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = freshTable("sb")
    bootstrap(tbl)
    val stream = MemoryStream[Change]
    val q = MergeStream.maintainTable(stream.toDF(), tbl, "k")
    try {
      // batch A: double-update on 1 (v3 wins), delete 2, insert 4
      stream.addData(
        Change(1L, "U", 2L, "A1", 11.0),
        Change(1L, "U", 3L, "A2", 12.0),
        Change(2L, "D", 2L, "B", 20.0),
        Change(4L, "I", 2L, "D", 40.0))
      q.processAllAvailable()
      // batch B: delete 4 again, touch 3
      stream.addData(
        Change(4L, "D", 4L, "D", 40.0),
        Change(3L, "U", 4L, "C4", 33.0))
      q.processAllAvailable()

      val streamed = Snapshots.read(spark, tbl)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(streamed === Set((1L, "A2", 12.0), (3L, "C4", 33.0)))

      // stream ≡ batch: the same feed through the batch CDC apply
      val feed = Seq(
        (1L, "U", 2L, "A1", 11.0), (1L, "U", 3L, "A2", 12.0),
        (2L, "D", 2L, "B", 20.0), (4L, "I", 2L, "D", 40.0),
        (4L, "D", 4L, "D", 40.0), (3L, "U", 4L, "C4", 33.0),
      ).toDF("k", "op", "version", "status", "amount")
      val snap0 = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
        .toDF("k", "status", "amount")
      val batch = Cdc.applyChanges(snap0, feed, "k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(streamed === batch)

      // every batch boundary is a version: v1 bootstrap, v2 after A
      assert(Snapshots.read(spark, tbl, Some(1))
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
      assert(Snapshots.read(spark, tbl, Some(2))
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
    } finally q.stop()
  }

  test("a replayed batch id is skipped, not double-applied") {
    val tbl = freshTable("replay")
    bootstrap(tbl)
    val b = Seq((1L, "U", 5L, "A5", 15.0), (2L, "D", 5L, "B", 20.0))
      .toDF("k", "op", "version", "status", "amount")
    MergeStream.mergeBatch(b, 1L, tbl, "k", "version", "op")
    val vAfter = Snapshots.latestVersion(spark, tbl)
    val content = Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // at-least-once delivery replays the SAME batch id → no-op
    MergeStream.mergeBatch(b, 1L, tbl, "k", "version", "op")
    assert(Snapshots.latestVersion(spark, tbl) === vAfter)
    assert(Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === content)
    // the marker is atomic with the data: it rode the merge manifest
    assert(Snapshots.properties(spark, tbl, vAfter)
      .get(MergeStream.batchProp) === Some("1"))
  }

  test("merge rewrites stay bounded under a key-clustered bootstrap") {
    val tbl = freshTable("bounded")
    // bootstrap in two key-disjoint files
    Snapshots.commit((0L until 50L).map(i => (i, s"s$i", i * 1.0))
      .toDF("k", "status", "amount"), tbl, statsCols = Seq("k"))
    Snapshots.commit((50L until 100L).map(i => (i, s"s$i", i * 1.0))
      .toDF("k", "status", "amount"), tbl, statsCols = Seq("k"))
    val b = Seq((3L, "U", 1L, "x", 0.0), (7L, "D", 1L, "y", 0.0))
      .toDF("k", "op", "version", "status", "amount")
    MergeStream.mergeBatch(b, 1L, tbl, "k", "version", "op")
    val v = Snapshots.latestVersion(spark, tbl)
    // the high-key file is carried byte-identical into the merge version
    val before = Snapshots.manifest(spark, tbl, 2).map(_.path).toSet
    val after = Snapshots.manifest(spark, tbl, v).map(_.path).toSet
    assert(after.intersect(before).nonEmpty, "no file carried — rewrite unbounded")
    assert(Snapshots.read(spark, tbl).count() === 99)
  }
}
