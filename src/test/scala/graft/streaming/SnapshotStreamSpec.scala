package graft.streaming

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Click(user: Long, page: String)

class SnapshotStreamSpec extends SparkSpec {
  import spark.implicits._

  test("each micro-batch is one version; content converges to the batch union") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = freshTable("ing")
    val stream = MemoryStream[Click]
    val q = SnapshotStream.ingest(stream.toDF(), tbl, statsCols = Seq("user"))
    try {
      stream.addData(Click(1, "a"), Click(2, "b"))
      q.processAllAvailable()
      stream.addData(Click(3, "c"))
      q.processAllAvailable()
      stream.addData(Click(4, "d"), Click(5, "e"))
      q.processAllAvailable()
      assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3))
      // full content = union of all batches
      val got = Snapshots.read(spark, tbl)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
      // time travel to a batch boundary
      assert(Snapshots.read(spark, tbl, Some(1)).count() === 2)
      // inter-batch delta reads exactly batch 2's rows
      val delta = Snapshots.diffAdded(spark, tbl, 1, 2)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(delta === Set((3L, "c")))
      // stats recorded for skip-scans over the streamed table
      assert(Snapshots.manifest(spark, tbl, 3)
        .forall(_.stats.contains("user")))
    } finally q.stop()
  }

  test("replayed batch id commits nothing (exactly-once via manifest marker)") {
    val tbl = freshTable("replay")
    val b0 = Seq(Click(1, "a")).toDF()
    val b1 = Seq(Click(2, "b")).toDF()
    SnapshotStream.commitBatch(b0, 0, tbl, Seq.empty)
    SnapshotStream.commitBatch(b1, 1, tbl, Seq.empty)
    // at-least-once replay of both ids: no new versions, no double rows
    SnapshotStream.commitBatch(b0, 0, tbl, Seq.empty)
    SnapshotStream.commitBatch(b1, 1, tbl, Seq.empty)
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
    assert(Snapshots.read(spark, tbl).count() === 2)
    assert(Snapshots.properties(spark, tbl, 2)(SnapshotStream.batchProp) === "1")
    // an empty batch advances nothing
    SnapshotStream.commitBatch(b0.limit(0), 2, tbl, Seq.empty)
    assert(Snapshots.latestVersion(spark, tbl) === 2)
  }

  test("audited ingest drops a poison micro-batch and keeps flowing") {
    val tbl = freshTable("wapstream")
    val audit: org.apache.spark.sql.DataFrame => Option[String] = b =>
      if (b.filter(col("page") === "BAD").count() > 0)
        Some("poison page") else None
    var rejected = Vector.empty[(Long, String)]
    val hook = (id: Long, why: String) => { rejected :+= (id, why); () }
    SnapshotStream.commitBatch(Seq(Click(1, "a")).toDF(), 0, tbl,
      Seq.empty, Some(audit), hook)
    SnapshotStream.commitBatch(Seq(Click(2, "BAD")).toDF(), 1, tbl,
      Seq.empty, Some(audit), hook)
    SnapshotStream.commitBatch(Seq(Click(3, "c")).toDF(), 2, tbl,
      Seq.empty, Some(audit), hook)
    // poison never published: two versions, no BAD row at any of them
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
    val all = Snapshots.read(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all === Set((1L, "a"), (3L, "c")))
    assert(rejected === Vector((1L, "poison page")))
    // the marker is the last PUBLISHED id; replaying it is a no-op
    assert(Snapshots.properties(spark, tbl, 2)(SnapshotStream.batchProp)
      === "2")
    SnapshotStream.commitBatch(Seq(Click(3, "c")).toDF(), 2, tbl,
      Seq.empty, Some(audit), hook)
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
  }

  test("streaming upsert converges to last-write-per-key, atomically") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = freshTable("ups")
    // seed the table (upsertMor needs a v1), then stream upserts at it
    Snapshots.commit(Seq(Click(1, "seed1"), Click(2, "seed2")).toDF(), tbl)
    val stream = MemoryStream[Click]
    val q = SnapshotStream.ingestUpsert(stream.toDF(), tbl, "user")
    try {
      stream.addData(Click(1, "a"), Click(3, "c"))
      q.processAllAvailable()
      stream.addData(Click(1, "a2"), Click(2, "b2"))
      q.processAllAvailable()
      val got = Snapshots.read(spark, tbl)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // user 1: overwritten twice; user 2: seed overwritten; user 3: new
      assert(got === Set((1L, "a2"), (2L, "b2"), (3L, "c")))
      // each micro-batch was ONE version (atomic tombstone+data)
      assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3))
      // time travel to the first upsert boundary
      assert(Snapshots.read(spark, tbl, Some(2))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
        Set((1L, "a"), (2L, "seed2"), (3L, "c")))
    } finally q.stop()
    // replayed batch id is a no-op (manifest marker discipline)
    SnapshotStream.upsertBatch(Seq(Click(9, "x")).toDF(), 0, tbl, "user",
      Seq.empty)
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3))
    // compaction materializes; plain readers serve the same content
    Snapshots.compactMor(spark, tbl)
    assert(Snapshots.read(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a2"), (2L, "b2"), (3L, "c")))
  }

  private def exchanges(plan: String): Int =
    "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(plan).length

  test("rebucket cadence: streamed appends restore a bucketed layout " +
      "every N batches, join stays zero-Exchange, CDC lineage intact") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = freshTable("rebucket")
    // seed: a bucketed table (the layout the policy maintains)
    Snapshots.commitBucketed(
      Seq(Click(1, "s1"), Click(2, "s2")).toDF(), tbl, "user", 4)
    val stream = MemoryStream[Click]
    val q = SnapshotStream.ingest(stream.toDF(), tbl,
      statsCols = Seq("user"), rebucketEvery = Some(2))
    try {
      stream.addData(Click(3, "a")) // backlog 1 -> plain append
      q.processAllAvailable()
      assert(Snapshots.bucketedLayoutVersion(spark, tbl) === Some(1))
      assert(Snapshots.bucketSpec(spark, tbl).isEmpty) // v2 is plain
      stream.addData(Click(4, "b")) // backlog reaches 2 -> policy fires
      q.processAllAvailable()
      // TWO commits: the batch lands as an append carrying the marker
      // (v3), then the layout restore is its own data.change=false
      // rebucket (v4) — so the change feed stays valid over the lineage
      assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3, 4))
      assert(Snapshots.bucketedLayoutVersion(spark, tbl) === Some(4))
      assert(Snapshots.properties(spark, tbl, 3)(SnapshotStream.batchProp)
        === "1")
      assert(Snapshots.properties(spark, tbl, 4)
        .get(Snapshots.DataChangeProp) === Some("false"))
      // content = seed + every batch, nothing lost or doubled
      assert(Snapshots.read(spark, tbl)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
        Set((1L, "s1"), (2L, "s2"), (3L, "a"), (4L, "b")))
      // the CDC contract the append+rebucket shape preserves: row-level
      // changes stream across the restore (an overwrite fold would throw)
      val ch = Snapshots.changes(spark, tbl, 1, 4)
      assert(ch.filter(col("_change_type") === "insert")
        .collect().map(r => r.getAs[Long]("user")).toSet === Set(3L, 4L))
      // the restored layout serves a shuffle-free self-join
      Snapshots.registerBucketed(spark, tbl, "bkt_stream_t")
      val joined = spark.table("bkt_stream_t").hint("merge")
        .join(spark.table("bkt_stream_t").select(col("user"),
          col("page").as("p2")).hint("merge"), "user")
      assert(exchanges(executedPlan(joined)) === 0)
      // cycle repeats: two more batches -> next restore after the 2nd
      stream.addData(Click(5, "c"))
      q.processAllAvailable()
      stream.addData(Click(6, "d"))
      q.processAllAvailable()
      assert(Snapshots.bucketedLayoutVersion(spark, tbl) === Some(7))
      assert(Snapshots.read(spark, tbl).count() === 6)
    } finally q.stop()
  }

  test("rebucket cadence: never-bucketed tables and replays are " +
      "unaffected; audit path restores the layout as a follow-on commit") {
    val plain = freshTable("rebucket_plain")
    // a table with NO bucketed version ever: policy must not invent one
    SnapshotStream.commitBatch(Seq(Click(1, "a")).toDF(), 0, plain,
      Seq.empty, rebucketEvery = Some(1))
    SnapshotStream.commitBatch(Seq(Click(2, "b")).toDF(), 1, plain,
      Seq.empty, rebucketEvery = Some(1))
    assert(Snapshots.versions(spark, plain) === Seq(1, 2))
    assert(Snapshots.bucketSpec(spark, plain).isEmpty)

    val tbl = freshTable("rebucket_audit")
    Snapshots.commitBucketed(Seq(Click(1, "s")).toDF(), tbl, "user", 4)
    val audit: org.apache.spark.sql.DataFrame => Option[String] = b =>
      if (b.filter(col("page") === "BAD").count() > 0)
        Some("poison") else None
    // audited path: batch publishes by WAP, then the policy follow-up
    // rebucket (data.change=false) restores the layout
    SnapshotStream.commitBatch(Seq(Click(2, "x")).toDF(), 0, tbl,
      Seq.empty, Some(audit), rebucketEvery = Some(1))
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3))
    assert(Snapshots.bucketedLayoutVersion(spark, tbl) === Some(3))
    assert(Snapshots.properties(spark, tbl, 2)(SnapshotStream.batchProp)
      === "0")
    // a rejected batch publishes nothing and triggers no rebucket
    SnapshotStream.commitBatch(Seq(Click(3, "BAD")).toDF(), 1, tbl,
      Seq.empty, Some(audit), rebucketEvery = Some(1))
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3))
    // replayed id: no-op even with the policy armed
    SnapshotStream.commitBatch(Seq(Click(2, "x")).toDF(), 0, tbl,
      Seq.empty, Some(audit), rebucketEvery = Some(1))
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 3))
    assert(Snapshots.read(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "s"), (2L, "x")))
  }
}
