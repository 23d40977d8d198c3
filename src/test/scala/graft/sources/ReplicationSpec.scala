package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-feed replication ([[Replication.sync]]): a target versioned
  * table follows a source through appends, MOR deletes, upserts and
  * compactions — exactly once, resuming across crashes.
  */
class ReplicationSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"))

  private def assertMirror(src: String, dst: String): Unit = {
    val a = Snapshots.read(spark, src)
    val b = Snapshots.read(spark, dst)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "mirror must equal source content exactly")
  }

  private def buildHistory(src: String): Unit = {
    Snapshots.commit(orders.filter(col("o_orderkey") < 700), src,
      statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey") >= 700), src,
      statsCols = Seq("o_orderkey"))
    Snapshots.deleteWhere(spark, src,
      orders.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
      "o_orderkey")
    Snapshots.upsertMor(spark, src,
      orders.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_totalprice", lit(-5.0)),
      "o_orderkey")
  }

  test("sync mirrors append / delete / upsert history exactly once") {
    val d = tempDir("mirror"); val src = s"$d/src"; val dst = s"$d/dst"
    buildHistory(src)
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq(1, 2, 3, 4))
    assertMirror(src, dst)
    // a replayed sync applies nothing
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq.empty)
    // new source activity flows through incrementally
    Snapshots.deleteWhere(spark, src,
      orders.filter(col("o_orderkey") % 2 === 0).select("o_orderkey"),
      "o_orderkey")
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq(5))
    assertMirror(src, dst)
  }

  test("a crash mid-sync resumes at the first unapplied version") {
    val d = tempDir("crash"); val src = s"$d/src"; val dst = s"$d/dst"
    buildHistory(src)
    val boom = intercept[RuntimeException] {
      Replication.sync(spark, src, dst, "o_orderkey",
        hook = v => if (v == 2) sys.error("crash after v2"))
    }
    assert(boom.getMessage.contains("crash after v2"))
    assert(Replication.syncedVersion(spark, dst) === 2)
    // resume applies exactly the rest; content converges
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq(3, 4))
    assertMirror(src, dst)
  }

  test("sync replays schema evolution: rename and drop flow structurally") {
    val d = tempDir("evolve"); val src = s"$d/src"; val dst = s"$d/dst"
    Snapshots.commit(orders.filter(col("o_orderkey") < 300), src,
      statsCols = Seq("o_orderkey"))
    Snapshots.renameColumn(spark, src, "o_totalprice", "price")
    Snapshots.commit(orders.filter(col("o_orderkey") >= 300 &&
        col("o_orderkey") < 400)
      .withColumnRenamed("o_totalprice", "price"), src,
      statsCols = Seq("o_orderkey"))
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq(1, 2, 3))
    assertMirror(src, dst)
    assert(Snapshots.read(spark, dst).columns.toSeq ===
      Seq("o_orderkey", "price"))
    // a later drop flows too, and resume-across-evolution works
    Snapshots.commit(orders.filter(col("o_orderkey") >= 400 &&
        col("o_orderkey") < 450)
      .withColumnRenamed("o_totalprice", "price")
      .withColumn("extra", lit(1L)), src, statsCols = Seq("o_orderkey"))
    Snapshots.dropColumn(spark, src, "extra")
    Snapshots.commit(orders.filter(col("o_orderkey") >= 450 &&
        col("o_orderkey") < 500)
      .withColumnRenamed("o_totalprice", "price"), src,
      statsCols = Seq("o_orderkey"))
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq(4, 5, 6))
    assert(Snapshots.read(spark, dst).columns.toSeq ===
      Seq("o_orderkey", "price"))
    assert(Snapshots.read(spark, dst).count() ===
      orders.filter(col("o_orderkey") < 500).count())
  }

  test("per-micro-batch sync mirrors a streaming-ingested table; a missed sync catches up") {
    // the streaming composition: SnapshotStream commits each micro-batch
    // as one upsert version, and sync runs after each — exactly-once on
    // BOTH sides (batch marker + sync marker), so a skipped/crashed
    // sync simply catches up on the next tick
    val d = tempDir("stream"); val src = s"$d/src"; val dst = s"$d/dst"
    def batch(lo: Int, hi: Int, price: Double) =
      orders.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(price))
    // the SnapshotStream micro-batch discipline: one upsert commit per
    // batch, the batch id riding the same manifest (replay = no-op)
    val bp = graft.streaming.SnapshotStream.batchProp
    def upsertBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val applied = Snapshots.versions(spark, src).flatMap(v =>
        Snapshots.properties(spark, src, v).get(bp).map(_.toLong))
      if (applied.nonEmpty && applied.max >= id) return
      Snapshots.upsertMor(spark, src, df, "o_orderkey",
        statsCols = Seq("o_orderkey"), properties = Map(bp -> id.toString))
    }
    Snapshots.commit(batch(0, 99, 1.0), src, statsCols = Seq("o_orderkey"))
    Replication.sync(spark, src, dst, "o_orderkey")
    // micro-batch 1 upserts keys 50-120; sync after it
    upsertBatch(batch(50, 120, 2.0), 1L)
    Replication.sync(spark, src, dst, "o_orderkey")
    assertMirror(src, dst)
    // micro-batches 2 and 3 land with NO sync in between (a crashed
    // tick); one later sync applies both versions exactly once
    upsertBatch(batch(100, 150, 3.0), 2L)
    upsertBatch(batch(10, 20, 4.0), 3L)
    assert(Replication.sync(spark, src, dst, "o_orderkey").size === 2)
    assertMirror(src, dst)
    // a replayed micro-batch (same id) is a no-op on src, so the next
    // sync applies nothing — exactly-once end to end
    upsertBatch(batch(10, 20, 9.0), 3L)
    assert(Replication.sync(spark, src, dst, "o_orderkey") === Seq.empty)
    assertMirror(src, dst)
  }

  test("source compaction is skipped; the mirror stays exact") {
    val d = tempDir("compact"); val src = s"$d/src"; val dst = s"$d/dst"
    Snapshots.commit(orders.filter(col("o_orderkey") < 500), src,
      statsCols = Seq("o_orderkey"))
    Replication.sync(spark, src, dst, "o_orderkey")
    Snapshots.compactVersion(spark, src, targetBytes = 1L << 20)
    Snapshots.commit(orders.filter(col("o_orderkey") >= 500), src,
      statsCols = Seq("o_orderkey"))
    val applied = Replication.sync(spark, src, dst, "o_orderkey")
    assert(applied === Seq(2, 3), "compaction version applies nothing but advances")
    assertMirror(src, dst)
    // target history shows no commit for the compaction version
    val marks = Snapshots.versions(spark, dst)
      .flatMap(v => Snapshots.properties(spark, dst, v).get(Replication.SyncProp))
    assert(marks === Seq("1", "3"))
  }
}
