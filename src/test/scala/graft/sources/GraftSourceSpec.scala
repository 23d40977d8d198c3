package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** format("graft"): Spark's own reader/writer/stream APIs over the
  * snapshot format — save-mode semantics, time travel options, automatic
  * data skipping through the reader, and exactly-once streaming ingest.
  */
class GraftSourceSpec extends SparkSpec {

  test("write/read roundtrip through format(\"graft\"): append, " +
      "overwrite, error-if-exists, ignore") {
    import spark.implicits._
    val tbl = freshTable("modes")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.format("graft")
      .option("statsCols", "k").save(tbl)
    Seq((3L, "c")).toDF("k", "s").write.format("graft")
      .option("statsCols", "k").mode(SaveMode.Append).save(tbl)
    assert(spark.read.format("graft").load(tbl).count() === 3)
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
    intercept[IllegalStateException] {
      Seq((9L, "x")).toDF("k", "s").write.format("graft")
        .mode(SaveMode.ErrorIfExists).save(tbl)
    }
    Seq((9L, "x")).toDF("k", "s").write.format("graft")
      .mode(SaveMode.Ignore).save(tbl) // no-op on a non-empty table
    assert(spark.read.format("graft").load(tbl).count() === 3)
    Seq((7L, "z")).toDF("k", "s").write.format("graft")
      .mode(SaveMode.Overwrite).save(tbl)
    assert(spark.read.format("graft").load(tbl)
      .as[(Long, String)].collect().toSeq === Seq((7L, "z")))
  }

  test("time travel options: versionAsOf, timestampAsOf, tag, branch — " +
      "and at most one at a time") {
    import spark.implicits._
    val tbl = freshTable("travel")
    Seq((1L, 10L)).toDF("k", "v").write.format("graft").save(tbl)
    Branches.tag(spark, tbl, "first")
    Thread.sleep(50)
    val mid = System.currentTimeMillis()
    Thread.sleep(50)
    Seq((2L, 20L)).toDF("k", "v").write.format("graft")
      .mode(SaveMode.Append).save(tbl)
    Branches.create(spark, tbl, "dev")
    val br = Branches.branchPath(spark, tbl, "dev")
    Snapshots.commit(Seq((3L, 30L)).toDF("k", "v"), br)
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(ks(spark.read.format("graft").load(tbl)) === Seq(1L, 2L))
    assert(ks(spark.read.format("graft").option("versionAsOf", "1")
      .load(tbl)) === Seq(1L))
    assert(ks(spark.read.format("graft").option("tag", "first")
      .load(tbl)) === Seq(1L))
    assert(ks(spark.read.format("graft")
      .option("timestampAsOf", mid.toString).load(tbl)) === Seq(1L))
    assert(ks(spark.read.format("graft").option("branch", "dev")
      .load(tbl)) === Seq(1L, 2L, 3L))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("tag", "first").load(tbl)
    }
    assert(e.getMessage.contains("at most one"))
  }

  test("the format reader data-skips: a filter on a stats column cuts " +
      "numFiles") {
    import spark.implicits._
    val tbl = freshTable("skip")
    (0L until 8L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
      .write.format("graft").option("statsCols", "k").save(tbl)
    val q = spark.read.format("graft").load(tbl).filter(col("k") === 3L)
    assert(q.collect().map(_.getLong(1)).toSeq === Seq(30L))
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    assert(scans(q.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value) === Seq(1L))
  }

  test("SQL DDL: CREATE TABLE ... USING graft serves SELECT with " +
      "data skipping; INSERT INTO refuses (commits go through the " +
      "protocol, not the catalog)") {
    import spark.implicits._
    val tbl = freshTable("ddl")
    (0L until 8L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
      .write.format("graft").option("statsCols", "k").save(tbl)
    spark.sql("DROP TABLE IF EXISTS graft_ddl")
    spark.sql(
      s"CREATE TABLE graft_ddl USING graft OPTIONS (path '$tbl')")
    try {
      val got = spark.sql("SELECT v FROM graft_ddl WHERE k = 6")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(60L))
      // a catalog INSERT would bypass the manifest commit protocol —
      // the relation does not implement insertion, so it fails loudly
      intercept[Exception] {
        spark.sql("INSERT INTO graft_ddl VALUES (99, 990)")
      }
      assert(spark.sql("SELECT count(*) FROM graft_ddl").head().getLong(0)
        === 8L)
    } finally spark.sql("DROP TABLE graft_ddl")
  }

  test("writeStream.format(\"graft\") in UPDATE mode upserts each " +
      "micro-batch's changed keys atomically — the table always reads " +
      "as the latest state per key, across a checkpointed restart") {
    import spark.implicits._
    val dst = freshTable("upd")
    val ckpt = tempDir("updsink_ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    def start() = in.toDF().toDF("k", "n")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("n").as("total"))
      .writeStream.format("graft").outputMode("update")
      .option("path", dst).option("keyCol", "k")
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      in.addData((1L, 5L), (2L, 7L))
      q.processAllAvailable()
      in.addData((1L, 3L)) // key 1 changes: 5 → 8; key 2 untouched
      q.processAllAvailable()
    } finally q.stop()
    def state(): Map[Long, Long] = Snapshots.read(spark, dst)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state() === Map(1L -> 8L, 2L -> 7L))
    // restart from the checkpoint: no duplicate keys, no lost state
    val q2 = start()
    try {
      in.addData((2L, 1L), (3L, 9L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(state() === Map(1L -> 8L, 2L -> 8L, 3L -> 9L))
    // update mode without a key refuses loudly
    val e = intercept[Exception] {
      val bad = MemoryStream[(Long, Long)]
      bad.toDF().toDF("k", "n").groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("n").as("total"))
        .writeStream.format("graft").outputMode("update")
        .option("path", freshTable("updbad")).start()
    }
    assert(e.getMessage.contains("keyCol"))
  }

  test("readStream.format(\"graft\") streams the version history: " +
      "snapshot first, then per-version deltas, layout commits " +
      "silent, deletes refused") {
    import spark.implicits._
    val tbl = freshTable("src")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), tbl)
    def ks(name: String): Seq[Long] =
      spark.table(name).select("k").collect().map(_.getLong(0)).toSeq.sorted
    val q = spark.readStream.format("graft").load(tbl)
      .writeStream.format("memory").queryName("gsrc1").start()
    try {
      q.processAllAvailable()
      assert(ks("gsrc1") === Seq(1L, 2L))
      Snapshots.commit(Seq((3L, "c")).toDF("k", "s"), tbl)
      q.processAllAvailable()
      assert(ks("gsrc1") === Seq(1L, 2L, 3L))
      // compaction: offset advances, zero rows delivered
      Snapshots.compactVersion(spark, tbl)
      q.processAllAvailable()
      assert(ks("gsrc1") === Seq(1L, 2L, 3L))
      // a delete breaks the append-only contract loudly
      Snapshots.deleteWhere(spark, tbl, Seq(1L).toDF("k"), "k")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("append-only") ||
        e.getCause.getMessage.contains("append-only"))
    } finally q.stop()
  }

  test("graft-to-graft streaming pipeline is exactly-once across a " +
      "checkpointed restart") {
    import spark.implicits._
    val src = freshTable("pipesrc")
    val dst = freshTable("pipedst")
    val cp = tempDir("pipe_cp")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src)
    def start() = spark.readStream.format("graft").load(src)
      .writeStream.format("graft").option("path", dst)
      .option("checkpointLocation", cp).start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.format("graft").load(dst).count() === 2)
    // offline append; the restarted query must deliver ONLY the delta —
    // source offsets resume from the checkpoint, and the sink's replay
    // marker would additionally absorb a re-fired batch
    Snapshots.commit(Seq((3L, "c")).toDF("k", "s"), src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.format("graft").load(dst)
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(1L, 2L, 3L)) // no duplicates, nothing lost
    assert(Snapshots.versions(spark, dst).size === 2)
  }

  test("writeStream.format(\"graft\") commits each micro-batch " +
      "atomically with the replay marker") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val tbl = freshTable("stream")
    val cp = tempDir("fmt_cp")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "s").writeStream.format("graft")
      .option("path", tbl).option("checkpointLocation", cp)
      .option("statsCols", "k").start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.format("graft").load(tbl)
      .select("k").collect().map(_.getLong(0)).toSeq.sorted ===
      Seq(1L, 2L, 3L))
    // each non-empty batch is one version carrying its marker
    val markers = Snapshots.versions(spark, tbl).flatMap(v =>
      Snapshots.properties(spark, tbl, v)
        .get(graft.streaming.SnapshotStream.batchProp))
    assert(markers === Seq("0", "1"))
  }

  test("readChangeFeed streams row-level deletes and upserts as typed " +
      "change rows, layout commits silent, stream content ≡ batch " +
      "changes()") {
    import spark.implicits._
    val tbl = freshTable("cdcsrc")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), tbl,
      statsCols = Seq("k"))
    def rows(name: String): Seq[(Long, String, String, Int)] =
      spark.table(name).select("k", "s", "_change_type", "_commit_version")
        .as[(Long, String, String, Int)].collect().toSeq
        .sortBy(r => (r._4, r._3, r._1))
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(tbl)
      .writeStream.format("memory").queryName("gcdc1").start()
    try {
      q.processAllAvailable()
      assert(rows("gcdc1") ===
        Seq((1L, "a", "insert", 1), (2L, "b", "insert", 1)))
      // a MOR delete STREAMS (the append-only mode refuses it)
      Snapshots.deleteWhere(spark, tbl, Seq(1L).toDF("k"), "k")
      q.processAllAvailable()
      assert(rows("gcdc1").last === ((1L, "a", "delete", 2)))
      // an upsert surfaces as delete-of-old + insert-of-new at one version
      Snapshots.upsertMor(spark, tbl, Seq((2L, "B")).toDF("k", "s"), "k")
      q.processAllAvailable()
      assert(rows("gcdc1").takeRight(2) ===
        Seq((2L, "b", "delete", 3), (2L, "B", "insert", 3)))
      // layout-only commit: offset advances, zero change rows
      Snapshots.compactMor(spark, tbl)
      q.processAllAvailable()
      assert(rows("gcdc1").size === 5)
      // the stream delivered exactly the batch CDC surface
      val batch = Snapshots.changes(spark, tbl, 0,
        Snapshots.latestVersion(spark, tbl))
        .select("k", "s", "_change_type", "_commit_version")
        .as[(Long, String, String, Int)].collect().toSeq
        .sortBy(r => (r._4, r._3, r._1))
      assert(rows("gcdc1") === batch)
    } finally q.stop()
  }

  test("readChangeFeed is exactly-once across a checkpointed restart, " +
      "and keeps changes()' loud refusal for feed-underivable commits") {
    import spark.implicits._
    val src = freshTable("cdcrst")
    val dst = freshTable("cdcdst")
    val cp = tempDir("cdc_cp")
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      src, statsCols = Seq("k"))
    def start() = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(src)
      .writeStream.format("graft").option("path", dst)
      .option("checkpointLocation", cp).start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.format("graft").load(dst).count() === 3)
    // offline delete; the restart must deliver ONLY the one delete row
    Snapshots.deleteWhere(spark, src, Seq(2L).toDF("k"), "k")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.format("graft").load(dst)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
      .sorted
    assert(got === Seq((1L, "insert"), (2L, "delete"), (2L, "insert"),
      (3L, "insert"))) // no duplicates, nothing lost
    // a copy-on-write rewrite (file-dropping commit) stays underivable:
    // the stream refuses loudly instead of inventing a row-level feed
    Snapshots.compactMor(spark, src) // layout-only, streams silently
    Snapshots.merge(spark, src, Seq((3L, "C")).toDF("k", "s"),
      Seq.empty[Long].toDF("k"), "k")
    val q3 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).mkString
    assert(msg.contains("drops") || msg.contains("not derivable"))
    // ... and a user-supplied schema cannot apply to the CDC shape
    val e2 = intercept[IllegalArgumentException] {
      spark.readStream.format("graft").schema(StructType(Seq(
          StructField("k", LongType)))).option("readChangeFeed", "true")
        .load(src).writeStream.format("memory").queryName("gcdc_bad")
        .start()
    }
    assert(e2.getMessage.contains("RECORDED schema"))
  }
}
