package graft.plans

import graft.SparkSpec
import graft.sources.{Partitioning, Snapshots}
import org.apache.spark.sql.SparkSession

/** `CALL graft_*` maintenance procedures ([[SqlMaintenance]]): routed
  * onto the snapshot tier's maintenance ops, executed at statement
  * execution — never at plan/EXPLAIN time.
  */
class SqlMaintenanceSpec extends SparkSpec {

  private lazy val dml: SparkSession = SqlDml.enable(spark)

  private def seed3(tbl: String): Unit = {
    import spark.implicits._
    // three commits → three files, each with stats
    (0 until 3).foreach { i =>
      Snapshots.commit(
        (0L until 10L).map(k => (i * 10 + k, k)).toDF("k", "v")
          .coalesce(1),
        tbl, statsCols = Seq("k"))
    }
  }

  test("EXPLAIN CALL is side-effect-free; CALL graft_compact folds the " +
      "file list and commits one version") {
    val tbl = freshTable("cmp")
    seed3(tbl)
    assert(Snapshots.latestVersion(spark, tbl) === 3)
    assert(Snapshots.manifest(spark, tbl, 3).size === 3)
    // EXPLAIN plans the command but must not run it
    val plan = dml.sql(s"EXPLAIN CALL graft_compact('$tbl')")
      .collect().head.getString(0)
    assert(plan.contains("GraftMaintainCommand"), plan)
    assert(Snapshots.latestVersion(spark, tbl) === 3,
      "EXPLAIN executed the compaction")
    // CALL runs it and returns the (op, result) summary row
    val out = dml.sql(s"CALL graft_compact('$tbl')").collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "graft_compact")
    assert(Snapshots.latestVersion(spark, tbl) === 4)
    assert(Snapshots.manifest(spark, tbl, 4).size === 1)
    assert(Snapshots.read(spark, tbl).count() === 30)
  }

  test("CALL graft_compact_mor folds tombstones; graft_vacuum reclaims " +
      "old versions; graft_build_segment_index records the index") {
    import spark.implicits._
    val tbl = freshTable("mor")
    seed3(tbl)
    Snapshots.upsertMor(spark, tbl,
      Seq((5L, 555L)).toDF("k", "v"), "k")
    // MOR-masked version: the maintenance call folds it
    dml.sql(s"CALL graft_compact_mor('$tbl')")
    val folded = Snapshots.read(spark, tbl)
    assert(folded.filter(folded("k") === 5L).head().getLong(1) === 555L)
    // segment index builds and reports the file count
    val n = dml.sql(s"CALL graft_build_segment_index('$tbl')")
      .collect().head.getLong(1)
    assert(n >= 1)
    // vacuum keeps the last version only and reports reclaimed files
    val reclaimed = dml.sql(s"CALL graft_vacuum('$tbl', 1)")
      .collect().head.getLong(1)
    assert(reclaimed >= 1)
    assert(Snapshots.read(spark, tbl).count() === 30)
  }

  test("CALL graft_rewrite_layout restores a partition-spec'd layout; " +
      "bad calls refuse loudly; non-graft CALLs pass through") {
    import spark.implicits._
    val tbl = freshTable("lay")
    Snapshots.commit((0L until 12L).map(k => (k, k % 3)).toDF("k", "g"),
      tbl, statsCols = Seq("k"))
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Identity("g")))
    dml.sql(s"CALL graft_rewrite_layout('$tbl')")
    assert(Partitioning.partitions(spark, tbl).count() === 3)
    // arity/type refusals
    val e = intercept[Exception] {
      dml.sql(s"CALL graft_compact('$tbl', 'not-a-number')")
    }
    assert(e.getMessage.contains("graft_compact"), e.getMessage)
    val e2 = intercept[Exception] { dml.sql("CALL graft_vacuum()") }
    assert(e2.getMessage.contains("graft_vacuum"), e2.getMessage)
    // non-integral tunables refuse instead of silently truncating
    // (1.9 → keep_last=1 would reclaim more than asked)
    val e3 = intercept[Exception] {
      dml.sql(s"CALL graft_vacuum('$tbl', 1.9)").collect()
    }
    assert(e3.getMessage.contains("integral"), e3.getMessage)
    val e4 = intercept[Exception] {
      dml.sql(s"CALL graft_compact('$tbl', 0.5)").collect()
    }
    assert(e4.getMessage.contains("integral"), e4.getMessage)
    // a WHOLE decimal literal is fine (1e6 parses as decimal)
    dml.sql(s"CALL graft_compact('$tbl', 2.0)").collect()
    // the SQL surface requires keep_last explicitly — the API default
    // (reclaim every non-latest version) is too destructive to imply
    val e5 = intercept[Exception] {
      dml.sql(s"CALL graft_vacuum('$tbl')").collect()
    }
    assert(e5.getMessage.contains("keep_last"), e5.getMessage)
    // an unknown procedure is NOT intercepted — Spark's own resolution
    // refuses it (no procedure catalog), proving the rule scopes itself
    intercept[Exception] { dml.sql("CALL not_graft('x')") }
  }

  test("CALL graft_compact(where => ...) rewrites ONLY envelope-matching " +
      "files — untouched files carry byte-identical (path, bytes, seq); " +
      "zero-match is a no-op; other ops refuse `where`") {
    import spark.implicits._
    val tbl = freshTable("cw")
    // two key-disjoint batches, two files each: the predicate can only
    // touch batch A's files, so batch B's two files must carry verbatim
    Snapshots.commit((0L until 10L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("k")),
      tbl, statsCols = Seq("k"))
    Snapshots.commit((100L until 120L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("k")),
      tbl, statsCols = Seq("k"))
    val before = Snapshots.manifest(spark, tbl, 2)
    assert(before.size === 4)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def sig(path: String): (Long, Long) = {
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(tbl, path))
      (st.getLen, st.getModificationTime)
    }
    val carriedBefore = before.filter(_.stats("k")._1 >= 100L)
      .map(e => (e.path, e.seq, sig(e.path))).sortBy(_._1)
    assert(carriedBefore.size === 2)
    val out = dml.sql(
      s"CALL graft_compact(path => '$tbl', where => 'k < 50', " +
        "target_bytes => 1073741824)").collect()
    assert(out.head.getLong(1) === 3L) // result = the new version
    val after = Snapshots.manifest(spark, tbl, 3)
    // 2 touched files folded into 1, 2 carried verbatim
    assert(after.size === 3, after.map(_.path).mkString(","))
    val carriedAfter = after.filter(_.stats("k")._1 >= 100L)
      .map(e => (e.path, e.seq, sig(e.path))).sortBy(_._1)
    assert(carriedAfter === carriedBefore,
      "carried files must keep path, seq, and bytes")
    // content identical, history preserved
    assert(Snapshots.read(spark, tbl).orderBy("k").collect().toSeq ===
      Snapshots.read(spark, tbl, Some(2)).orderBy("k").collect().toSeq)
    // zero matching files: no-op, no empty commit
    val r = Snapshots.compactWhere(spark, tbl,
      org.apache.spark.sql.functions.col("k") > 100000L)
    assert(r === Snapshots.MergeResult(3, 0, 3))
    assert(Snapshots.latestVersion(spark, tbl) === 3)
    // `where` on any other op refuses
    val e = intercept[Exception] {
      dml.sql(s"CALL graft_vacuum(path => '$tbl', where => 'k < 5')")
    }
    assert(e.getMessage.contains("where"), e.getMessage)
  }

  test("compactWhere honors declared clustering on the rewritten subset " +
      "and refuses merge-on-read masks toward compactMor") {
    import spark.implicits._
    val tbl = freshTable("cwc")
    Snapshots.commit((0L until 40L).map(k => (k % 7, k)).toDF("g", "k")
      .repartition(4), tbl, statsCols = Seq("g", "k"))
    Snapshots.setClustering(spark, tbl, "sort(k)")
    val r = Snapshots.compactWhere(spark, tbl,
      org.apache.spark.sql.functions.col("k") >= 0L,
      targetBytes = 1L << 30)
    assert(r.filesRewritten === 4 && r.filesCarried === 0)
    // clustered layout: the single rewritten file is sorted by k
    val ks = Snapshots.read(spark, tbl).select("k").collect().map(_.getLong(0))
    assert(ks.toSeq === ks.sorted.toSeq, "declared sort clustering ignored")
    // MOR masks refuse with guidance
    Snapshots.deleteVector(spark, tbl,
      org.apache.spark.sql.functions.col("k") === 3L)
    val e = intercept[Exception] {
      Snapshots.compactWhere(spark, tbl,
        org.apache.spark.sql.functions.col("k") < 10L)
    }
    assert(e.getMessage.contains("compactMor"), e.getMessage)
  }

  test("CALL accepts named arguments in any order; mixed or unknown " +
      "names refuse") {
    val tbl = freshTable("named")
    seed3(tbl)
    val out = dml.sql(
      s"CALL graft_compact(target_bytes => 1048576, path => '$tbl')")
      .collect()
    assert(out.head.getString(0) === "graft_compact")
    assert(Snapshots.latestVersion(spark, tbl) === 4)
    assert(Snapshots.read(spark, tbl).count() === 30)
    val e = intercept[Exception] {
      dml.sql(s"CALL graft_vacuum(keep => 1, retain => 2, path => '$tbl')")
    }
    assert(e.getMessage.contains("graft_vacuum"), e.getMessage)
    val e2 = intercept[Exception] {
      dml.sql(s"CALL graft_vacuum('$tbl', keep_last => 1)")
    }
    assert(e2.getMessage.contains("mix"), e2.getMessage)
  }
}
