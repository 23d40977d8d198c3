package graft.plans

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class SnapshotMvSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      col("o_totalprice"))

  private def mvDef(tbl: String, root: String) = SnapshotMv.SnapshotMvDef(
    tbl, root, keys = Seq("o_orderstatus", "o_orderpriority"),
    countCol = "n", sums = Seq(MaterializedViews.MvSum("rev", "o_totalprice",
      Some(DecimalType(27, 4)))))

  private def userQuery(tbl: String): DataFrame =
    Snapshots.read(spark, tbl)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,4)")).as("rev"))

  /** Whether a physical plan scans the versioned fact itself: its
    * reads list files through the table's SnapshotFileIndex, while the
    * MV rollup is a plain parquet directory.
    */
  private def scansFact(plan: String): Boolean =
    plan.contains("SnapshotFileIndex")

  private def canon(df: DataFrame): Set[(String, Long, String)] =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet

  test("full build at v1 rewrites the versioned-fact aggregate exactly") {
    val tbl = freshTable("full")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), tbl)
    val root = tempDir("fullmv")
    try {
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      val expect = canon(
        orders.filter(col("o_orderkey") <= 800)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(27,4)")).as("rev")))
      val df = userQuery(tbl)
      val plan = executedPlan(df, execute = false)
      assert(plan.contains(new java.io.File(root).getName),
        s"expected MV scan:\n$plan")
      assert(!scansFact(plan), s"fact files must be gone:\n$plan")
      assert(canon(df) === expect)
    } finally MaterializedViews.clear()
  }

  test("append then refresh folds ONLY the delta (old files can be cold)") {
    val tbl = freshTable("inc")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), tbl)
    val root = tempDir("incmv")
    try {
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      Snapshots.commit(orders.filter(col("o_orderkey") > 800), tbl)

      // BEFORE the refresh, the latest read must NOT be answered by the
      // stale v1 rollup
      val stale = userQuery(tbl)
      val stalePlan = executedPlan(stale, execute = false)
      assert(scansFact(stalePlan),
        s"stale MV must not answer the new version:\n$stalePlan")

      // brutal delta-only proof: make v1's files unreadable; an
      // incremental refresh (manifest metadata + delta files + stored
      // rollup) still succeeds, a full rebuild cannot
      val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val v1Files = Snapshots.manifest(spark, tbl, 1).map(_.path)
      v1Files.foreach { p =>
        fs.rename(new Path(tbl, p), new Path(tbl, p + ".cold"))
      }
      val v = SnapshotMv.refresh(spark, mvDef(tbl, root))
      assert(v === 2)
      v1Files.foreach { p =>
        fs.rename(new Path(tbl, p + ".cold"), new Path(tbl, p))
      }

      val expect = canon(orders.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(27,4)")).as("rev")))
      val df = userQuery(tbl)
      val plan = executedPlan(df, execute = false)
      assert(!scansFact(plan), s"fact files must be gone:\n$plan")
      assert(canon(df) === expect, "delta fold must equal full recompute")
    } finally MaterializedViews.clear()
  }

  test("time travel to an earlier version is never answered by the MV") {
    val tbl = freshTable("tt")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), tbl)
    Snapshots.commit(orders.filter(col("o_orderkey") > 800), tbl)
    val root = tempDir("ttmv")
    try {
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      val v1 = Snapshots.read(spark, tbl, Some(1))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = executedPlan(v1, execute = false)
      assert(scansFact(plan), s"v1 must scan the fact:\n$plan")
      assert(v1.agg(sum(col("n"))).head().getLong(0) ===
        orders.filter(col("o_orderkey") <= 800).count())
    } finally MaterializedViews.clear()
  }

  test("overwrite commit falls back to a full rebuild, still exact") {
    val tbl = freshTable("ow")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), tbl)
    val root = tempDir("owmv")
    try {
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      Snapshots.commit(orders.filter(col("o_orderkey") > 1200), tbl,
        overwrite = true)
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      val expect = canon(orders.filter(col("o_orderkey") > 1200)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(27,4)")).as("rev")))
      val df = userQuery(tbl)
      assert(!scansFact(executedPlan(df, execute = false)))
      assert(canon(df) === expect)
    } finally MaterializedViews.clear()
  }

  test("MOR delete + upsert fold through the change feed, exact") {
    val tbl = freshTable("mor")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val root = tempDir("mormv")
    try {
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      Snapshots.deleteWhere(spark, tbl,
        orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
        "o_orderkey")
      val up = orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      Snapshots.upsertMor(spark, tbl, up, "o_orderkey")
      val v = SnapshotMv.refresh(spark, mvDef(tbl, root))
      assert(v === 3)
      // stored state ≡ recompute from the MOR view, every group
      val state = spark.read.parquet(s"$root/r$v")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("n").as("n_orders"),
          col("rev").cast("decimal(38,4)").as("rev"))
      val expect = Snapshots.read(spark, tbl)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(27,4)"))
            .cast("decimal(38,4)").as("rev"))
      assert(state.exceptAll(expect).count() === 0)
      assert(expect.exceptAll(state).count() === 0)
    } finally MaterializedViews.clear()
  }

  test("a group whose rows are all deleted vanishes from the rollup") {
    val tbl = freshTable("gone")
    // two groups, disjoint key ranges so the delete empties exactly one
    val lo = orders.filter(col("o_orderkey") < 200)
      .withColumn("o_orderstatus", lit("G1"))
    val hi = orders.filter(col("o_orderkey") >= 200 &&
      col("o_orderkey") < 400).withColumn("o_orderstatus", lit("G2"))
    Snapshots.commit(lo.unionByName(hi), tbl, statsCols = Seq("o_orderkey"))
    val root = tempDir("gonemv")
    try {
      SnapshotMv.refresh(spark, mvDef(tbl, root))
      Snapshots.deleteWhere(spark, tbl,
        lo.select("o_orderkey"), "o_orderkey")
      val v = SnapshotMv.refresh(spark, mvDef(tbl, root))
      val state = spark.read.parquet(s"$root/r$v")
      assert(state.filter(col("o_orderstatus") === "G1").count() === 0,
        "emptied groups must not linger as zero rows")
      assert(state.filter(col("o_orderstatus") === "G2").count() > 0)
      assert(state.agg(sum(col("n"))).collect()(0).getLong(0) === hi.count())
    } finally MaterializedViews.clear()
  }

  test("refresh at an unchanged version is a no-op that re-registers") {
    val tbl = freshTable("noop")
    Snapshots.commit(orders.limit(500), tbl)
    val root = tempDir("noopmv")
    try {
      assert(SnapshotMv.refresh(spark, mvDef(tbl, root)) === 1)
      MaterializedViews.clear()
      assert(SnapshotMv.refresh(spark, mvDef(tbl, root)) === 1)
      val df = userQuery(tbl)
      assert(!scansFact(executedPlan(df, execute = false)))
      assert(df.count() > 0)
    } finally MaterializedViews.clear()
  }
}
