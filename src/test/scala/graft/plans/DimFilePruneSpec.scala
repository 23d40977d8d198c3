package graft.plans

import graft.SparkSpec
import graft.sources.{SnapshotFileIndex, Snapshots}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The AUTOMATIC dim-driven file prune ([[DimFilePruneRule]]): a plain
  * `fact.join(dim)` over an enabled indexed snapshot table must have its
  * fact files cut by the dim's join keys — and must leave every
  * unprovable shape untouched.
  */
class DimFilePruneSpec extends SparkSpec {

  private def freshTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_dfpr_$tag").toString + "/t"

  private def li = spark.read.parquet(s"$sf001/lineitem.parquet")
    .select(col("l_suppkey"), col("l_extendedprice"))

  private def sup = spark.read.parquet(s"$sf001/supplier.parquet")

  /** Range-clustered fact snapshot with envelope + bloom evidence. */
  private def buildFact(tag: String): String = {
    val tbl = freshTable(tag)
    Snapshots.commit(
      li.repartitionByRange(8, col("l_suppkey"))
        .sortWithinPartitions(col("l_suppkey")),
      tbl, statsCols = Seq("l_suppkey"), bloomCols = Seq("l_suppkey"))
    tbl
  }

  private def selectiveDim = {
    val nat = sup.agg(min(col("s_nationkey")).cast("long")).head().getLong(0)
    sup.filter(col("s_nationkey") === lit(nat)).select(col("s_suppkey"))
  }

  /** Entry count of the join's fact-side file index after optimization
    * (the pruned copy when the rule fired, the full manifest when not).
    */
  private def factIndexFiles(df: org.apache.spark.sql.DataFrame,
      table: String): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case fi: SnapshotFileIndex if fi.table == table =>
            Some(fi.entries.size)
          case _ => None
        }
        case _ => None
      }
    }.flatten

  test("EVOLVED tier: a plain join over readIndexedEvolved prunes each " +
      "era branch through its own projection; a default-event key " +
      "leaves its era unpruned but correct") {
    import spark.implicits._
    val tbl = freshTable("evodef")
    // era 1: (k, v) over 4 range-clustered files, k 0..31
    Snapshots.commit(
      (0L until 32L).map(i => (i, i * 10)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    // g added WITH DEFAULT 7: era-1 rows read g = 7 via a coalesce
    Snapshots.addColumn(spark, tbl, "g",
      org.apache.spark.sql.types.LongType, default = Some(7L))
    // era 2: (k, v, g) with g in 0..3, k 32..63
    Snapshots.commit(
      (32L until 64L).map(i => (i, i * 10, i % 4)).toDF("k", "v", "g")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      tbl, statsCols = Seq("k", "g"))
    DimFilePrune.enable(spark, tbl)
    try {
      val (fact, idxs) = Snapshots.readIndexedEvolved(spark, tbl)
      assert(idxs.size === 2)
      // join on k: BOTH eras prune (k is a plain column in each
      // projection) — one file kept per era
      val j1 = fact.join(Seq(1L, 40L).toDF("k"), Seq("k"))
      val rows1 = j1.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
      assert(rows1 === Set((1L, 10L, 7L), (40L, 400L, 0L)), rows1.toString)
      val files1 = factIndexFiles(j1, tbl)
      assert(files1.nonEmpty && files1.sum === 2, files1.toString)
      // join on g = 7: era 1's g hides behind the default coalesce —
      // UNPROVABLE, so that era keeps all 4 files (and must: every
      // era-1 row materializes g = 7); era 2 prunes to zero (g ∈ 0..3)
      val j2 = fact.join(Seq(7L).toDF("g"), Seq("g"))
      assert(j2.count() === 32L)
      val files2 = factIndexFiles(j2, tbl)
      assert(files2.sum === 4, files2.toString)
    } finally DimFilePrune.clear()
  }

  test("a plain inner join over an enabled indexed fact gets the file " +
      "cut automatically, loses no rows, and survives key-width casts") {
    val tbl = buildFact("auto")
    DimFilePrune.enable(spark, tbl)
    try {
      val dim = selectiveDim
      val want = li.join(dim, col("l_suppkey") === col("s_suppkey")).count()
      val total = Snapshots.manifest(spark, tbl,
        Snapshots.latestVersion(spark, tbl)).size

      DimFilePrune.lastCut = None
      val (fact, _) = Snapshots.readIndexed(spark, tbl)
      val joined = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      assert(joined.count() === want, "auto-pruned join lost/gained rows")
      val cut = DimFilePrune.lastCut
      assert(cut.exists(_._1 == tbl) && cut.exists(_._3 > 0),
        s"rule fired no cut: $cut")
      val sizes = factIndexFiles(joined, tbl)
      assert(sizes.nonEmpty && sizes.min < total,
        s"fact index not swapped: $sizes vs $total files")

      // key-width reconciliation: an INT dim key against the LONG fact
      // column goes through Catalyst's widening cast — the rule must
      // narrow driver-side (bloom hashes are width-sensitive)
      DimFilePrune.lastCut = None
      val dimInt = dim.select(col("s_suppkey").cast("int").as("s_suppkey"))
      val (fact2, _) = Snapshots.readIndexed(spark, tbl)
      val j2 = fact2.join(dimInt,
        col("l_suppkey") === col("s_suppkey"))
      assert(j2.count() === want, "int-keyed dim lost rows")
      assert(DimFilePrune.lastCut.exists(_._3 > 0))

      // left-semi prunes too
      DimFilePrune.lastCut = None
      val (fact3, _) = Snapshots.readIndexed(spark, tbl)
      val semi = fact3.join(dim,
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      val wantSemi = li.join(dim,
        col("l_suppkey") === col("s_suppkey"), "left_semi").count()
      assert(semi.count() === wantSemi)
      assert(DimFilePrune.lastCut.exists(_._3 > 0))
    } finally DimFilePrune.clear()
  }

  test("outer joins prune the NON-preserved fact side by the preserved " +
      "dim's keys; the dim side is substituted with its plan-time " +
      "snapshot (LocalRelation — one execution, no mutation window)") {
    val tbl = buildFact("outer")
    DimFilePrune.enable(spark, tbl)
    try {
      val dim = selectiveDim
      // dim LEFT OUTER fact: the fact (right) is non-preserved → cut
      DimFilePrune.lastCut = None
      val (fact, _) = Snapshots.readIndexed(spark, tbl)
      val j = dim.join(fact,
        col("s_suppkey") === col("l_suppkey"), "left_outer")
      val want = selectiveDim.join(li,
        col("s_suppkey") === col("l_suppkey"), "left_outer").count()
      assert(j.count() === want, "left-outer pruned join lost/gained rows")
      assert(DimFilePrune.lastCut.exists(_._3 > 0),
        s"no cut on the non-preserved side: ${DimFilePrune.lastCut}")
      // the bounded dim was materialized once and substituted back
      val locals = j.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l
      }
      assert(locals.nonEmpty, "dim side not substituted (LocalRelation)")

      // fact RIGHT OUTER dim: the fact (left) is non-preserved → cut
      DimFilePrune.lastCut = None
      val (fact2, _) = Snapshots.readIndexed(spark, tbl)
      val j2 = fact2.join(dim,
        col("l_suppkey") === col("s_suppkey"), "right_outer")
      val want2 = li.join(selectiveDim,
        col("l_suppkey") === col("s_suppkey"), "right_outer").count()
      assert(j2.count() === want2)
      assert(DimFilePrune.lastCut.exists(_._3 > 0))

      // inner joins get the substitution too: plan-time keys and
      // run-time dim rows are the same snapshot by construction
      DimFilePrune.lastCut = None
      val (fact3, _) = Snapshots.readIndexed(spark, tbl)
      val j3 = fact3.join(dim, col("l_suppkey") === col("s_suppkey"))
      val want3 = li.join(selectiveDim,
        col("l_suppkey") === col("s_suppkey")).count()
      assert(j3.count() === want3)
      assert(DimFilePrune.lastCut.exists(_._3 > 0))
      assert(j3.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l
      }.nonEmpty, "inner join dim not substituted")
    } finally DimFilePrune.clear()
  }

  test("enable() with a relative path still fires: the registry key is " +
      "FileSystem-qualified, matching the index's rootPath form") {
    val rel = s"target/graft_dfpr_rel_${System.nanoTime()}/t"
    val abs = new java.io.File(rel).getAbsolutePath
    try {
      Snapshots.commit(
        li.repartitionByRange(4, col("l_suppkey"))
          .sortWithinPartitions(col("l_suppkey")),
        abs, statsCols = Seq("l_suppkey"))
      DimFilePrune.enable(spark, rel) // RELATIVE form
      DimFilePrune.lastCut = None
      val (fact, _) = Snapshots.readIndexed(spark, abs)
      val j = fact.join(selectiveDim,
        col("l_suppkey") === col("s_suppkey"))
      assert(j.count() ===
        li.join(selectiveDim, col("l_suppkey") === col("s_suppkey")).count())
      assert(DimFilePrune.lastCut.exists(_._3 > 0),
        s"relative enable never matched: ${DimFilePrune.lastCut}")
    } finally {
      DimFilePrune.clear()
      val p = new org.apache.hadoop.fs.Path(abs).getParent
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("an empty dim key set cuts every fact file and returns no rows") {
    val tbl = buildFact("empty")
    DimFilePrune.enable(spark, tbl)
    try {
      DimFilePrune.lastCut = None
      val dim = sup.filter(col("s_nationkey") === lit(-1L))
        .select(col("s_suppkey"))
      val (fact, _) = Snapshots.readIndexed(spark, tbl)
      val j = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      assert(j.count() === 0L)
      assert(DimFilePrune.lastCut.exists(c => c._2 == 0 && c._3 == 8),
        s"expected all 8 files cut: ${DimFilePrune.lastCut}")
    } finally DimFilePrune.clear()
  }

  test("unprovable shapes plan untouched: outer joins, unbounded dims, " +
      "over-limit key sets, null-safe equality, non-enabled tables") {
    val tbl = buildFact("skip")
    val dim = selectiveDim
    def factDf = Snapshots.readIndexed(spark, tbl)._1

    // not enabled: no rewrite even for the perfect shape
    DimFilePrune.lastCut = None
    factDf.join(dim, col("l_suppkey") === col("s_suppkey")).count()
    assert(DimFilePrune.lastCut.isEmpty, "rule fired without enablement")

    DimFilePrune.enable(spark, tbl, maxKeys = 1)
    try {
      // dim collects ABOVE maxKeys: plain join, same rows, no cut
      DimFilePrune.lastCut = None
      val wide = sup.select(col("s_suppkey"))
      val want = li.join(wide, col("l_suppkey") === col("s_suppkey")).count()
      assert(factDf.join(wide,
        col("l_suppkey") === col("s_suppkey")).count() === want)
      assert(DimFilePrune.lastCut.isEmpty, "over-limit key set still cut")
    } finally DimFilePrune.clear()

    DimFilePrune.enable(spark, tbl)
    try {
      // LEFT OUTER with the enabled fact as the PRESERVED side: its
      // unmatched rows still emit, so the fact must never be cut (the
      // non-preserved dim here is not an enabled table, so no rewrite
      // at all)
      DimFilePrune.lastCut = None
      val outer = factDf.join(dim,
        col("l_suppkey") === col("s_suppkey"), "left_outer")
      assert(outer.count() ===
        li.join(dim, col("l_suppkey") === col("s_suppkey"), "left_outer")
          .count())
      assert(DimFilePrune.lastCut.isEmpty,
        "outer join's preserved side was rewritten")

      // unbounded dim: a plain parquet relation has no structural bound,
      // and with broadcasting disabled the size-estimate tier is off too
      DimFilePrune.lastCut = None
      val bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val unbounded = sup.select(col("s_suppkey"))
        factDf.join(unbounded, col("l_suppkey") === col("s_suppkey")).count()
        assert(DimFilePrune.lastCut.isEmpty, "unbounded dim was collected")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bt)

      // null-safe equality matches null <=> null — never rewritten
      DimFilePrune.lastCut = None
      val dimL = dim.limit(5)
      factDf.join(dimL, col("l_suppkey") <=> col("s_suppkey")).count()
      assert(DimFilePrune.lastCut.isEmpty, "<=> join was rewritten")

      // NON-DETERMINISTIC dim: pinning one plan-time sample as the
      // join's semantics is not the rule's call to make, so it must not
      // touch the join. The predicate keeps every row (rand()+1 > 0.5
      // always holds, so the row count pins the join ran complete) but
      // is NOT foldable — Spark 4's rand-range simplification rewrites
      // a bare `rand() < 2.0` to true and deletes the filter, which
      // would make the dim genuinely deterministic and defeat the test
      DimFilePrune.lastCut = None
      val dimNd = sup.select(col("s_suppkey"))
        .filter(rand() + lit(1.0) > 0.5)
      val wantAll = li.join(sup.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey")).count()
      assert(factDf.join(dimNd,
        col("l_suppkey") === col("s_suppkey")).count() === wantAll)
      assert(DimFilePrune.lastCut.isEmpty,
        "non-deterministic dim was collected at plan time")
    } finally DimFilePrune.clear()
  }

  test("a PLAIN SQL star join over format(\"graft\") views gets the cut " +
      "— the BI-generated-SQL path, zero graft API calls") {
    val tbl = buildFact("sql")
    DimFilePrune.enable(spark, tbl)
    try {
      val dim = selectiveDim
      spark.read.format("graft").load(tbl).createOrReplaceTempView("dfpr_fact")
      dim.createOrReplaceTempView("dfpr_dim")
      DimFilePrune.lastCut = None
      val got = spark.sql(
        """SELECT count(*) AS n, sum(l_extendedprice) AS total
          FROM dfpr_fact JOIN dfpr_dim ON l_suppkey = s_suppkey""")
        .head()
      val want = li.join(dim, col("l_suppkey") === col("s_suppkey"))
        .agg(count(lit(1)), sum(col("l_extendedprice"))).head()
      assert(got.getLong(0) === want.getLong(0))
      assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)
      assert(DimFilePrune.lastCut.exists(c => c._1 == tbl && c._3 > 0),
        s"SQL star join got no cut: ${DimFilePrune.lastCut}")
    } finally {
      DimFilePrune.clear()
      spark.catalog.dropTempView("dfpr_fact")
      spark.catalog.dropTempView("dfpr_dim")
    }
  }

  test("COMPOSITE-key join: per-conjunct cuts intersect — strictly finer " +
      "than either axis alone") {
    import spark.implicits._
    val tbl = freshTable("multi")
    // 16 one-k1 files; k2 spans a 4-value band per k1 (bloomed), so the
    // two columns cut along DIFFERENT axes
    val df = (0L until 256L).map { i =>
      val k1 = i / 16
      (k1, (i % 4) + (k1 % 4) * 4, i)
    }.toDF("k1", "k2", "v")
      .repartitionByRange(16, col("k1")).sortWithinPartitions(col("k1"))
    Snapshots.commit(df, tbl, statsCols = Seq("k1"), bloomCols = Seq("k2"))
    DimFilePrune.enable(spark, tbl)
    try {
      DimFilePrune.lastCut = None
      val dim = Seq((5L, 5L), (6L, 5L)).toDF("a", "b")
      val (fact, _) = Snapshots.readIndexed(spark, tbl)
      val j = fact.join(dim, col("k1") === col("a") && col("k2") === col("b"))
      // only (5,5) exists: file 5 holds k2 in {4..7}, 4 rows of k2=5;
      // file 6 holds k2 in {8..11}, so (6,5) matches nothing
      assert(j.count() === 4L)
      // k1-cut alone keeps {5,6}; k2=5's bloom cut keeps {1,5,9,13};
      // the intersection keeps exactly file 5
      assert(DimFilePrune.lastCut.exists(c => c._2 == 1 && c._3 == 15),
        s"composite cut not 1/15: ${DimFilePrune.lastCut}")
    } finally DimFilePrune.clear()
  }

  test("SEGMENT-planning mode: the key probe prunes whole segments from " +
      "rollups and parses only survivors — O(segments + kept), and an " +
      "empty dim parses none at all") {
    import spark.implicits._
    val tbl = freshTable("seg")
    // 32 one-key files, range-clustered: 8 segments of 4, exact rollups
    val df = (0L until 32L).map(i => (i, i * 100)).toDF("k", "v")
      .repartitionByRange(32, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"))
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 4) === 8)
    DimFilePrune.enable(spark, tbl)
    try {
      DimFilePrune.lastCut = None
      val dim = Seq(9L, 10L).toDF("dk") // both keys live in segment 2
      val (fact, idx) = Snapshots.readIndexed(spark, tbl)
      val j = fact.join(dim, col("k") === col("dk"))
      assert(j.count() === 2L)
      assert(DimFilePrune.lastCut.exists(c => c._2 == 2 && c._3 == 30),
        s"expected 2 kept / 30 skipped: ${DimFilePrune.lastCut}")
      assert(idx.segmentParses.get() <= 1,
        s"probe parsed ${idx.segmentParses.get()} segments; rollups " +
          "should have pruned all but one")

      // all-miss dim (a statically-EMPTY dim never reaches the rule —
      // PropagateEmptyRelation folds the join away first, which is also
      // correct): key 999 misses every rollup envelope, so everything
      // skips without parsing a single segment
      DimFilePrune.lastCut = None
      val (fact2, idx2) = Snapshots.readIndexed(spark, tbl)
      val none = fact2.join(Seq(999L).toDF("dk"), col("k") === col("dk"))
      assert(none.count() === 0L)
      assert(DimFilePrune.lastCut.exists(c => c._2 == 0 && c._3 == 32),
        s"all-miss cut: ${DimFilePrune.lastCut}")
      assert(idx2.segmentParses.get() === 0,
        s"all-miss probe parsed ${idx2.segmentParses.get()} segments")
    } finally DimFilePrune.clear()
  }

  test("a bounded GRAFT dim (manifest row total) proves the bound and a " +
      "filter on the fact side composes with the cut") {
    val tbl = buildFact("graftdim")
    val dimTbl = freshTable("dim")
    Snapshots.commit(selectiveDim, dimTbl)
    DimFilePrune.enable(spark, tbl)
    try {
      DimFilePrune.lastCut = None
      val (dimG, _) = Snapshots.readIndexed(spark, dimTbl)
      val (fact, _) = Snapshots.readIndexed(spark, tbl)
      val j = fact.filter(col("l_extendedprice") > 0)
        .join(dimG, col("l_suppkey") === col("s_suppkey"))
      val want = li.filter(col("l_extendedprice") > 0)
        .join(selectiveDim, col("l_suppkey") === col("s_suppkey")).count()
      assert(j.count() === want)
      assert(DimFilePrune.lastCut.exists(c => c._1 == tbl && c._3 > 0),
        s"graft-dim bound did not prove: ${DimFilePrune.lastCut}")
    } finally DimFilePrune.clear()
  }
}
