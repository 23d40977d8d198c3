package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Catalyst-native data skipping: filters pushed by FileSourceStrategy
  * into SnapshotFileIndex.listFiles prune files from manifest evidence,
  * results stay exactly the unpruned read's, and unprovable predicates
  * never drop a file.
  */
class SnapshotFileIndexSpec extends SparkSpec {

  /** 16 single-key files: k 0..15, v = 100k..100k+1, s = "s%02d". */
  private def buildKeyed(tbl: String): Unit = {
    import spark.implicits._
    val df = (0L until 16L).flatMap(k =>
        Seq((k, k * 100, f"s$k%02d"), (k, k * 100 + 1, f"s$k%02d")))
      .toDF("k", "v", "s")
      .repartitionByRange(16, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k", "v"),
      bloomCols = Seq("v"), strStatsCols = Seq("s"))
  }

  private def prunes(tbl: String, cond: org.apache.spark.sql.Column,
      expectKept: Int): Unit = {
    val (df, ix) = Snapshots.readIndexed(spark, tbl)
    val got = df.filter(cond).orderBy("k", "v").collect().toSeq
    assert(ix.lastPrune === ((expectKept, 16)),
      s"cond $cond kept ${ix.lastPrune}")
    val want = IndexedCount.listed(spark, tbl).filter(cond)
      .orderBy("k", "v").collect().toSeq
    assert(got === want, s"cond $cond pruned rows away")
  }

  test("pushed filters prune from envelopes: eq, range, OR, IN, " +
      "string eq, prefix — results equal the unpruned read") {
    val tbl = freshTable("push")
    buildKeyed(tbl)
    prunes(tbl, col("k") === 5L, 1)
    prunes(tbl, col("k") > 11L, 4)
    prunes(tbl, col("k").between(3L, 6L), 4)
    prunes(tbl, col("k") === 1L || col("k") === 14L, 2)
    prunes(tbl, col("k").isin(2L, 9L), 2)
    prunes(tbl, col("s") === "s07", 1)
    prunes(tbl, col("s").startsWith("s1"), 6) // s10..s15
    prunes(tbl, col("k") === 3L && col("v") === 999L, 0) // envelope clash
  }

  test("unprovable predicates keep every file; bloom equality prunes " +
      "a scattered column ranges cannot") {
    val tbl = freshTable("cons")
    buildKeyed(tbl)
    // arithmetic over two columns: no evidence shape — full keep
    prunes(tbl, col("k") + col("v") > lit(0L), 16)
    // v is per-file dense here, so envelopes already prune; probe a
    // value INSIDE a file's [min,max] but absent — bloom must not
    // false-drop (sound) and the row count must still be exact
    prunes(tbl, col("v") === 100L, 1) // k=1 file holds 100,101
    val (df, _) = Snapshots.readIndexed(spark, tbl)
    assert(df.filter(col("v") === 100L).count() === 1L)
  }

  test("the scan itself reports the file cut (numFiles metric)") {
    val tbl = freshTable("metric")
    buildKeyed(tbl)
    val (df, _) = Snapshots.readIndexed(spark, tbl)
    val q = df.filter(col("k") === 5L)
    q.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val ns = scans(q.queryExecution.executedPlan).map(_.metrics("numFiles").value)
    assert(ns === Seq(1L))
  }

  test("indexed reads refuse tombstoned versions and schema-evolved " +
      "tables; time travel serves each version's own files") {
    import spark.implicits._
    val tbl = freshTable("guard")
    buildKeyed(tbl)
    Snapshots.commit((16L until 20L).map(k => (k, k * 100, f"s$k%02d"))
      .toDF("k", "v", "s").coalesce(1), tbl, statsCols = Seq("k"))
    val (v1, ix1) = Snapshots.readIndexed(spark, tbl, Some(1))
    assert(v1.count() === 32L && ix1.lastPrune._2 === 16)
    val (v2, ix2) = Snapshots.readIndexed(spark, tbl)
    assert(v2.count() === 36L && ix2.lastPrune._2 === 17)
    Snapshots.deleteWhere(spark, tbl, Seq(3L).toDF("k"), "k")
    val e = intercept[IllegalArgumentException](
      Snapshots.readIndexed(spark, tbl))
    assert(e.getMessage.contains("merge-on-read deletes"))
    val tbl2 = freshTable("ren")
    buildKeyed(tbl2)
    Snapshots.renameColumn(spark, tbl2, "v", "val")
    val e2 = intercept[IllegalArgumentException](
      Snapshots.readIndexed(spark, tbl2))
    assert(e2.getMessage.contains("rename/drop"))
    // ...but only while pre-event files exist: compaction rewrites them
    // under the current names and the flat fast path is exact again
    Snapshots.compactVersion(spark, tbl2)
    assert(Snapshots.readIndexed(spark, tbl2)._1.count() ===
      Snapshots.read(spark, tbl2).count())
  }

  /** Era-evolved build shared by the evolved-read tests: era 1 = the
    * 16 keyed files, then RENAME v→val, WIDEN k's sibling... (k stays),
    * actually: rename v→val, widen val is long already — so a dedicated
    * int column rides era 1 for the widen.
    */
  private def buildEvolved(tbl: String): Unit = {
    import spark.implicits._
    // era 1: k 0..15 (one file per key), q int, s string
    val df = (0L until 16L).map(k => (k, (k * 10).toInt, f"s$k%02d"))
      .toDF("k", "q", "s")
      .repartitionByRange(16, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k", "q"),
      strStatsCols = Seq("s"))
    Snapshots.renameColumn(spark, tbl, "k", "key")
    Snapshots.widenColumn(spark, tbl, "q",
      org.apache.spark.sql.types.LongType)
    Snapshots.addColumn(spark, tbl, "tag",
      org.apache.spark.sql.types.StringType, default = Some("legacy"))
    // era 2: key 16..31, evolved shape, real tags
    val df2 = (16L until 32L).map(k => (k, k * 10, f"s$k%02d", "fresh"))
      .toDF("key", "q", "s", "tag")
      .repartitionByRange(16, col("key")).sortWithinPartitions(col("key"))
    Snapshots.commit(df2, tbl, statsCols = Seq("key", "q"),
      strStatsCols = Seq("s", "tag"))
  }

  test("readIndexedEvolved: rename + widen + default eras keep Catalyst " +
      "data skipping — pushed filters prune BOTH eras' files through " +
      "the era projection, results equal Snapshots.read") {
    val tbl = freshTable("evolved")
    buildEvolved(tbl)
    val df = Snapshots.read(spark, tbl)
    val ixs = SnapshotFileIndex.indexesOf(df.queryExecution.analyzed)
    assert(ixs.size === 2)
    // full read equals the era-mapped content: era-1 rows under the
    // current names, q widened, tag read as the default
    val want = (0L until 32L).map(k => Row(k, k * 10, f"s$k%02d",
      if (k < 16) "legacy" else "fresh"))
    assert(df.orderBy("key").collect().toSeq === want)
    // a filter on the RENAMED column prunes era-1 files (stats live
    // under the old name 'k') AND era-2 files
    val q1 = df.filter(col("key") < 4L || col("key") >= 28L)
    assert(q1.count() === 8L)
    val cuts = ixs.map(_.lastPrune)
    assert(cuts.forall { case (kept, total) => total === 16 && kept === 4 },
      s"expected 4/16 kept per era, got $cuts")
    // a range on the WIDENED column arrives as cast(q as bigint) > lit —
    // mayMatch unwraps the widening cast and prunes from the int-era
    // envelope
    val q2 = df.filter(col("q") > 250L)
    assert(q2.count() === 6L) // era1 none (max 150); era2 keys 26..31
    val cut2 = ixs.map(_.lastPrune)
    assert(cut2.head._1 === 0 && cut2(1)._1 === 6, s"got $cut2")
    // equality on the DEFAULTED column: era-1 files must be KEPT for
    // tag='legacy' (their null-fill reads as the default) and era-2
    // prunes from its recorded string envelope
    val q3 = df.filter(col("tag") === "legacy")
    assert(q3.count() === 16L)
    val cut3 = ixs.map(_.lastPrune)
    assert(cut3.head._1 === 16 && cut3(1)._1 === 0, s"got $cut3")
    // ...and a tag that matches neither the default nor era-2 values
    // cuts era 2 while conservatively keeping era 1 (a stat-less column
    // cannot prove absence)
    val q4 = df.filter(col("tag") === "zzz")
    assert(q4.count() === 0L)
    assert(ixs(1).lastPrune._1 === 0)
  }

  test("widen + BLOOM: equality on a widened column probes the bloom at " +
      "the file's narrow physical type — era-1 files are not false-dropped") {
    import spark.implicits._
    val tbl = freshTable("widenbloom")
    // era 1: q is INT and carries a bloom (hashed at int width)
    val df = (0L until 16L).map(k => (k, (k * 10).toInt))
      .toDF("k", "q")
      .repartitionByRange(16, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k", "q"),
      bloomCols = Seq("q"))
    Snapshots.widenColumn(spark, tbl, "q",
      org.apache.spark.sql.types.LongType)
    // era 2: q is LONG, bloom hashed at long width
    val df2 = (16L until 32L).map(k => (k, k * 10))
      .toDF("k", "q")
      .repartitionByRange(16, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df2, tbl, statsCols = Seq("k", "q"),
      bloomCols = Seq("q"))
    val evolved = Snapshots.read(spark, tbl)
    val ixs = SnapshotFileIndex.indexesOf(evolved.queryExecution.analyzed)
    // equality arrives as cast(q as bigint) = 50L; the era-1 file k=5
    // holds int 50, whose bloom bits come from XxHash64.hashInt — a
    // hashLong probe of the same value misses them and (pre-fix)
    // silently dropped the row
    assert(evolved.filter(col("q") === 50L).count() === 1L,
      "widened equality lost the era-1 row to a type-mismatched bloom probe")
    assert(ixs.head.lastPrune._1 === 1, s"era-1 cut ${ixs.head.lastPrune}")
    // IN-list across both eras: one era-1 value, one era-2 value
    assert(evolved.filter(col("q").isin(90L, 200L)).count() === 2L)
    // era-2 equality still prunes exactly (long-built bloom, long probe)
    assert(evolved.filter(col("q") === 310L).count() === 1L)
    assert(ixs(1).lastPrune._1 === 1, s"era-2 cut ${ixs(1).lastPrune}")
    // absent values still prune to zero files in both eras (the extra
    // narrow-width probe must not blanket-keep)
    assert(evolved.filter(col("q") === 55L).count() === 0L)
    assert(ixs.map(_.lastPrune._1) === Seq(0, 0),
      s"absent value kept files: ${ixs.map(_.lastPrune)}")
  }

  test("format(\"graft\") routes era-evolved versions onto the evolved " +
      "relation (not the MOR fallback) and reads exactly") {
    val tbl = freshTable("evrel")
    buildEvolved(tbl)
    val df = spark.read.format("graft").load(tbl)
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val rels = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }
    assert(rels.size === 1 && rels.head.isInstanceOf[GraftReadRelation])
    assert(df.filter(col("key") < 4L).count() === 4L)
    assert(df.filter(col("tag") === "legacy").count() === 16L)
    assert(df.count() === 32L)
    // the evolved table is still SQL-visible content-identically
    val want = Snapshots.read(spark, tbl)
      .orderBy("key").collect().toSeq
    assert(df.orderBy("key").collect().toSeq === want)
  }

  test("DATE and TIMESTAMP columns earn long envelopes (epoch-day / " +
      "epoch-micros) and a plain range filter on an UNPARTITIONED " +
      "table file-skips; envelopes survive compaction") {
    import spark.implicits._
    val tbl = freshTable("ts")
    // 16 days, one file per day: ts rides as TIMESTAMP (written INT64
    // micros via withMicrosTs — Spark's default INT96 has no usable
    // stats), dt as DATE, tsn as TIMESTAMP_NTZ
    val df = (0 until 16).map { i =>
        (i.toLong, f"2024-03-${i + 1}%02d 12:00:00", f"2024-03-${i + 1}%02d")
      }.toDF("k", "tss", "dts")
      .select(col("k"), col("tss").cast("timestamp").as("ts"),
        col("dts").cast("date").as("dt"),
        col("tss").cast("timestamp_ntz").as("tsn"))
      .repartitionByRange(16, col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("ts", "dt", "tsn"))
    // every file recorded envelopes for all three datetime columns
    val entries = Snapshots.manifest(spark, tbl, 1)
    assert(entries.size === 16)
    assert(entries.forall(e => Seq("ts", "dt", "tsn")
      .forall(e.stats.contains)), "missing datetime envelope")
    def kept(cond: org.apache.spark.sql.Column): (Long, Int) = {
      val (d, ix) = Snapshots.readIndexed(spark, tbl)
      val got = d.filter(cond).count()
      val want = IndexedCount.listed(spark, tbl).filter(cond).count()
      assert(got === want, s"cond $cond pruned rows away")
      (got, ix.lastPrune._1)
    }
    // the single most common real prune: a timestamp BETWEEN
    assert(kept(col("ts").between(lit("2024-03-05 00:00:00").cast("timestamp"),
      lit("2024-03-08 23:59:59").cast("timestamp"))) === ((4L, 4)))
    // date range and equality
    assert(kept(col("dt") >= lit("2024-03-14").cast("date")) === ((3L, 3)))
    assert(kept(col("dt") === lit("2024-03-03").cast("date")) === ((1L, 1)))
    // NTZ prunes through the same long envelope
    assert(kept(col("tsn") < lit("2024-03-02 00:00:00")
      .cast("timestamp_ntz")) === ((1L, 1)))
    // out-of-range proves zero files
    assert(kept(col("ts") > lit("2025-01-01 00:00:00").cast("timestamp"))
      === ((0L, 0)))
    // compaction recomputes the same envelopes from the rewritten
    // footers (statsCols inherited from the entries' stats keys)
    Snapshots.compactVersion(spark, tbl, targetBytes = 1L << 14)
    val compacted = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl))
    assert(compacted.size < 16, "compaction did not fold files")
    assert(compacted.forall(e => Seq("ts", "dt", "tsn")
      .forall(e.stats.contains)), "datetime envelope lost in compaction")
    val (afterKept, afterTotal) = {
      val (d, ix) = Snapshots.readIndexed(spark, tbl)
      val n = d.filter(col("ts") > lit("2025-01-01 00:00:00")
        .cast("timestamp")).count()
      assert(n === 0L)
      ix.lastPrune
    }
    assert(afterKept === 0, s"post-compaction skip kept $afterKept")
    assert(afterTotal === compacted.size)
  }

  test("DECIMAL(<=18) columns earn unscaled-long envelopes and range " +
      "filters file-skip; finer-scale literals keep conservatively; " +
      "DECIMAL(38) reads/filters exactly with no envelope") {
    import spark.implicits._
    val tbl = freshTable("dec")
    // 8 files, one per price band: d18 = k.25 at scale 4, d38 = the
    // same value at precision 38 (FIXED_LEN_BYTE_ARRAY — no envelope)
    val df = (0 until 16).map(k => (k.toLong, s"$k.25"))
      .toDF("k", "p")
      .select(col("k"),
        col("p").cast("decimal(18,4)").as("d18"),
        col("p").cast("decimal(38,6)").as("d38"))
      .repartitionByRange(8, col("d18"))
    Snapshots.commit(df, tbl, statsCols = Seq("d18", "d38"))
    val entries = Snapshots.manifest(spark, tbl, 1)
    assert(entries.size === 8)
    assert(entries.forall(_.stats.contains("d18")),
      "missing DECIMAL(18) envelope")
    assert(entries.forall(e => !e.stats.contains("d38")),
      "DECIMAL(38) (FLBA) must not record a long envelope")
    // unscaled-long check: k=0 file holds 0.25 → 2500 at scale 4
    assert(entries.map(_.stats("d18")._1).min === 2500L)
    def kept(cond: org.apache.spark.sql.Column): (Long, Int) = {
      val (d, ix) = Snapshots.readIndexed(spark, tbl)
      val got = d.filter(cond).count()
      val want = IndexedCount.listed(spark, tbl).filter(cond).count()
      assert(got === want, s"cond $cond pruned rows away")
      (got, ix.lastPrune._1)
    }
    // range and equality prune on the decimal envelope (same-scale
    // literals; the comparison's precision-widening cast is traversed)
    assert(kept(col("d18") >= lit("12.25").cast("decimal(18,4)"))
      === ((4L, 2)))
    assert(kept(col("d18") === lit("5.25").cast("decimal(18,4)"))
      === ((1L, 1)))
    assert(kept(col("d18") < lit("2").cast("decimal(18,4)")) === ((2L, 1)))
    // a FINER-scale literal (needs rounding to reach the column's
    // scale) keeps every file — conservative, results still exact
    assert(kept(col("d18") === lit("5.25001").cast("decimal(18,5)"))._1
      === 0L)
    // DECIMAL(38): no evidence → full keep, but filters stay exact
    assert(kept(col("d38") > lit("13").cast("decimal(38,6)"))
      === ((3L, 8)))
    // out-of-range proves zero files on the 18-precision tier
    assert(kept(col("d18") > lit("100").cast("decimal(18,4)"))
      === ((0L, 0)))
  }

  test("read of a plain, an era-evolved, a masked and a cloned table " +
      "scans data files only through SnapshotFileIndex") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plain = freshTable("one_plain")
    buildKeyed(plain)
    val evolved = freshTable("one_evolved")
    buildEvolved(evolved)
    val masked = freshTable("one_masked")
    buildKeyed(masked)
    Snapshots.deleteVector(spark, masked, col("v") === 301L)
    Snapshots.deleteWhere(spark, masked, Seq(7L).toDF("k"), "k")
    val cloned = freshTable("one_cloned")
    Snapshots.cloneTable(spark, plain, cloned)
    assert(Snapshots.manifest(spark, cloned, 1)
      .forall(e => new org.apache.hadoop.fs.Path(e.path).isAbsolute))
    for (t <- Seq(plain, evolved, masked, cloned)) {
      val df = Snapshots.read(spark, t)
      val locations = df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation => h.location
          case other => fail(s"$t: non-file relation $other")
        }
      }
      val (indexed, other) = locations.partition(_.isInstanceOf[SnapshotFileIndex])
      // every data file of the version is scanned through an index;
      // the only other scans read the mask files themselves
      val data = Snapshots.manifest(spark, t, Snapshots.latestVersion(spark, t))
        .filterNot(e => Snapshots.isMask(e.path))
      assert(indexed.map(_.asInstanceOf[SnapshotFileIndex].entries.size).sum
        === data.size, t)
      assert(other.flatMap(_.inputFiles).forall(Snapshots.isMask), t)
      assert(other.isEmpty === (t != masked), t)
    }
    assert(Snapshots.read(spark, cloned).count() === 32L)
    assert(Snapshots.read(spark, masked).count() === 29L) // v=301, k=7 x2
  }
}
