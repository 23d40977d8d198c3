package graft.streaming

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Lookup(key: Long, tag: String)

/** [[SnapshotStream.lookupJoin]]: per-micro-batch dim-pruned enrichment
  * against a static graft table — stream ≡ batch, the file cut fires per
  * batch, unselective batches fall back, and upserts into the static
  * table surface at the next batch boundary.
  */
class LookupStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Static side: k 0..63 range-clustered over 8 files, stats + bloom. */
  private def buildStatic(tag: String): String = {
    val tbl = freshTable(tag)
    val df = (0L until 64L).map(i => (i, s"name$i")).toDF("k", "name")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    tbl
  }

  test("stream ≡ batch: each micro-batch left-joins the pruned static " +
      "slice; misses null-extend; the cut fires per batch") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = buildStatic("seq")
    val stream = MemoryStream[Lookup]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]
    val q = SnapshotStream.lookupJoin(stream.toDF(), tbl, "k", "key") {
      (enriched, _) => enriched.collect().foreach(got.add)
    }
    try {
      // batch 1: clustered hits (one file's range) + one miss
      SnapshotStream.lastLookupPrune = None
      stream.addData(Lookup(1, "a"), Lookup(2, "b"), Lookup(999, "miss"))
      q.processAllAvailable()
      val cut1 = SnapshotStream.lastLookupPrune
      assert(cut1.exists(_._2 > 0), s"batch 1 cut no files: $cut1")
      // batch 2: a different slice
      stream.addData(Lookup(40, "c"), Lookup(41, "d"))
      q.processAllAvailable()
      val rows = got.toArray(Array.empty[Row])
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getString(3))).toSet
      // batch twin: the same union left-joined in one shot
      val twin = Seq(Lookup(1, "a"), Lookup(2, "b"), Lookup(999, "miss"),
          Lookup(40, "c"), Lookup(41, "d")).toDF()
        .join(Snapshots.read(spark, tbl), col("key") === col("k"), "left")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getString(3))).toSet
      assert(rows === twin, s"stream != batch: $rows vs $twin")
      assert(rows.contains((999L, "miss", null)), "miss row not null-extended")
    } finally q.stop()
  }

  test("an over-maxKeys batch falls back to the plain read and still " +
      "enriches correctly") {
    val tbl = buildStatic("fallback")
    val batch = (0L until 10L).map(i => Lookup(i, s"t$i")).toDF()
    SnapshotStream.lastLookupPrune = Some((0, 0))
    val out = SnapshotStream.lookupBatch(batch, tbl, "k", "key", maxKeys = 3)
    assert(SnapshotStream.lastLookupPrune.isEmpty,
      "fallback did not clear the prune counter")
    assert(out.count() === 10L)
    assert(out.filter(col("name").isNull).count() === 0L)
  }

  test("a user's own DimFilePrune registration on the static table " +
      "survives a lookup (if-absent) and keeps governing the cut") {
    val tbl = buildStatic("useren")
    graft.plans.DimFilePrune.enable(spark, tbl, maxKeys = 1)
    try {
      // 3 distinct batch keys > the USER's maxKeys=1 → the rule aborts
      // (plain join, still correct); a clobbering registration with the
      // lookup's own maxKeys=100000 would have pruned
      val batch = Seq(Lookup(1, "a"), Lookup(2, "b"), Lookup(40, "c"))
        .toDF()
      SnapshotStream.lastLookupPrune = Some((0, 0))
      val out = SnapshotStream.lookupBatch(batch, tbl, "k", "key",
        maxKeys = 100000)
      assert(out.count() === 3L)
      assert(out.filter(col("name").isNull).count() === 0L)
      assert(SnapshotStream.lastLookupPrune.isEmpty,
        "lookup clobbered the user's maxKeys=1 registration")
    } finally graft.plans.DimFilePrune.clear()
  }

  test("an era-evolved static table (rename with surviving old files) " +
      "routes through the automatic rule: each era branch prunes " +
      "independently through its own projection") {
    val tbl = freshTable("evolved")
    // era 1: k 0..31 over 4 range-clustered files, pre-rename names
    Snapshots.commit(
      (0L until 32L).map(i => (i, s"name$i")).toDF("k", "name")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.renameColumn(spark, tbl, "name", "label")
    // era 2: k 32..63 committed post-rename under the new name
    Snapshots.commit(
      (32L until 64L).map(i => (i, s"label$i")).toDF("k", "label")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    val batch = Seq(Lookup(1, "a"), Lookup(40, "b"), Lookup(999, "miss"))
      .toDF()
    SnapshotStream.lastLookupPrune = None
    val out = SnapshotStream.lookupBatch(batch, tbl, "k", "key",
      maxKeys = 100000)
    val rows = out.collect().map(r => (r.getLong(0),
      if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(rows === Set((1L, "name1"), (40L, "label40"), (999L, null)),
      rows.toString)
    // the rule's evolved tier fired: both eras pruned (1 file kept per
    // era out of 4), totals accounted across branches
    val cut = SnapshotStream.lastLookupPrune
    assert(cut.exists(p => p._1 + p._2 == 8 && p._2 >= 6),
      s"no evolved-tier cut: $cut")
    graft.plans.DimFilePrune.clear()
  }

  test("a WIDENED key column (int era under a bigint head) still prunes " +
      "per era: keys narrow to the era's physical width") {
    val tbl = freshTable("evolvedw")
    Snapshots.commit(
      (0 until 32).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.widenColumn(spark, tbl, "k",
      org.apache.spark.sql.types.LongType)
    Snapshots.commit(
      (32L until 64L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    // one hit per era plus a key no int-era file could physically hold
    val batch = Seq(Lookup(1, "a"), Lookup(40, "b"),
      Lookup(5000000000L, "wide-miss")).toDF()
    SnapshotStream.lastLookupPrune = None
    val out = SnapshotStream.lookupBatch(batch, tbl, "k", "key",
      maxKeys = 100000)
    val rows = out.collect().map(r => (r.getLong(0),
      if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(rows === Set((1L, "v1"), (40L, "v40"), (5000000000L, null)),
      rows.toString)
    val cut = SnapshotStream.lastLookupPrune
    assert(cut.exists(p => p._1 + p._2 == 8 && p._2 >= 6),
      s"no widen-era cut: $cut")
    graft.plans.DimFilePrune.clear()
  }

  test("a masked static table serves none of its deleted keys and " +
      "joins unpruned") {
    val tbl = buildStatic("masked")
    Snapshots.deleteWhere(spark, tbl, Seq(5L).toDF("k"), "k")
    Snapshots.upsertMor(spark, tbl, Seq((6L, "renamed")).toDF("k", "name"),
      "k")
    val batch = Seq(Lookup(5, "del"), Lookup(6, "ups"), Lookup(7, "kept"))
      .toDF()
    SnapshotStream.lastLookupPrune = Some((0, 0))
    val out = SnapshotStream.lookupBatch(batch, tbl, "k", "key",
      maxKeys = 100000)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(rows === Set((5L, "del", null), (6L, "ups", "renamed"),
      (7L, "kept", "name7")), rows.toString)
    assert(SnapshotStream.lastLookupPrune.isEmpty,
      s"a masked version reported a cut: ${SnapshotStream.lastLookupPrune}")
    graft.plans.DimFilePrune.clear()
  }

  test("upserts into the static table surface at the next micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = buildStatic("upsert")
    val stream = MemoryStream[Lookup]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val q = SnapshotStream.lookupJoin(stream.toDF(), tbl, "k", "key") {
      (enriched, _) =>
        enriched.collect().foreach(r => got.add((r.getLong(0),
          if (r.isNullAt(3)) null else r.getString(3))))
    }
    try {
      stream.addData(Lookup(5, "x"))
      q.processAllAvailable()
      // rename k=5 between batches via MOR upsert
      Snapshots.upsertMor(spark, tbl,
        Seq((5L, "renamed")).toDF("k", "name"), "k")
      Snapshots.compactMor(spark, tbl) // lookup path reads flat versions
      stream.addData(Lookup(5, "y"))
      q.processAllAvailable()
      val byTag = got.toArray(Array.empty[(Long, String)]).toList
      assert(byTag.head._2 === "name5")
      assert(byTag.last._2 === "renamed",
        s"second batch did not see the upsert: $byTag")
    } finally q.stop()
  }
}
