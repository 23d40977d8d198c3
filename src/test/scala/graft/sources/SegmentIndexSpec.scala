package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The manifest-list tier: segment index build, segment-level pruning
  * under [[Snapshots.readIndexed]], exactness vs the flat-manifest scan,
  * and its crash/idempotence discipline.
  */
class SegmentIndexSpec extends SparkSpec {

  private def freshTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_segix_$tag").toString + "/t"

  private def fs(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 32 single-key files over key 0..31 with stats — every file a point
    * box, so segment envelopes are exact 4-key ranges.
    */
  private def buildKeyed(tbl: String): Unit = {
    import spark.implicits._
    val df = (0L until 32L).flatMap(k => Seq((k, k * 100), (k, k * 100 + 1)))
      .toDF("k", "v")
      .repartitionByRange(32, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k", "v"))
  }

  test("segment pruning: box probe skips whole segments, result equals " +
      "the flat scan, counts add up") {
    val tbl = freshTable("box")
    buildKeyed(tbl)
    val nSegs = Snapshots.buildSegmentIndex(spark, tbl, segSize = 4)
    assert(nSegs === 8)
    val box = col("k").between(9L, 14L)
    val (seg, ix) = Snapshots.readIndexed(spark, tbl)
    val got = seg.filter(box).orderBy("k", "v").collect().toSeq
    // keys 9..14 live in files 9..14 -> segments 2 (8-11) and 3 (12-15)
    assert(ix.lastSegPrune === ((2, 8)), s"got ${ix.lastSegPrune}")
    // the same 6 files a flat per-file evidence pass keeps, of 32
    assert(ix.lastPrune === ((6, 32)), s"got ${ix.lastPrune}")
    assert(got === Snapshots.read(spark, tbl).filter(box)
      .orderBy("k", "v").collect().toSeq)
  }

  test("build is idempotent and a prebuilt index serves without the " +
      "manifest") {
    val tbl = freshTable("idem")
    buildKeyed(tbl)
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 8) === 4)
    // second build: derivation of an immutable manifest — same count,
    // existing index untouched
    val ixPath = new Path(s"$tbl/_manifests/v000001.segments/index")
    val mtime = fs(tbl).getFileStatus(ixPath).getModificationTime
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 8) === 4)
    assert(fs(tbl).getFileStatus(ixPath).getModificationTime === mtime)
    // the segment-planned read never opens the flat manifest: move it
    // aside and read anyway (versions() lists from the manifest file
    // names, so resolve the version explicitly)
    val mf = new Path(s"$tbl/_manifests/v000001.manifest")
    val aside = new Path(s"$tbl/_manifests/v000001.aside")
    assert(fs(tbl).rename(mf, aside))
    try {
      val (seg, ix) = Snapshots.readIndexed(spark, tbl, version = Some(1))
      // 4 keys x 2 rows
      assert(seg.filter(col("k").between(0L, 3L)).count() === 8)
      assert(ix.lastSegPrune === ((1, 4)), s"got ${ix.lastSegPrune}")
    } finally fs(tbl).rename(aside, mf)
  }

  test("incremental build: an append reuses the parent's full segments " +
      "by reference and rolls only the tail; non-append lineage " +
      "rebuilds in full") {
    import spark.implicits._
    val tbl = freshTable("incr")
    buildKeyed(tbl)
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 4) === 8)
    // append 2 files -> the new index must be 8 reused + 1 tail segment
    Snapshots.commit(
      Seq((32L, 3200L), (33L, 3300L)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      tbl, statsCols = Seq("k", "v"))
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 4) === 9)
    val v2dir = new Path(s"$tbl/_manifests/v000002.segments")
    val written = fs(tbl).listStatus(v2dir).map(_.getPath.getName).sorted
    assert(written === Array("index", "seg-00008"),
      s"append must write only the tail segment, wrote ${written.toSeq}")
    // the reused segments serve scans exactly like a full rebuild would
    val (seg, ix) = Snapshots.readIndexed(spark, tbl)
    assert(seg.filter(col("k").between(9L, 14L)).count() === 12)
    assert(ix.lastSegPrune === ((2, 9)), s"got ${ix.lastSegPrune}")
    assert(ix.lastPrune === ((6, 34)), s"got ${ix.lastPrune}")
    assert(seg.filter(col("k").between(32L, 40L)).count() === 2)
    assert(ix.lastSegPrune === ((1, 9)), s"got ${ix.lastSegPrune}")
    // compaction rewrites the layout: the prefix proof fails and the
    // index rebuilds in full under the new version's own dir
    val v3 = Snapshots.compactVersion(spark, tbl)
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 4) >= 1)
    val v3dir = new Path(f"$tbl/_manifests/v$v3%06d.segments")
    val v3Files = fs(tbl).listStatus(v3dir).map(_.getPath.getName)
    val (full, fullIx) = Snapshots.readIndexed(spark, tbl)
    assert(full.count() === 66)
    assert(v3Files.count(_.startsWith("seg-")) === fullIx.lastSegPrune._2,
      "full rebuild must own every segment it serves")
  }

  test("a stat-less file keeps its whole segment readable") {
    val tbl = freshTable("nostats")
    import spark.implicits._
    // v1: two files WITH stats, then append one file WITHOUT stats
    Snapshots.commit(Seq((1L, 1L)).toDF("k", "v"), tbl,
      statsCols = Seq("k"))
    Snapshots.commit(Seq((100L, 2L)).toDF("k", "v"), tbl) // no statsCols
    val n = Snapshots.buildSegmentIndex(spark, tbl, segSize = 4)
    assert(n === 1)
    // probe far away from both keys: the segment contains a stat-less
    // file, so its rolled envelope must NOT claim coverage of k
    val (seg, ix) = Snapshots.readIndexed(spark, tbl)
    assert(seg.filter(col("k").between(50L, 60L)).count() === 0) // exact
    assert(ix.lastSegPrune === ((1, 1)),
      "stat-less member must keep the segment")
  }

  test("readIndexed plans flat without an index and over a half-written " +
      "one; a repair build restores segment planning") {
    val tbl = freshTable("crash")
    buildKeyed(tbl)
    def probe(): SnapshotFileIndex = {
      val (df, ix) = Snapshots.readIndexed(spark, tbl)
      assert(df.filter(col("k").between(0L, 1L)).count() === 4)
      ix
    }
    val none = probe()
    assert(none.segmentParses.get === 0 && none.lastSegPrune === ((0, 0)))
    assert(none.lastPrune === ((2, 32)), s"got ${none.lastPrune}")
    // simulate a crashed builder: index present but terminator-less
    val dir = new Path(s"$tbl/_manifests/v000001.segments")
    fs(tbl).mkdirs(dir)
    val out = fs(tbl).create(new Path(dir, "index"), true)
    out.write("graft-manifest-v1\nseg-00000\t64\tk=0:31".getBytes("UTF-8"))
    out.close()
    val half = probe()
    assert(half.segmentParses.get === 0 && half.lastSegPrune === ((0, 0)))
    assert(half.lastPrune === ((2, 32)), s"got ${half.lastPrune}")
    // a later complete build repairs it
    assert(Snapshots.buildSegmentIndex(spark, tbl, segSize = 16) === 2)
    val repaired = probe()
    assert(repaired.lastSegPrune === ((1, 2)),
      s"got ${repaired.lastSegPrune}")
    assert(repaired.segmentParses.get === 1)
    assert(repaired.lastPrune === ((2, 32)), s"got ${repaired.lastPrune}")
  }

  test("segment blooms OR soundly: equality probe via index evidence") {
    val tbl = freshTable("bloom")
    import spark.implicits._
    val df = (0L until 16L).map(k => (k, s"u$k")).toDF("k", "u")
      .repartition(8, col("k"))
    Snapshots.commit(df, tbl, bloomCols = Seq("k"))
    Snapshots.buildSegmentIndex(spark, tbl, segSize = 4)
    val (seg, ix) = Snapshots.readIndexed(spark, tbl)
    // a range on a column with no range stats keeps every segment
    // (blooms are rolled, ranges absent), and the result is still exact
    assert(seg.filter(col("k").between(2L, 4L)).count() === 3)
    assert(ix.lastSegPrune === ((2, 2)), s"got ${ix.lastSegPrune}")
    // equality reaches the OR'd segment blooms: k = 3 lives in one file,
    // so one segment survives
    assert(seg.filter(col("k") === 3L).count() === 1)
    assert(ix.lastSegPrune === ((1, 2)), s"got ${ix.lastSegPrune}")
  }

  test("readIndexed PLANS from the segment tier when an index exists: " +
      "pruned segments' file entries are never parsed (probe-counted), " +
      "sizeInBytes answers from the header, results stay exact") {
    val tbl = freshTable("fidx")
    buildKeyed(tbl) // 32 single-key files
    Snapshots.buildSegmentIndex(spark, tbl, segSize = 4) // 8 segments
    val (df, ix) = Snapshots.readIndexed(spark, tbl)
    // size answered from the recorded per-segment byte totals — zero
    // segment parses, zero per-file stats
    val want = Snapshots.manifest(spark, tbl, 1).map(e =>
      fs(tbl).getFileStatus(new Path(s"$tbl/${e.path}")).getLen).sum
    assert(ix.sizeInBytes === want)
    assert(ix.segmentParses.get === 0,
      "sizeInBytes must not open segment files")
    // a selective filter prunes SEGMENTS first; only survivors parse
    val got = df.filter(col("k").between(9L, 14L))
      .orderBy("k", "v").collect().toSeq
    assert(ix.lastSegPrune === ((2, 8)), s"got ${ix.lastSegPrune}")
    assert(ix.segmentParses.get === 2,
      s"only surviving segments may parse, parsed ${ix.segmentParses.get}")
    assert(ix.lastPrune === ((6, 32)), s"got ${ix.lastPrune}")
    val flat = Snapshots.read(spark, tbl)
      .filter(col("k").between(9L, 14L)).orderBy("k", "v").collect().toSeq
    assert(got === flat)
    // a full scan parses each remaining segment exactly once (cached)
    assert(df.count() === 64L)
    assert(ix.segmentParses.get === 8)
    assert(df.count() === 64L)
    assert(ix.segmentParses.get === 8, "segment parses must be cached")
    // a masked version records its mask count in the header — the
    // planner refuses it back to readMor instead of mis-reading
    import spark.implicits._
    Snapshots.deleteWhere(spark, tbl, Seq(3L).toDF("k"), "k")
    Snapshots.buildSegmentIndex(spark, tbl, segSize = 4)
    val e = intercept[IllegalArgumentException](
      Snapshots.readIndexed(spark, tbl))
    assert(e.getMessage.contains("merge-on-read deletes"))
  }
}
