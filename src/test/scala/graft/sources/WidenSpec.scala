package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Metadata-only type widening ([[Snapshots.widenColumn]]): lossless
  * ALTER COLUMN TYPE without rewriting a byte — per-era physical types
  * cast at read.
  */
class WidenSpec extends SparkSpec {

  test("int→long widens metadata-only: old files read cast, new files " +
      "store long natively, values beyond int range land, time travel " +
      "keeps each version's width") {
    import spark.implicits._
    val tbl = freshTable("i2l")
    Seq((1, "a"), (2, "b")).toDF("k", "s")
      .createOrReplaceTempView("unused")
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "s"), tbl,
      statsCols = Seq("k"))
    val before = Snapshots.manifest(spark, tbl, 1).map(_.path).toSet
    val v2 = Snapshots.widenColumn(spark, tbl, "k", LongType)
    assert(v2 === 2)
    // metadata-only: every parent file carried verbatim
    assert(Snapshots.manifest(spark, tbl, 2).map(_.path).toSet === before)
    val big = 10000000000L // > Int.MaxValue
    Snapshots.commit(Seq((big, "c")).toDF("k", "s"), tbl,
      statsCols = Seq("k"))
    val got = Snapshots.read(spark, tbl)
    assert(got.schema("k").dataType === LongType)
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (big, "c")))
    // time travel: v1 reads its own (int) width
    assert(Snapshots.read(spark, tbl, Some(1)).schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // pruning evidence still works across the widen (stats are longs)
    val c = IndexedCount.of(spark, tbl, col("k").between(big, big))
    assert(c.rows === 1 && c.skipped > 0, s"$c")
  }

  test("bloom scans across a widen probe pre-widen files at their " +
      "narrow physical width — no silent row loss") {
    import spark.implicits._
    val tbl = freshTable("wbloom")
    // era 1: k INT, bloom hashed at int width, 4 key-clustered files
    Snapshots.commit(
      (0 until 16).map(k => (k, s"v$k")).toDF("k", "s")
        .repartition(4, col("k")),
      tbl, bloomCols = Seq("k"))
    Snapshots.widenColumn(spark, tbl, "k", LongType)
    // era 2: k LONG natively, incl. a value beyond int range
    val big = 10000000000L
    Snapshots.commit(Seq((100L, "x"), (big, "y")).toDF("k", "s")
      .coalesce(1), tbl, bloomCols = Seq("k"))
    // a LONG-typed probe of an era-1 value: the int-era file's bloom was
    // hashed at int width — pre-fix this false-rejected the file and the
    // scan silently lost the row
    val c = IndexedCount.of(spark, tbl, col("k") === 5L)
    assert(c.rows === 1L, "widened bloom probe lost the pre-widen row")
    assert(c.skipped > 0, "bloom pruning power lost entirely")
    // IN-filter across both eras: era-1 value + era-2 beyond-int value
    val in = Snapshots.read(spark, tbl)
      .filter(col("k").isin(7L, big))
    assert(in.collect().map(_.getLong(0)).toSet === Set(7L, big))
    // absent values still skip every file (the narrow probe must not
    // blanket-keep)
    val abs = IndexedCount.of(spark, tbl, col("k") === 999L)
    assert(abs.rows === 0L && abs.kept === 0, s"$abs")
    // float→double widen with a NaN row: Java NaN != NaN breaks the
    // lossless-roundtrip check, but Spark SQL equality MATCHES NaN —
    // the probe must still try the float representation
    val ftbl = freshTable("wbloomf")
    Snapshots.commit(
      Seq((1, 1.5f), (2, Float.NaN), (3, 3.5f)).toDF("k", "x")
        .repartition(3, col("k")),
      ftbl, bloomCols = Seq("x"))
    Snapshots.widenColumn(spark, ftbl, "x", DoubleType)
    Snapshots.commit(Seq((4, 4.5)).toDF("k", "x").coalesce(1), ftbl,
      bloomCols = Seq("x"))
    assert(IndexedCount.of(spark, ftbl, col("x") === Double.NaN)
      .rows === 1L, "NaN probe lost the pre-widen float-era row")
    assert(IndexedCount.of(spark, ftbl, col("x") === 1.5d).rows === 1L)
  }

  test("float→double widens; narrowing and cross-family casts refuse; " +
      "constrained and renamed columns refuse") {
    import spark.implicits._
    val tbl = freshTable("f2d")
    Snapshots.commit(Seq((1, 1.5f), (2, 2.5f)).toDF("k", "x"), tbl)
    Snapshots.widenColumn(spark, tbl, "x", DoubleType)
    Snapshots.commit(Seq((3, 3.25)).toDF("k", "x"), tbl)
    assert(Snapshots.read(spark, tbl).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet ===
      Set((1, 1.5), (2, 2.5), (3, 3.25)))
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.widenColumn(spark, tbl, "k", StringType)
    }
    assert(e1.getMessage.contains("lossless"))
    val tbl2 = freshTable("guard")
    Snapshots.commit(Seq((1, 10)).toDF("k", "v"), tbl2,
      statsCols = Seq("k"))
    Snapshots.addUnique(spark, tbl2, "k")
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.widenColumn(spark, tbl2, "k", LongType)
    }
    assert(e2.getMessage.contains("UNIQUE"))
    // a widened column refuses rename (name-keyed events)
    Snapshots.widenColumn(spark, tbl2, "v", LongType)
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl2, "v", "val")
    }
    assert(e3.getMessage.contains("widening"))
  }

  test("changes() refuses widen-crossing ranges; single-step ranges " +
      "stay derivable; the indexed read refuses toward read") {
    import spark.implicits._
    val tbl = freshTable("feed")
    Snapshots.commit(Seq((1, 10)).toDF("k", "v"), tbl) // v1
    Snapshots.widenColumn(spark, tbl, "v", LongType)   // v2
    Snapshots.commit(Seq((2, 20L)).toDF("k", "v"), tbl) // v3
    // a range whose start predates the widen mixes narrow and wide
    // insert frames — refused (strict boundary: from == boundary is safe)
    val e = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, tbl, 0, 3)
    }
    assert(e.getMessage.contains("widening"))
    // split at the evolution commit: both halves derive
    assert(Snapshots.changes(spark, tbl, 0, 1).count() === 1)
    assert(Snapshots.changes(spark, tbl, 1, 2).count() === 0)
    assert(Snapshots.changes(spark, tbl, 2, 3)
      .filter(col("_change_type") === "insert").count() === 1)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.readIndexed(spark, tbl)
    }
    assert(e2.getMessage.contains("widening"))
    // compaction materializes the wide type; the index works again
    Snapshots.compactVersion(spark, tbl)
    assert(Snapshots.readIndexed(spark, tbl)._1.count() === 2)
  }

  test("replication replays a widen structurally: the mirror's own " +
      "narrow files read cast exactly like the source's") {
    import spark.implicits._
    val src = freshTable("rsrc")
    val dst = freshTable("rdst")
    Snapshots.commit(Seq((1, 10), (2, 20)).toDF("k", "v"), src,
      statsCols = Seq("k"))
    Replication.sync(spark, src, dst, "k")
    Snapshots.widenColumn(spark, src, "v", LongType)
    val big = 30000000000L
    Snapshots.commit(Seq((3, big)).toDF("k", "v"), src,
      statsCols = Seq("k"))
    Replication.sync(spark, src, dst, "k")
    assert(Snapshots.read(spark, dst).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet ===
      Set((1, 10L), (2, 20L), (3, big)))
    assert(Snapshots.widenEvents(
      Snapshots.properties(spark, dst,
        Snapshots.latestVersion(spark, dst))).size === 1)
  }
}
