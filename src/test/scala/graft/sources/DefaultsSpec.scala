package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Add-column with an initial DEFAULT: era-scoped resolution by data
  * sequence number, metadata-only DDL, interaction with time travel,
  * appends, compaction, the feed guard, replication, and the indexed-
  * read refusal.
  */
class DefaultsSpec extends SparkSpec {

  test("pre-evolution files read the default, post-evolution NULLs " +
      "stay NULL, time travel keeps the narrow shape, compaction " +
      "materializes") {
    import spark.implicits._
    val tbl = freshTable("era")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), tbl)
    val ddlV = Snapshots.addColumn(spark, tbl, "tier", StringType,
      default = Some("bronze"))
    assert(ddlV === 2)
    // metadata-only: no data files written by the DDL
    assert(Snapshots.manifest(spark, tbl, 2).map(_.path) ===
      Snapshots.manifest(spark, tbl, 1).map(_.path))
    Snapshots.commit(Seq((3L, 30L, Some("gold")), (4L, 40L, None))
      .toDF("k", "v", "tier"), tbl)
    val got = Snapshots.read(spark, tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    assert(got === Seq(1L -> Some("bronze"), 2L -> Some("bronze"),
      3L -> Some("gold"), 4L -> None))
    // time travel to v1: the narrow pre-evolution shape
    assert(!Snapshots.read(spark, tbl, Some(1)).columns.contains("tier"))
    // compaction materializes the defaults without changing content
    Snapshots.compactVersion(spark, tbl)
    val got2 = Snapshots.read(spark, tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    assert(got2 === got)
  }

  test("integral defaults, no-default add-column null-fills, rename of " +
      "a defaulted column refuses, drop retires the event") {
    import spark.implicits._
    val tbl = freshTable("types")
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "v"), tbl)
    Snapshots.addColumn(spark, tbl, "score", LongType, default = Some(7L))
    Snapshots.addColumn(spark, tbl, "note", StringType) // plain null-fill
    val r = Snapshots.read(spark, tbl).head()
    assert(r.getLong(2) === 7L && r.isNullAt(3))
    val e = intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, tbl, "score", "points"))
    assert(e.getMessage.contains("default"))
    Snapshots.dropColumn(spark, tbl, "score")
    assert(Snapshots.read(spark, tbl).columns.toSeq === Seq("k", "v", "note"))
    // duplicate add refuses; bad type refuses at DDL time
    intercept[IllegalArgumentException](
      Snapshots.addColumn(spark, tbl, "note", StringType))
    intercept[IllegalArgumentException](
      Snapshots.addColumn(spark, tbl, "arr",
        org.apache.spark.sql.types.ArrayType(LongType), Some("x")))
  }

  test("the change feed refuses default-crossing ranges; replication " +
      "replays the default structurally so the mirror's old files read " +
      "it too; indexed reads refuse") {
    import spark.implicits._
    val tbl = freshTable("feed")
    val dst = freshTable("mirror")
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "v"), tbl,
      statsCols = Seq("k"))
    Replication.sync(spark, tbl, dst, "k")
    Snapshots.addColumn(spark, tbl, "tier", StringType, Some("bronze"))
    Snapshots.commit(Seq((2L, 20L, "gold")).toDF("k", "v", "tier"), tbl,
      statsCols = Seq("k"))
    // a range with a PRE-event insert frame refuses (null-fill would
    // contradict the default); ranges starting at the boundary are fine
    val e = intercept[IllegalArgumentException](
      Snapshots.changes(spark, tbl, 0, 3))
    assert(e.getMessage.contains("default"))
    assert(Snapshots.changes(spark, tbl, 1, 3).count() === 1)
    Replication.sync(spark, tbl, dst, "k")
    val mirror = Snapshots.read(spark, dst).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(mirror === Seq(1L -> "bronze", 2L -> "gold"))
    val e2 = intercept[IllegalArgumentException](
      Snapshots.readIndexed(spark, tbl))
    assert(e2.getMessage.contains("default"))
  }
}
