package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** FOREIGN KEY constraints: write-time enforcement on every child insert
  * path, envelope-pruned parent probes, NULL exemption, the referential
  * audit, and the evolve/declare guards.
  */
class ForeignKeySpec extends SparkSpec {

  private def buildPair(tag: String): (String, String) = {
    import spark.implicits._
    val parent = freshTable(s"${tag}_p")
    val child = freshTable(s"${tag}_c")
    Snapshots.commit((1L to 20L).map(k => (k, s"dim$k")).toDF("pk", "name"),
      parent, statsCols = Seq("pk"))
    Snapshots.commit(Seq((100L, 1L), (101L, 2L)).toDF("id", "fk"), child,
      statsCols = Seq("id"))
    (parent, child)
  }

  test("addForeignKey validates existing rows; valid inserts land, " +
      "orphan inserts refuse on every write path; NULLs exempt") {
    import spark.implicits._
    val (parent, child) = buildPair("paths")
    Snapshots.addForeignKey(spark, child, "fk", parent, "pk")
    assert(Snapshots.foreignKeys(spark, child) === Seq(("fk", parent, "pk")))
    // plain append: ok + NULL fk exempt
    Snapshots.commit(Seq((102L, Some(3L)), (103L, None))
      .toDF("id", "fk"), child)
    // orphan value refuses on append / upsertMor / merge
    val orphan = Seq((104L, 999L)).toDF("id", "fk")
    val e1 = intercept[IllegalArgumentException](
      Snapshots.commit(orphan, child))
    assert(e1.getMessage.contains("FOREIGN KEY"))
    val e2 = intercept[IllegalArgumentException](
      Snapshots.upsertMor(spark, child, orphan, "id"))
    assert(e2.getMessage.contains("FOREIGN KEY"))
    val e3 = intercept[IllegalArgumentException](
      Snapshots.merge(spark, child, orphan,
        spark.emptyDataFrame.selectExpr("CAST(1 AS BIGINT) AS id"), "id"))
    assert(e3.getMessage.contains("FOREIGN KEY"))
    // a refused write publishes nothing
    assert(Snapshots.read(spark, child).count() === 4)
    // upserting a VALID value works
    Snapshots.upsertMor(spark, child, Seq((100L, 20L)).toDF("id", "fk"), "id")
    assert(Snapshots.read(spark, child)
      .filter(col("id") === 100L).head().getLong(1) === 20L)
  }

  test("addForeignKey refuses pre-existing orphans and type mismatches; " +
      "drop releases enforcement; rename of the FK column refuses") {
    import spark.implicits._
    val (parent, child) = buildPair("guards")
    Snapshots.commit(Seq((104L, 999L)).toDF("id", "fk"), child)
    val e = intercept[IllegalArgumentException](
      Snapshots.addForeignKey(spark, child, "fk", parent, "pk"))
    assert(e.getMessage.contains("existing rows"))
    // repair (replace the orphan row), then declare
    Snapshots.upsertMor(spark, child, Seq((104L, 4L)).toDF("id", "fk"), "id")
    Snapshots.addForeignKey(spark, child, "fk", parent, "pk")
    // type mismatch: string child col vs integral parent
    val e2 = intercept[RuntimeException](
      Snapshots.addForeignKey(spark, child, "id", parent, "name"))
    assert(e2.getMessage.contains("both"))
    // rename of a constrained column refuses toward drop-first
    val e3 = intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, child, "fk", "fk2"))
    assert(e3.getMessage.contains("FOREIGN KEY"))
    Snapshots.dropForeignKey(spark, child, "fk")
    assert(Snapshots.foreignKeys(spark, child).isEmpty)
    Snapshots.commit(Seq((105L, 999L)).toDF("id", "fk"), child) // now fine
  }

  test("referentialOrphans audits the parent-delete hole; envelope " +
      "pruning reads no parent file for a disjoint probe") {
    import spark.implicits._
    val (parent, child) = buildPair("audit")
    Snapshots.addForeignKey(spark, child, "fk", parent, "pk")
    assert(Snapshots.referentialOrphans(spark, child) === Seq.empty)
    // the child-side cannot see a parent delete — the audit can
    Snapshots.deleteWhere(spark, parent, Seq(2L).toDF("pk"), "pk")
    val orphans = Snapshots.referentialOrphans(spark, child)
    assert(orphans.map(_._1) === Seq("fk"))
    assert(orphans.head._2 === Seq(2L))
    // pruning short-circuit: a probe wholly outside the parent's key
    // envelope prunes every candidate file driver-side and refuses with
    // the probe value itself (no parent anti-join ran to produce it)
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((106L, 500L)).toDF("id", "fk"), child))
    assert(e.getMessage.contains("FOREIGN KEY") &&
      e.getMessage.contains("500"))
  }
}
