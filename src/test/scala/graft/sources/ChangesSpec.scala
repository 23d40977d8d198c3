package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Change data feed ([[Snapshots.changes]]): row-level insert/delete
  * deltas derived from manifest deltas alone — never a full-table diff.
  */
class ChangesSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))

  test("appends surface as inserts, version-tagged; from=0 is full history") {
    val tbl = freshTable("ins")
    val lo = orders.filter(col("o_orderkey") < 500)
    val hi = orders.filter(col("o_orderkey") >= 500)
    Snapshots.commit(lo, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.commit(hi, tbl, statsCols = Seq("o_orderkey"))
    val all = Snapshots.changes(spark, tbl, 0, 2)
    assert(all.filter(col("_change_type") =!= "insert").count() === 0)
    assert(all.filter(col("_commit_version") === 1).count() === lo.count())
    assert(all.filter(col("_commit_version") === 2).count() === hi.count())
    // a bounded window reads only its own versions
    assert(Snapshots.changes(spark, tbl, 1, 2).count() === hi.count())
  }

  test("deleteWhere emits the deleted rows as pre-images") {
    val tbl = freshTable("del")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.deleteWhere(spark, tbl,
      spark.range(10, 40).select(col("id").as("o_orderkey")), "o_orderkey")
    val ch = Snapshots.changes(spark, tbl, 1, 2)
    assert(ch.filter(col("_change_type") =!= "delete").count() === 0)
    val expected = orders.filter(col("o_orderkey").between(10, 39))
    assert(ch.count() === expected.count())
    // pre-image content matches the deleted rows exactly
    assert(ch.drop("_change_type", "_commit_version")
      .exceptAll(expected).count() === 0)
  }

  test("upsertMor emits delete of the old row and insert of the new") {
    val tbl = freshTable("ups")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val batch = orders.filter(col("o_orderkey").between(5, 8))
      .withColumn("o_totalprice", lit(-1.0))
    Snapshots.upsertMor(spark, tbl, batch, "o_orderkey")
    val ch = Snapshots.changes(spark, tbl, 1, 2)
    val dels = ch.filter(col("_change_type") === "delete")
    val ins = ch.filter(col("_change_type") === "insert")
    assert(dels.count() ===
      orders.filter(col("o_orderkey").between(5, 8)).count())
    assert(dels.filter(col("o_totalprice") === -1.0).count() === 0,
      "pre-images carry the OLD values")
    assert(ins.count() === batch.count())
    assert(ins.filter(col("o_totalprice") =!= -1.0).count() === 0)
  }

  test("a second delete of the same key emits nothing (already invisible)") {
    val tbl = freshTable("redel")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val keys = spark.range(20, 25).select(col("id").as("o_orderkey"))
    Snapshots.deleteWhere(spark, tbl, keys, "o_orderkey")
    Snapshots.deleteWhere(spark, tbl, keys, "o_orderkey")
    assert(Snapshots.changes(spark, tbl, 2, 3).count() === 0)
  }

  test("append after delete re-inserts: feed shows insert, not delete") {
    val tbl = freshTable("reins")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.deleteWhere(spark, tbl,
      spark.range(1, 11).select(col("id").as("o_orderkey")), "o_orderkey")
    val reins = orders.filter(col("o_orderkey").between(1, 10))
    Snapshots.commit(reins, tbl, statsCols = Seq("o_orderkey"))
    val ch = Snapshots.changes(spark, tbl, 2, 3)
    assert(ch.filter(col("_change_type") =!= "insert").count() === 0)
    assert(ch.count() === reins.count())
  }

  test("compaction (dataChange=false) is skipped; feed spans it cleanly") {
    val tbl = freshTable("compact")
    val lo = orders.filter(col("o_orderkey") < 300)
    Snapshots.commit(lo, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.compactVersion(spark, tbl, targetBytes = 1L << 20)
    val hi = orders.filter(col("o_orderkey") >= 300 &&
      col("o_orderkey") < 400)
    Snapshots.commit(hi, tbl, statsCols = Seq("o_orderkey"))
    val ch = Snapshots.changes(spark, tbl, 1, 3)
    assert(ch.count() === hi.count(), "only v3's appended rows")
    assert(ch.filter(col("_commit_version") === 2).count() === 0)
  }

  test("a file-dropping commit without the marker is refused loudly") {
    val tbl = freshTable("cow")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val up = orders.filter(col("o_orderkey") === 3)
      .withColumn("o_totalprice", lit(0.0))
    Snapshots.merge(spark, tbl, up,
      spark.range(0, 0).select(col("id").as("o_orderkey")), "o_orderkey")
    val e = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, tbl, 1, 2).count()
    }
    assert(e.getMessage.contains("not derivable"))
  }

  test("delete pre-image scan prunes parent files by key envelope") {
    val tbl = freshTable("prune")
    // 4 range-clustered files → a low-key delete can only touch file 1
    Snapshots.commit(orders.repartitionByRange(4, col("o_orderkey")),
      tbl, statsCols = Seq("o_orderkey"))
    val nFiles = Snapshots.manifest(spark, tbl, 1).size
    assert(nFiles >= 3, s"need a multi-file layout, got $nFiles")
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 3).select(col("id").as("o_orderkey")), "o_orderkey")
    val ch = Snapshots.changes(spark, tbl, 1, 2)
    // correctness of the pruned path
    assert(ch.count() === orders.filter(col("o_orderkey") < 3).count())
    // and the plan reads fewer files than the table holds: the scan's
    // relation should list at most half the data files
    val scanned = ch.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.count(f => !f.contains("del-"))
          case _ => 0
        }
    }.sum
    assert(scanned < nFiles,
      s"expected envelope pruning to drop files: scanned $scanned of $nFiles")
  }
}
