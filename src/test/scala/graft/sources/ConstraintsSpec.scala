package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CHECK constraints ([[Snapshots.addCheck]]): table-level invariants
  * inherited by every commit and enforced on every write path before
  * anything becomes visible.
  */
class ConstraintsSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"))

  test("a violating commit is rejected atomically; valid ones pass") {
    val tbl = freshTable("basic")
    Snapshots.commit(orders.filter(col("o_orderkey") < 500), tbl)
    Snapshots.addCheck(spark, tbl, "price_pos", "o_totalprice > 0")
    assert(Snapshots.checkConstraints(spark, tbl) ===
      Map("price_pos" -> "o_totalprice > 0"))
    val before = Snapshots.latestVersion(spark, tbl)
    val bad = orders.limit(10).withColumn("o_totalprice", lit(-1.0))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(bad, tbl)
    }
    assert(e.getMessage.contains("price_pos"))
    assert(Snapshots.latestVersion(spark, tbl) === before,
      "nothing published")
    // a valid batch still lands, and the constraint rides forward
    Snapshots.commit(orders.filter(col("o_orderkey") >= 500), tbl)
    assert(Snapshots.checkConstraints(spark, tbl).contains("price_pos"))
    assert(Snapshots.read(spark, tbl).count() === orders.count())
  }

  test("NULL predicate results pass (standard SQL CHECK semantics)") {
    val tbl = freshTable("nulls")
    val withNull = orders.limit(20).withColumn("o_totalprice",
      when(col("o_orderkey") % 2 === 0, col("o_totalprice")))
    Snapshots.commit(withNull, tbl)
    // nulls satisfy the check; only FALSE rejects
    Snapshots.addCheck(spark, tbl, "pos", "o_totalprice > 0")
    Snapshots.commit(withNull, tbl)
    assert(Snapshots.read(spark, tbl).count() === 40)
  }

  test("addCheck rejects a constraint existing rows violate") {
    val tbl = freshTable("preexist")
    Snapshots.commit(orders.limit(50), tbl)
    val e = intercept[RuntimeException] {
      Snapshots.addCheck(spark, tbl, "impossible", "o_totalprice < 0")
    }
    assert(e.getMessage.contains("existing rows violate"))
    assert(Snapshots.checkConstraints(spark, tbl).isEmpty)
  }

  test("dropCheck lifts enforcement; constraints survive delete/compact") {
    val tbl = freshTable("drop")
    Snapshots.commit(orders.limit(100), tbl, statsCols = Seq("o_orderkey"))
    Snapshots.addCheck(spark, tbl, "pos", "o_totalprice > 0")
    // tombstone and compaction commits carry the constraint forward
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 5).select(col("id").as("o_orderkey")), "o_orderkey")
    Snapshots.compactMor(spark, tbl)
    assert(Snapshots.checkConstraints(spark, tbl) ===
      Map("pos" -> "o_totalprice > 0"))
    Snapshots.dropCheck(spark, tbl, "pos")
    assert(Snapshots.checkConstraints(spark, tbl).isEmpty)
    // the previously-rejected batch now lands
    Snapshots.commit(orders.limit(5).withColumn("o_totalprice", lit(-1.0)),
      tbl)
  }

  test("upsertMor and commitTxn enforce too") {
    val tbl = freshTable("paths")
    Snapshots.commit(orders.limit(100), tbl, statsCols = Seq("o_orderkey"))
    Snapshots.addCheck(spark, tbl, "pos", "o_totalprice > 0")
    intercept[IllegalArgumentException] {
      Snapshots.upsertMor(spark, tbl,
        orders.limit(3).withColumn("o_totalprice", lit(-2.0)), "o_orderkey")
    }
    val d = tempDir("chk_txn")
    intercept[IllegalArgumentException] {
      Snapshots.commitTxn(spark, Seq(Snapshots.TxnWrite(
        orders.limit(3).withColumn("o_totalprice", lit(-2.0)), tbl)),
        s"$d/_txns")
    }
    assert(Snapshots.latestVersion(spark, tbl) === 2)
    // valid upsert passes
    Snapshots.upsertMor(spark, tbl, orders.limit(3), "o_orderkey")
  }
}
