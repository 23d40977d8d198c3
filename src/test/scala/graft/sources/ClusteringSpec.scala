package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Declared clustering ([[Snapshots.setClustering]]): the table-level
  * sort order maintenance re-establishes automatically.
  */
class ClusteringSpec extends SparkSpec {

  private def li = spark.read.parquet(s"$sf001/lineitem.parquet")
    .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"))

  test("zorder clustering: a compaction after setClustering tightens " +
      "box pruning from useless to real; content unchanged") {
    val tbl = freshTable("z")
    Snapshots.commit(li.repartition(8), tbl,
      statsCols = Seq("l_partkey", "l_suppkey"))
    val box = col("l_partkey").between(1L, 25L) &&
      col("l_suppkey").between(1L, 2L)
    // scattered: every file spans the domain — nothing prunes
    val before = IndexedCount.of(spark, tbl, box)
    assert(before.skipped === 0)
    Snapshots.setClustering(spark, tbl, "zorder(l_partkey,l_suppkey)")
    assert(Snapshots.clustering(spark, tbl) ===
      Some(("zorder", Seq("l_partkey", "l_suppkey"))))
    Snapshots.compactVersion(spark, tbl, targetBytes = 8L << 10)
    val after = IndexedCount.of(spark, tbl, box)
    assert(after.skipped > 0,
      s"expected a file cut, read ${after.kept} skipped 0")
    // exactness: pruned scan ≡ full filter, and full content survived
    val expect = li.filter(col("l_partkey").between(1, 25) &&
      col("l_suppkey").between(1, 2)).count()
    assert(after.rows === expect)
    assert(Snapshots.read(spark, tbl).count() === li.count())
  }

  test("sort clustering prunes the leading column; the declaration is " +
      "inherited across commits and droppable; guards refuse bad specs") {
    val tbl = freshTable("s")
    Snapshots.commit(li.repartition(6), tbl, statsCols = Seq("l_orderkey"))
    Snapshots.setClustering(spark, tbl, "sort(l_orderkey)")
    Snapshots.compactVersion(spark, tbl, targetBytes = 8L << 10)
    val pruned = IndexedCount.of(spark, tbl,
      col("l_orderkey").between(1L, 50L))
    assert(pruned.skipped > 0)
    // inherited across an unrelated append
    Snapshots.commit(li.limit(5), tbl)
    assert(Snapshots.clustering(spark, tbl) ===
      Some(("sort", Seq("l_orderkey"))))
    // dropped via the empty spec
    Snapshots.setClustering(spark, tbl, "")
    assert(Snapshots.clustering(spark, tbl) === None)
    intercept[IllegalArgumentException] {
      Snapshots.setClustering(spark, tbl, "zorder(l_orderkey)")
    }
    intercept[IllegalArgumentException] {
      Snapshots.setClustering(spark, tbl, "sort(nope)")
    }
    intercept[IllegalArgumentException] {
      Snapshots.setClustering(spark, tbl, "shuffle(l_orderkey)")
    }
  }

  test("setClustering validates zorder column TYPES at declaration — a " +
      "string/date column fails the DDL, not a compaction weeks later") {
    import spark.implicits._
    val tbl = freshTable("ty")
    Snapshots.commit(Seq((1L, "a", java.sql.Date.valueOf("2024-01-01")))
      .toDF("k", "s", "d"), tbl)
    val e = intercept[IllegalArgumentException] {
      Snapshots.setClustering(spark, tbl, "zorder(k,s)")
    }
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException] {
      Snapshots.setClustering(spark, tbl, "zorder(k,d)")
    }
    // sort() keeps accepting any orderable type
    Snapshots.setClustering(spark, tbl, "sort(s)")
    assert(Snapshots.clustering(spark, tbl) === Some(("sort", Seq("s"))))
  }
}
