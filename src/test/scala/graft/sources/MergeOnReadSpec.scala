package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class MergeOnReadSpec extends SparkSpec {

  private def freshTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mor_$tag").toString + "/t"

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))

  private def fs(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def keysOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("o_orderkey").cast("long")).collect().map(_.getLong(0)).toSet

  test("deleteWhere subtracts keys at read time without touching data files") {
    val tbl = freshTable("basic")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val before = Snapshots.manifest(spark, tbl, 1)
    val del = spark.range(1, 51).select(col("id").as("o_orderkey"))
    val v2 = Snapshots.deleteWhere(spark, tbl, del, "o_orderkey")
    assert(v2 === 2)
    // every data file carried byte-identical; exactly one tombstone added
    val after = Snapshots.manifest(spark, tbl, 2)
    val (tomb, data) = after.partition(e => Snapshots.isTombstone(e.path))
    assert(data.toSet === before.toSet && tomb.size === 1)
    assert(tomb.head.stats.contains("o_orderkey"), "tombstone key envelope")
    // read applies the deletes; the pre-delete version still reads whole
    val got = keysOf(Snapshots.readMor(spark, tbl))
    assert(got.intersect((1L to 50L).toSet).isEmpty)
    assert(Snapshots.readMor(spark, tbl, Some(1)).count() === orders.count())
    assert(Snapshots.readMor(spark, tbl).count() ===
      orders.filter(!col("o_orderkey").between(1, 50)).count())
  }

  test("append after delete re-inserts its keys (sequence ordering)") {
    val tbl = freshTable("seq")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val del = spark.range(1, 21).select(col("id").as("o_orderkey"))
    Snapshots.deleteWhere(spark, tbl, del, "o_orderkey")
    // re-insert keys 1-10 with a recognizable price AFTER the delete
    // (keys start at 0 in this data — 0 was never deleted, keep it out)
    val reinsert = orders.filter(col("o_orderkey").between(1, 10))
      .withColumn("o_totalprice", lit(-1.0))
    Snapshots.commit(reinsert, tbl, statsCols = Seq("o_orderkey"))
    val r = Snapshots.readMor(spark, tbl)
    // old copies of 1-20 stay deleted; the NEW rows for 1-10 survive
    assert(r.filter(col("o_orderkey").between(1, 10) &&
      col("o_totalprice") =!= -1.0).count() === 0)
    assert(r.filter(col("o_orderkey").between(1, 10)).count() === reinsert.count())
    assert(r.filter(col("o_orderkey").between(11, 20)).count() === 0)
    // and a delete AFTER the re-insert masks the new rows too
    Snapshots.deleteWhere(spark, tbl,
      spark.range(1, 6).select(col("id").as("o_orderkey")), "o_orderkey")
    val r2 = Snapshots.readMor(spark, tbl)
    assert(r2.filter(col("o_orderkey").between(1, 5)).count() === 0)
    assert(r2.filter(col("o_orderkey").between(6, 10) &&
      col("o_totalprice") === -1.0).count() > 0)
  }

  test("plain read refuses a tombstoned version loudly") {
    val tbl = freshTable("guard")
    Snapshots.commit(orders.limit(100), tbl)
    Snapshots.deleteWhere(spark, tbl,
      spark.range(1, 5).select(col("id").as("o_orderkey")), "o_orderkey")
    val e = intercept[IllegalArgumentException] {
      Snapshots.read(spark, tbl).count()
    }
    assert(e.getMessage.contains("merge-on-read"))
    // time travel to the pre-delete version still reads normally
    assert(Snapshots.read(spark, tbl, Some(1)).count() === 100)
  }

  test("compactMor materializes deletes back to a pure-data table") {
    val tbl = freshTable("compact")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.deleteWhere(spark, tbl,
      spark.range(1, 101).select(col("id").as("o_orderkey")), "o_orderkey")
    val expect = keysOf(Snapshots.readMor(spark, tbl))
    val v3 = Snapshots.compactMor(spark, tbl)
    val m = Snapshots.manifest(spark, tbl, v3)
    assert(m.forall(e => !Snapshots.isTombstone(e.path)))
    // all normal readers work again and content is the subtracted set
    assert(keysOf(Snapshots.read(spark, tbl)) === expect)
    // stats carried: pruned scan on the compacted table
    assert(IndexedCount.of(spark, tbl, col("o_orderkey").between(200L, 300L))
      .rows === orders.filter(col("o_orderkey").between(200, 300)).count())
  }

  test("delete is idempotent and ignores null/absent keys") {
    val tbl = freshTable("idem")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val del = spark.range(1, 11).select(col("id").as("o_orderkey"))
      .unionByName(spark.sql("SELECT CAST(NULL AS BIGINT) AS o_orderkey"))
      .unionByName(spark.range(100000000, 100000002)
        .select(col("id").as("o_orderkey")))
    Snapshots.deleteWhere(spark, tbl, del, "o_orderkey")
    Snapshots.deleteWhere(spark, tbl, del, "o_orderkey")
    val n = Snapshots.readMor(spark, tbl).count()
    assert(n === orders.filter(!col("o_orderkey").between(1, 10)).count())
  }

  test("upsertMor replaces old copies and inserts new keys in ONE version") {
    val tbl = freshTable("ups")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val n0 = orders.count()
    // update keys 1-10 (price -> -1), insert brand-new key 9000001
    val batch = orders.filter(col("o_orderkey").between(1, 10))
      .withColumn("o_totalprice", lit(-1.0))
      .unionByName(orders.limit(1)
        .withColumn("o_orderkey", lit(9000001L))
        .withColumn("o_totalprice", lit(7.0)))
    val v = Snapshots.upsertMor(spark, tbl, batch, "o_orderkey")
    assert(v === 2, "one atomic version per upsert")
    val r = Snapshots.readMor(spark, tbl)
    val nOld = orders.filter(col("o_orderkey").between(1, 10)).count()
    assert(r.count() === n0 - nOld + batch.count())
    assert(r.filter(col("o_orderkey").between(1, 10) &&
      col("o_totalprice") =!= -1.0).count() === 0)
    assert(r.filter(col("o_orderkey") === 9000001L).count() === 1)
    // a second upsert over the same keys wins again
    val batch2 = batch.withColumn("o_totalprice", lit(-2.0))
    Snapshots.upsertMor(spark, tbl, batch2, "o_orderkey")
    val r2 = Snapshots.readMor(spark, tbl)
    assert(r2.filter(col("o_orderkey").between(1, 10) &&
      col("o_totalprice") =!= -2.0).count() === 0)
    assert(r2.count() === r.count())
    // compact, then every normal reader agrees
    Snapshots.compactMor(spark, tbl)
    assert(Snapshots.read(spark, tbl).collect().map(_.toString).sorted.toSeq
      === r2.collect().map(_.toString).sorted.toSeq)
  }

  test("upsertMor rejects a mismatched batch schema") {
    val tbl = freshTable("upsbad")
    Snapshots.commit(orders, tbl)
    val e = intercept[IllegalArgumentException] {
      Snapshots.upsertMor(spark, tbl,
        orders.limit(1).drop("o_orderdate"), "o_orderkey")
    }
    assert(e.getMessage.contains("must match table columns"))
  }

  test("deleteWhere composes with clone divergence") {
    val src = freshTable("clsrc")
    Snapshots.commit(orders, src, statsCols = Seq("o_orderkey"))
    val dst = freshTable("cldst")
    Snapshots.cloneTable(spark, src, dst)
    Snapshots.deleteWhere(spark, dst,
      spark.range(1, 51).select(col("id").as("o_orderkey")), "o_orderkey")
    assert(Snapshots.readMor(spark, dst).count() ===
      orders.filter(!col("o_orderkey").between(1, 50)).count())
    assert(Snapshots.read(spark, src).count() === orders.count())
  }
}
