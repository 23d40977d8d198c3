package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class CloneSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))

  private def fs(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("clone is metadata-only and reads identically to the source") {
    val src = freshTable("src")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), src,
      statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey") > 800), src,
      statsCols = Seq("o_orderkey"))
    val dst = freshTable("dst")
    val v = Snapshots.cloneTable(spark, src, dst)
    assert(v === 1)
    // zero copy: the clone owns NO data files, just one manifest
    assert(!fs(dst).exists(new Path(dst, "data")))
    assert(canon(Snapshots.read(spark, dst)) === canon(Snapshots.read(spark, src)))
    // stats carried: pruned scans work on the clone
    val c = IndexedCount.of(spark, dst, col("o_orderkey").between(1L, 100L))
    assert(c.rows === orders.filter(col("o_orderkey").between(1, 100)).count())
    assert(c.skipped > 0, s"clone lost its envelopes: $c")
  }

  test("clone of a historical version time-travels the source") {
    val src = freshTable("hist")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), src)
    Snapshots.commit(orders.filter(col("o_orderkey") > 800), src)
    val dst = freshTable("histdst")
    Snapshots.cloneTable(spark, src, dst, version = Some(1))
    assert(canon(Snapshots.read(spark, dst)) ===
      canon(Snapshots.read(spark, src, Some(1))))
  }

  test("clone and source diverge independently after the clone") {
    val src = freshTable("div")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), src,
      statsCols = Seq("o_orderkey"))
    val dst = freshTable("divdst")
    Snapshots.cloneTable(spark, src, dst)
    val srcBefore = canon(Snapshots.read(spark, src))

    // append to the clone: new file lands under the CLONE's root
    Snapshots.commit(orders.filter(col("o_orderkey") > 800), dst,
      statsCols = Seq("o_orderkey"))
    assert(canon(Snapshots.read(spark, dst)) === canon(orders))
    assert(canon(Snapshots.read(spark, src)) === srcBefore)
    assert(fs(dst).exists(new Path(dst, "data")))

    // merge on the clone rewrites borrowed files INTO the clone's root;
    // the source's bytes and row content are untouched
    val upd = orders.filter(col("o_orderkey") <= 10)
      .withColumn("o_totalprice", lit(1.0))
    val del = spark.range(11, 15).select(col("id").as("o_orderkey"))
    Snapshots.merge(spark, dst, upd, del, "o_orderkey")
    val merged = Snapshots.read(spark, dst)
    assert(merged.filter(col("o_orderkey") <= 10 &&
      col("o_totalprice") === 1.0).count() === upd.count())
    assert(merged.filter(col("o_orderkey") <= 10 &&
      col("o_totalprice") =!= 1.0).count() === 0)
    assert(merged.filter(col("o_orderkey").between(11, 14)).count() === 0)
    assert(canon(Snapshots.read(spark, src)) === srcBefore)

    // append to the SOURCE after cloning: the clone must not see it
    Snapshots.commit(orders.limit(5), src)
    assert(merged.count() === Snapshots.read(spark, dst).count())
  }

  test("compaction localizes a clone: no borrowed paths remain") {
    val src = freshTable("loc")
    Snapshots.commit(orders, src)
    val dst = freshTable("locdst")
    Snapshots.cloneTable(spark, src, dst)
    assert(Snapshots.manifest(spark, dst, 1)
      .forall(e => new Path(e.path).isAbsolute))
    val v2 = Snapshots.compactVersion(spark, dst)
    val after = Snapshots.manifest(spark, dst, v2)
    assert(after.forall(e => !new Path(e.path).isAbsolute),
      s"compaction must rewrite borrowed entries into the clone: $after")
    assert(canon(Snapshots.read(spark, dst)) === canon(Snapshots.read(spark, src)))
    // a fully-localized clone survives the source being vacuumed away
    fs(src).delete(new Path(src), true)
    assert(canon(Snapshots.read(spark, dst)) === canon(orders))
  }

  test("clone vacuum never touches the source's files") {
    val src = freshTable("vac")
    Snapshots.commit(orders, src)
    val dst = freshTable("vacdst")
    Snapshots.cloneTable(spark, src, dst)
    Snapshots.compactVersion(spark, dst) // v2: clone-local files
    val deleted = Snapshots.vacuum(spark, dst, keepLast = 1)
    // vacuum only lists under the clone's own root — borrowed source
    // files are structurally out of reach
    assert(deleted.forall(p => !new Path(p).isAbsolute))
    assert(canon(Snapshots.read(spark, src)) === canon(orders))
  }

  test("clone of a masked version is refused until compactMor") {
    import spark.implicits._
    val src = freshTable("masked")
    Snapshots.commit((1L to 10L).map(k => (k, k * 10)).toDF("k", "v"), src)
    val masked = Snapshots.deleteWhere(spark, src, Seq(4L).toDF("k"), "k")
    assert(Snapshots.read(spark, src).count() === 9)
    val dst = freshTable("maskeddst")
    val e = intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, dst)
    }
    assert(e.getMessage.contains(
      s"version $masked of $src carries merge-on-read masks — run compactMor first"))
    assert(Snapshots.versions(spark, dst).isEmpty)
    Snapshots.compactMor(spark, src)
    Snapshots.cloneTable(spark, src, dst)
    assert(canon(Snapshots.read(spark, dst)) === canon(Snapshots.read(spark, src)))
    assert(Snapshots.read(spark, dst).count() === 9)
  }

  test("clone into an existing table is refused") {
    val src = freshTable("ref")
    Snapshots.commit(orders.limit(10), src)
    val dst = freshTable("refdst")
    Snapshots.commit(orders.limit(5), dst)
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, dst)
    }
  }
}
