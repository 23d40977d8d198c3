package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ResultCacheSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("second identical query is served from the cache, bit-equal") {
    val tbl = freshTable("hit")
    Snapshots.commit(orders, tbl)
    val cache = tempDir("hitc")
    def q = Snapshots.read(spark, tbl).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    assert(!ResultCache.isCached(q, cache, Seq(tbl)))
    val first = ResultCache.cached(q, cache, Seq(tbl))
    val expect = canon(first)
    assert(ResultCache.isCached(q, cache, Seq(tbl)))
    // a RE-BUILT identical query (fresh exprIds) must hit the same entry
    val second = ResultCache.cached(q, cache, Seq(tbl))
    assert(second.inputFiles.forall(_.contains(new java.io.File(cache).getName)),
      s"must read from the cache: ${second.inputFiles.toSeq}")
    assert(canon(second) === expect)
    // exactly one entry was published
    val fs = new Path(cache).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(cache))
      .count(_.getPath.getName.startsWith("k")) === 1)
  }

  test("a new dependency version changes the key and recomputes") {
    val tbl = freshTable("inv")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 800), tbl)
    val cache = tempDir("invc")
    def q = Snapshots.read(spark, tbl).agg(count(lit(1)).as("n"))
    val v1 = ResultCache.cached(q, cache, Seq(tbl)).head().getLong(0)
    Snapshots.commit(orders.filter(col("o_orderkey") > 800), tbl)
    // stale entry must not serve the new version
    def q2 = Snapshots.read(spark, tbl).agg(count(lit(1)).as("n"))
    assert(!ResultCache.isCached(q2, cache, Seq(tbl)))
    val v2 = ResultCache.cached(q2, cache, Seq(tbl)).head().getLong(0)
    assert(v1 === orders.filter(col("o_orderkey") <= 800).count())
    assert(v2 === orders.count())
  }

  test("different queries and different tables never share an entry") {
    val tblA = freshTable("a")
    val tblB = freshTable("b")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 700), tblA)
    Snapshots.commit(orders.filter(col("o_orderkey") > 700), tblB)
    val cache = tempDir("abc")
    def qa = Snapshots.read(spark, tblA).agg(count(lit(1)).as("n"))
    def qb = Snapshots.read(spark, tblB).agg(count(lit(1)).as("n"))
    val na = ResultCache.cached(qa, cache, Seq(tblA)).head().getLong(0)
    val nb = ResultCache.cached(qb, cache, Seq(tblB)).head().getLong(0)
    assert(na === orders.filter(col("o_orderkey") <= 700).count())
    assert(nb === orders.filter(col("o_orderkey") > 700).count())
  }

  test("plain-directory dependencies sign by file listing") {
    val dir = tempDir("plain") + "/d"
    orders.limit(100).write.parquet(dir)
    val s1 = ResultCache.depSignature(spark, dir)
    assert(s1 === ResultCache.depSignature(spark, dir))
    Thread.sleep(5) // mtime resolution
    orders.limit(50).write.mode("overwrite").parquet(dir)
    assert(ResultCache.depSignature(spark, dir) !== s1)
  }

  test("prune reclaims old entries; fresh ones survive") {
    val tbl = freshTable("pr")
    Snapshots.commit(orders.limit(10), tbl)
    val cache = tempDir("prc")
    def q = Snapshots.read(spark, tbl).agg(count(lit(1)).as("n"))
    ResultCache.cached(q, cache, Seq(tbl))
    assert(ResultCache.prune(spark, cache, olderThanMs = 3600000).isEmpty)
    val deleted = ResultCache.prune(spark, cache, olderThanMs = -1000)
    assert(deleted.nonEmpty)
    assert(!ResultCache.isCached(q, cache, Seq(tbl)))
    // and a re-run simply recomputes
    assert(ResultCache.cached(q, cache, Seq(tbl)).head().getLong(0) === 10)
  }
}
