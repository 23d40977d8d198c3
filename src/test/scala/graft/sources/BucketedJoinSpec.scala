package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Storage-co-partitioned (shuffle-free) joins over bucketed snapshot
  * versions: [[Snapshots.commitBucketed]] + [[Snapshots.registerBucketed]].
  *
  * The headline 100 TB property: an equi-join of two tables bucketed
  * identically on the join key plans with ZERO shuffle Exchange on either
  * side — each of the N join tasks reads bucket i of both sides. The
  * negative half matters just as much: mismatched bucket counts must fall
  * back to an ordinary shuffled join and stay CORRECT.
  */
class BucketedJoinSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private def lines = spark.read.parquet(s"$sf001/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  private def shuffles(plan: String): Int =
    "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(plan).length

  test("co-bucketed join: ZERO Exchange on either side, content exact") {
    val to = freshTable("co_o"); val tl = freshTable("co_l")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8)
    Snapshots.commitBucketed(lines, tl, "l_orderkey", 8)
    assert(Snapshots.bucketSpec(spark, to) === Some(("o_orderkey", 8)))
    Snapshots.registerBucketed(spark, to, "bkt_co_orders")
    Snapshots.registerBucketed(spark, tl, "bkt_co_lines")
    val joined = spark.table("bkt_co_orders").hint("merge")
      .join(spark.table("bkt_co_lines"),
        col("o_orderkey") === col("l_orderkey"))
    val plan = executedPlan(joined)
    assert(shuffles(plan) === 0, s"expected shuffle-free plan, got:\n$plan")
    assert(plan.contains("SortMergeJoin"), plan)
    // exactness: same rows as the plain (shuffled) join of the sources
    val expected = orders.join(lines,
      col("o_orderkey") === col("l_orderkey")).count()
    assert(joined.count() === expected && expected > 0)
  }

  test("mismatched bucket counts fall back to shuffle and stay correct") {
    val to = freshTable("mm_o"); val tl = freshTable("mm_l")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8)
    Snapshots.commitBucketed(lines, tl, "l_orderkey", 4)
    Snapshots.registerBucketed(spark, to, "bkt_mm_orders")
    Snapshots.registerBucketed(spark, tl, "bkt_mm_lines")
    val joined = spark.table("bkt_mm_orders").hint("merge")
      .join(spark.table("bkt_mm_lines"),
        col("o_orderkey") === col("l_orderkey"))
    val plan = executedPlan(joined)
    assert(shuffles(plan) > 0,
      s"mismatched buckets should shuffle at least one side:\n$plan")
    val expected = orders.join(lines,
      col("o_orderkey") === col("l_orderkey")).count()
    assert(joined.count() === expected)
  }

  test("coalesceBucketsInJoin joins 8↔4 buckets shuffle-free when enabled") {
    val to = freshTable("cb_o"); val tl = freshTable("cb_l")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8)
    Snapshots.commitBucketed(lines, tl, "l_orderkey", 4)
    Snapshots.registerBucketed(spark, to, "bkt_cb_orders")
    Snapshots.registerBucketed(spark, tl, "bkt_cb_lines")
    val conf = "spark.sql.bucketing.coalesceBucketsInJoin.enabled"
    val prev = spark.conf.get(conf, "false")
    try {
      spark.conf.set(conf, "true")
      // divisible bucket counts: Spark reads the 8-bucket side as 4
      // coalesced buckets instead of shuffling either side — the
      // mismatched-layout escape hatch that still avoids the Exchange
      val joined = spark.table("bkt_cb_orders").hint("merge")
        .join(spark.table("bkt_cb_lines"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = executedPlan(joined)
      assert(shuffles(plan) === 0,
        s"divisible bucket counts should coalesce, not shuffle:\n$plan")
      val expected = orders.join(lines,
        col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set(conf, prev)
  }

  test("bucket-aligned aggregation needs no Exchange either") {
    val to = freshTable("agg")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8)
    Snapshots.registerBucketed(spark, to, "bkt_agg_orders")
    val agg = spark.table("bkt_agg_orders")
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    val plan = executedPlan(agg)
    assert(shuffles(plan) === 0, s"groupBy on the bucket key should reuse " +
      s"the storage partitioning:\n$plan")
    assert(agg.count() === orders.select(col("o_orderkey")).distinct().count())
  }

  test("commitBucketed writes one file per bucket with stats intact") {
    val to = freshTable("files")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8,
      statsCols = Seq("o_orderkey"))
    val entries = Snapshots.manifest(spark, to, 1)
    assert(entries.size <= 8) // empty buckets write no file
    assert(entries.map(_.rows).sum === orders.count())
    assert(entries.forall(_.stats.contains("o_orderkey")))
    // time travel / plain reads still work on a bucketed version
    assert(Snapshots.read(spark, to).count() === orders.count())
  }

  test("merge breaks the layout claim; rebucket restores it, content intact") {
    val tbl = freshTable("rebucket")
    Snapshots.commitBucketed(orders, tbl, "o_orderkey", 8,
      statsCols = Seq("o_orderkey"))
    // a row-level merge rewrites files into a NEW batch dir → the
    // single-dir bucketed claim no longer holds and registration refuses
    val upd = orders.filter(col("o_orderkey") <= 10)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val del = spark.range(0).selectExpr("id AS o_orderkey")
    Snapshots.merge(spark, tbl, upd, del, "o_orderkey")
    intercept[RuntimeException] {
      Snapshots.registerBucketed(spark, tbl, "bkt_broken")
    }
    // rebucket inherits the spec from history and restores the layout
    val v = Snapshots.rebucket(spark, tbl)
    assert(Snapshots.bucketSpec(spark, tbl, Some(v)) ===
      Some(("o_orderkey", 8)))
    Snapshots.registerBucketed(spark, tbl, "bkt_restored")
    val t = spark.table("bkt_restored")
    assert(t.count() === orders.count())
    // merged content survived the rebucket
    val orig = orders.filter(col("o_orderkey") === 10)
      .head().getAs[Double]("o_totalprice")
    assert(t.filter(col("o_orderkey") === 10)
      .head().getAs[Double]("o_totalprice") === orig * 2)
    // and the bucket-key join is shuffle-free again
    val agg = t.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    assert(shuffles(executedPlan(agg)) === 0)
  }

  test("registerBucketed rejects unbucketed and multi-batch versions") {
    val plain = freshTable("plain")
    Snapshots.commit(orders, plain)
    intercept[RuntimeException] {
      Snapshots.registerBucketed(spark, plain, "bkt_reject")
    }
    // a plain append on top of a bucketed version breaks the layout claim
    val tbl = freshTable("appended")
    Snapshots.commitBucketed(orders, tbl, "o_orderkey", 4)
    Snapshots.commit(orders.limit(5), tbl) // append: second batch dir
    // the appended version carries no bucket props (commit() writes none),
    // so the register fails on the missing spec — loudly, not mis-aligned
    intercept[RuntimeException] {
      Snapshots.registerBucketed(spark, tbl, "bkt_reject2")
    }
    // but the bucketed VERSION is still registrable by number
    Snapshots.registerBucketed(spark, tbl, "bkt_v1", Some(1))
    assert(spark.table("bkt_v1").count() === orders.count())
  }
}
