package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucket-aligned copy-on-write MERGE ([[Snapshots.mergeBucketed]]) and
  * the catalog-free bucket-aware reader ([[Snapshots.readBucketed]]).
  *
  * The 100 TB contract under test: a merge keyed on the bucket column
  * rewrites ONLY the buckets holding affected keys (cost =
  * touched/N of the table, not a full rebucket), and the resulting
  * version — though it now spans batch dirs — still joins with ZERO
  * Exchange because the reader rebuilds the bucket spec over exactly
  * the manifest's file list.
  */
class BucketedMergeSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private def lines = spark.read.parquet(s"$sf001/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  private def shuffles(plan: String): Int =
    "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(plan).length

  private def sorts(plan: String): Int =
    "(?m)^\\s*[:+]?-? *\\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(plan).length

  test("mergeBucketed rewrites only touched buckets, content exact") {
    val tbl = freshTable("cow")
    Snapshots.commitBucketed(orders, tbl, "o_orderkey", 8,
      statsCols = Seq("o_orderkey"))
    val before = Snapshots.manifest(spark, tbl, 1)
    // upsert two existing keys + one new key, delete one key — at most
    // 4 distinct buckets touched, so ≥ 4 of the 8 files must be carried
    val upd = orders.filter(col("o_orderkey").isin(1, 2))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(orders.limit(1)
        .withColumn("o_orderkey", lit(999999999L))
        .withColumn("o_totalprice", lit(42.0)))
    val del = spark.range(1).selectExpr("7L AS o_orderkey")
    val r = Snapshots.mergeBucketed(spark, tbl, upd, del, "o_orderkey")
    assert(r.filesRewritten <= 4 && r.filesRewritten >= 1, r.toString)
    assert(r.filesCarried === before.size - r.filesRewritten)
    // carried files are byte-identical entries of the parent manifest
    val after = Snapshots.manifest(spark, tbl, r.version)
    val beforePaths = before.map(_.path).toSet
    assert(after.count(e => beforePaths.contains(e.path)) === r.filesCarried)
    // content ≡ the set-based merge semantics
    val got = Snapshots.read(spark, tbl, Some(r.version))
    val expect = orders.filter(!col("o_orderkey").isin(1, 2, 7))
      .unionByName(upd)
    assert(got.count() === expect.count())
    assert(got.filter(col("o_orderkey") === 999999999L).count() === 1)
    assert(got.filter(col("o_orderkey") === 7).count() === 0)
    assert(got.filter(col("o_orderkey") === 1)
      .head().getAs[Double]("o_totalprice") ===
      orders.filter(col("o_orderkey") === 1)
        .head().getAs[Double]("o_totalprice") * 2)
    // time travel: the pre-merge version is untouched
    assert(Snapshots.read(spark, tbl, Some(1)).count() === orders.count())
  }

  test("readBucketed after a merge: join still ZERO Exchange, rows exact") {
    val to = freshTable("rm_o"); val tl = freshTable("rm_l")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8,
      statsCols = Seq("o_orderkey"))
    Snapshots.commitBucketed(lines, tl, "l_orderkey", 8)
    val upd = orders.filter(col("o_orderkey") <= 5)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
    val del = spark.range(0).selectExpr("id AS o_orderkey")
    Snapshots.mergeBucketed(spark, to, upd, del, "o_orderkey")
    val o = Snapshots.readBucketed(spark, to)
    val l = Snapshots.readBucketed(spark, tl)
    val joined = o.hint("merge").join(l,
      col("o_orderkey") === col("l_orderkey"))
    val plan = executedPlan(joined)
    assert(shuffles(plan) === 0,
      s"merged bucketed version should still join shuffle-free:\n$plan")
    assert(plan.contains("SortMergeJoin"), plan)
    val expected = Snapshots.read(spark, to).join(lines,
      col("o_orderkey") === col("l_orderkey")).count()
    assert(joined.count() === expected && expected > 0)
  }

  test("fresh bucketed layout: merge join elides the Sort too") {
    val to = freshTable("s_o"); val tl = freshTable("s_l")
    Snapshots.commitBucketed(orders, to, "o_orderkey", 8)
    Snapshots.commitBucketed(lines, tl, "l_orderkey", 8)
    // Spark gates bucketed-scan ordering claims behind this conf (the
    // multi-file-per-bucket interleave it used to force was a bad
    // trade); readBucketed only claims sortedness when each bucket is
    // ONE sortBy-written file, where the claim is sound — opting in
    // removes the last non-scan operator from the co-bucketed join.
    val conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prev = spark.conf.get(conf, "false")
    try {
      spark.conf.set(conf, "true")
      val joined = Snapshots.readBucketed(spark, to).hint("merge")
        .join(Snapshots.readBucketed(spark, tl),
          col("o_orderkey") === col("l_orderkey"))
      val plan = executedPlan(joined)
      assert(shuffles(plan) === 0, plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(sorts(plan) === 0,
        s"sorted one-file-per-bucket layout should skip the Sort:\n$plan")
      val expected = orders.join(lines,
        col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() === expected && expected > 0)
    } finally spark.conf.set(conf, prev)
  }

  test("chained merges stay exchange-free and correct") {
    val tbl = freshTable("chain")
    Snapshots.commitBucketed(orders, tbl, "o_orderkey", 8,
      statsCols = Seq("o_orderkey"))
    val del0 = spark.range(0).selectExpr("id AS o_orderkey")
    val r1 = Snapshots.mergeBucketed(spark, tbl,
      orders.filter(col("o_orderkey") === 1)
        .withColumn("o_totalprice", lit(1.0)), del0, "o_orderkey")
    val r2 = Snapshots.mergeBucketed(spark, tbl,
      orders.filter(col("o_orderkey") === 1)
        .withColumn("o_totalprice", lit(2.0)), del0, "o_orderkey")
    assert(r2.version > r1.version)
    val cur = Snapshots.readBucketed(spark, tbl)
    assert(cur.filter(col("o_orderkey") === 1)
      .head().getAs[Double]("o_totalprice") === 2.0)
    assert(cur.count() === orders.count())
    val agg = cur.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    assert(shuffles(executedPlan(agg)) === 0)
  }

  test("mergeBucketed guards: wrong key, null keys, unbucketed table") {
    val tbl = freshTable("guard")
    Snapshots.commitBucketed(orders, tbl, "o_orderkey", 4)
    val del0 = spark.range(0).selectExpr("id AS o_orderkey")
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.mergeBucketed(spark, tbl, orders.limit(1), del0, "o_custkey")
    }
    assert(e1.getMessage.contains("bucketed on"))
    val nullKeyed = orders.limit(1)
      .withColumn("o_orderkey", lit(null).cast("long"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeBucketed(spark, tbl, nullKeyed, del0, "o_orderkey")
    }
    assert(e2.getMessage.contains("null merge keys"))
    val plain = freshTable("guard_plain")
    Snapshots.commit(orders, plain)
    intercept[RuntimeException] {
      Snapshots.mergeBucketed(spark, plain, orders.limit(1), del0,
        "o_orderkey")
    }
  }

  test("a racing commit aborts the bucketed merge loudly") {
    val tbl = freshTable("race")
    Snapshots.commitBucketed(orders, tbl, "o_orderkey", 4)
    val del0 = spark.range(0).selectExpr("id AS o_orderkey")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeBucketed(spark, tbl,
        orders.filter(col("o_orderkey") === 1), del0, "o_orderkey",
        planHook = () => { Snapshots.commit(orders.limit(1), tbl) })
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the table is unharmed: the racer's append is the latest version
    assert(Snapshots.latestVersion(spark, tbl) === 2)
    assert(Snapshots.read(spark, tbl).count() === orders.count() + 1)
  }
}
