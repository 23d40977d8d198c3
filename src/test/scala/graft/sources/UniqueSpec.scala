package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** UNIQUE key constraints ([[Snapshots.addUnique]]): primary-key
  * enforcement with envelope-pruned collision checks.
  */
class UniqueSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"))
    .groupBy("o_orderkey")
    .agg(first(col("o_totalprice")).as("o_totalprice")) // distinct keys

  test("append collisions and in-batch duplicates are rejected") {
    val tbl = freshTable("basic")
    Snapshots.commit(orders.filter(col("o_orderkey") < 500), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    // colliding append
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.commit(orders.filter(col("o_orderkey") < 10), tbl,
        statsCols = Seq("o_orderkey"))
    }
    assert(e1.getMessage.contains("already present"))
    // in-batch duplicate
    val dup = orders.filter(col("o_orderkey") === 900)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commit(dup.unionByName(dup), tbl,
        statsCols = Seq("o_orderkey"))
    }
    assert(e2.getMessage.contains("duplicate keys in the batch"))
    // disjoint append lands, constraint inherited
    Snapshots.commit(orders.filter(col("o_orderkey") >= 500 &&
      col("o_orderkey") < 600), tbl, statsCols = Seq("o_orderkey"))
    assert(Snapshots.uniqueKeys(spark, tbl) === Seq("o_orderkey"))
  }

  test("addUnique refuses a table that already duplicates the key") {
    val tbl = freshTable("dups")
    val d = orders.filter(col("o_orderkey") < 50)
    Snapshots.commit(d.unionByName(d), tbl)
    val e = intercept[IllegalArgumentException] {
      Snapshots.addUnique(spark, tbl, "o_orderkey")
    }
    assert(e.getMessage.contains("deduplicate first"))
  }

  test("delete frees the key for re-insert; upsert replaces freely") {
    val tbl = freshTable("redo")
    Snapshots.commit(orders.filter(col("o_orderkey") < 300), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    // upsert of an existing key is its contract — allowed
    Snapshots.upsertMor(spark, tbl,
      orders.filter(col("o_orderkey") === 7)
        .withColumn("o_totalprice", lit(-1.0)), "o_orderkey")
    // but an upsert batch duplicating a key internally is not
    val dup = orders.filter(col("o_orderkey") === 8)
    intercept[IllegalArgumentException] {
      Snapshots.upsertMor(spark, tbl, dup.unionByName(dup), "o_orderkey")
    }
    // deleting a key makes a later plain append of it legal — the
    // collision check reads the MOR-visible rows, not raw files
    Snapshots.deleteWhere(spark, tbl,
      spark.range(20, 30).select(col("id").as("o_orderkey")), "o_orderkey")
    Snapshots.commit(orders.filter(col("o_orderkey").between(20, 29)), tbl,
      statsCols = Seq("o_orderkey"))
    assert(Snapshots.read(spark, tbl).count() === 300)
  }

  test("multiple NULL keys are allowed (SQL UNIQUE semantics)") {
    val tbl = freshTable("nulls")
    val base = orders.filter(col("o_orderkey") < 100)
    Snapshots.commit(base, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    val nulls = base.limit(3)
      .withColumn("o_orderkey", lit(null).cast("long"))
    Snapshots.commit(nulls, tbl)
    Snapshots.commit(nulls, tbl)
    assert(Snapshots.read(spark, tbl)
      .filter(col("o_orderkey").isNull).count() === 6)
  }

  test("string keys: distinct add passes, collisions caught uncast") {
    val tbl = freshTable("str")
    // numeric-looking STRING keys plus genuinely alphabetic ones — the
    // type path that used to cast to long (nulling every non-numeric
    // key) and so false-rejected valid adds and silently missed
    // collisions
    val base = orders.filter(col("o_orderkey") < 200)
      .select(col("o_orderkey").cast("string").as("cust_id"),
        col("o_totalprice"))
      .unionByName(spark.range(1).select(lit("abc").as("cust_id"),
        lit(9.99).as("o_totalprice")))
    Snapshots.commit(base, tbl, strStatsCols = Seq("cust_id"))
    Snapshots.addUnique(spark, tbl, "cust_id") // used to false-reject
    assert(Snapshots.uniqueKeys(spark, tbl) === Seq("cust_id"))
    // a non-numeric duplicate key must trip the collision check (used
    // to silently land: cast NULL never join-matched)
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.commit(spark.range(1).select(lit("abc").as("cust_id"),
        lit(1.0).as("o_totalprice")), tbl)
    }
    assert(e1.getMessage.contains("already present"))
    // a numeric-string duplicate trips too, and an in-batch alphabetic
    // duplicate is caught
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark.range(1).select(lit("7").as("cust_id"),
        lit(1.0).as("o_totalprice")), tbl)
    }
    val dup = spark.range(2).select(lit("zzz").as("cust_id"),
      lit(1.0).as("o_totalprice"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commit(dup, tbl)
    }
    assert(e2.getMessage.contains("duplicate keys in the batch"))
    // disjoint string keys land; constraint inherited
    Snapshots.commit(spark.range(1).select(lit("xyz").as("cust_id"),
      lit(2.0).as("o_totalprice")), tbl)
    assert(Snapshots.read(spark, tbl).count() === base.count() + 1)
  }

  test("composite keys: (order, line) pairs enforced as a tuple") {
    val tbl = freshTable("pair")
    // the synthetic lineitem duplicates some (order, line) pairs —
    // collapse to one row per pair so the constraint can be declared
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(first(col("l_quantity")).as("l_quantity"))
    Snapshots.commit(li.filter(col("l_orderkey") < 500), tbl,
      statsCols = Seq("l_orderkey"))
    // l_orderkey alone duplicates — single-col add refuses, pair passes
    intercept[IllegalArgumentException] {
      Snapshots.addUnique(spark, tbl, "l_orderkey")
    }
    Snapshots.addUnique(spark, tbl, Seq("l_orderkey", "l_linenumber"))
    assert(Snapshots.uniqueKeySets(spark, tbl) ===
      Seq(Seq("l_orderkey", "l_linenumber")))
    // an existing pair collides; the same order with a NEW line number
    // does not (the tuple is the key, not the leading column)
    val one = li.filter(col("l_orderkey") === 3 && col("l_linenumber") === 2)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(one, tbl)
    }
    assert(e.getMessage.contains("l_orderkey,l_linenumber"))
    Snapshots.commit(one.withColumn("l_linenumber", lit(99)), tbl)
    // in-batch duplicate pair rejected; distinct pairs in one batch fine
    intercept[IllegalArgumentException] {
      Snapshots.commit(one.withColumn("l_linenumber", lit(98))
        .unionByName(one.withColumn("l_linenumber", lit(98))), tbl)
    }
    // a row with ANY null key column does not participate (SQL UNIQUE)
    val nulls = one.withColumn("l_linenumber", lit(null).cast("int"))
    Snapshots.commit(nulls, tbl)
    Snapshots.commit(nulls, tbl)
    assert(Snapshots.read(spark, tbl)
      .filter(col("l_linenumber").isNull).count() === 2)
    // dropUnique by the same column list
    Snapshots.dropUnique(spark, tbl, Seq("l_orderkey", "l_linenumber"))
    assert(Snapshots.uniqueKeySets(spark, tbl).isEmpty)
    Snapshots.commit(one, tbl) // now legal
  }

  test("addUnique refuses non-integral, non-string key types") {
    val tbl = freshTable("typed")
    Snapshots.commit(orders.filter(col("o_orderkey") < 50), tbl)
    val e = intercept[RuntimeException] {
      Snapshots.addUnique(spark, tbl, "o_totalprice") // double
    }
    assert(e.getMessage.contains("integral or string"))
    intercept[RuntimeException] {
      Snapshots.addUnique(spark, tbl, "no_such_col")
    }
  }

  test("a UNIQUE constraint added after an append planned aborts it") {
    val tbl = freshTable("race")
    Snapshots.commit(orders.filter(col("o_orderkey") < 100), tbl,
      statsCols = Seq("o_orderkey"))
    // the racing append duplicates an existing key; its collision check
    // ran while the table had NO constraint, and addUnique lands before
    // its manifest create — the unpinned auto-rebase used to let the
    // duplicate through despite the now-declared constraint
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(orders.filter(col("o_orderkey") === 5), tbl,
        planHook = () => { Snapshots.addUnique(spark, tbl, "o_orderkey"); () })
    }
    assert(e.getMessage.contains("UNIQUE constraint was added"))
    assert(Snapshots.read(spark, tbl)
      .filter(col("o_orderkey") === 5).count() === 1, "no duplicate landed")
  }

  test("commit auto-records key envelopes for the collision pruning") {
    val tbl = freshTable("auto")
    Snapshots.commit(orders.filter(col("o_orderkey") < 100), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    // append WITHOUT statsCols: the key envelope must still be recorded
    Snapshots.commit(orders.filter(col("o_orderkey").between(100, 150)), tbl)
    val v = Snapshots.latestVersion(spark, tbl)
    val fresh = Snapshots.manifest(spark, tbl, v).filter(_.seq == v)
    assert(fresh.nonEmpty && fresh.forall(_.stats.contains("o_orderkey")))
  }

  test("collision scan prunes parent files by the batch key envelope") {
    val tbl = freshTable("prune")
    Snapshots.commit(orders.repartitionByRange(4, col("o_orderkey")), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    val nFiles = Snapshots.manifest(spark, tbl, 1)
      .count(e => !Snapshots.isTombstone(e.path))
    assert(nFiles >= 3)
    // a low-envelope batch of NEW keys: only low-key files are read.
    // Proxy assertion: the disjoint append succeeds (correctness) and a
    // colliding low-key batch still trips (the pruned set suffices).
    val shifted = orders.filter(col("o_orderkey") < 10)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000)
    Snapshots.commit(shifted, tbl, statsCols = Seq("o_orderkey"))
    intercept[IllegalArgumentException] {
      Snapshots.commit(orders.filter(col("o_orderkey") < 5), tbl)
    }
  }
}
