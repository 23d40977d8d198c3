package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Position delete vectors ([[Snapshots.deleteVector]]) and the atomic
  * MOR update riding them ([[Snapshots.updateWhere]]): row-exact deletes
  * by arbitrary predicate, no key column, no data-file rewrite.
  */
class DeletionVectorSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** The table's row count through the metadata-aggregate rule
    * ([[graft.plans.MetaAgg]]), and whether it answered from metadata.
    */
  private def metaCount(tbl: String): (Long, Boolean) = {
    graft.plans.MetaAgg.enable(spark, tbl)
    val q = Snapshots.readIndexed(spark, tbl)._1.agg(count(lit(1)))
    (q.head().getLong(0), q.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet

  test("deleteVector removes exactly the predicate's rows — non-key " +
      "predicate, no key column declared, data files untouched") {
    val tbl = freshTable("basic")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val before = Snapshots.read(spark, tbl).count()
    val filesBefore = Snapshots.manifest(spark, tbl, 1).map(_.path).toSet
    val v = Snapshots.deleteVector(spark, tbl,
      col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
    assert(v === 2)
    // every parent data file carried verbatim; one dv- file added
    val m2 = Snapshots.manifest(spark, tbl, 2)
    assert(filesBefore.subsetOf(m2.map(_.path).toSet))
    val added = m2.filterNot(e => filesBefore(e.path))
    assert(added.size === 1 && Snapshots.isDv(added.head.path))
    val got = Snapshots.read(spark, tbl)
    val expect = orders.filter(!(col("o_orderstatus") === "F" &&
      col("o_totalprice") > 150000.0))
    assert(got.count() < before)
    assert(rows(got) === rows(expect))
    // time travel: v1 still reads the full table
    assert(Snapshots.read(spark, tbl, Some(1)).count() === before)
  }

  test("sequence ordering: an append AFTER the vector is never masked, " +
      "even at matching positions/predicates") {
    val tbl = freshTable("seq")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    Snapshots.deleteVector(spark, tbl, col("o_totalprice") > 0.0) // all
    assert(Snapshots.read(spark, tbl).count() === 0)
    val re = orders.filter(col("o_orderkey") <= 1000)
    Snapshots.commit(re, tbl)
    assert(rows(Snapshots.read(spark, tbl)) === rows(re))
  }

  test("a second vector composes; equality tombstones and vectors mix") {
    val tbl = freshTable("mix")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.deleteVector(spark, tbl, col("o_totalprice") > 200000.0)
    Snapshots.deleteWhere(spark, tbl,
      spark.range(1, 40).select(col("id").as("o_orderkey")), "o_orderkey")
    Snapshots.deleteVector(spark, tbl, col("o_orderstatus") === "P")
    val expect = orders
      .filter(!(col("o_totalprice") > 200000.0))
      .filter(!col("o_orderkey").between(1, 39))
      .filter(!(col("o_orderstatus") === "P"))
    assert(rows(Snapshots.read(spark, tbl)) === rows(expect))
  }

  test("updateWhere: one atomic commit updates matching rows in place — " +
      "count preserved, non-matching rows untouched, old values gone") {
    val tbl = freshTable("upd")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    val n = orders.count()
    val v = Snapshots.updateWhere(spark, tbl,
      col("o_orderstatus") === "O",
      Seq("o_totalprice" -> col("o_totalprice") * 0.5))
    assert(v === 2)
    val got = Snapshots.read(spark, tbl)
    assert(got.count() === n)
    val expect = orders.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") * 0.5)
        .otherwise(col("o_totalprice")))
    assert(rows(got) === rows(expect))
  }

  test("updateWhere refuses SET on a UNIQUE key column; CHECK " +
      "constraints run on the updated rows") {
    val tbl = freshTable("guard")
    Snapshots.commit(orders.groupBy("o_orderkey")
      .agg(first("o_orderstatus").as("o_orderstatus"),
        first("o_totalprice").as("o_totalprice")), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, tbl, col("o_orderkey") === 1,
        Seq("o_orderkey" -> lit(999999999L)))
    }
    assert(e1.getMessage.contains("UNIQUE"))
    Snapshots.addCheck(spark, tbl, "pos_price", "o_totalprice >= 0")
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, tbl, col("o_orderkey") < 100,
        Seq("o_totalprice" -> lit(-1.0)))
    }
    assert(e2.getMessage.contains("pos_price"))
    // nothing was committed by the refused attempts:
    // v1 commit, v2 addUnique, v3 addCheck — and no more
    assert(Snapshots.latestVersion(spark, tbl) === 3)
  }

  test("changes(): a vector commit surfaces exact delete pre-images; " +
      "updateWhere surfaces delete + insert at one version") {
    val tbl = freshTable("feed")
    val o = orders.filter(col("o_orderkey") <= 2000)
    Snapshots.commit(o, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.deleteVector(spark, tbl, col("o_totalprice") > 100000.0)
    val f2 = Snapshots.changes(spark, tbl, 1, 2)
    assert(f2.filter(col("_change_type") === "insert").count() === 0)
    val delPre = f2.filter(col("_change_type") === "delete")
      .drop("_change_type", "_commit_version")
    assert(rows(delPre) === rows(o.filter(col("o_totalprice") > 100000.0)))
    Snapshots.updateWhere(spark, tbl, col("o_orderstatus") === "F",
      Seq("o_totalprice" -> lit(1.0)))
    val f3 = Snapshots.changes(spark, tbl, 2, 3)
    val visible2 = o.filter(!(col("o_totalprice") > 100000.0))
    val matched = visible2.filter(col("o_orderstatus") === "F")
    assert(rows(f3.filter(col("_change_type") === "delete")
      .drop("_change_type", "_commit_version")) === rows(matched))
    assert(rows(f3.filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version")) ===
      rows(matched.withColumn("o_totalprice", lit(1.0))))
  }

  test("compactMor materializes vectors back to pure data; metadata " +
      "aggregates and the indexed read refuse while vectors exist") {
    val tbl = freshTable("mat")
    Snapshots.commit(orders, tbl, statsCols = Seq("o_orderkey"))
    Snapshots.deleteVector(spark, tbl, col("o_totalprice") > 150000.0)
    val e1 = intercept[IllegalArgumentException](metaCount(tbl))
    assert(e1.getMessage.contains("merge-on-read"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.readIndexed(spark, tbl)
    }
    assert(e2.getMessage.contains("merge-on-read"))
    // read subtracts the vector above an index slice
    val beforeRows = rows(Snapshots.read(spark, tbl))
    assert(beforeRows === rows(orders.filter(col("o_totalprice") <= 150000.0)))
    val v = Snapshots.compactMor(spark, tbl)
    assert(rows(Snapshots.read(spark, tbl, Some(v))) === beforeRows)
    // post-compaction, the metadata count answers again and exactly
    assert(metaCount(tbl) === ((beforeRows.size.toLong, true)))
  }

  test("replication and branch merge refuse vector commits loudly " +
      "(positions name the source's physical files)") {
    val tbl = freshTable("repl")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 500), tbl,
      statsCols = Seq("o_orderkey"))
    val dst = freshTable("repldst")
    Replication.sync(spark, tbl, dst, "o_orderkey")
    Snapshots.deleteVector(spark, tbl, col("o_totalprice") > 100000.0)
    val e = intercept[IllegalArgumentException] {
      Replication.sync(spark, tbl, dst, "o_orderkey")
    }
    assert(e.getMessage.contains("position delete vector"))
  }

  test("zero-match deleteVector/updateWhere are NO-OPS (no mask commit " +
      "degrading the metadata fast paths); a type-changing SET stays " +
      "readable under the recorded schema") {
    import spark.implicits._
    val tbl = freshTable("noop")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "n"), tbl,
      statsCols = Seq("k"))
    assert(Snapshots.deleteVector(spark, tbl, col("n") > 1000L) === 1)
    assert(Snapshots.updateWhere(spark, tbl, col("n") > 1000L,
      Seq("n" -> (col("n") + 1))) === 1)
    // still mask-free: the metadata aggregate answers
    assert(metaCount(tbl) === ((2L, true)))
    // long / 2 is a DOUBLE in Spark — the rewritten rows must cast back
    // to the recorded long schema or every later read would fail
    Snapshots.updateWhere(spark, tbl, col("k") === 1L,
      Seq("n" -> (col("n") / 2)))
    assert(Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 5L), (2L, 20L)))
  }

  test("DV commits pin their planned parent: a concurrent commit between " +
      "position planning and publish aborts loudly — two racing " +
      "updateWhere on the same row cannot silently duplicate it") {
    import spark.implicits._
    val tbl = freshTable("race")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "n"),
      tbl, statsCols = Seq("k"))
    // racing updateWhere targeting the SAME row: each would add its own
    // rewritten copy while both DVs mask only the original position — a
    // liveness check on file names passes both; the parent pin must not
    val e = intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, tbl, col("k") === 1L,
        Seq("n" -> lit(100L)),
        planHook = () => {
          Snapshots.updateWhere(spark, tbl, col("k") === 1L,
            Seq("n" -> lit(200L)))
          ()
        })
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the inner winner's update is visible EXACTLY once
    val got = Snapshots.read(spark, tbl).filter(col("k") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 200L)))
    // deleteVector pins too: even a plain append (which rewrites no
    // referenced file) aborts the vector — its rows were never matched
    // against the predicate
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.deleteVector(spark, tbl, col("k") === 2L,
        planHook = () => {
          Snapshots.commit(Seq((9L, 90L)).toDF("k", "n"), tbl)
          ()
        })
    }
    assert(e2.getMessage.contains("concurrent commit"))
    assert(Snapshots.read(spark, tbl).count() === 4) // nothing deleted
  }
}
