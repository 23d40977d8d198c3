package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Metadata-only column rename ([[Snapshots.renameColumn]]): era-mapped
  * reads across rename boundaries, zero data rewrite.
  */
class RenameSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"))

  private def dataFiles(tbl: String): Set[String] = {
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(tbl, "data"), true)
    val b = Set.newBuilder[String]
    while (it.hasNext) { val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) b += s.getPath.toString }
    b.result()
  }

  test("rename is metadata-only; old files read under the new name") {
    val tbl = freshTable("basic")
    val lo = orders.filter(col("o_orderkey") < 500)
    Snapshots.commit(lo, tbl, statsCols = Seq("o_orderkey"))
    val before = dataFiles(tbl)
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")
    assert(dataFiles(tbl) === before, "no data file written")
    val r = Snapshots.read(spark, tbl)
    assert(r.columns.toSeq === Seq("o_orderkey", "price"))
    assert(r.agg(sum(col("price").cast("decimal(27,4)"))).head ===
      lo.agg(sum(col("o_totalprice").cast("decimal(27,4)"))).head,
      "values survive the mapping — not null-filled")
    // appends under the new schema union with pre-rename files
    val hi = orders.filter(col("o_orderkey") >= 500)
      .withColumnRenamed("o_totalprice", "price")
    Snapshots.commit(hi, tbl, statsCols = Seq("o_orderkey"))
    assert(Snapshots.read(spark, tbl).filter(col("price").isNull).count() === 0)
    assert(Snapshots.read(spark, tbl).count() === orders.count())
  }

  test("chained renames map three eras of files correctly") {
    val tbl = freshTable("chain")
    Snapshots.commit(orders.filter(col("o_orderkey") < 100), tbl)
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "amount")
    Snapshots.commit(orders.filter(col("o_orderkey").between(100, 199))
      .withColumnRenamed("o_totalprice", "amount"), tbl)
    Snapshots.renameColumn(spark, tbl, "amount", "price")
    Snapshots.commit(orders.filter(col("o_orderkey").between(200, 299))
      .withColumnRenamed("o_totalprice", "price"), tbl)
    val r = Snapshots.read(spark, tbl)
    assert(r.columns.toSeq === Seq("o_orderkey", "price"))
    assert(r.filter(col("price").isNull).count() === 0)
    assert(r.count() ===
      orders.filter(col("o_orderkey") < 300).count())
  }

  test("time travel to a pre-rename version shows the era's own name") {
    val tbl = freshTable("tt")
    Snapshots.commit(orders.limit(50), tbl)
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")
    assert(Snapshots.read(spark, tbl, Some(1)).columns.toSeq ===
      Seq("o_orderkey", "o_totalprice"))
    assert(Snapshots.read(spark, tbl, Some(2)).columns.toSeq ===
      Seq("o_orderkey", "price"))
  }

  test("guards: duplicate/missing names, tombstones, feed crossing") {
    val tbl = freshTable("guards")
    Snapshots.commit(orders.limit(100), tbl, statsCols = Seq("o_orderkey"))
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "o_totalprice", "o_orderkey")
    }
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 5).select(col("id").as("o_orderkey")), "o_orderkey")
    val e = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")
    }
    assert(e.getMessage.contains("compactMor"))
    Snapshots.compactMor(spark, tbl)
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")
    Snapshots.commit(orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 5000)
      .withColumnRenamed("o_totalprice", "price"), tbl)
    // the change feed refuses a range crossing the rename, allows after
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, tbl, 1, Snapshots.latestVersion(spark, tbl))
    }
    assert(e2.getMessage.contains("schema evolution"))
    val last = Snapshots.latestVersion(spark, tbl)
    assert(Snapshots.changes(spark, tbl, last - 1, last).count() === 5)
  }

  test("dropColumn is metadata-only; the name is retired forever") {
    val tbl = freshTable("drop")
    val lo = orders.filter(col("o_orderkey") < 200)
    Snapshots.commit(lo, tbl)
    val before = dataFiles(tbl)
    Snapshots.dropColumn(spark, tbl, "o_totalprice")
    assert(dataFiles(tbl) === before, "no data file written")
    assert(Snapshots.read(spark, tbl).columns.toSeq === Seq("o_orderkey"))
    // time travel keeps the wide shape
    assert(Snapshots.read(spark, tbl, Some(1)).columns.toSeq ===
      Seq("o_orderkey", "o_totalprice"))
    // re-adding the dropped name would resurrect old values — refused
    // on both the commit and rename paths
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(lo
        .withColumn("o_orderkey", col("o_orderkey") + 7000), tbl)
    }
    assert(e.getMessage.contains("resurrect"))
    Snapshots.commit(lo.select(col("o_orderkey") + 7000 as "o_orderkey"), tbl)
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "o_orderkey", "o_totalprice")
    }
  }

  test("rename/drop refuse columns a constraint references; drop refuses tombstones") {
    val tbl = freshTable("constr")
    Snapshots.commit(orders.limit(100), tbl, statsCols = Seq("o_orderkey"))
    Snapshots.addCheck(spark, tbl, "pos", "o_totalprice > 0")
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    // CHECK references o_totalprice → neither rename nor drop may touch it
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")
    }
    assert(e1.getMessage.contains("CHECK"))
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, tbl, "o_totalprice")
    }
    // UNIQUE on o_orderkey → same refusal
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "o_orderkey", "id")
    }
    assert(e2.getMessage.contains("UNIQUE"))
    // after dropping the constraints, evolution proceeds
    Snapshots.dropCheck(spark, tbl, "pos")
    Snapshots.dropUnique(spark, tbl, "o_orderkey")
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")
    // drop refuses while tombstones exist (key column is name-matched)
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 3).select(col("id").as("o_orderkey")), "o_orderkey")
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, tbl, "o_orderkey")
    }
    assert(e3.getMessage.contains("compactMor"))
    Snapshots.compactMor(spark, tbl)
    Snapshots.dropColumn(spark, tbl, "price")
    assert(Snapshots.read(spark, tbl).columns.toSeq === Seq("o_orderkey"))
  }

  test("changes() allows the single-step range over an evolution commit") {
    val tbl = freshTable("step")
    Snapshots.commit(orders.limit(50), tbl, statsCols = Seq("o_orderkey"))
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "price") // v2
    // the minimal range over the rename itself is empty and safe
    assert(Snapshots.changes(spark, tbl, 1, 2).count() === 0)
    // but a range unioning pre- and post-rename data frames refuses
    Snapshots.commit(orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 8000)
      .withColumnRenamed("o_totalprice", "price"), tbl) // v3
    intercept[IllegalArgumentException] {
      Snapshots.changes(spark, tbl, 0, 3).count()
    }
    assert(Snapshots.changes(spark, tbl, 2, 3).count() === 5)
  }

  test("drop retires every ERA name the column ever had") {
    val tbl = freshTable("eras")
    Snapshots.commit(orders.limit(50), tbl, statsCols = Seq("o_orderkey"))
    Snapshots.renameColumn(spark, tbl, "o_totalprice", "price")   // v2
    Snapshots.renameColumn(spark, tbl, "price", "amount")         // v3
    Snapshots.dropColumn(spark, tbl, "amount")                    // v4
    // EVERY era name is retired: committing (or renaming to) any of
    // them would resurrect pre-rename files' physical values through
    // name-based null-fill
    Seq("amount", "price", "o_totalprice").foreach { n =>
      val e = intercept[IllegalArgumentException] {
        Snapshots.commit(orders.limit(5)
          .select(col("o_orderkey") + 9000 as "o_orderkey",
            col("o_totalprice").as(n)), tbl)
      }
      assert(e.getMessage.contains("resurrect"), s"era name '$n' not retired")
      intercept[IllegalArgumentException] {
        Snapshots.renameColumn(spark, tbl, "o_orderkey", n)
      }
    }
    // a fresh name still lands fine
    Snapshots.commit(orders.limit(5)
      .select(col("o_orderkey") + 9000 as "o_orderkey",
        col("o_totalprice").as("gross")), tbl)
  }

  test("changes() refuses a drop-straddling range even after later commits") {
    val tbl = freshTable("dropfeed")
    val wide = orders.withColumn("note", lit("x"))
    Snapshots.commit(wide.limit(20), tbl)                          // v1
    Snapshots.dropColumn(spark, tbl, "note")                       // v2
    // a DATA commit after the drop: the drop event must be inherited
    // into this commit's props, or the feed would silently null-fill
    // pre-drop frames against post-drop ones
    Snapshots.commit(orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 8000), tbl)    // v3
    val e = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, tbl, 0, 3).count()
    }
    assert(e.getMessage.contains("schema evolution"))
    // ranges on either side of the drop stay serveable
    assert(Snapshots.changes(spark, tbl, 2, 3).count() === 5)
    // a SECOND drop keeps the first drop's event in the cumulative list
    Snapshots.commit(orders.limit(3).select(
      col("o_orderkey") + 9000 as "o_orderkey",
      col("o_totalprice"), lit(1L).as("extra")), tbl)              // v4
    Snapshots.dropColumn(spark, tbl, "extra")                      // v5
    val props = Snapshots.properties(spark, tbl,
      Snapshots.latestVersion(spark, tbl))
    assert(props(Snapshots.DropsProp).split(",").length === 2,
      "both drop events must survive")
    intercept[IllegalArgumentException] {
      Snapshots.changes(spark, tbl, 0, 5).count()
    }
  }

  test("rename composes with add-column null-fill") {
    val tbl = freshTable("addcol")
    Snapshots.commit(orders.limit(20), tbl)
    // add a column, then rename it: pre-add files null-fill under the
    // FINAL name through the era mapping
    Snapshots.commit(orders.limit(10)
      .withColumn("o_orderkey", col("o_orderkey") + 9000)
      .withColumn("note", lit("n1")), tbl)
    Snapshots.renameColumn(spark, tbl, "note", "comment")
    val r = Snapshots.read(spark, tbl)
    assert(r.columns.contains("comment") && !r.columns.contains("note"))
    assert(r.filter(col("comment").isNull).count() === 20)
    assert(r.filter(col("comment") === "n1").count() === 10)
  }
}
