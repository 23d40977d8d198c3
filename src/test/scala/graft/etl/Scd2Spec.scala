package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private val cfg = Scd2Config(
    naturalKey = Seq("id"),
    tracked = Seq("name", "segment"),
    surrogateKey = "key")

  private val d1 = java.sql.Date.valueOf("2024-01-01")
  private val d2 = java.sql.Date.valueOf("2024-02-01")

  private def batch(rows: (String, String, String)*): DataFrame =
    rows.toDF("id", "name", "segment")

  private def byKey(df: DataFrame) =
    df.orderBy("key").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        Option(r.getDate(4)).map(_.toString).orNull,
        Option(r.getDate(5)).map(_.toString).orNull,
        r.getInt(6))).toList

  test("initial load assigns dense keys in natural-key order") {
    val dim = Scd2.initialLoad(batch(("b", "Bob", "X"), ("a", "Ann", "Y")), cfg, d1)
    assert(byKey(dim) === List(
      (1L, "a", "Ann", "Y", "2024-01-01", null, 1),
      (2L, "b", "Bob", "X", "2024-01-01", null, 1)))
  }

  test("changed attribute expires old version and appends a new one") {
    val dim0 = Scd2.initialLoad(batch(("a", "Ann", "Y"), ("b", "Bob", "X")), cfg, d1)
    val dim1 = Scd2.merge(dim0, batch(("a", "Ann", "Z"), ("b", "Bob", "X")), cfg, d2)
    assert(byKey(dim1) === List(
      (1L, "a", "Ann", "Y", "2024-01-01", "2024-02-01", 0),
      (2L, "b", "Bob", "X", "2024-01-01", null, 1),
      (3L, "a", "Ann", "Z", "2024-02-01", null, 1)))
  }

  test("new key appends without touching existing rows") {
    val dim0 = Scd2.initialLoad(batch(("a", "Ann", "Y")), cfg, d1)
    val dim1 = Scd2.merge(dim0, batch(("a", "Ann", "Y"), ("c", "Cal", "W")), cfg, d2)
    assert(byKey(dim1) === List(
      (1L, "a", "Ann", "Y", "2024-01-01", null, 1),
      (2L, "c", "Cal", "W", "2024-02-01", null, 1)))
  }

  test("keys absent from the batch carry forward unchanged") {
    val dim0 = Scd2.initialLoad(batch(("a", "Ann", "Y"), ("b", "Bob", "X")), cfg, d1)
    val dim1 = Scd2.merge(dim0, batch(("a", "Ann", "Y")), cfg, d2)
    assert(byKey(dim1) === List(
      (1L, "a", "Ann", "Y", "2024-01-01", null, 1),
      (2L, "b", "Bob", "X", "2024-01-01", null, 1)))
  }

  test("replaying the same batch is a no-op (idempotence)") {
    val b = batch(("a", "Ann", "Y"), ("b", "Bob", "X"), ("c", null, "W"))
    val dim1 = Scd2.merge(Scd2.initialLoad(b, cfg, d1), b, cfg, d2)
    val dim2 = Scd2.merge(dim1, b, cfg, d2)
    assert(byKey(dim1) === byKey(Scd2.initialLoad(b, cfg, d1)))
    assert(byKey(dim2) === byKey(dim1))
  }

  test("null attributes compare null-safe (null == null is unchanged)") {
    val b = batch(("a", null, "Y"))
    val dim1 = Scd2.merge(Scd2.initialLoad(b, cfg, d1), b, cfg, d2)
    assert(byKey(dim1) === List((1L, "a", null, "Y", "2024-01-01", null, 1)))
    // null -> value IS a change
    val dim2 = Scd2.merge(dim1, batch(("a", "Ann", "Y")), cfg, d2)
    assert(byKey(dim2) === List(
      (1L, "a", null, "Y", "2024-01-01", "2024-02-01", 0),
      (2L, "a", "Ann", "Y", "2024-02-01", null, 1)))
  }

  test("in-batch duplicate natural keys collapse deterministically") {
    val dim = Scd2.initialLoad(
      batch(("a", "Zed", "Y"), ("a", "Ann", "Y")), cfg, d1)
    // smallest tracked-tuple wins
    assert(byKey(dim) === List((1L, "a", "Ann", "Y", "2024-01-01", null, 1)))
  }

  test("same-day re-merge with changed attrs corrects in place (no zero-length version)") {
    val dim0 = Scd2.initialLoad(batch(("a", "Ann", "Y")), cfg, d1)
    // second merge the SAME day with a different segment
    val dim1 = Scd2.merge(dim0, batch(("a", "Ann", "Z")), cfg, d1)
    assert(byKey(dim1) === List((1L, "a", "Ann", "Z", "2024-01-01", null, 1)))
    // a later-day change still versions normally
    val dim2 = Scd2.merge(dim1, batch(("a", "Ann", "W")), cfg, d2)
    assert(byKey(dim2) === List(
      (1L, "a", "Ann", "Z", "2024-01-01", "2024-02-01", 0),
      (2L, "a", "Ann", "W", "2024-02-01", null, 1)))
  }

  test("key-only dimension (no tracked columns) loads without error") {
    val kc = Scd2Config(Seq("id"), Nil, "key")
    val dim = Scd2.initialLoad(Seq("b", "a", "a").toDF("id"), kc, d1)
      .orderBy("key").collect()
    assert(dim.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // re-merge: nothing changes for key-only dims
    val again = Scd2.merge(
      Scd2.initialLoad(Seq("a", "b").toDF("id"), kc, d1),
      Seq("a", "b", "c").toDF("id"), kc, d2)
    assert(again.count() === 3)
    assert(again.filter(col("is_current") === 1).count() === 3)
  }

  test("denseKeys assigns 1..n in order with no window in the plan") {
    val df = Seq(("b", 20), ("c", 30), ("a", 10)).toDF("k", "v")
    val keyed = Scd2.denseKeys(df, Seq("k"), "sk")
    assert(keyed.orderBy("sk").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    // distributed assignment: no WindowExec (and so no single-partition
    // global sort) anywhere in the physical plan
    assert(!keyed.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("scalableKeys assignment produces identical keys to the window path") {
    // initialLoad numbers keys with denseKeys, merge numbers its fresh
    // rows with a row_number window: the same frame gets the same keys
    val b = batch(("c", "Cal", "W"), ("a", "Ann", "Y"), ("d", "Dee", "V"),
      ("b", "Bob", "X"))
    val viaZip = Scd2.denseKeys(b, Seq("id"), "key")
    val viaWindow = b.withColumn("key",
      row_number().over(Window.orderBy(col("id"))).cast("bigint"))
    def keys(df: DataFrame) = df.select("id", "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(keys(viaZip) === keys(viaWindow))
    // end to end: an initial load equals a merge into the empty dimension
    assert(byKey(Scd2.initialLoad(b, cfg, d1)) ===
      byKey(Scd2.merge(Scd2.emptyDim(b, cfg), b, cfg, d1)))
  }

  test("version increments per natural key; corrections don't bump it") {
    val d3 = java.sql.Date.valueOf("2024-03-01")
    val dim0 = Scd2.initialLoad(batch(("a", "Ann", "X"), ("b", "Bob", "X")), cfg, d1)
    val dim1 = Scd2.merge(dim0, batch(("a", "Ann", "Y"), ("b", "Bob", "X")), cfg, d2)
    val dim2 = Scd2.merge(dim1, batch(("a", "Ann", "Z"), ("c", "Cal", "W")), cfg, d3)
    val got = dim2.select("id", "segment", "version", "is_current").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set(
      ("a", "X", 1, 0), ("a", "Y", 2, 0), ("a", "Z", 3, 1),
      ("b", "X", 1, 1), ("c", "W", 1, 1)))
    // same-day correction replaces attributes in place, version unchanged
    val corr = Scd2.merge(dim2, batch(("c", "Cal", "V")), cfg, d3)
    val cRow = corr.filter(col("id") === "c").collect()
    assert(cRow.length === 1)
    assert(cRow(0).getAs[String]("segment") === "V")
    assert(cRow(0).getAs[Int]("version") === 1)
  }

  test("invariant: exactly one current row per natural key after many merges") {
    val b1 = batch(("a", "A1", "X"), ("b", "B1", "X"))
    val b2 = batch(("a", "A2", "X"), ("b", "B1", "Y"), ("c", "C1", "Z"))
    val b3 = batch(("a", "A3", "X"), ("c", "C1", "Z"))
    val dim = Seq(b2, b3).foldLeft(Scd2.initialLoad(b1, cfg, d1)) {
      (acc, b) => Scd2.merge(acc, b, cfg, d2)
    }
    val perKey = dim.filter(col("is_current") === 1)
      .groupBy("id").count().collect().map(_.getLong(1))
    assert(perKey.forall(_ == 1L))
    // surrogate keys unique across all versions
    val n = dim.count()
    assert(dim.select("key").distinct().count() === n)
  }
}
