package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeName: lowercase, snake-case, strip odd chars") {
    assert(Ingest.normalizeName("Order ID") === "order_id")
    assert(Ingest.normalizeName("Sub-Category") === "sub_category")
    assert(Ingest.normalizeName("  Ship  Mode ") === "ship_mode")
    assert(Ingest.normalizeName("Postal Code") === "postal_code")
  }

  test("normalizeColumns renames every column") {
    val df = Seq((1, "x")).toDF("Row ID", "Ship Mode")
    assert(Ingest.normalizeColumns(df).columns.toSeq === Seq("row_id", "ship_mode"))
  }

  test("parseDateMulti handles M/d/yyyy and ISO, coerces garbage to null") {
    val df = Seq("11/8/2016", "2024-03-05", "not a date", null).toDF("d")
      .select(Ingest.parseDateMulti(col("d")).as("d"))
    assert(df.collect().map(r => Option(r.getDate(0)).map(_.toString)).toSeq ===
      Seq(Some("2016-11-08"), Some("2024-03-05"), None, None))
  }

  test("latin1 CSV roundtrip preserves accented text and explicit schema") {
    val dir = tempDir("latin1")
    val file = Paths.get(dir, "data.csv")
    Files.write(file, "name,qty\nCafé,3\n".getBytes(Charset.forName("latin1")))
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("qty", IntegerType)))
    val got = Ingest.readCsv(spark, file.toString, schema, encoding = "latin1").collect()
    assert(got.map(r => (r.getString(0), r.getInt(1))).toSeq === Seq(("Café", 3)))
  }

  test("fill helpers: numeric and per-column string defaults") {
    val df = Seq((Some(1.0), Some("a")), (None, None))
      .toDF("v", "s")
    val filled = Ingest.fillStrings(Ingest.fillNumeric(df), Map("s" -> "dflt"))
    assert(filled.collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ===
      Seq((1.0, "a"), (0.0, "dflt")))
  }

  test("dropExactDuplicates removes full-row dupes only") {
    val df = Seq((1, "a"), (1, "a"), (1, "b")).toDF("k", "v")
    assert(Ingest.dropExactDuplicates(df).count() === 2)
  }
}
