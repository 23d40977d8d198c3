package graft.streaming

import graft.SparkSpec
import graft.etl.{Scd2, Scd2Config}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class DimensionStreamSpec extends SparkSpec {
  import spark.implicits._

  case class Cust(id: String, name: String, segment: String)

  private val cfg = Scd2Config(
    naturalKey = Seq("id"), tracked = Seq("name", "segment"),
    surrogateKey = "customer_key")

  private def date(m: Int) = java.sql.Date.valueOf(f"2024-$m%02d-01")

  test("streamed micro-batches reproduce the batch SCD2 merge sequence") {
    implicit val sqlCtx = spark.sqlContext
    val dimPath = tempDir("dimstream") + "/dim_customer"
    val stream = MemoryStream[Cust]
    val q = DimensionStream.maintainScd2(
      stream.toDF(), dimPath, cfg, asOf = id => date(id.toInt + 1))
    try {
      stream.addData(Cust("a", "Ann", "X"), Cust("b", "Bob", "X"))
      q.processAllAvailable()
      val afterInit = spark.read.parquet(dimPath)
      assert(afterInit.count() === 2)
      assert(afterInit.filter(col("is_current") === 1).count() === 2)

      stream.addData(Cust("a", "Ann", "Y"), Cust("c", "Cal", "Z"))
      q.processAllAvailable()
      val dim = spark.read.parquet(dimPath)
      // a: v1 expired + v2 current; b: untouched v1; c: new v1
      val got = dim.select("id", "segment", "version", "is_current").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
      assert(got === Set(
        ("a", "X", 1, 0), ("a", "Y", 2, 1), ("b", "X", 1, 1), ("c", "Z", 1, 1)))

      // and the streamed result IS the batch result: replay the same
      // batches through plain Scd2 calls and compare (modulo key order)
      val b1 = Seq(("a", "Ann", "X"), ("b", "Bob", "X")).toDF("id", "name", "segment")
      val b2 = Seq(("a", "Ann", "Y"), ("c", "Cal", "Z")).toDF("id", "name", "segment")
      val batch = Scd2.merge(Scd2.initialLoad(b1, cfg, date(1)), b2, cfg, date(2))
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("id", "name", "segment", "effective_date", "expiry_date",
          "is_current", "version")
        .collect().map(_.toSeq).toSet
      assert(key(dim) === key(batch))
    } finally q.stop()
  }
}
