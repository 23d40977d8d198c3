package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compact collapses a fragmented layout without losing a row") {
    val path = freshTable("compact")
    val df = spark.range(10000L).select($"id", ($"id" % 7).as("g"))
    df.repartition(50).write.parquet(path)
    val (before, bytes) = Maintenance.layoutStats(spark, path)
    assert(before === 50)
    Maintenance.compact(spark, path, targetBytes = bytes) // everything fits one target
    val (after, _) = Maintenance.layoutStats(spark, path)
    assert(after < before / 10, s"expected <5 files after compaction, got $after")
    assert(ParquetMeta.rowCount(spark, path) === 10000L)
    assert(spark.read.parquet(path).agg(sum($"id")).head.getLong(0)
      === (0L to 9999L).sum)
  }

  test("compact file count follows the byte target") {
    val path = freshTable("target")
    spark.range(20000L).select($"id", concat(lit("p" * 50), $"id").as("pad"))
      .repartition(40).write.parquet(path)
    val (_, bytes) = Maintenance.layoutStats(spark, path)
    Maintenance.compact(spark, path, targetBytes = (bytes / 4).max(1))
    val (after, _) = Maintenance.layoutStats(spark, path)
    // ceil division can land on 4 or 5 depending on size rounding
    assert(after >= 3 && after <= 6, s"expected ~4 files, got $after")
  }

  test("overwritePartitions rewrites only the touched partitions") {
    val path = freshTable("dpo")
    val v1 = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("k", "v", "dt")
    Maintenance.overwritePartitions(v1, path, Seq("dt"))
    val p1Files = Maintenance.layoutStats(spark, s"$path/dt=2024-01-01")
    // patch only the second date
    val v2 = Seq((2L, "b2", "2024-01-02"), (3L, "c", "2024-01-02"))
      .toDF("k", "v", "dt")
    Maintenance.overwritePartitions(v2, path, Seq("dt"))
    val got = spark.read.parquet(path)
      .select($"k", $"v", $"dt".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      (1L, "a", "2024-01-01"),
      (2L, "b2", "2024-01-02"), (3L, "c", "2024-01-02")))
    // untouched partition: same files, byte-identical
    assert(Maintenance.layoutStats(spark, s"$path/dt=2024-01-01") === p1Files)
  }
}
