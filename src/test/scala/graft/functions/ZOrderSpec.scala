package graft.functions

import graft.SparkSpec
import graft.sources.ParquetMeta
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: hand-computed values") {
    // a=3 (bits 0,1 -> z bits 0,2 = 5); b=5 (bits 0,2 -> z bits 1,5 = 34)
    assert(ZOrderExpression.interleave(3L, 5L) === 39L)
    assert(ZOrderExpression.interleave(0L, 0L) === 0L)
    assert(ZOrderExpression.interleave(1L, 0L) === 1L)
    assert(ZOrderExpression.interleave(0L, 1L) === 2L)
    // max 31-bit inputs stay positive
    assert(ZOrderExpression.interleave(0x7FFFFFFFL, 0x7FFFFFFFL) > 0L)
  }

  test("native codegen path equals the interpreted reference on random inputs") {
    val rng = new scala.util.Random(42)
    val rows = Seq.fill(1000)((rng.nextInt(Int.MaxValue), rng.nextInt(Int.MaxValue)))
    val got = rows.toDF("a", "b")
      .select($"a", $"b", ZOrderExpression.zValue($"a", $"b").as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) ===
        ZOrderExpression.interleave(r.getInt(0).toLong, r.getInt(1).toLong))
    }
  }

  test("zValue rejects non-integral inputs") {
    val e = intercept[Exception] {
      Seq(("x", 1)).toDF("a", "b")
        .select(ZOrderExpression.zValue($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("z_value") || e.getMessage.contains("DATATYPE"))
  }

  test("zValueN at n=2 is bit-for-bit the binary zValue") {
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(500)((rng.nextInt(Int.MaxValue), rng.nextInt(Int.MaxValue)))
    val got = rows.toDF("a", "b")
      .select(ZOrderExpression.zValue($"a", $"b").as("z2"),
        ZOrderExpression.zValueN($"a", $"b").as("zn"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("zValueN codegen equals the interpreted reference on random 3-col inputs") {
    val rng = new scala.util.Random(43)
    val rows = Seq.fill(1000)(
      (rng.nextInt(1 << 20), rng.nextInt(1 << 20), rng.nextInt(1 << 20)))
    val got = rows.toDF("a", "b", "c")
      .select($"a", $"b", $"c",
        ZOrderExpression.zValueN($"a", $"b", $"c").as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) === ZOrderExpression.interleaveN(
        Array(r.getInt(0).toLong, r.getInt(1).toLong, r.getInt(2).toLong), 20))
    }
    // interleaved bit positions: child c's bit i lands at i*3+c
    assert(ZOrderExpression.interleaveN(Array(1L, 0L, 0L), 20) === 1L)
    assert(ZOrderExpression.interleaveN(Array(0L, 1L, 0L), 20) === 2L)
    assert(ZOrderExpression.interleaveN(Array(0L, 0L, 1L), 20) === 4L)
    assert(ZOrderExpression.interleaveN(Array(2L, 0L, 0L), 20) === 8L)
  }

  test("zValueN propagates nulls and rejects non-integral/arity misuse") {
    val withNull = Seq((Some(1), Some(2), Some(3)), (None, Some(2), Some(3)))
      .toDF("a", "b", "c")
      .select(ZOrderExpression.zValueN($"a", $"b", $"c").as("z"))
      .collect()
    assert(!withNull(0).isNullAt(0) && withNull(1).isNullAt(0))
    val e = intercept[Exception] {
      Seq(("x", 1, 2)).toDF("a", "b", "c")
        .select(ZOrderExpression.zValueN($"a", $"b", $"c")).collect()
    }
    assert(e.getMessage.contains("z_value_n") || e.getMessage.contains("DATATYPE"))
    val e2 = intercept[Exception] {
      Seq(Tuple1(1)).toDF("a")
        .select(ZOrderExpression.zValueN($"a")).collect()
    }
    assert(e2.getMessage.contains("z_value_n") || e2.getMessage.contains("DATATYPE"))
  }

  test("3-dim z-order layout prunes ALL THREE dimensions' row groups") {
    val dir = tempDir("zorder3")
    val n = 200000
    // three uncorrelated uniform dimensions, like (date, customer, product)
    val df = spark.range(n.toLong).select(
      pmod(xxhash64($"id"), lit(1024)).cast("int").as("x"),
      pmod(xxhash64($"id" + 1000000), lit(1024)).cast("int").as("y"),
      pmod(xxhash64($"id" + 2000000), lit(1024)).cast("int").as("w"))
    df.orderBy(ZOrderExpression.zValueN($"x", $"y", $"w"))
      .coalesce(1).write
      .option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(s"$dir/z3")
    val ranges = ParquetMeta.rowGroupRanges(spark, s"$dir/z3", Seq("x", "y", "w"))
    assert(ranges.size > 8, s"need multiple row groups, got ${ranges.size}")
    def hit(dim: String, lo: Long, hi: Long): Int = ranges.count { m =>
      val (mn, mx) = m(dim); mn <= hi && mx >= lo
    }
    // a ~6% box on EACH dimension must prune ≥25% of groups. The per-dim
    // bar is lower than the 2-dim test's 50%: at n=3 each dimension owns
    // only ~log2(nGroups)/3 of the top curve bits, so per-group ranges
    // are ~4× wider per dim. No single-column sort prunes more than one
    // of the three at all.
    for (dim <- Seq("x", "y", "w")) {
      val h = hit(dim, 400, 460)
      assert(h * 4 <= ranges.size * 3,
        s"3-dim z-order should prune $dim: $h/${ranges.size}")
    }
    // ...and the CONJUNCTIVE 3-dim box — the query shape z-order exists
    // for — should hit almost nothing: per-dim survivors are near-
    // independent, so the intersection multiplies out
    val box = ranges.count { m =>
      Seq("x", "y", "w").forall { dim =>
        val (mn, mx) = m(dim); mn <= 460 && mx >= 400
      }
    }
    assert(box * 4 <= ranges.size,
      s"3-dim box should prune at least 4x: $box/${ranges.size}")
  }

  test("z-ordered layout prunes a box predicate's row groups vs a single-column sort") {
    val dir = tempDir("zorder")
    // two uncorrelated uniform dimensions, like (partkey, suppkey)
    val n = 200000
    val df = spark.range(n.toLong).select(
      pmod(xxhash64($"id"), lit(1024)).cast("int").as("x"),
      pmod(xxhash64($"id" + 1000000), lit(1024)).cast("int").as("y"))
    def write(path: String, sorted: org.apache.spark.sql.DataFrame): Unit =
      sorted.coalesce(1).write
        .option("parquet.block.size", 64 * 1024) // many small row groups
        .mode("overwrite").parquet(path)
    write(s"$dir/z", df.orderBy(ZOrderExpression.zValue($"x", $"y")))
    write(s"$dir/x", df.orderBy($"x"))
    def matching(path: String, dim: String, lo: Long, hi: Long): (Int, Int) = {
      val ranges = ParquetMeta.rowGroupRanges(spark, path, Seq("x", "y"))
      val hit = ranges.count { m =>
        val (mn, mx) = m(dim); mn <= hi && mx >= lo
      }
      (hit, ranges.size)
    }
    // The win z-order buys: a predicate on the SECOND dimension still
    // prunes. The x-sort leaves y shuffled through every row group (zero
    // pruning); the z-layout keeps both dimensions localized per group.
    val (zY, zTotal) = matching(s"$dir/z", "y", 400, 460)
    val (xY, xTotal) = matching(s"$dir/x", "y", 400, 460)
    assert(zTotal > 8 && xTotal > 8, s"need multiple row groups, got $zTotal/$xTotal")
    assert(xY === xTotal, s"x-sort should not prune y at all: $xY/$xTotal")
    assert(zY * 2 <= xY,
      s"z-order should prune y at least 2x better: z $zY/$zTotal vs x $xY/$xTotal")
    // ...while still pruning the first dimension (imperfectly — that is
    // the trade: good on all dimensions instead of perfect on one).
    val (zX, _) = matching(s"$dir/z", "x", 100, 160)
    assert(zX * 2 <= zTotal, s"z-order should still prune x: $zX/$zTotal")
  }
}
