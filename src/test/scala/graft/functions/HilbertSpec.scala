package graft.functions

import graft.SparkSpec
import graft.sources.ParquetMeta
import org.apache.spark.sql.functions._

class HilbertSpec extends SparkSpec {
  import spark.implicits._
  import HilbertExpression.hilbertD

  test("order-1 curve visits the 2x2 quadrants in the canonical order") {
    assert(hilbertD(0, 0, 1) === 0L)
    assert(hilbertD(0, 1, 1) === 1L)
    assert(hilbertD(1, 1, 1) === 2L)
    assert(hilbertD(1, 0, 1) === 3L)
  }

  test("the curve is a bijection on the full grid") {
    val bits = 3
    val side = 1 << bits
    val ds = for (x <- 0 until side; y <- 0 until side)
      yield hilbertD(x.toLong, y.toLong, bits)
    assert(ds.sorted === (0 until side * side).map(_.toLong))
  }

  test("consecutive curve indexes are always grid-neighbors (no jumps)") {
    // THE Hilbert property, and exactly what Morton order lacks: walk
    // the whole order-5 curve and check every step moves one cell
    val bits = 5
    val side = 1 << bits
    val byD = (for (x <- 0 until side; y <- 0 until side)
      yield hilbertD(x.toLong, y.toLong, bits) -> (x, y)).toMap
    for (d <- 0L until (side * side - 1).toLong) {
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    // Morton order jumps: count its non-unit steps on the same grid for
    // contrast (documents WHY the engine offers both curves)
    val zByD = (for (x <- 0 until side; y <- 0 until side)
      yield ZOrderExpression.interleave(x.toLong, y.toLong) -> (x, y)).toMap
    val zJumps = (0L until (side * side - 1).toLong).count { d =>
      val (x1, y1) = zByD(d); val (x2, y2) = zByD(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(zJumps > 0)
  }

  test("codegen path equals the interpreted reference, incl. masking") {
    val rng = new scala.util.Random(42)
    val rows = Seq.fill(1000)(
      (rng.nextInt(Int.MaxValue), rng.nextLong().abs))
    val got = rows.toDF("a", "b")
      .select($"a", $"b",
        HilbertExpression.hilbert($"a", $"b", bits = 16).as("h"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === hilbertD(r.getInt(0).toLong, r.getLong(1), 16))
    }
  }

  test("null inputs null the index; non-integral inputs are rejected") {
    val withNull = Seq((Some(1), Some(2)), (None, Some(2)))
      .toDF("a", "b")
      .select(HilbertExpression.hilbert($"a", $"b").as("h")).collect()
    assert(!withNull(0).isNullAt(0) && withNull(1).isNullAt(0))
    val e = intercept[Exception] {
      Seq(("x", 1)).toDF("a", "b")
        .select(HilbertExpression.hilbert($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("hilbert_d") || e.getMessage.contains("DATATYPE"))
  }

  test("hilbert layout prunes a 2-D box at least as well as z-order") {
    val dir = tempDir("hilbert")
    val n = 200000
    val df = spark.range(n.toLong).select(
      pmod(xxhash64($"id"), lit(1024)).cast("int").as("x"),
      pmod(xxhash64($"id" + 1000000), lit(1024)).cast("int").as("y"))
    def write(path: String, sorted: org.apache.spark.sql.DataFrame): Unit =
      sorted.coalesce(1).write
        .option("parquet.block.size", 64 * 1024)
        .mode("overwrite").parquet(path)
    write(s"$dir/h", df.orderBy(
      HilbertExpression.hilbert($"x", $"y", bits = 10)))
    write(s"$dir/z", df.orderBy(ZOrderExpression.zValue($"x", $"y")))
    def boxHits(path: String): (Int, Int) = {
      val ranges = ParquetMeta.rowGroupRanges(spark, path, Seq("x", "y"))
      val hits = ranges.count { m =>
        Seq("x", "y").forall { dim =>
          val (mn, mx) = m(dim); mn <= 490L && mx >= 400L
        }
      }
      (hits, ranges.size)
    }
    val (hHits, hGroups) = boxHits(s"$dir/h")
    val (zHits, zGroups) = boxHits(s"$dir/z")
    assert(hGroups > 8, s"need multiple row groups, got $hGroups")
    // the box (~9% per dim) must prune hard under hilbert...
    assert(hHits * 2 <= hGroups, s"hilbert box pruning: $hHits/$hGroups")
    // ...and not be worse than the Morton layout on the same data
    // (allow one row group of slack for boundary effects)
    assert(hHits <= zHits + 1,
      s"hilbert $hHits/$hGroups vs z-order $zHits/$zGroups")
  }
}
