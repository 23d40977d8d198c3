package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1, Some(10), "a"),
    (2, Some(-5), "b"),
    (3, None, "c"),
    (4, Some(7), null)).toDF("id", "v", "s")

  test("audit counts violations per check in one pass; null constraint = violation") {
    val got = DataQuality.audit(df, Seq(
      DataQuality.Check("v_positive", col("v") > 0),
      DataQuality.Check("s_not_null", col("s").isNotNull),
      DataQuality.Check("id_range", col("id").between(1, 10))))
      .orderBy("check_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // v_positive: -5 violates, null v counts as violation too -> 2
    assert(got.toSeq === Seq(
      ("id_range", 0L, 4L), ("s_not_null", 1L, 4L), ("v_positive", 2L, 4L)))
  }

  test("audit runs as a single aggregation (no per-check scans)") {
    val plan = DataQuality.audit(df, Seq(
      DataQuality.Check("a", col("v") > 0),
      DataQuality.Check("b", col("s").isNotNull)))
      .queryExecution.executedPlan.toString
    // one scan of the input, not one per check
    assert("LocalTableScan|Scan ExistingRDD".r.findAllIn(plan).size <= 1)
  }

  test("audit on an empty input reports 0 violations, not null") {
    val got = DataQuality.audit(df.filter(col("id") > 100),
      Seq(DataQuality.Check("v_positive", col("v") > 0))).collect()
    assert(got.length === 1)
    assert(!got.head.isNullAt(1) && got.head.getLong(1) === 0L)
    assert(got.head.getLong(2) === 0L)
  }

  test("profile reports per-column nulls, exact distincts, and row count") {
    import spark.implicits._
    val p = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")), (None, Some("b")),
    ).toDF("x", "y")
    val got = DataQuality.profile(p, Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("x").getLong(1) === 1L) // one null x
    assert(got("x").getLong(2) === 2L) // distinct {1, 2}
    assert(got("y").getLong(1) === 1L)
    assert(got("y").getLong(2) === 2L) // distinct {a, b}
    assert(got.values.forall(_.getLong(3) === 4L))
  }

  test("profile handles computed inputs (persisted once) and nested " +
      "field paths; rename-only projections keep the scan fast path") {
    import spark.implicits._
    // COMPUTED input (filter): persisted pre-fan-out; answers stay exact
    val p = Seq((Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")),
      (None, Some("b"))).toDF("x", "y")
    val gotF = DataQuality.profile(p.filter(lit(true)), Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(gotF("x").getLong(1) === 1L && gotF("x").getLong(2) === 2L)
    assert(gotF.values.forall(_.getLong(3) === 4L))
    // NESTED path over a computed input: the dotted path extracts to a
    // field named only by its leaf — the positional-alias projection must
    // still resolve it (pre-fix: AnalysisException)
    val n = Seq((1, ("en", 5)), (2, ("de", 3)), (3, ("en", 9)))
      .toDF("id", "meta")
      .select(col("id"), col("meta._1").as("lang"), col("meta._2").as("n"))
      .select(col("id"), struct(col("lang"), col("n")).as("meta"))
    val gotN = DataQuality.profile(n.filter(col("id") > 0), Seq("meta.lang"))
      .collect()
    assert(gotN.length === 1 && gotN.head.getLong(2) === 2L) // {en, de}
    assert(gotN.head.getLong(3) === 3L)
    // rename-only projection over a scan: NOT persisted (no
    // InMemoryTableScan in any branch plan)
    val dir = tempDir("dq_scan")
    p.write.mode("overwrite").parquet(dir)
    val renamed = spark.read.parquet(dir).withColumnRenamed("x", "xr")
    val prof = DataQuality.profile(renamed, Seq("xr"))
    assert(prof.collect().head.getLong(2) === 2L)
    assert(!prof.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"),
      "rename-only scan input was needlessly persisted")
  }

  test("enforce throws on violations, passes on clean data") {
    DataQuality.enforce(df, Seq(DataQuality.Check("id_range", col("id").between(1, 10))))
    val ex = intercept[IllegalStateException] {
      DataQuality.enforce(df, Seq(DataQuality.Check("v_positive", col("v") > 0)))
    }
    assert(ex.getMessage.contains("v_positive=2"))
  }

  test("kAnonymize suppresses under-k cells AND pads the residual to k") {
    import spark.implicits._
    // (seg, nat): A/1 ×3, A/2 ×1, B/1 ×2
    val df = Seq(
      ("A", 1, 10.0), ("A", 1, 11.0), ("A", 1, 12.0),
      ("A", 2, 20.0), ("B", 1, 30.0), ("B", 1, 31.0))
      .toDF("seg", "nat", "bal")
    val out = DataQuality.kAnonymize(df, Seq("seg", "nat"), k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // the singleton (A,2) is under k; alone it would leak a 1-row bucket,
    // so the next-smallest cell (B,1) joins the suppression set
    assert(out.filter(_._3 == 20.0).head._1 === "(suppressed)")
    assert(out.filter(_._3 == 30.0).head._1 === "(suppressed)")
    assert(out.count(t => t._1 == "(suppressed)") === 3)
    assert(out.count(t => t._1 == "A" && t._2 == "1") === 3)
    // payload column untouched, row count preserved
    assert(out.map(_._3).sorted.toSeq ===
      Seq(10.0, 11.0, 12.0, 20.0, 30.0, 31.0))
    // the published rollup — INCLUDING the residual bucket — has no
    // group under k
    val rollup = DataQuality.kAnonymize(df, Seq("seg", "nat"), k = 2)
      .groupBy("seg", "nat").count().collect()
    assert(rollup.forall(_.getLong(2) >= 2))
    // no under-k cell → nothing suppressed at all
    val clean = DataQuality.kAnonymize(df, Seq("seg"), k = 2)
      .collect().map(_.getString(0))
    assert(!clean.contains("(suppressed)"))
    // whole input under k → one total-suppression bucket
    val tiny = DataQuality.kAnonymize(
      Seq(("A", 1, 1.0)).toDF("seg", "nat", "bal"), Seq("seg", "nat"), k = 5)
      .collect().map(_.getString(0))
    assert(tiny.toSeq === Seq("(suppressed)"))
    // the cell-cardinality contract is ENFORCED: a quasi-cell inventory
    // above maxCells fails loudly instead of silently single-task
    // sorting it (near-unique quasi tuples are the misuse this catches)
    val e = intercept[Exception] {
      DataQuality.kAnonymize(df, Seq("seg", "nat"), k = 2, maxCells = 2L)
        .collect()
    }
    assert(e.getMessage.contains("maxCells"), e.getMessage)
  }

  test("lDiversity counts distinct sensitive values per cell") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("A", "x"), ("A", "x"), ("A", "x"),       // 3 rows, 1 value
      ("B", "x"), ("B", "y"), ("B", "z"),       // 3 rows, 3 values
      ("C", "x"), ("C", "y")                    // 2 rows, 2 values
    ).toDF("seg", "sens")
    val out = DataQuality.lDiversity(df, Seq("seg"), col("sens"), l = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(out === Set(("A", 3L, 1L, false), ("B", 3L, 3L, true),
      ("C", 2L, 2L, true)))
  }
}
