package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class WindowRewriteSpec extends SparkSpec {

  private val factPath = s"$sf001/lineitem.parquet"

  private def li = spark.read.parquet(factPath)

  /** The canonical shape: probe joined to its own keyed aggregate. */
  private def selfAggJoin(): DataFrame = {
    val probe = li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity")).as("l")
    val totals = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(27,4)")).as("order_qty"),
        count(lit(1)).as("n_items"))
    probe.join(totals.as("t"),
        col("l.l_orderkey") === col("t.l_orderkey"))
      .select(col("l.l_orderkey").as("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("order_qty"), col("n_items"))
  }

  /** Multiset of rows — join↔window equivalence must preserve row
    * MULTIPLICITY, not just the distinct set (the synthetic lineitem
    * has duplicate projected rows).
    */
  private def canon(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.length }

  private def withRule[A](body: => A): A = {
    WindowRewrite.enable(spark, factPath)
    try body finally WindowRewrite.clear()
  }

  test("self-agg join rewrites to one scan + window, same result") {
    val expect = canon(selfAggJoin()) // rule off: plain join
    val (plan, got) = withRule {
      val df = selfAggJoin()
      (executedPlan(df, execute = false), canon(df))
    }
    assert(!plan.contains("Join"), s"join should be gone:\n$plan")
    assert(plan.contains("Window"), s"expected a window plan:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly one fact scan, got $scans:\n$plan")
    assert(got === expect)
    assert(expect.values.sum == li.count())
  }

  test("aggregate on the LEFT side rewrites too, output order preserved") {
    def q = totals.as("t").join(
        li.select(col("l_orderkey"), col("l_linenumber")).as("l"),
        col("t.l_orderkey") === col("l.l_orderkey"))
    def totals = li.groupBy(col("l_orderkey"))
      .agg(max(col("l_quantity")).as("max_qty"))
    val expect = canon(q)
    withRule {
      val df = q
      val plan = executedPlan(df, execute = false)
      assert(!plan.contains("Join"), s"join should be gone:\n$plan")
      assert(df.columns.toSeq ===
        Seq("l_orderkey", "max_qty", "l_orderkey", "l_linenumber"))
      assert(canon(q) === expect)
    }
  }

  test("null join keys are dropped exactly like the inner join") {
    val dir = tempDir("wr")
    spark.range(0, 20)
      .select(when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 3)
          .cast("long").as("k"),
        col("id").as("v"))
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def q = t.as("a").join(
        t.groupBy(col("k")).agg(sum(col("v")).as("sv")).as("b"),
        col("a.k") === col("b.k"))
      .select(col("a.k").as("k"), col("v"), col("sv"))
    val expect = canon(q)
    WindowRewrite.enable(spark, dir)
    try {
      val plan = executedPlan(q, execute = false)
      assert(!plan.contains("Join"), s"join should be gone:\n$plan")
      assert(canon(q) === expect)
      // the join really does drop the 4 null-key rows
      assert(expect.keySet.map(_(1).asInstanceOf[Long]).intersect(
        Set(0L, 5L, 10L, 15L)).isEmpty)
    } finally WindowRewrite.clear()
  }

  test("avg/min/max/count(col) all rewrite") {
    def q = li.as("l").join(
        li.groupBy(col("l_orderkey"))
          .agg(avg(col("l_quantity")).as("aq"), min(col("l_tax")).as("mt"),
            max(col("l_discount")).as("xd"),
            count(col("l_returnflag")).as("nc")).as("t"),
        col("l.l_orderkey") === col("t.l_orderkey"))
      .select(col("l.l_orderkey").as("k"), col("l_linenumber"),
        col("aq"), col("mt"), col("xd"), col("nc"))
    val expect = canon(q)
    withRule {
      val plan = executedPlan(q, execute = false)
      assert(!plan.contains("Join"), s"join should be gone:\n$plan")
      assert(canon(q) === expect)
    }
  }

  test("no rewrite: unregistered path") {
    WindowRewrite.clear()
    val plan = executedPlan(selfAggJoin(), execute = false)
    assert(plan.contains("Join"), s"must keep the join:\n$plan")
  }

  test("no rewrite: distinct aggregate") {
    withRule {
      val q = li.as("l").join(
          li.groupBy(col("l_orderkey"))
            .agg(countDistinct(col("l_partkey")).as("np")).as("t"),
          col("l.l_orderkey") === col("t.l_orderkey"))
      val plan = executedPlan(q, execute = false)
      assert(plan.contains("Join"), s"must keep the join:\n$plan")
    }
  }

  test("no rewrite: join key is a DIFFERENT column than the group key") {
    withRule {
      // l_partkey == group(l_orderkey): an accidental equality must not
      // be window-partitioned by the wrong column
      val q = li.as("l").join(
          li.groupBy(col("l_orderkey"))
            .agg(sum(col("l_quantity")).as("sq")).as("t"),
          col("l.l_partkey") === col("t.l_orderkey"))
      val plan = executedPlan(q, execute = false)
      assert(plan.contains("Join"), s"must keep the join:\n$plan")
    }
  }

  test("no rewrite: asymmetric filter (sides are not the same subtree)") {
    withRule {
      val q = li.filter(col("l_linenumber") > 2).as("l").join(
          li.groupBy(col("l_orderkey"))
            .agg(sum(col("l_quantity")).as("sq")).as("t"),
          col("l.l_orderkey") === col("t.l_orderkey"))
      // the optimizer cannot push l_linenumber > 2 into the aggregate
      // side (it would change the totals), so the sides differ
      val plan = executedPlan(q, execute = false)
      assert(plan.contains("Join"), s"must keep the join:\n$plan")
    }
  }

  test("no rewrite: extra non-key predicate in the join condition") {
    withRule {
      val q = li.as("l").join(
          li.groupBy(col("l_orderkey"))
            .agg(sum(col("l_quantity")).as("sq")).as("t"),
          col("l.l_orderkey") === col("t.l_orderkey") && col("sq") > 10)
      val plan = executedPlan(q, execute = false)
      assert(plan.contains("Join"), s"must keep the join:\n$plan")
    }
  }

  test("symmetric pushed filter on the shared subtree still rewrites") {
    // a post-join filter on the join key is pushed to BOTH sides by the
    // optimizer; the sides stay sameResult and the rewrite fires
    def q = selfAggJoin().filter(col("l_orderkey") < 100)
    val expect = canon(q)
    withRule {
      val plan = executedPlan(q, execute = false)
      assert(!plan.contains("Join"), s"join should be gone:\n$plan")
      assert(canon(q) === expect)
    }
  }

  test("parent operators resolve against the rewritten output") {
    withRule {
      val df = selfAggJoin()
        .groupBy(col("l_orderkey"))
        .agg(max(col("n_items")).as("ni"))
        .orderBy(col("l_orderkey")).limit(5)
      assert(df.collect().length == 5)
    }
  }
}
