package graft.plans

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The metadata-aggregate optimizer rule: whole-table count/min/max over
  * an indexed snapshot read collapses to a LocalRelation (zero jobs),
  * anything the evidence cannot prove keeps its plan, and the rewrite is
  * registration-scoped.
  */
class MetaAggSpec extends SparkSpec {

  private def build(tag: String): String = {
    import spark.implicits._
    val tbl = freshTable(tag)
    val df = (0L until 100L).map(k => (k, s"s${100 + k}",
        if (k % 10 == 0) null else s"n$k"))
      .toDF("k", "s", "nullable")
      .repartitionByRange(4, col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"), strStatsCols = Seq("s"))
    Snapshots.commit(df.filter(col("k") < 10), tbl,
      statsCols = Seq("k"), strStatsCols = Seq("s"))
    tbl
  }

  test("count/min/max over an enabled indexed read answers from " +
      "metadata with zero jobs, exactly") {
    MetaAgg.clear()
    val tbl = build("zero")
    MetaAgg.enable(spark, tbl)
    val (df, _) = Snapshots.readIndexed(spark, tbl)
    val q = df.agg(count(lit(1)).as("n"), min(col("k")).as("mn"),
      max(col("k")).as("mx"), min(col("s")).as("smn"),
      max(col("s")).as("smx"))
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected LocalRelation, got\n${q.queryExecution.optimizedPlan}")
    val (row, jobs) = jobTags(q.collect()(0))
    assert(jobs.isEmpty, "metadata aggregate must not launch a job")
    val truth = Snapshots.read(spark, tbl).agg(count(lit(1)),
      min(col("k")), max(col("k")), min(col("s")), max(col("s"))).head()
    assert(row === truth)
  }

  test("unprovable shapes keep their plan and stay correct: count(col) " +
      "with nulls, filtered agg, grouped agg, stat-less column") {
    val tbl = build("keep")
    MetaAgg.enable(spark, tbl)
    val (df, _) = Snapshots.readIndexed(spark, tbl)
    def notRewritten(q: org.apache.spark.sql.DataFrame): Unit =
      assert(!q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"must not rewrite\n${q.queryExecution.optimizedPlan}")
    val truthDf = Snapshots.read(spark, tbl)
    val c1 = df.agg(count(col("nullable")).as("n"))
    notRewritten(c1)
    assert(c1.head() === truthDf.agg(count(col("nullable"))).head())
    val c2 = df.filter(col("k") > 50).agg(count(lit(1)).as("n"))
    notRewritten(c2)
    assert(c2.head() ===
      truthDf.filter(col("k") > 50).agg(count(lit(1))).head())
    val c3 = df.groupBy(col("k") % 2).agg(count(lit(1)).as("n"))
    notRewritten(c3)
    // "nullable" has no recorded envelope (and holds nulls): no rewrite
    val c4 = df.agg(min(col("nullable")).as("m"))
    notRewritten(c4)
    assert(c4.head() === truthDf.agg(min(col("nullable"))).head())
    // count DISTINCT is not provable from row counts
    val c5 = df.agg(countDistinct(col("k")).as("n"))
    notRewritten(c5)
    MetaAgg.clear()
  }

  test("the rewrite is registration-scoped: a cleared registry changes " +
      "nothing") {
    val tbl = build("scope")
    MetaAgg.clear()
    val (df, _) = Snapshots.readIndexed(spark, tbl)
    // `def` not `val`: a QueryExecution locks its plan at first use
    def q = df.agg(count(lit(1)).as("n"))
    assert(!q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    MetaAgg.enable(spark, tbl)
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    MetaAgg.clear()
    assert(!q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("the X104 catalog entries answer from metadata: a LocalRelation " +
      "plan and zero jobs") {
    import graft.analytics.SnapshotQueries
    Seq(SnapshotQueries.statsAggQ, SnapshotQueries.statsAggStrQ).foreach { q =>
      val df = q.run(spark, sf001) // builds the memoized table
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"${q.name}:\n${df.queryExecution.optimizedPlan}")
      val (rows, jobs) = jobTags(df.collect())
      assert(jobs.isEmpty, s"${q.name} started ${jobs.size} jobs")
      assert(rows.length === 1 && rows(0).getLong(0) > 0)
    }
  }
}
