package graft

import org.apache.spark.sql.SparkSession

/** The bench artifact's plan-regression guard is only useful if the
  * fingerprint is deterministic: the same query on the same data must
  * hash identically in two independent sessions (fresh expression ids,
  * fresh exchange ids, fresh temp state), and materially different plans
  * must hash differently.
  */
class PlanFingerprintSpec extends SparkSpec {

  private def fingerprint(s: SparkSession, name: String): String =
    PlanFingerprint.of(SparkEntry.queries(name)(s, sf001))

  private def normalizedPlan(s: SparkSession, name: String): String =
    PlanFingerprint.normalize(
      SparkEntry.queries(name)(s, sf001).queryExecution.executedPlan.toString)

  test("fingerprints are stable across two independent sessions") {
    // joins+broadcast, window+TakeOrdered, a native-expression scan, and
    // the per-column profile (whose old multi-count_distinct form
    // planned an Expand with session-history-dependent group ids — the
    // one drift source in 237 baselined queries) — the plan families
    // most at risk of silent shape drift
    for (q <- Seq("q_star_monthly_segment", "q_top_customers", "q_ann_lsh",
        "q_profile", "q_interval_join")) {
      val a = normalizedPlan(spark.newSession(), q)
      val b = normalizedPlan(spark.newSession(), q)
      if (a != b) {
        val diff = a.linesIterator.zipAll(b.linesIterator, "<absent>", "<absent>")
          .filter { case (x, y) => x != y }.take(8)
          .map { case (x, y) => s"  A: $x\n  B: $y" }.mkString("\n")
        fail(s"$q fingerprint must not depend on session state; first diffs:\n$diff")
      }
    }
  }

  test("different plan shapes produce different fingerprints") {
    val a = fingerprint(spark.newSession(), "q_top_customers")
    val b = fingerprint(spark.newSession(), "q_star_monthly_segment")
    assert(a !== b)
  }

  test("normalization strips ids and paths but keeps operators") {
    val s = """*(2) BroadcastHashJoin [c_custkey#123L], [o_custkey#456L]
              |  Scan parquet [c_custkey#123L] Location: InMemoryFileIndex
              |    file:/tmp/graft_x_local-1755034/part-0.parquet, plan_id=42
              |  Exchange hashpartitioning(o_custkey#456L, 32), [id=#99]""".stripMargin
    val n = PlanFingerprint.normalize(s)
    assert(!n.contains("#123") && !n.contains("plan_id=42") && !n.contains("[id=#99]"))
    assert(!n.contains("local-1755034"))
    assert(n.contains("BroadcastHashJoin") && n.contains("hashpartitioning"))
  }

  test("normalization strips JVM lambda encodings and file-index path " +
      "counts (both vary across equal-plan runs)") {
    import graft.PlanFingerprint.normalize
    val a = normalize("MapPartitions graft.multimodal.Multimodal$$Lambda$2861/0x00007f0a1c2b3d40, obj#12")
    val b = normalize("MapPartitions graft.multimodal.Multimodal$$Lambda$977/0x00007fee00112233, obj#99")
    assert(a === b)
    val c = normalize("Location: InMemoryFileIndex(12 paths)[<p>]")
    val d = normalize("Location: InMemoryFileIndex(3 paths)[<p>]")
    assert(c === d)
    // idempotent: normalizing a normalized string is a no-op
    assert(normalize(a) === a && normalize(c) === c)
  }

  test("normalization strips ENVIRONMENT-sized shuffle partition counts " +
      "but keeps explicit repartition(N) counts — a baseline refreshed " +
      "on a 4-core box must match a 32-core driver run") {
    import graft.PlanFingerprint.normalize
    val a = normalize(
      "Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=1]")
    val b = normalize(
      "Exchange hashpartitioning(k#2L, 32), ENSURE_REQUIREMENTS, [plan_id=9]")
    assert(a === b)
    val c = normalize(
      "Exchange rangepartitioning(k#1L ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=1]")
    val d = normalize(
      "Exchange rangepartitioning(k#2L ASC NULLS FIRST, 32), ENSURE_REQUIREMENTS, [plan_id=2]")
    assert(c === d)
    // an explicit df.repartition(8, col) is PLAN-shaped — its count stays
    val e = normalize(
      "Exchange hashpartitioning(k#1L, 8), REPARTITION_BY_NUM, [plan_id=1]")
    val f = normalize(
      "Exchange hashpartitioning(k#1L, 16), REPARTITION_BY_NUM, [plan_id=1]")
    assert(e !== f)
    assert(normalize(a) === a) // idempotent
  }

  test("normalization strips common-subexpression alias counters — " +
      "the same count_if query hashes alike on every construction") {
    import graft.PlanFingerprint.normalize
    import org.apache.spark.sql.functions.{col, count_if}
    val a = normalize("Project [(f#1 = R) AS _common_expr_0#12]")
    val b = normalize("Project [(f#7 = R) AS _common_expr_4#40]")
    assert(a === b)
    assert(normalize(a) === a) // idempotent
    // the counter is JVM-global: each construction allocates fresh
    // suffixes, and the fingerprint must not see them
    def q = spark.range(10).agg(count_if(col("id") === 1).as("n"))
    val first = q.queryExecution.executedPlan.toString
    val second = q.queryExecution.executedPlan.toString
    assert(first.contains("_common_expr_"), first)
    assert(first !== second)
    assert(PlanFingerprint.of(q) === PlanFingerprint.of(q))
  }

  test("normalization strips runtime query-stage numbers and codegen " +
      "ids — a query whose construction executes jobs embeds reused " +
      "stages whose numbering is scheduling, not plan shape") {
    import graft.PlanFingerprint.normalize
    val a = normalize("""BroadcastQueryStage 4
      |  *(2) Filter (isnotnull(h#1))""".stripMargin)
    val b = normalize("""BroadcastQueryStage 3
      |  *(1) Filter (isnotnull(h#9))""".stripMargin)
    assert(a === b)
    val c = normalize("ShuffleQueryStage 5, Statistics(x)")
    val d = normalize("ShuffleQueryStage 12, Statistics(x)")
    assert(c === d)
    // rebalance shuffles are shuffle.partitions-sized too
    val e = normalize(
      "Exchange hashpartitioning(k#1L, 4), REBALANCE_PARTITIONS_BY_COL, [plan_id=1]")
    val f = normalize(
      "Exchange hashpartitioning(k#2L, 32), REBALANCE_PARTITIONS_BY_COL, [plan_id=2]")
    assert(e === f)
    assert(normalize(a) === a && normalize(e) === e) // idempotent
  }

  test("normalization collapses truncated IN-list literals — scan " +
      "metadata cuts the value list at a fixed width, so exprId digit " +
      "width shifts the cut point between sessions") {
    import graft.PlanFingerprint.normalize
    // the same INSET list truncated at two different positions (what a
    // '#12L' vs '#4567L' exprId width difference does to the cut)
    val a = normalize("DataFilters: [k#12L INSET 131, 141, 143, 342..., " +
      "Format: Parquet, PushedFilters: [In(k, [131,141,143,34..., " +
      "ReadSchema: struct<k:bigint>")
    val b = normalize("DataFilters: [k#4567L INSET 131, 141, 143, 34..., " +
      "Format: Parquet, PushedFilters: [In(k, [131,141,143,342..., " +
      "ReadSchema: struct<k:bigint>")
    assert(a === b)
    // the predicate column stays visible (shape survives normalization)
    assert(a.contains("INSET <vals>") && a.contains("In(k, [<vals>"))
    assert(normalize(a) === a) // idempotent
    // FILTER-node INSET: tree nodes print conditions in full, ending at
    // ')' — no ']' anywhere, and the literal list is still data (a
    // dim-pruned residual isin changes with the key set, not the plan)
    val g = normalize(
      "+- Filter (isnotnull(k#12L) AND k#12L INSET 131, 141, 143)")
    val h = normalize(
      "+- Filter (isnotnull(k#4567L) AND k#4567L INSET 131, 141, 150)")
    assert(g === h, s"$g != $h")
    assert(g.contains("INSET <vals>)"))
    // and the scan normalization must NOT have eaten past the list into
    // the rest of the line (the r15 greedy-match regression)
    assert(a.contains("Format: Parquet") && a.contains("ReadSchema"))
    assert(normalize(g) === g) // idempotent
    // truncated COMPARISON tail: the cut falls INSIDE the last
    // partially-printed predicate at an exprId-width-dependent position
    // (q_lookup_enrich's timestamp filter: '1996-02-01' vs '1996-02')
    val i1 = normalize("DataFilters: [isnotnull(d#12), " +
      "(d#12 < 1996-02-01..., Format: Parquet")
    val i2 = normalize("DataFilters: [isnotnull(d#4567), " +
      "(d#4567 < 1996-02..., Format: Parquet")
    assert(i1 === i2, s"$i1 != $i2")
    assert(i1.contains("<cut>...") && i1.contains("Format: Parquet"))
    assert(normalize(i1) === i1) // idempotent
  }
}
