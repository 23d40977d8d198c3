package graft

/** Benchmark main: exactly ONE JSON line on stdout — a COMPACT summary
  * sized to survive a tail capture — plus the complete per-query maps
  * written to a file. Machine-parseable by construction:
  *
  *  - the build forks `run` with `outputStrategy := StdoutOutput`
  *    (no sbt `[info] ` prefix) and `run / showSuccess := false`
  *    (no `[success]` epilogue after the JSON), so the summary is the
  *    LAST line of stdout;
  *  - the summary is < 2000 bytes BY CONSTRUCTION: totals, error count,
  *    fingerprint-drift count, and only the slowest-20 `queries` — the
  *    r13 driver artifact kept a 2000-char stdout tail, which sliced
  *    the previous 15 KB full-map line mid-object (`"parsed": null`
  *    for 13 rounds);
  *  - the COMPLETE maps (all per-query totals, build_ms/query_ms split,
  *    full plan fingerprints, fp_drift, tables, errors) go to
  *    `SPARK_GRAFT_BENCH_OUT` (default `BENCH_LOCAL.json`, committed
  *    each round) — same object shape as before, now on disk.
  *
  * Protocol: each query runs `SPARK_GRAFT_BENCH_ITERS` times (default 3)
  * and reports the MINIMUM — single-shot numbers on a shared box carry
  * multi-second scheduler noise that has twice poisoned round artifacts.
  * The cache manager is cleared between runs so a query's persist() calls
  * can't leak warm state into its later iterations or into other queries.
  * Failures are recorded under "errors" (name → exception) instead of
  * being silently folded into the timing.
  *
  * Per query the line carries THREE timings: `queries` (total seconds,
  * the cross-round comparable), and `build_ms`/`query_ms` — the time to
  * CONSTRUCT the frame vs the time to EXECUTE it. Snapshot-protocol
  * entries (q_sql_dml, q_ann_pq_upsert, ...) build a fresh versioned
  * table inside construction, so their wall time is ~all build; the
  * split makes a true query-path regression visible instead of drowned
  * in commit-protocol cost.
  *
  * `SPARK_GRAFT_BENCH_ONLY=q_a,q_b` restricts to named queries (local
  * iteration loop); the driver runs the full catalog.
  *
  * Each query also reports a [[PlanFingerprint]] under `"plans"` (8-hex
  * prefix; the full map is written to `SPARK_GRAFT_PLANS_OUT`) — a hash
  * of its normalized statically-planned physical tree, so a silent plan
  * regression (lost broadcast, new shuffle) diffs loudly between round
  * artifacts even when timing noise hides it. `fp_drift` carries every
  * query whose fingerprint departs the committed sf0.1 baseline, and the
  * full artifact's `fp_unstable` every query whose iterations planned
  * different fingerprints (name → the distinct fp8s; normally empty).
  * `tables` pins per-table row counts + schema fingerprints, so "same
  * plan, different data" is adjudicable from artifacts alone.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Session.local(cpus)
    // Warm the JVM/codegen/scheduler paths once so the first measured
    // query doesn't absorb session startup cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).count()

    def jsonStr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ") + "\""

    final case class Timing(total: Double, buildMs: Long, queryMs: Long)
    var errors = Map.empty[String, String]
    // every iteration's fingerprint, in order: the last one is the
    // query's reported fp, and iterations that disagree are fp_unstable
    var plans = Map.empty[String, Vector[String]]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results: Seq[(String, Option[Timing])] = selected.map {
      case (name, fn) =>
        // Measurement ISOLATION between queries (r19; outside every timed
        // region): clearCache() drops SQL-cache entries, but RDD blocks
        // from localCheckpoint()s live until the driver GC lets the
        // ContextCleaner reap them — so in a 255-query run, late queries
        // inherit storage pressure leaked by early ones and measure 2x
        // their isolated cost (the r18 q_incremental_components 9 s
        // anomaly class). One GC hint per query boundary lets the cleaner
        // run; nothing is reused across queries — this DISPOSES state,
        // the opposite of caching.
        System.gc()
        val times = (1 to iters).flatMap { _ =>
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            // static-plan fingerprint, taken BEFORE execution:
            // deterministic across runs (post-AQE trees carry
            // scheduling-dependent stage reuse/coalesce artifacts).
            plans += name ->
              (plans.getOrElse(name, Vector.empty) :+ PlanFingerprint.of(df))
            val t2 = System.nanoTime()
            df.count()
            val t3 = System.nanoTime()
            // total excludes the fingerprint cost (microseconds, but
            // keep the measurement honest)
            Some(Timing(((t1 - t0) + (t3 - t2)) / 1e9,
              (t1 - t0) / 1000000L, (t3 - t2) / 1000000L))
          } catch {
            case e: Throwable =>
              errors += name ->
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
              None
          }
        }
        name -> (if (times.isEmpty) None
                 else Some(times.minBy(_.total)))
    }
    def mapJson(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => jsonStr(k) + ":" + v }
        .mkString("{", ",", "}")
    val ok = results.collect { case (k, Some(t)) => (k, t) }
    val total = ok.map(_._2.total).sum
    val errJson = mapJson(errors.toSeq.sortBy(_._1)
      .map { case (k, v) => (k, jsonStr(v)) })
    // per-table row counts + schema fingerprints: the driver regenerates
    // testdata between rounds, and timing drift is unadjudicable without
    // knowing whether the DATA changed under the same plan
    val tableNames = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tblJson = mapJson(tableNames.flatMap { t =>
      val p = s"$sfDir/$t.parquet"
      try {
        val rows = graft.sources.ParquetMeta.rowCount(spark, p)
        val fp = PlanFingerprint.md5hex(spark.read.parquet(p).schema.json)
          .take(8)
        Some((t, "[" + rows + "," + jsonStr(fp) + "]"))
      } catch { case _: Throwable => None }
    })
    // FULL-catalog fingerprint coverage: name→fp8 written to disk every
    // run (baseline regeneration material) and diffed against the
    // committed sf0.1 baseline — a plan regression ANYWHERE surfaces by
    // name in fp_drift (normally empty)
    val fp8s = plans.map { case (k, v) => k -> v.map(_.take(8)) }
    val fp8 = fp8s.map { case (k, v) => k -> v.last }
    val unstable = PlanBaseline.unstable(fp8s)
    // best-effort like the artifact write below: a full disk must not
    // take down the compact stdout line
    try PlanBaseline.write(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "target/bench_plans.json"),
      fp8)
    catch { case _: Throwable => () }
    val baseline = PlanBaseline.load(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_BASELINE", "PLAN_BASELINE_sf01.json"))
    val drift = PlanBaseline.drift(fp8, baseline)
    val driftJson = mapJson(drift.toSeq.sortBy(_._1).take(50)
      .map { case (k, fp) => (k, jsonStr(fp)) })
    val newCount = fp8.keys.count(k => !baseline.contains(k))
    val plansJson = mapJson(fp8.toSeq.sortBy(_._1)
      .map { case (k, v) => (k, jsonStr(v)) })
    val unstableJson = mapJson(unstable.toSeq.sortBy(_._1)
      .map { case (k, fps) => (k, fps.map(jsonStr).mkString("[", ",", "]")) })
    val buildJson = mapJson(ok.sortBy(_._1)
      .map { case (k, t) => (k, t.buildMs.toString) })
    val queryMsJson = mapJson(ok.sortBy(_._1)
      .map { case (k, t) => (k, t.queryMs.toString) })
    val qJson = mapJson(ok.sortBy(_._2.total)
      .map { case (k, t) => (k, (math.round(t.total * 1e6) / 1e6).toString) })
    // FULL artifact → file (committed per round as BENCH_LOCAL.json):
    // every per-query total, the build/query split, all fingerprints.
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""iters":$iters,"sf":${jsonStr(sfDir)},"cpus":$cpus""" +
      s""","n_queries":${results.size},"err":${errors.size}""" +
      s""","errors":$errJson,"tables":$tblJson""" +
      s""","n_fp":${fp8.size},"n_base":${baseline.size}""" +
      s""","n_drift":${drift.size},"n_new":$newCount""" +
      s""","fp_drift":$driftJson,"fp_unstable":$unstableJson""" +
      s""","plans":$plansJson""" +
      s""","build_ms":$buildJson,"query_ms":$queryMsJson""" +
      s""","queries":$qJson}"""
    // a failed artifact write must NOT take the compact stdout line down
    // with it (that line is the driver's only parse source) — flag the
    // failure inside the line instead
    val fullOut = try {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (fullJson + "\n").getBytes("UTF-8"))
      p
    } catch {
      case e: Throwable =>
        s"write-failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(60)
    }
    // COMPACT summary → the one stdout line, slowest-20 only, sized to
    // survive a 2000-char tail capture (hard-asserted below).
    val slowest = mapJson(ok.sortBy(-_._2.total).take(20)
      .map { case (k, t) => (k, (math.round(t.total * 1e3) / 1e3).toString) })
    val errNames = errors.keys.toSeq.sorted.take(5)
      .map(jsonStr).mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":${math.round(total * 1e3) / 1e3},""" +
      s""""unit":"sec","iters":$iters,"sf":${jsonStr(sfDir)},"cpus":$cpus""" +
      s""","n_queries":${results.size},"err":${errors.size}""" +
      s""","err_names":$errNames""" +
      s""","build_ms_total":${ok.map(_._2.buildMs).sum}""" +
      s""","query_ms_total":${ok.map(_._2.queryMs).sum}""" +
      s""","n_fp":${fp8.size},"n_drift":${drift.size},"n_new":$newCount""" +
      s""","full":${jsonStr(fullOut)},"queries":$slowest}"""
    // NEVER throw past this point — the compact line is the driver's
    // only parse source. Over budget (should be unreachable at 20
    // queries): degrade to a minimal line rather than losing it all.
    val line =
      if (compact.length < 1900) compact
      else s"""{"metric":"total","value":${math.round(total * 1e3) / 1e3},""" +
        s""""unit":"sec","n_queries":${results.size},"err":${errors.size}""" +
        s""","n_drift":${drift.size},"full":${jsonStr(fullOut.take(80))}}"""
    println(line)
    spark.stop()
  }
}
