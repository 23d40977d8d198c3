package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM at local[4] with one client thread:
  * set-up, warm-up, then a fixed number of closed-loop ops; every op's
  * outputs are checked. Prints every metric with its unit, then one JSON
  * line.
  *
  * The op count is `--seconds` over the workload's [[Workload.sizingOpS]],
  * rounded to an even number of at least two. It depends on the arguments
  * only, never on how fast the ops run, so every commit measures latency
  * and heap on the same state: the warehouse fact and the corpus caches
  * grow with every op.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        [--sf <scale factor>] --work <dir> --out <dir>
  * }}}
  *
  * With `--trace 1`, one op of each consecutive pair is traced and the
  * other is not, so one run yields the per-layer metrics and the tracing
  * overhead. Which op of a pair is traced alternates from pair to pair,
  * starting from the seed's parity, so growing state does not bias the
  * overhead ratio one way.
  */
object Main {
  val Cores = 4

  /** End-to-end metrics and their units, printed with `--trace 0`. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "ops_per_s" -> "1/s", "heap_live_mb" -> "MB")

  private val layerSuffixes = Seq("calls" -> "count", "failed" -> "count",
    "construct_ms" -> "ms", "construct_jobs" -> "count", "plan_ms" -> "ms",
    "plan_jobs" -> "count", "exec_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_busy_ms" -> "ms", "idle_core_ms" -> "ms",
    "no_stage_ms" -> "ms", "input_mb" -> "MB", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "output_mb" -> "MB")

  /** Per-layer metrics and their units, printed with `--trace 1`; a
    * metric a workload does not produce reads 0.
    */
  val perLayer: Seq[(String, String)] =
    Layers.all.flatMap(l => layerSuffixes.map { case (s, u) => s"$l.$s" -> u }) ++ Seq(
      "sources.files_read_ratio" -> "ratio", "sources.merge_rewrite_ratio" -> "ratio",
      "etl.dim_rows_versioned" -> "count", "operators.dedup_survivor_ratio" -> "ratio",
      "operators.ann_recall_at_10" -> "ratio", "run.storage_mb_held_max" -> "MB",
      "trace.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      sf: Double, work: File, out: File)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      m.getOrElse("sf", "0.01").toDouble,
      new File(need("work")), new File(need("out")))
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}'; one of ${Workload.names.mkString(", ")}")
    require(a.seconds > 0 && a.sf > 0, "seconds and sf must be positive")
    a
  }

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    a.work.mkdirs(); a.out.mkdirs()
    val spark = session(a)
    val tracer = new Tracer(spark, Cores)
    if (a.trace) tracer.install()
    val w = Workload(a.workload, spark, tracer, a.seed, a.sf)

    val dir = new File(a.work, "state")
    dir.mkdirs()
    val sessionAt = System.currentTimeMillis()
    w.setUp(dir)
    val stateAt = System.currentTimeMillis()
    (0 until w.warmUpOps).foreach { i => w.prepare(i); w.op(i); w.check(i) }
    w.resetMetrics()
    val warmAt = System.currentTimeMillis()
    val setupS = (warmAt - jvmStart) / 1000.0

    val lat = ArrayBuffer.empty[Double]
    val tracedLat = ArrayBuffer.empty[Double]
    val untracedLat = ArrayBuffer.empty[Double]
    val tracedOps = scala.collection.mutable.Set.empty[Int]
    val ops = 2 * math.max(1L, math.round(a.seconds / (2 * w.sizingOpS))).toInt
    var timedNs = 0L
    var attempted = 0
    var failed = 0
    var storageMax = 0L
    for (k <- 0 until ops) {
      val i = w.warmUpOps + k
      w.prepare(i)
      val traced = a.trace && (k % 2 == 0) == ((k / 2 + a.seed) % 2 == 0)
      tracer.enabled = traced
      tracer.beginOp(i)
      val t = System.nanoTime()
      val ran = try { tracer.span(s"op.${a.workload}", "", "op")(w.op(i)); true }
      catch { case NonFatal(e) => System.err.println(s"op $i failed: $e"); false }
      val dt = System.nanoTime() - t
      tracer.enabled = false
      val ok = ran && (try { w.check(i); true }
      catch { case NonFatal(e) => System.err.println(s"op $i check failed: $e"); false })
      timedNs += dt
      attempted += 1
      if (!ok) failed += 1
      lat += dt / 1e6
      if (a.trace) { if (traced) { tracedLat += dt / 1e6; tracedOps += i } else untracedLat += dt / 1e6 }
      storageMax = math.max(storageMax,
        spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum)
    }
    val timedS = timedNs / 1e9
    val done = attempted - failed

    // live heap: the second full GC also reclaims what Spark's cleaner
    // released after the first one found its weakly reachable handles
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val all = ArrayBuffer.empty[(String, Double, String)]
    all += (("setup_s", setupS, "s"))
    all += (("op_ms_p50", median(lat.toSeq), "ms"))
    if (lat.size >= 100) all += (("op_ms_p90", quantile(lat.toSeq, 0.9), "ms"))
    all += (("ops_per_s", done / timedS, "1/s"))
    all += (("rows_per_s", done * w.rowsPerOp / timedS, "rows/s"))
    all += (("error_rate", failed.toDouble / attempted, "ratio"))
    all += (("heap_live_mb", heapMb, "MB"))
    all ++= w.metrics
    all += (("run.storage_mb_held_max", storageMax / 1048576.0, "MB"))

    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    if (a.trace) {
      tracer.drain()
      all ++= tracer.layerMetrics(tracedOps.toSet)
      all += (("trace.overhead_ratio",
        if (tracedLat.isEmpty || untracedLat.isEmpty) 1.0
        else median(tracedLat.toSeq) / median(untracedLat.toSeq), "ratio"))
      tracer.writeSpans(new File(a.out, s"$tag.spans.jsonl"))
    }
    val inputs = w.inputs
    val pw = new PrintWriter(new File(a.out, s"$tag.inputs.json"), "UTF-8")
    try pw.println(inputs.map(_.json).mkString("[", ",\n", "]")) finally pw.close()
    spark.stop()

    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(inputs.map(_.sha256).mkString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    println(s"workload ${a.workload} seed ${a.seed} sf ${a.sf}: $attempted ops attempted, " +
      s"$failed failed")
    println(f"set-up s: session ${(sessionAt - jvmStart) / 1e3}%.1f, state " +
      f"${(stateAt - sessionAt) / 1e3}%.1f, warm-up ${(warmAt - stateAt) / 1e3}%.1f")
    println("op latencies ms " + lat.map(x => f"$x%.0f").mkString("[", ", ", "]"))
    println(s"inputs ${inputs.size} files, ${inputs.map(_.rows).sum} rows, " +
      s"${inputs.map(_.bytes).sum} bytes, sha256 $digest")
    all.foreach { case (n, v, u) => println(f"metric $n%-34s ${fmt(v)}%s $u") }

    val byName = all.map { case (n, v, _) => n -> v }.toMap
    val metrics = (if (a.trace) perLayer else endToEnd).map { case (n, u) =>
      s""""$n":{"value":${fmt(byName.getOrElse(n, 0.0))},"unit":"$u"}"""
    }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }
}
