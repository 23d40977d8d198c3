package graft.tools

import java.nio.file.{Files, Paths}

import graft.{PlanFingerprint, Session, SparkEntry}
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Plan and profile probes for named catalog queries, run on the
  * [[graft.Session]] over `$SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  * {{{
  *   runMain graft.tools.Probe explain <outDir> <suffix> <q>...
  *   runMain graft.tools.Probe fp <q> <out> [pre1,pre2,...]
  *   runMain graft.tools.Probe survey [out.tsv]
  *   runMain graft.tools.Probe stages <q>...
  * }}}
  *
  *  - `explain` writes `.explain("formatted")` of each query's STATICALLY
  *    planned tree (the one [[graft.PlanFingerprint]] hashes) to
  *    `<outDir>/<q>_<suffix>.txt` under a one-line header — the plan
  *    evidence committed with a baseline refresh.
  *  - `fp` writes the query's NORMALIZED plan (exactly what the
  *    fingerprint hashes) for three consecutive constructions in one
  *    session to `<out>.1`, `<out>.2`, `<out>.3` and prints each one's
  *    8-hex fingerprint. The `pre` queries, when given, run between
  *    constructions 1 and 2, so `diff <out>.1 <out>.2` shows what the
  *    session history leaks into the plan and `<out>.2` vs `<out>.3` any
  *    flap that needs no history.
  *  - `survey` prints a TSV plan-shape line for EVERY catalog query
  *    (`name  exchanges  bcast  scans  smj  shj  bnlj  cartesian
  *    window1p`), optionally also to a file.
  *  - `stages` runs each query once through the noop sink and prints
  *    every stage's wall time, summed task time, file-scan and shuffle
  *    read/write MB, slowest first, then a per-query summary line.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      args.toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit =
    args match {
      case Seq("explain", outDir, suffix, names @ _*) if names.nonEmpty =>
        explain(spark, sfDir, outDir, suffix, names)
      case Seq("fp", name, out) => fp(spark, sfDir, name, out, Nil)
      case Seq("fp", name, out, pre) =>
        fp(spark, sfDir, name, out, pre.split(",").toSeq)
      case Seq("survey") => survey(spark, sfDir, None)
      case Seq("survey", out) => survey(spark, sfDir, Some(out))
      case Seq("stages", names @ _*) if names.nonEmpty =>
        stages(spark, sfDir, names)
      case _ => throw new IllegalArgumentException(
        "usage: Probe explain <outDir> <suffix> <q>... | fp <q> <out> " +
          "[pre,...] | survey [out.tsv] | stages <q>...")
    }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val plan = SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      // ReusedExchange references an already-counted exchange; don't
      // inflate the evidence header with it
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).length
      val header = s"== $n ($suffix) sf=$sfDir cpus=$cpus exchanges=$exchanges ==\n"
      val out = Paths.get(outDir).resolve(s"${n}_$suffix.txt")
      write(out.toString, header + plan)
      println(s"[explain] $n -> $out (exchanges=$exchanges)")
    }
  }

  private def fp(spark: SparkSession, sfDir: String, name: String,
      out: String, pre: Seq[String]): Unit =
    (1 to 3).foreach { i =>
      if (i == 2) pre.foreach { p =>
        spark.sharedState.cacheManager.clearCache()
        SparkEntry.queries(p)(spark, sfDir).count()
        println(s"[fp] ran $p")
      }
      spark.sharedState.cacheManager.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val norm = PlanFingerprint.normalize(df.queryExecution.executedPlan.toString)
      write(s"$out.$i", norm)
      println(s"[fp] $name ($i) fp=${PlanFingerprint.md5hex(norm).take(8)} -> $out.$i")
      df.count()
    }

  val surveyHeader =
    "name\texchanges\tbcast\tscans\tsmj\tshj\tbnlj\tcartesian\twindow1p"

  /** One TSV plan-shape line of `survey`, without the trailing newline. */
  def surveyLine(name: String, df: DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    def c(pat: String) = pat.r.findAllIn(p).length
    // negative lookbehind: ReusedExchange is a reference to an
    // already-counted exchange, not a second shuffle
    Seq(name, c("(?<!Reused)Exchange "), c("(?<!Reused)BroadcastExchange"),
      c("Scan parquet|Scan csv|Scan json"), c("SortMergeJoin"),
      c("ShuffledHashJoin"), c("BroadcastNestedLoopJoin"),
      c("CartesianProduct"), c("Window \\[")).mkString("\t")
  }

  private def survey(spark: SparkSession, sfDir: String,
      out: Option[String]): Unit = {
    val sb = new StringBuilder(surveyHeader + "\n")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val line =
        try surveyLine(name, fn(spark, sfDir)) + "\n"
        catch { case e: Throwable => s"$name\tERR\t${e.getClass.getSimpleName}\n" }
      sb.append(line)
      print(line)
    }
    out.foreach(write(_, sb.toString))
  }

  private final case class Stage(id: Int, name: String, wallMs: Long,
      taskMs: Long, scanMB: Double, srMB: Double, swMB: Double, nTasks: Int)

  /** The bytes of the files each file scan in the window listed (its
    * "size of files read" SQL metric, a driver-side update), summed per
    * stage that ran the scan: the stage whose accumulables hold one of
    * the scan's task-side metrics. Scans are found in every plan the
    * window's executions posted, AQE re-plans included, so a scan whose
    * stage AQE later folded away still counts. A task's
    * `inputMetrics.bytesRead` cannot stand in: it reads 0 for a
    * vectorized parquet scan and counts every cache read in full.
    */
  private def scanBytesByStage(events: Seq[SparkListenerEvent]): Map[Int, Long] = {
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    // files-size metric id -> every metric id of its scan node
    val scans = events.collect {
      case e: SparkListenerSQLExecutionStart => e.sparkPlanInfo
      case e: SparkListenerSQLAdaptiveExecutionUpdate => e.sparkPlanInfo
    }.flatMap(nodes).flatMap(n =>
      n.metrics.find(_.name == "size of files read")
        .map(_.accumulatorId -> n.metrics.map(_.accumulatorId).toSet)).toMap
    val driverValues = events.collect {
      case e: SparkListenerDriverAccumUpdates => e.accumUpdates
    }.flatten.toMap
    events.collect { case e: SparkListenerStageCompleted =>
      val ids = e.stageInfo.accumulables.keySet
      e.stageInfo.stageId -> scans.collect {
        case (size, m) if m.exists(ids) => driverValues.getOrElse(size, 0L)
      }.sum
    }.toMap
  }

  private def stages(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    try for (n <- names) {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.setJobDescription(s"profile: $n")
      val ((buildMs, queryMs), events) = JobWindow.events(spark) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
      }
      val scanBytes = scanBytesByStage(events)
      val all = events.collect { case e: SparkListenerStageCompleted =>
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        Stage(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          wall, m.executorRunTime,
          scanBytes.getOrElse(si.stageId, 0L) / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6, si.numTasks)
      }
      val jobs = events.count(_.isInstanceOf[SparkListenerJobEnd])
      println(f"%n=== $n build=$buildMs%.0fms query=$queryMs%.0fms stages=${all.size} ===")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"scan_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"tasks"}%6s  name")
      for (s <- all.sortBy(-_.wallMs).take(25))
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.scanMB}%8.2f ${s.srMB}%8.1f ${s.swMB}%8.1f ${s.nTasks}%6d  ${s.name}")
      println(s"[profile] $n sum_stage_wall=${all.map(_.wallMs.max(0)).sum}ms " +
        s"n_stages=${all.size} n_jobs=$jobs scan_bytes=${scanBytes.values.sum}")
    } finally spark.sparkContext.setJobDescription(null)
}
