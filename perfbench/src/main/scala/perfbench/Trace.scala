package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `src/main` modules a workload calls into. `operators` includes the
  * `functions` expressions it evaluates.
  */
object Layers {
  val all: Seq[String] = Seq("ingest", "etl", "sources", "analytics", "operators")
}

/** One recorded interval. `phase` is `construct` (a call that returns a
  * lazy frame), `call` (an eager call), `plan` (forcing the physical
  * plan of a frame) or `exec` (the action on a frame); the op's root span
  * has phase `op`.
  */
final class Span(val id: Int, val name: String, val layer: String,
    val phase: String, val opId: Int, val parent: Int, val startNs: Long) {
  var endNs: Long = startNs
  var failed: Boolean = false
  def durNs: Long = endNs - startNs
}

/** Per-span counters gathered by the listener. */
final class SpanStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var stageWallMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** Span recorder plus a `SparkListener` that attributes every job, and the
  * stages and bytes under it, to the span open on the client thread when
  * the job was submitted (carried in the job's local properties, so the
  * asynchronous listener bus cannot misattribute). Scan bytes go to the
  * layer whose reader built the relation: versioned-table scans to
  * `sources`, CSV scans to `ingest`, any other scan to the open span.
  *
  * When `enabled` is false, spans are not recorded and frames are not
  * planned separately, so an untraced op runs exactly as in an untraced
  * run apart from the registered (idle) listener.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc: SparkContext = spark.sparkContext
  private val Prop = "perfbench.span"
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = -1

  private val lock = new Object
  private val stats = mutable.HashMap.empty[Int, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  /** (submit, complete) wall millis of every completed stage. */
  private val stageIntervals = ArrayBuffer.empty[(Long, Long)]

  private def statsOf(span: Int): SpanStats = stats.getOrElseUpdate(span, new SpanStats)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchBridge.queryExecution(end).foreach(record(end.executionId, _))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      span.foreach { s =>
        lock.synchronized {
          statsOf(s).jobs += 1
          e.stageIds.foreach(st => stageSpan(st) = s)
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .foreach(x => execSpan.getOrElseUpdate(x.toLong, s))
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      lock.synchronized {
        for (sub <- info.submissionTime; done <- info.completionTime)
          stageIntervals += ((sub, done))
        stageSpan.get(info.stageId).foreach { s =>
          val st = statsOf(s)
          val m = info.taskMetrics
          st.stages += 1
          st.tasks += info.numTasks
          if (m != null) {
            st.busyMs += m.executorRunTime
            st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
            st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            st.outputBytes += m.outputMetrics.bytesWritten
          }
          for (sub <- info.submissionTime; done <- info.completionTime)
            st.stageWallMs += done - sub
        }
      }
    }
  }

  private val scanOwner = mutable.HashMap.empty[(Int, String), Long]

  private def record(execId: Long, qe: QueryExecution): Unit = lock.synchronized {
    execSpan.get(execId).foreach { s =>
      scans(qe.executedPlan).foreach { scan =>
        val owner = scan.relation.location match {
          case _: graft.sources.SnapshotFileIndex => "sources"
          case _ if scan.relation.fileFormat.isInstanceOf[CSVFileFormat] => "ingest"
          case _ => ""
        }
        val bytes = scan.metrics.get("filesSize").map(_.value).getOrElse(0L)
        scanOwner((s, owner)) = scanOwner.getOrElse((s, owner), 0L) + bytes
      }
    }
  }

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }) ++ p.subqueries.flatMap(walk)
    walk(plan)
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
  }

  def beginOp(i: Int): Unit = opId = i

  private def open(name: String, layer: String, phase: String): Span = {
    val s = new Span(spans.size, name, layer, phase, opId,
      stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.tail
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
  }

  def span[T](name: String, layer: String, phase: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, layer, phase)
      try body
      catch { case t: Throwable => s.failed = true; throw t }
      finally close(s)
    }

  /** A call into `layer` that returns a lazy result. */
  def construct[T](layer: String, name: String)(body: => T): T =
    span(s"$layer.$name", layer, "construct")(body)

  /** An eager call into `layer` (it runs its own actions). */
  def call[T](layer: String, name: String)(body: => T): T =
    span(s"$layer.$name", layer, "call")(body)

  /** Collect `df`, the frame `layer` built. Traced, the physical plan is
    * forced first, so planning-time work (rules that run jobs) is split
    * from execution.
    */
  def collect(layer: String, name: String, df: DataFrame): Array[Row] = {
    if (enabled) span(s"$layer.$name", layer, "plan")(df.queryExecution.executedPlan)
    span(s"$layer.$name", layer, "exec")(df.collect())
  }

  /** `df.count()` as a collected one-row aggregate, so it plans once. */
  def count(layer: String, name: String, df: DataFrame): Long =
    collect(layer, name, df.groupBy().count()).head.getLong(0)

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBridge.drain(sc)

  /** Duration of `s` not covered by its children. */
  private def selfNs(s: Span, children: Map[Int, Seq[Span]]): Long =
    s.durNs - covered(s.startNs, s.endNs,
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Per-layer metrics averaged over the traced ops in `ops`. */
  def layerMetrics(ops: Set[Int]): Seq[(String, Double, String)] = lock.synchronized {
    val n = math.max(1, ops.size).toDouble
    val mine = spans.filter(s => ops.contains(s.opId))
    val children = mine.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    // wall-clock millis of a span, aligned to the listener's stage times
    val nsToMs = System.currentTimeMillis() - System.nanoTime() / 1000000
    def wallMs(ns: Long): Long = ns / 1000000 + nsToMs
    val stageMs = stageIntervals.toSeq
    Layers.all.flatMap { l =>
      val ls = mine.filter(_.layer == l)
      def ms(phases: String*): Double =
        ls.filter(s => phases.contains(s.phase)).map(selfNs(_, children)).sum / 1e6 / n
      def sum(phases: Seq[String])(f: SpanStats => Long): Double =
        ls.filter(s => phases.contains(s.phase)).map(s => stats.get(s.id).map(f).getOrElse(0L)).sum / n
      val allP = Seq("construct", "call", "plan", "exec")
      val wall = ls.map(_.durNs / 1e6).sum
      val busyStage = ls.map(s => covered(wallMs(s.startNs), wallMs(s.endNs), stageMs).toDouble).sum
      val scanOwned = scanOwner.collect {
        case ((s, owner), b) if owner == l && mine.exists(_.id == s) => b
        case ((s, ""), b) if ls.exists(_.id == s) => b
      }.sum / n
      val mb = 1024.0 * 1024.0
      Seq(
        (s"$l.calls", ls.count(s => s.phase == "construct" || s.phase == "call") / n, "count"),
        (s"$l.failed", ls.count(_.failed) / n, "count"),
        (s"$l.construct_ms", ms("construct"), "ms"),
        (s"$l.construct_jobs", sum(Seq("construct"))(_.jobs), "count"),
        (s"$l.plan_ms", ms("plan"), "ms"),
        (s"$l.plan_jobs", sum(Seq("plan"))(_.jobs), "count"),
        (s"$l.exec_ms", ms("call", "exec"), "ms"),
        (s"$l.jobs", sum(allP)(_.jobs), "count"),
        (s"$l.stages", sum(allP)(_.stages), "count"),
        (s"$l.tasks", sum(allP)(_.tasks), "count"),
        (s"$l.task_busy_ms", sum(allP)(_.busyMs), "ms"),
        (s"$l.idle_core_ms", sum(allP)(s => s.stageWallMs * cores - s.busyMs), "ms"),
        (s"$l.no_stage_ms", math.max(0.0, wall - busyStage) / n, "ms"),
        (s"$l.input_mb", scanOwned / mb, "MB"),
        (s"$l.shuffle_mb", sum(allP)(_.shuffleBytes) / mb, "MB"),
        (s"$l.spill_mb", sum(allP)(_.spillBytes) / mb, "MB"),
        (s"$l.output_mb", sum(allP)(_.outputBytes) / mb, "MB"))
    }
  }

  /** Writes every span, with its self time and counters, as JSON lines. */
  def writeSpans(file: File): Unit = lock.synchronized {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val st = stats.getOrElse(s.id, new SpanStats)
      out.println(
        s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","phase":"${s.phase}",""" +
          s""""op":${s.opId},"parent":${s.parent},"start_ms":${(s.startNs - t0) / 1e6},""" +
          s""""end_ms":${(s.endNs - t0) / 1e6},"self_ms":${selfNs(s, children) / 1e6},""" +
          s""""failed":${s.failed},"jobs":${st.jobs},"stages":${st.stages},""" +
          s""""tasks":${st.tasks},"task_busy_ms":${st.busyMs}}""")
    }
    finally out.close()
  }
}
