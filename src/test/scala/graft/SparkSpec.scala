package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared local session, `Session.local(4)`: one JVM-wide session
  * for every suite, at a fixed 4-wide shape whatever the host size.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf001 = "/root/testdata/sf0.001"

  /** A new, empty, uniquely named directory under the session's scratch
    * root ([[Session.scratch]]), deleted with it when the session stops.
    */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Session.scratch(spark)), prefix).toString

  /** A table path (not yet created) inside a fresh [[tempDir]]. */
  def freshTable(tag: String): String = tempDir(tag) + "/t"

  /** Physical-plan string for shape assertions. `execute = true` runs the
    * query first so AQE finalizes the plan (broadcast decisions, coalesced
    * shuffles); false returns the initial plan.
    */
  def executedPlan(df: org.apache.spark.sql.DataFrame,
      execute: Boolean = true): String = {
    if (execute) df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** `body`'s result and the [[graft.tools.JobWindow.TagKey]] value of
    * every job it starts (jobs `body` starts on this thread carry "run"),
    * from the marker-bounded window of [[graft.tools.JobWindow]].
    */
  def jobTags[T](body: => T): (T, Seq[String]) = {
    import graft.tools.JobWindow
    val sc = spark.sparkContext
    sc.setLocalProperty(JobWindow.TagKey, "run")
    try {
      val (result, events) = JobWindow.events(spark)(body)
      (result, events.collect { case e: SparkListenerJobStart =>
        Option(e.properties)
          .flatMap(p => Option(p.getProperty(JobWindow.TagKey)))
          .getOrElse("")
      })
    } finally sc.setLocalProperty(JobWindow.TagKey, null)
  }
}
