package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

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

  private val tagKey = "graft.test.tag"

  /** `body`'s result and the `tagKey` value of every job it starts (jobs
    * `body` starts on this thread carry "run"). Marker jobs run on this
    * thread before and after bound the window: the listener bus delivers
    * events in order, so jobs started earlier (still queued when the
    * listener joins) come before the first marker, and once the second
    * marker's start arrives, so has every job of `body` — a late event
    * cannot slip past the check the way it can past a sleep.
    */
  def jobTags[T](body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty(tagKey))).getOrElse("")
        seen.add(tag)
        if (tag == "end") drained.countDown()
      }
    }
    val sc = spark.sparkContext
    def marker(tag: String): Unit = {
      sc.setLocalProperty(tagKey, tag)
      sc.parallelize(Seq(1), 1).count()
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      sc.setLocalProperty(tagKey, "run")
      val result = body
      marker("end")
      assert(drained.await(30, TimeUnit.SECONDS))
      (result, seen.asScala.toSeq.dropWhile(_ != "start").drop(1).takeWhile(_ != "end"))
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
