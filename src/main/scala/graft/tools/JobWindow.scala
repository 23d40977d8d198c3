package graft.tools

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The listener events a block of work causes, bounded by marker jobs
  * instead of a sleep. A marker job runs on the calling thread before
  * the block and another after it. The listener bus delivers events in
  * the order they were posted, so:
  *  - every event posted before the first marker's job ended (work of
  *    earlier queries, still queued when the listener joined) arrives
  *    before that job's end and is left out;
  *  - once the second marker's job start arrives, so has every event of
  *    the block — a late stage or job event cannot slip past the way it
  *    can past a fixed sleep.
  * Events of other threads' jobs inside the window are kept; callers
  * that must tell them apart tag their own jobs with a local property.
  */
object JobWindow {

  /** The local property the marker jobs are tagged under. */
  val TagKey = "graft.job.tag"
  private val StartTag = "graft.window.start"
  private val EndTag = "graft.window.end"

  private def tagOf(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))

  /** `body`'s result and every listener event posted between the end
    * of the first marker job and the start of the second, in delivery
    * order. `body` runs with the caller's `TagKey` value in place.
    */
  def events[T](spark: SparkSession)(body: => T)
      : (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]
    val closed = new CountDownLatch(1)
    // both fields are touched only on the listener bus thread
    val listener = new SparkFirehoseListener {
      private var startJob = -1
      private var open = false
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerJobStart if tagOf(s).contains(StartTag) =>
          startJob = s.jobId
        case s: SparkListenerJobEnd if s.jobId == startJob => open = true
        case s: SparkListenerJobStart if tagOf(s).contains(EndTag) =>
          open = false
          closed.countDown()
        case _ => if (open) seen.add(e)
      }
    }
    val callerTag = sc.getLocalProperty(TagKey)
    def marker(tag: String): Unit = {
      sc.setLocalProperty(TagKey, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(TagKey, callerTag)
    }
    sc.addSparkListener(listener)
    try {
      marker(StartTag)
      val result = body
      marker(EndTag)
      require(closed.await(30, TimeUnit.SECONDS),
        "JobWindow: the listener bus did not deliver the end marker in 30 s")
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
