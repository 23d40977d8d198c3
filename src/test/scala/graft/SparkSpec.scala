package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared local session, `Session.local(4)`: one JVM-wide session
  * for every suite, at a fixed 4-wide shape whatever the host size.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf001 = "/root/testdata/sf0.001"

  /** Physical-plan string for shape assertions. `execute = true` runs the
    * query first so AQE finalizes the plan (broadcast decisions, coalesced
    * shuffles); false returns the initial plan.
    */
  def executedPlan(df: org.apache.spark.sql.DataFrame,
      execute: Boolean = true): String = {
    if (execute) df.collect()
    df.queryExecution.executedPlan.toString
  }
}
