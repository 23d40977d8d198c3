package org.apache.spark.sql

/** Spec-side reach into Spark state that is `private[sql]`. */
object SpecBridge {

  /** How many queries the session's cache manager holds: what a spec
    * checks to see that an operator left no cache behind.
    */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
