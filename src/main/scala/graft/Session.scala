package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration shared by every main, dev tool
  * and test suite:
  *
  *  - `local[cpus]` with shuffle partitions = cpus;
  *  - UTC session time zone, AQE on, UI off;
  *  - untruncated scan metadata, which [[PlanFingerprint.of]] requires
  *    (the default 100-char cut moves with the JVM-global exprId width);
  *  - the catalog warehouse dir under `java.io.tmpdir`. Every table the
  *    engine writes carries an explicit path, so the warehouse dir never
  *    holds data;
  *  - log level WARN.
  */
object Session {
  /** `$SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
