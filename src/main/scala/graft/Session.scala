package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
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
  *
  * It also owns each application's scratch root ([[scratch]]).
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

  private val roots = scala.collection.mutable.Map.empty[String, String]

  /** The application's scratch root, `${java.io.tmpdir}/graft_<appId>`:
    * every staged fixture and scratch path the engine and its specs
    * write lives under it. Created on first use; one listener per
    * application deletes it when the SparkContext stops — `spark.stop()`
    * in the mains, Spark's shutdown hook for a session nobody stops.
    */
  def scratch(spark: SparkSession): String = roots.synchronized {
    val sc = spark.sparkContext
    val app = sc.applicationId
    roots.getOrElseUpdate(app, {
      val root = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_$app")
      Files.createDirectories(root)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          deleteRecursively(root)
          roots.synchronized(roots -= app)
        }
      })
      root.toString
    })
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
