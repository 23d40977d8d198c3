package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A filtered row count over [[Snapshots.read]] together with the file
  * cut its [[SnapshotFileIndex]] slices recorded (`lastPrune`) — what
  * the file-skipping specs assert on.
  */
final case class IndexedCount(rows: Long, kept: Int, skipped: Int)

object IndexedCount {

  /** `cond` over [[Snapshots.read]] of the latest version; the cut sums
    * over every index the plan scans — one for a flat version, one per
    * era (and mask group) otherwise. Each index starts at "nothing
    * read": a scan the optimizer folds away (a contradiction, or an era
    * branch whose narrow type cannot hold the literal) never lists its
    * files, and reads none of them.
    */
  def of(spark: SparkSession, table: String, cond: Column): IndexedCount = {
    val df = Snapshots.read(spark, table).filter(cond)
    val ixs = SnapshotFileIndex.indexesOf(df.queryExecution.analyzed)
    ixs.foreach(ix => ix.lastPrune = (0, ix.lastPrune._2))
    val rows = df.count()
    val kept = ixs.map(_.lastPrune._1).sum
    val total = ixs.map(_.lastPrune._2).sum
    IndexedCount(rows, kept, total - kept)
  }

  /** The latest version's rows as [[Snapshots.read]] returns them,
    * materialized: a filter on this frame runs over the rows and skips
    * no file — the unpruned reference for ERA-EVOLVED tables, whose
    * era mapping only the grouped read applies. Flat tables use
    * [[listed]].
    */
  def unpruned(spark: SparkSession, table: String): DataFrame =
    Snapshots.read(spark, table).localCheckpoint()

  /** The latest version's data files read by a plain parquet listing of
    * the manifest's paths under the recorded schema — no
    * [[SnapshotFileIndex]] involved, so a fault in the index's own
    * listing cannot hide in both sides of a comparison. The unpruned
    * reference for a FLAT version (one era, no masks); refuses others.
    */
  def listed(spark: SparkSession, table: String): DataFrame = {
    val v = Snapshots.latestVersion(spark, table)
    val entries = Snapshots.manifest(spark, table, v)
    val props = Snapshots.properties(spark, table, v)
    SnapshotFileIndex.refusalOf(table, v, entries, props)
      .foreach(msg => throw new IllegalArgumentException(msg))
    spark.read.schema(SnapshotFileIndex.recordedSchema(table, v, props))
      .parquet(entries.map(e =>
        if (new Path(e.path).isAbsolute) e.path
        else s"$table/${e.path}"): _*)
  }
}
