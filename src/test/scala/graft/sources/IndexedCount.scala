package graft.sources

import org.apache.spark.sql.{Column, SparkSession}

/** A filtered row count over an indexed read together with the file cut
  * the scan's own [[SnapshotFileIndex]] recorded (`lastPrune`) — what the
  * file-skipping specs assert on.
  */
final case class IndexedCount(rows: Long, kept: Int, skipped: Int)

object IndexedCount {

  /** Start each index at "nothing read": a scan the optimizer folds away
    * (a contradiction, or an era branch whose narrow type cannot hold
    * the literal) never lists its files, and reads none of them.
    */
  private def unlisted(ixs: Seq[SnapshotFileIndex]): Unit =
    ixs.foreach(ix => ix.lastPrune = (0, ix.lastPrune._2))

  /** `cond` over [[Snapshots.readIndexed]] of the latest version. */
  def of(spark: SparkSession, table: String, cond: Column): IndexedCount = {
    val (df, ix) = Snapshots.readIndexed(spark, table)
    unlisted(Seq(ix))
    val rows = df.filter(cond).count()
    val (kept, total) = ix.lastPrune
    IndexedCount(rows, kept, total - kept)
  }

  /** `cond` over [[Snapshots.readIndexedEvolved]] — the form widened and
    * renamed tables read through; the cut sums over the era indexes.
    */
  def evolved(spark: SparkSession, table: String, cond: Column)
      : IndexedCount = {
    val (df, ixs) = Snapshots.readIndexedEvolved(spark, table)
    unlisted(ixs)
    val rows = df.filter(cond).count()
    val kept = ixs.map(_.lastPrune._1).sum
    val total = ixs.map(_.lastPrune._2).sum
    IndexedCount(rows, kept, total - kept)
  }
}
