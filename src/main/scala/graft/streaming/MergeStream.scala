package graft.streaming

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming row-level MERGE into a [[Snapshots]] versioned table: each
  * micro-batch of tagged I/U/D changes collapses to one winner per key
  * (the [[graft.operators.Cdc]] `max_by` shape — partial-aggregable, no
  * window sort) and applies as ONE copy-on-write [[Snapshots.merge]]
  * commit. Only key-touched data files are rewritten per batch, and every
  * batch boundary is a time-travelable version — the continuous upsert
  * loop a 100 TB lakehouse table actually runs, with change-proportional
  * write amplification when the layout is key-clustered.
  *
  * Exactly-once rides the commit protocol like [[SnapshotStream]]: the
  * micro-batch id is a manifest property published by the SAME atomic
  * manifest create as the data, so "batch applied" and "data visible" can
  * never be split by a crash; a replayed batch (at-least-once
  * foreachBatch) sees its id at-or-below the latest marker and skips.
  * [[CdcStream]] is the staged-swap variant of this loop for a plain
  * (unversioned) snapshot path; this one buys time travel, file skipping
  * and bounded rewrites from the manifest layer. Ordering model matches
  * [[graft.operators.Cdc.applyChanges]]: `versionCol` totally orders
  * changes within a batch; across batches, application order rules.
  */
object MergeStream {

  val batchProp = "appliedBatch"

  /** Start the maintenance loop. `table` must already hold a bootstrapped
    * version whose columns are the change schema minus `opCol`/
    * `versionCol`. Pass a `checkpoint` in any deployment that can restart
    * (batch-id monotonicity comes from it).
    */
  def maintainTable(changes: DataFrame, table: String, keyCol: String,
      versionCol: String = "version", opCol: String = "op",
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = changes.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(batch.toDF(), batchId, table, keyCol, versionCol, opCol)
      }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** One merge step, factored out so replay/crash tests and manual
    * backfills can drive it without a streaming query around it.
    */
  private[streaming] def mergeBatch(batch: DataFrame, batchId: Long,
      table: String, keyCol: String, versionCol: String, opCol: String)
      : Unit = {
    if (batch.isEmpty) return // no version for an empty batch
    val spark = batch.sparkSession
    val vs = Snapshots.versions(spark, table)
    require(vs.nonEmpty,
      s"MergeStream: $table needs a bootstrapped version before streaming")
    // scan ALL retained versions for the marker, not just the latest: an
    // interleaved maintenance commit (compactSmall, rollback, a manual
    // append) would otherwise hide it and a replayed batch would re-apply
    val applied = vs.flatMap(v =>
      Snapshots.properties(spark, table, v).get(batchProp).map(_.toLong))
    if (applied.nonEmpty && applied.max >= batchId) return // replay: done
    val dataCols = batch.columns
      .filterNot(c => c == opCol || c == versionCol || c == keyCol).toSeq
    val winners = batch.groupBy(col(keyCol))
      .agg(max_by(struct((opCol +: dataCols).map(col): _*), col(versionCol))
        .as("_c"))
      .select(col(keyCol) +: col(s"_c.$opCol").as("_op") +:
        dataCols.map(c => col(s"_c.$c").as(c)): _*)
      .localCheckpoint() // winners feed key-collect, anti-join AND the
                         // upsert union — checkpoint so the batch agg
                         // runs once, not three times
    val upserts = winners.filter(col("_op") =!= "D").drop("_op")
    val deletes = winners.filter(col("_op") === "D").select(col(keyCol))
    Snapshots.merge(spark, table, upserts, deletes, Seq(keyCol),
      properties = Map(batchProp -> batchId.toString))
  }
}
