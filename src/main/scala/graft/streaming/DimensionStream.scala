package graft.streaming

import graft.etl.{RetailWarehouse, Scd2, Scd2Config}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming → warehouse bridge: maintain an SCD2 dimension from a change
  * stream. Each micro-batch runs the SAME set-based [[Scd2.merge]] the
  * batch ETL uses — against the currently-published dimension — and
  * republishes via the staged-write-then-swap pattern, so readers never
  * see a half-written dimension and the merge lineage can safely read the
  * path it replaces.
  *
  * Consistency model: `foreachBatch` may replay a batch after a failure;
  * the merge is idempotent for an identical batch (hash-equality makes
  * re-merging unchanged attributes a no-op, pinned by Scd2 property
  * tests), so replays converge instead of double-versioning. Per-key
  * conflicts WITHIN one micro-batch collapse to the smallest tracked
  * tuple (Scd2.merge's `min_by`); ordering them by event time is the
  * upstream CDC compaction's concern.
  *
  * Scale: the per-batch work is one [[Scd2.merge]]: a key group-by of the
  * batch, then one full-outer join with the current dimension slice whose
  * rows fan out through one generator — history rows never enter the
  * join, so micro-batch cost tracks the live dimension size, not total
  * history.
  */
object DimensionStream {

  private def currentDim(
      spark: SparkSession, path: String, batch: DataFrame, cfg: Scd2Config): DataFrame = {
    import org.apache.hadoop.fs.Path
    // A crash between writeSwap's delete and rename leaves the published
    // path missing with a complete staged copy — finish that swap before
    // the exists() check, or a replayed batch would silently re-run as an
    // initial load and erase the dimension's history.
    RetailWarehouse.recoverSwap(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path)
    else Scd2.emptyDim(batch, cfg)
  }

  /** Start the maintenance query. `asOf` maps the micro-batch id to the
    * batch's effective date (injected, never `current_date()`, so runs
    * are reproducible — the F7 rule).
    */
  def maintainScd2(
      changes: DataFrame,
      dimPath: String,
      cfg: Scd2Config,
      asOf: Long => java.sql.Date,
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = changes.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val incoming = batch.toDF()
          val merged = Scd2.merge(
            currentDim(spark, dimPath, incoming, cfg), incoming, cfg, asOf(batchId))
          RetailWarehouse.writeSwap(merged, dimPath)
        }
      }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
