package graft.plans

import graft.operators.IncrementalAgg
import graft.sources.Snapshots
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally refreshed materialized views over VERSIONED fact tables
  * — the missing link between [[MaterializedViews]] (transparent rewrite,
  * but full rebuild on every data change) and
  * [[graft.operators.IncrementalAgg]] (delta folding, but no query
  * rewrite): `refresh` folds ONLY the fact versions appended since the
  * last refresh into the stored rollup, then registers the result so the
  * optimizer answers matching aggregates from it. At 100 TB the refresh
  * cost is the day's appended files plus rollup-sized state — the fact
  * history is never rescanned.
  *
  * Freshness is exact, not best-effort: the registration pins the fact
  * VERSION ([[MaterializedViews.MvDef.factScan]]), so a scan
  * of any other version — time travel, or the latest after a new append
  * but before the next refresh — simply doesn't rewrite and computes
  * from the fact. A stale MV can never answer a fresh query.
  *
  * The delta is the CHANGE FEED ([[Snapshots.changes]]), not just added
  * files: merge-on-read deletes subtract their pre-images from the
  * rollup and upserts net to the value change, both still
  * delta-scaled; compaction/rebucket commits are skipped as
  * data-change-free. Only a feed-underivable commit (copy-on-write
  * merge, overwrite, rollback) falls back to a full rebuild from the
  * current content — correct for every commit shape, incremental for
  * everything the MOR write path produces.
  *
  * Layout: `mvRoot/r<factVersion>/` holds the rollup refreshed to that
  * fact version; `mvRoot/_meta` ("<factVersion>\t<dirName>") points at
  * the current one and is swapped via temp-file rename after the rollup
  * dir is complete, so a crash mid-refresh leaves the previous
  * registration consistent.
  */
object SnapshotMv {

  final case class SnapshotMvDef(
      factTable: String,
      mvRoot: String,
      keys: Seq[String],
      countCol: String,
      sums: Seq[MaterializedViews.MvSum])

  private def metaPath(mvRoot: String) = new Path(mvRoot, "_meta")

  private def readMeta(spark: SparkSession, mvRoot: String)
      : Option[(Int, String)] = {
    val p = metaPath(mvRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val Array(v, dir) = text.split("\t", 2)
    Some((v.toInt, dir))
  }

  private def writeMeta(spark: SparkSession, mvRoot: String, v: Int,
      dir: String): Unit = {
    val p = metaPath(mvRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(mvRoot, s"_meta.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(s"$v\t$dir".getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"SnapshotMv: meta swap failed at $mvRoot")
  }

  private def aggregate(fact: DataFrame, mv: SnapshotMvDef): DataFrame = {
    val aggs = count(lit(1)).as(mv.countCol) +: mv.sums.map { s =>
      val src = s.castTo.fold(col(s.src))(t => col(s.src).cast(t))
      sum(src).as(s.mvCol)
    }
    fact.groupBy(mv.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Bring the rollup up to the fact's latest version (delta fold when
    * the lineage is append-only, full rebuild otherwise; no-op when
    * already current) and (re-)register it for transparent rewrite.
    * Returns the fact version the MV now represents.
    */
  def refresh(spark: SparkSession, mv: SnapshotMvDef): Int = {
    val latest = Snapshots.latestVersion(spark, mv.factTable)
    require(latest > 0,
      s"SnapshotMv.refresh: ${mv.factTable} has no committed version")
    val measures = mv.countCol +: mv.sums.map(_.mvCol)
    val meta = readMeta(spark, mv.mvRoot)
    val currentDir = meta match {
      case Some((last, dir)) if last == latest => dir // already current
      case prior =>
        val rollup = prior match {
          case Some((last, dir)) =>
            try {
              // fold the CHANGE FEED, not just appended files: inserts
              // add to the rollup, delete pre-images subtract — so
              // merge-on-read deletes and upserts stay incremental too
              // (an upsert's delete+insert pair nets to the value
              // change). A fully-deleted group nets to count 0 and is
              // dropped: additive state must not resurrect it as a
              // zero row the recompute would not have.
              val feed = Snapshots.changes(spark, mv.factTable, last, latest)
              val sgn = col("_change_type") === lit("insert")
              val aggs = sum(when(sgn, lit(1L)).otherwise(lit(-1L)))
                .as(mv.countCol) +: mv.sums.map { s =>
                  val src = s.castTo.fold(col(s.src))(t => col(s.src).cast(t))
                  sum(when(sgn, src).otherwise(-src)).as(s.mvCol)
                }
              val delta = feed.groupBy(mv.keys.map(col): _*)
                .agg(aggs.head, aggs.tail: _*)
              IncrementalAgg.mergeRollup(
                spark.read.parquet(s"${mv.mvRoot}/$dir"),
                delta, mv.keys, measures)
                .filter(col(mv.countCol) > 0)
            } catch {
              // a file-dropping commit (merge copy-on-write, rollback)
              // is not feed-derivable → full rebuild
              case _: IllegalArgumentException =>
                aggregate(Snapshots.read(spark, mv.factTable), mv)
            }
          case None =>
            aggregate(Snapshots.read(spark, mv.factTable), mv)
        }
        val dirName = s"r$latest"
        rollup.write.mode("overwrite").parquet(s"${mv.mvRoot}/$dirName")
        writeMeta(spark, mv.mvRoot, latest, dirName)
        dirName
    }
    MaterializedViews.register(spark, MaterializedViews.MvDef(
      mv.factTable, s"${mv.mvRoot}/$currentDir", mv.keys,
      Some(mv.countCol), mv.sums, factScan = Some(graft.sources
        .SnapshotFileIndex.versionIdentity(spark, mv.factTable, latest))))
    latest
  }
}
