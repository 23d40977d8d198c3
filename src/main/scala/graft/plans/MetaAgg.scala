package graft.plans

import graft.sources.SnapshotFileIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** METADATA-ONLY aggregates through the OPTIMIZER: a whole-table
  * `COUNT(*)` / `MIN` / `MAX` over a [[graft.sources.Snapshots.readIndexed]]
  * relation (or a `format("graft")` read) collapses to a [[LocalRelation]]
  * computed from manifest row counts and footer-exact envelopes — the
  * query answers from KBs of metadata with ZERO Spark jobs, whatever API
  * the user wrote it in — the engine's one metadata-aggregate path: the
  * USER just writes `df.agg(...)` or SQL.
  *
  * Soundness: the rewrite fires only when every aggregate in the list is
  * provable — `count(*)` always (manifest row counts are exact);
  * `min`/`max` on a column only when EVERY file recorded an envelope for
  * it (integral stats or UTF-8 string stats, matching the column type).
  * Parquet envelopes ignore NULLs exactly like SQL `min`/`max`; a file
  * whose column is entirely NULL records no envelope and blocks the
  * rewrite (the metadata cannot distinguish "no rows" from "all null").
  * `count(col)` (non-null count), DISTINCT, FILTER clauses, grouped
  * aggregates, or any Filter between the aggregate and the scan keep the
  * plan untouched. Tombstoned versions never reach here —
  * [[SnapshotFileIndex]] refuses them at construction.
  *
  * Registration-scoped like the MV and window rewrites: plans change
  * only for explicitly [[MetaAgg.enable]]-d table paths.
  *
  * String MIN/MAX folds the per-file UTF-8 envelopes (`strStatsCols` at
  * commit) under byte-wise UTF-8 order — the order Spark, DuckDB and
  * parquet statistics all compare strings with, so the fold equals the
  * full-scan aggregate exactly. That rests on the writer contract:
  * Spark's parquet writer records binary footer stats exactly or not at
  * all (dropped for size), and a stat-less file blocks the rewrite
  * rather than being approximated — a non-default truncating writer
  * would have to be refused at ingest.
  */
object MetaAgg {

  private val registry =
    new scala.collection.concurrent.TrieMap[String, Unit]

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Enable metadata-aggregate collapse for reads of `tablePath`
    * (idempotent; installs the optimizer rule on first use).
    */
  def enable(spark: SparkSession, tablePath: String): Unit = {
    registry.put(norm(tablePath), ())
    org.apache.spark.sql.GraftBridge.addOptimization(spark, MetaAggRule)
  }

  def clear(): Unit = registry.clear()

  private[plans] def enabled(path: String): Boolean =
    registry.contains(norm(path))

  private[plans] def isEmpty: Boolean = registry.isEmpty
}

object MetaAggRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MetaAgg.isEmpty) plan
    else plan.transformDown {
      case agg @ Aggregate(Nil, aggExprs, child, _) =>
        indexOf(child) match {
          case Some(fi) => rewrite(agg, aggExprs, fi).getOrElse(agg)
          case None => agg
        }
    }

  /** The SnapshotFileIndex under attribute-only pruning Projects — any
    * other intermediate operator (Filter, generate, …) disqualifies.
    */
  private def indexOf(p: LogicalPlan): Option[SnapshotFileIndex] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      indexOf(child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case fi: SnapshotFileIndex
            if fi.rootPaths.headOption.exists(rp =>
              MetaAgg.enabled(rp.toUri.getPath)) => Some(fi)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
      fi: SnapshotFileIndex): Option[LogicalPlan] = {
    val entries = fi.entries
    val values = aggExprs.map {
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        evalAgg(ae.aggregateFunction, entries)
      case _ => None
    }
    if (values.exists(_.isEmpty)) None
    else Some(LocalRelation(agg.output.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values.map(_.get)))))
  }

  /** The catalyst value of one aggregate from manifest evidence, or None
    * when the evidence cannot prove it.
    */
  private def evalAgg(fn: AggregateFunction,
      entries: Seq[graft.sources.Snapshots.FileEntry]): Option[Any] =
    fn match {
      case Count(Seq(Literal(v, _))) if v != null =>
        Some(entries.map(_.rows).sum) // count(*): exact manifest rows
      case Min(a: AttributeReference) => envelope(a, entries, lower = true)
      case Max(a: AttributeReference) => envelope(a, entries, lower = false)
      case _ => None
    }

  private def envelope(a: AttributeReference,
      entries: Seq[graft.sources.Snapshots.FileEntry], lower: Boolean)
      : Option[Any] = {
    if (entries.isEmpty) return None
    a.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (!entries.forall(_.stats.contains(a.name))) None
        else {
          val v =
            if (lower) entries.map(_.stats(a.name)._1).min
            else entries.map(_.stats(a.name)._2).max
          Some(a.dataType match {
            case ByteType => v.toByte
            case ShortType => v.toShort
            case IntegerType => v.toInt
            case LongType => v
          })
        }
      case StringType =>
        if (!entries.forall(_.strStats.contains(a.name))) None
        else {
          val vs = entries.map(e =>
            if (lower) e.strStats(a.name)._1 else e.strStats(a.name)._2)
          val v = vs.reduceLeft((x, y) =>
            if (graft.sources.ParquetMeta.u8Less(x, y) == lower) x else y)
          Some(UTF8String.fromString(v))
        }
      case _ => None // dates/decimals/floats: no recorded evidence shape
    }
  }
}
