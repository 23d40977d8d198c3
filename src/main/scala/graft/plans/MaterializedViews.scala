package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Transparent materialized-view rewrite — the aggregate-table discipline
  * every 100 TB warehouse runs, done where it belongs: in the optimizer.
  * A registered MV says "this parquet rollup holds `keys` plus additive
  * state (`count`, partial sums) over that fact table"; the
  * [[MvRewriteRule]] then rewrites any matching aggregate over the FACT
  * scan into a re-aggregation of the ROLLUP — group-by on a key subset
  * re-aggregates the additive state (sum of sums, sum of counts), which
  * is exact by construction. The query text never changes; the fact scan
  * (the 100 TB side) simply disappears from the plan.
  *
  * Matching is deliberately strict — rewrite only when exactness is
  * provable from the registration:
  *  - the aggregate's child is the fact scan, optionally under
  *    column-pruning Projects and Filters whose predicates reference
  *    ONLY MV key columns: the rollup partitions fact rows by the full
  *    key tuple, so a key-only predicate is constant within each rollup
  *    row and commutes with the re-aggregation (it is replayed over the
  *    rollup). A filter touching any non-key column disables the
  *    rewrite — a full-table rollup cannot answer it;
  *  - every grouping expression is a plain column ∈ `keys`;
  *  - every aggregate is `count(literal)` (→ sum of the MV count) or
  *    `sum(col)` / `sum(cast(col as T))` matching a registered measure
  *    (→ sum of the MV partial sum), non-distinct;
  *  - the rewritten output is cast back to the original result type, so
  *    downstream operators see byte-identical schema and exprIds.
  */
object MaterializedViews {

  /** One additive measure: `mvCol` in the rollup holds
    * `sum(cast(src as castTo))` (or `sum(src)` when castTo is None).
    */
  final case class MvSum(mvCol: String, src: String, castTo: Option[DataType])

  /** `factScan`: when the MV represents one VERSION of a versioned fact
    * table ([[SnapshotMv]]), that version's whole-version scan identity
    * ([[graft.sources.SnapshotFileIndex.versionIdentity]]) — the rewrite
    * fires only for a scan of exactly that version's files, so reads of
    * other versions (time travel, post-append latest before a refresh)
    * and pruned slices are never answered stale. None = plain directory
    * fact, which a versioned scan never matches.
    */
  final case class MvDef(
      factPath: String,
      mvPath: String,
      keys: Seq[String],
      countCol: Option[String],
      sums: Seq[MvSum],
      factScan: Option[String] = None)

  private val registry =
    new scala.collection.concurrent.TrieMap[String, MvDef]

  private[plans] def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Register `mv` and make sure the rewrite rule is installed on the
    * session (idempotent; uses the runtime extraOptimizations hook, so it
    * works on sessions built without [[graft.GraftExtensions]] too).
    */
  def register(spark: SparkSession, mv: MvDef): Unit = {
    registry.put(norm(mv.factPath), mv)
    if (!spark.experimental.extraOptimizations.contains(MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule
  }

  def clear(): Unit = registry.clear()

  /** Compute and write the rollup, then register it: keys ++ count ++
    * decimal-exact partial sums — one fact scan, rollup-sized output.
    */
  def buildAndRegister(spark: SparkSession, factPath: String, mvPath: String,
      keys: Seq[String], countCol: String, sums: Seq[MvSum]): Unit = {
    val fact = spark.read.parquet(factPath)
    val aggs = count(lit(1)).as(countCol) +: sums.map { s =>
      val src = s.castTo.fold(col(s.src))(t => col(s.src).cast(t))
      sum(src).as(s.mvCol)
    }
    fact.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    register(spark, MvDef(factPath, mvPath, keys, Some(countCol), sums))
  }

  /** The MvDef registered at a scan's single root path: the fact
    * directory, or a versioned fact's table root. A scan over several
    * roots reads some other file set and is never rewritten.
    */
  private[plans] def lookup(paths: Seq[String]): Option[MvDef] =
    paths match {
      case Seq(single) => registry.get(norm(single))
      case _ => None
    }

  private[plans] def isEmpty: Boolean = registry.isEmpty
}

object MvRewriteRule extends Rule[LogicalPlan] {
  import MaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MaterializedViews.isEmpty) plan
    else plan.transformDown {
      case agg @ Aggregate(groups, aggs, child, _) =>
        (for {
          (paths, scan, filter) <- factScan(child)
          mv <- lookup(paths)
          // a versioned-fact MV answers ONLY the version it was
          // refreshed to — never another version or a slice of it
          if mv.factScan == scan
          rewritten <- tryRewrite(agg, groups, aggs, filter, mv)
        } yield rewritten).getOrElse(agg)
    }

  /** The fact scan's root paths and versioned scan identity (plus the
    * And of any intervening Filter predicates) IF `child` is a file scan
    * under only column-pruning Projects and Filters — any
    * Join/Window/etc. in between disables the rewrite. Whether the
    * collected predicates are key-only (rewritable) is decided in
    * [[tryRewrite]], where the MV definition is in hand.
    */
  private def factScan(child: LogicalPlan)
      : Option[(Seq[String], Option[String], Option[Expression])] =
    child match {
      case lr: LogicalRelation => relationOf(lr).map { case (p, s) =>
        (p, s, None) }
      case Project(pl, inner)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        factScan(inner)
      case Filter(cond, inner) =>
        factScan(inner).map { case (p, s, f) =>
          (p, s, Some(f.fold(cond)(And(cond, _))))
        }
      case _ => None
    }

  /** A versioned fact's scan answers its table root and its
    * [[graft.sources.SnapshotFileIndex.scanIdentity]] — what a
    * [[SnapshotMv]] registration is pinned to; any other file relation
    * answers its root paths and no identity.
    */
  private def relationOf(lr: LogicalRelation)
      : Option[(Seq[String], Option[String])] =
    lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case fi: graft.sources.SnapshotFileIndex =>
          Some((Seq(fi.table), Some(fi.scanIdentity)))
        case loc => Some((loc.rootPaths.map(_.toUri.getPath), None))
      }
      case _ => None
    }

  private def tryRewrite(agg: Aggregate, groups: Seq[Expression],
      aggs: Seq[NamedExpression], filter: Option[Expression], mv: MvDef)
      : Option[LogicalPlan] = {
    // plain key columns only
    val groupNames = groups.map {
      case a: AttributeReference if mv.keys.contains(a.name) => a.name
      case _ => return None
    }
    // an intervening filter is rewritable ONLY when deterministic and
    // key-only: constant within each rollup row, so it commutes with the
    // re-aggregation and replays over the rollup verbatim
    filter.foreach { cond =>
      if (!cond.deterministic ||
        !cond.references.forall(a => mv.keys.contains(a.name))) return None
    }
    // at least one real aggregate: a bare DISTINCT is out of scope
    if (!aggs.exists(_.exists(_.isInstanceOf[AggregateExpression])))
      return None
    val spark = SparkSession.active
    val mvPlan = spark.read.parquet(mv.mvPath).queryExecution.analyzed
    val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    if (!(groupNames ++ mv.countCol ++ mv.sums.map(_.mvCol))
        .forall(mvAttr.contains)) return None

    def reSum(src: Attribute, orig: NamedExpression): NamedExpression = {
      val s = AggregateExpression(Sum(src), Complete, isDistinct = false)
      val typed = if (s.dataType == orig.dataType) s
        else Cast(s, orig.dataType)
      Alias(typed, orig.name)(exprId = orig.exprId)
    }

    val newAggs: Seq[NamedExpression] = aggs.map {
      case ar: AttributeReference if groupNames.contains(ar.name) =>
        Alias(mvAttr(ar.name), ar.name)(exprId = ar.exprId)
      case al @ Alias(AggregateExpression(Count(Seq(l: Literal)), _, false, _, _), _)
          if l.value != null && mv.countCol.isDefined =>
        reSum(mvAttr(mv.countCol.get), al)
      case al @ Alias(AggregateExpression(s: Sum, _, false, _, _), _) =>
        val measure = mv.sums.find(m => sumSourceMatches(s.child, m))
        measure match {
          case Some(m) => reSum(mvAttr(m.mvCol), al)
          case None => return None
        }
      case _ => return None
    }
    val newGroups = groupNames.map(mvAttr(_))
    // rebind the key-only predicate to the MV's attributes (by name,
    // type-checked — a name collision with a different type must not
    // silently change semantics)
    val mvChild = filter.fold(mvPlan) { cond =>
      val bound = cond.transform {
        case ar: AttributeReference =>
          val a = mvAttr.getOrElse(ar.name, return None)
          if (a.dataType != ar.dataType) return None
          a
      }
      Filter(bound, mvPlan)
    }
    Some(Aggregate(newGroups, newAggs, mvChild))
  }

  private def sumSourceMatches(e: Expression, m: MvSum): Boolean = e match {
    case ar: AttributeReference => m.castTo.isEmpty && ar.name == m.src
    case c: Cast => c.child match {
      case ar: AttributeReference =>
        m.castTo.contains(c.dataType) && ar.name == m.src
      case _ => false
    }
    case _ => false
  }
}
