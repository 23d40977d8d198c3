package graft.plans

import graft.sources.SnapshotFileIndex
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** AUTOMATIC dynamic file pruning — the join form of the one
  * file-skipping path, [[graft.sources.SnapshotFileIndex]]: a plain
  * `fact.join(dim.filter(...), key)` over a [[Snapshots.readIndexed]] /
  * `format("graft")` fact gets the dim-driven file cut with ZERO graft
  * API calls. The rule detects an inner, left-semi, or outer equi-join
  * (outer joins prune only the NON-preserved side by the preserved
  * side's keys — a non-preserved row without a match emits nothing)
  * whose fact side scans an enabled indexed snapshot table and whose
  * other side is BOUNDED — structurally (a local relation, a limited subtree, or a
  * graft table whose manifest row total is within `maxKeys`; filters and
  * projections only shrink those) or by the optimizer's size estimate
  * sitting under the session's broadcast threshold (the join would
  * broadcast that side anyway) — executes the bounded side once to
  * collect its distinct join keys, prunes the fact's manifest through
  * every evidence tier [[SnapshotFileIndex.pruneByKeys]] holds (integral
  * envelopes, UTF-8 string envelopes, widen-era-aware blooms), and swaps
  * the fact relation's file index for the pruned copy. This is the scan
  * cut Delta calls dynamic file pruning; at 100 TB it is the difference
  * between scanning the fact table and scanning one dim slice of it.
  *
  * Soundness: no residual filter is needed — a file is dropped only when
  * the evidence PROVES it holds no row equal to ANY dim key, and an
  * inner/left-semi join (or an outer join's non-preserved side) emits
  * nothing for such rows. When the dim side's rows fit under `maxKeys`
  * they are materialized ONCE and substituted back as a
  * [[LocalRelation]], so the keys the files were pruned by and the rows
  * the join runs against are the SAME snapshot — no double execution,
  * no window for an externally-mutated non-graft dim source to
  * disagree with the cut. `EqualNullSafe` is
  * deliberately NOT matched (null <=> null matches rows no key set
  * describes). Dim keys are narrowed to the fact column's RECORDED type
  * driver-side before probing (bloom hashes are width-sensitive); a key
  * outside the narrow type's range is dropped — through the join's own
  * widening cast it can equal no fact value. Anything unprovable — an
  * unbounded dim, an unsupported key type, a non-equi condition, >
  * `maxKeys` distinct keys — leaves the plan untouched: there is no loud
  * refusal, because the plain join IS the correct fallback.
  *
  * Registration-scoped like [[MetaAgg]]/[[MaterializedViews]]: plans
  * change only for [[DimFilePrune.enable]]-d table paths. The dim-side
  * execution happens INSIDE optimization (one bounded collect of the
  * dim's keys); a thread-local re-entrancy guard keeps that sub-query's
  * own optimization from recursing, and the pruned index's
  * `flatForm = false` marker keeps the fixed-point batch from re-pruning
  * its own output.
  */
object DimFilePrune {

  private val registry =
    new scala.collection.concurrent.TrieMap[String, Int]

  /** Registry key: the FileSystem-qualified absolute path, scheme
    * stripped — the same form [[SnapshotFileIndex]]'s `rootPath`
    * (`fs.makeQualified`) reduces to at lookup time. Normalizing with
    * a bare `new Path(p).toUri.getPath` would leave a RELATIVE enable
    * path relative, and the rule would silently never fire for it.
    */
  private def norm(spark: SparkSession, p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toUri.getPath
  }

  /** Enable automatic dim-driven file pruning for joins against reads
    * of `tablePath` (idempotent; installs the optimizer rule on first
    * use). `maxKeys` bounds both the provable dim cardinality and the
    * collected key count — above it the join plans untouched.
    */
  def enable(spark: SparkSession, tablePath: String,
      maxKeys: Int = 100000): Unit = {
    require(maxKeys >= 1, s"maxKeys must be >= 1, got $maxKeys")
    registry.put(norm(spark, tablePath), maxKeys)
    org.apache.spark.sql.GraftBridge.addOptimization(spark, DimFilePruneRule)
  }

  /** [[enable]] that NEVER overwrites an existing registration — what
    * library code (the streaming lookup join) uses, so a user's own
    * `enable(table, maxKeys)` choice survives a lookup stream on the
    * same table. Returns true iff THIS call created the registration,
    * so the caller knows whether it owns (and must eventually
    * [[disable]]) it.
    */
  private[graft] def enableIfAbsent(spark: SparkSession,
      tablePath: String, maxKeys: Int): Boolean = {
    require(maxKeys >= 1, s"maxKeys must be >= 1, got $maxKeys")
    val fresh = registry.putIfAbsent(norm(spark, tablePath), maxKeys).isEmpty
    org.apache.spark.sql.GraftBridge.addOptimization(spark, DimFilePruneRule)
    fresh
  }

  /** Remove one table's registration (other enablements untouched). */
  def disable(spark: SparkSession, tablePath: String): Unit =
    registry.remove(norm(spark, tablePath))

  def clear(): Unit = { registry.clear(); lastCut = None }

  private[plans] def maxKeysFor(spark: SparkSession, path: String)
      : Option[Int] = registry.get(norm(spark, path))

  private[plans] def isEmpty: Boolean = registry.isEmpty

  /** (table, files kept, files skipped) of the most recent rewrite —
    * the observable cut counter specs assert on.
    */
  @volatile var lastCut: Option[(String, Int, Int)] = None
}

object DimFilePruneRule extends Rule[LogicalPlan] with PredicateHelper {

  // re-entrancy: collecting the dim keys optimizes a sub-query on this
  // thread, which must not re-enter the rule (or re-plan the fact scan)
  private val inRule = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (DimFilePrune.isEmpty || inRule.get) plan
    else {
      inRule.set(true)
      try plan.transformDown {
        case j @ Join(_, _, jt, Some(_), _)
            if jt == Inner || jt == LeftSemi ||
              jt == LeftOuter || jt == RightOuter =>
          tryPrune(j)
      } finally inRule.set(false)
    }

  private def tryPrune(j: Join): Join = {
    // inner: either side may be the fact. left-semi: only the left
    // (pruning the semi's right by left keys would need the BIG side's
    // key set — not a bounded-dim shape). Outer joins prune ONLY the
    // NON-PRESERVED side by the preserved side's keys: a non-preserved
    // row without a match emits nothing, so dropping files that can
    // match no preserved key is sound; the preserved side itself must
    // never be cut (its unmatched rows still emit, null-padded).
    val sides = j.joinType match {
      case LeftSemi => Seq((j.left, j.right))
      case LeftOuter => Seq((j.right, j.left))
      case RightOuter => Seq((j.left, j.right))
      case _ => Seq((j.left, j.right), (j.right, j.left))
    }
    sides.iterator.flatMap { case (factSide, dimSide) =>
      pruneSide(factSide, dimSide, j.condition.get)
        .orElse(pruneEvolvedSide(factSide, dimSide, j.condition.get))
        .map { case (newFact, newDim) =>
          if (factSide eq j.left) j.copy(left = newFact, right = newDim)
          else j.copy(left = newDim, right = newFact)
        }
    }.nextOption().getOrElse(j)
  }

  /** The (fact, dim) pair with the fact's indexed scan swapped for a
    * pruned copy — and, when the dim side's rows were materialized for
    * the key collect, the dim side swapped for a [[LocalRelation]] of
    * that exact snapshot, so run time REUSES the plan-time execution
    * (Spark's subquery-reuse shape in DPP): no double execution, and no
    * window in which an externally-mutated dim source could disagree
    * with the keys the files were pruned by. None when any link of the
    * proof chain fails.
    */
  private def pruneSide(factSide: LogicalPlan, dimSide: LogicalPlan,
      cond: Expression): Option[(LogicalPlan, LogicalPlan)] = {
    val spark = SparkSession.active
    for {
      (lr, hfs, fi) <- factScanOf(factSide)
      maxKeys <- fi.rootPaths.headOption
        .flatMap(rp => DimFilePrune.maxKeysFor(spark, rp.toUri.getPath))
      if boundOf(dimSide).exists(_ <= maxKeys) ||
        broadcastable(dimSide) || materialized(dimSide)
      // a non-deterministic dim (rand-sampled, non-deterministic UDF)
      // has no single "correct" key set to prune by — leave it alone
      // even though the LocalRelation substitution would pin one sample
      if dimSide.find(p =>
        p.expressions.exists(e => !e.deterministic)).isEmpty
      // no provable equi-conjunct → the cut can never fire; checked
      // BEFORE the dim executes so unsupported key types cost no
      // plan-time jobs on every (re)optimization
      if equiKeysOf(cond, lr, dimSide).exists { case (fc, da) =>
        supported(fi.dataSchema(fc).dataType) && supported(da.dataType)
      }
      dimRows = collectDim(spark, dimSide, maxKeys)
      cut <- combinedCut(spark, fi, lr, dimSide, cond, maxKeys, dimRows)
      pruned <- rewrite(spark, factSide, lr, hfs, fi, cut)
    } yield (pruned,
      dimRows.fold(dimSide)(rows =>
        LocalRelation(dimSide.output, rows.toIndexedSeq)))
  }

  /** Materialize the dim side ONCE, driver-side — it is about to be
    * broadcast by the join anyway, and the bounds above cap it. None
    * when the row count exceeds `maxKeys` (a wide-but-few-keys dim can
    * still prune through the per-conjunct distinct collect, it just
    * keeps its own scan at run time).
    */
  private def collectDim(spark: SparkSession, dimSide: LogicalPlan,
      maxKeys: Int): Option[Array[InternalRow]] = {
    val rows = GraftBridge.dataFrame(spark, dimSide)
      .queryExecution.executedPlan.executeTake(maxKeys + 1)
    if (rows.length > maxKeys) None else Some(rows)
  }

  /** The INTERSECTION of per-conjunct file cuts: a composite-key star
    * join (`fact.k1 = dim.a AND fact.k2 = dim.b`) must only read files
    * that may match EVERY equi-conjunct, so each provable conjunct
    * prunes independently and the kept sets intersect — strictly finer
    * than any single-column cut. Conjuncts with unsupported key types
    * just don't contribute (pruning by a subset of ANDed conjuncts is
    * sound); capped at 4 to bound the plan-time dim executions. None
    * when no conjunct is provable. With materialized
    * `dimRows` the keys come straight out of the snapshot (no further
    * jobs); otherwise each conjunct runs one distinct-key collect.
    */
  private def combinedCut(spark: SparkSession, fi: SnapshotFileIndex,
      lr: LogicalRelation, dimSide: LogicalPlan, cond: Expression,
      maxKeys: Int, dimRows: Option[Array[InternalRow]])
      : Option[(Seq[graft.sources.Snapshots.FileEntry], Int)] = {
    val cuts = equiKeysOf(cond, lr, dimSide).take(4)
      .flatMap { case (factCol, dimAttr) =>
        val factType = fi.dataSchema(factCol).dataType
        if (!supported(factType)) None
        else dimRows.fold(
            collectKeys(spark, dimAttr, dimSide, factType, maxKeys))(
            rows => keysFrom(rows, dimSide.output, dimAttr, factType))
          .map(keys => fi.pruneByKeys(factCol, keys))
      }
    if (cuts.isEmpty) None
    else {
      val keptPaths = cuts.map(_._1.map(_.path).toSet).reduce(_ intersect _)
      // first cut's order = manifest order, preserved for the copy
      val kept = cuts.head._1.filter(e => keptPaths.contains(e.path))
      val total = cuts.head._1.size + cuts.head._2
      Some((kept, total - kept.size))
    }
  }

  /** Distinct non-null keys of `dimAttr` out of already-materialized
    * dim rows, narrowed to the fact column's recorded type under the
    * same rules as [[collectKeys]]. None aborts the conjunct.
    */
  private def keysFrom(rows: Array[InternalRow], output: Seq[Attribute],
      dimAttr: Attribute, factType: DataType): Option[Seq[Any]] = {
    val idx = output.indexWhere(_.exprId == dimAttr.exprId)
    if (idx < 0 || !supported(dimAttr.dataType)) return None
    val dt = output(idx).dataType
    val distinct = new scala.collection.mutable.LinkedHashSet[Any]
    rows.foreach(r => if (!r.isNullAt(idx)) distinct +=
      (r.get(idx, dt) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case other => other
      }))
    narrowKeys(distinct.iterator, factType)
  }

  /** The indexed snapshot scan under attribute-only Projects/Filters —
    * operators that only REMOVE rows or columns keep the prune sound.
    * Only the public flat form qualifies: era slices carry per-era
    * physical names the current-name evidence probe would mis-read, and
    * an already-pruned copy must not be re-pruned (fixed-point batch).
    */
  private def factScanOf(p: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation, SnapshotFileIndex)] =
    p match {
      case Project(pl, child)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        factScanOf(child)
      case Filter(_, child) => factScanOf(child)
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case fi: SnapshotFileIndex if fi.flatForm => Some((lr, h, fi))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Is the dim side under the session's broadcast threshold by the
    * optimizer's own size estimate? Then the JOIN ITSELF would broadcast
    * it — collecting its distinct keys at planning time is the same
    * order of work, which is exactly Delta's DFP premise. A wrong-low
    * estimate risks one dim-side scan at planning, never wrong results
    * (the collect is `limit`-capped driver-side and over-limit aborts
    * the rewrite); threshold <= 0 (broadcast disabled) disables this
    * tier, leaving only structural proofs.
    */
  private def broadcastable(dimSide: LogicalPlan): Boolean = {
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    threshold > 0 && dimSide.stats.sizeInBytes <= threshold
  }

  /** A provable upper bound on the dim side's row count, from plan
    * structure alone — no jobs. Filters/projections/aggregates/sorts
    * only shrink a child's bound; limits bound directly; a local
    * relation or an indexed snapshot scan bounds from its own metadata.
    */
  private def boundOf(p: LogicalPlan): Option[Long] = p match {
    case l: LocalRelation => Some(l.data.length.toLong)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        // rowBound, NOT entries: forcing entries on a segment-indexed
        // dim would parse every segment at plan time — the O(files)
        // cost the segment tier exists to avoid
        case fi: SnapshotFileIndex => Some(fi.rowBound)
        case _ => None
      }
      case _ => None
    }
    case GlobalLimit(IntegerLiteral(n), child) =>
      Some(boundOf(child).fold(n.toLong)(math.min(_, n.toLong)))
    case LocalLimit(IntegerLiteral(n), child) =>
      Some(boundOf(child).fold(n.toLong)(math.min(_, n.toLong)))
    case Project(_, child) => boundOf(child)
    case Filter(_, child) => boundOf(child)
    case a: Aggregate =>
      if (a.groupingExpressions.isEmpty) Some(1L) else boundOf(a.child)
    case s: Sort => boundOf(s.child)
    case d: Distinct => boundOf(d.child)
    case r: RepartitionOperation => boundOf(r.child)
    case _ => None
  }

  /** A dim side whose LEAVES are already-materialized row sets
    * (LocalRelation, or the LogicalRDD a foreachBatch micro-batch frame
    * is backed by) under row/column-shrinking operators: executing it
    * at plan time re-reads memory, never an arbitrary pipeline — so it
    * may be key-collected even without a row-count bound (the collect
    * stays `limit`-capped; overflow aborts the rewrite). This is the
    * tier the streaming lookup join rides: the batch IS the dim.
    */
  private def materialized(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case l: org.apache.spark.sql.execution.LogicalRDD => true
    case Project(_, child) => materialized(child)
    case Filter(_, child) => materialized(child)
    case GlobalLimit(_, child) => materialized(child)
    case LocalLimit(_, child) => materialized(child)
    case a: Aggregate => materialized(a.child)
    case d: Distinct => materialized(d.child)
    case s: Sort => materialized(s.child)
    case r: RepartitionOperation => materialized(r.child)
    case _ => false
  }

  /** EVERY equi-conjunct `factAttr = dimAttr` linking the fact scan's
    * own output to the dim side's, traversing only INTEGRAL-WIDENING
    * casts (what Catalyst inserts to reconcile key widths; anything
    * else is not a shape the recorded-type narrowing below can reason
    * about). Returns (fact SCAN column name, dim attribute) pairs in
    * condition order.
    */
  private def equiKeysOf(cond: Expression, lr: LogicalRelation,
      dimSide: LogicalPlan): Seq[(String, Attribute)] = {
    def strip(e: Expression): Option[Attribute] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast if widening(c.child.dataType, c.dataType) =>
        strip(c.child)
      case _ => None
    }
    def factName(a: Attribute): Option[String] =
      lr.output.find(_.exprId == a.exprId).map(_.name)
    def dimAttr(a: Attribute): Option[Attribute] =
      dimSide.outputSet.find(_.exprId == a.exprId)
    splitConjunctivePredicates(cond).flatMap {
      case EqualTo(l, r) =>
        (strip(l), strip(r)) match {
          case (Some(a), Some(b)) =>
            factName(a).flatMap(n => dimAttr(b).map(d => (n, d)))
              .orElse(factName(b).flatMap(n => dimAttr(a).map(d => (n, d))))
          case _ => None
        }
      case _ => None
    }
  }

  private def rank(dt: DataType): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    case _ => 0
  }

  private def widening(from: DataType, to: DataType): Boolean =
    rank(from) > 0 && rank(to) >= rank(from)

  private def supported(dt: DataType): Boolean =
    rank(dt) > 0 || dt == StringType

  /** Execute the dim side (bounded — `boundOf` proved it) and narrow its
    * distinct non-null keys to the fact column's recorded type. Integral
    * narrowing drops out-of-range keys (they can equal no fact value
    * through the join's widening cast); a key the narrowing cannot
    * express at all aborts the rewrite. None = leave the plan alone.
    */
  private def collectKeys(spark: SparkSession, dimAttr: Attribute,
      dimSide: LogicalPlan, factType: DataType, maxKeys: Int)
      : Option[Seq[Any]] = {
    if (!supported(dimAttr.dataType)) return None
    val rows = GraftBridge.dataFrame(spark, Project(Seq(dimAttr), dimSide))
      .distinct().limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) return None // unselective: plain join
    narrowKeys(rows.iterator.map(_.get(0)).filter(_ != null), factType)
  }

  /** Narrow raw key values to the fact column's recorded type. Integral
    * narrowing DROPS out-of-range keys (through the join's widening
    * cast they can equal no fact value); a key the narrowing cannot
    * express at all (cross-family) aborts with None.
    */
  private def narrowKeys(values: Iterator[Any], factType: DataType)
      : Option[Seq[Any]] = {
    val keys = values.flatMap { v =>
      (v, factType) match {
        case (n: java.lang.Number, LongType) => Some(n.longValue())
        case (n: java.lang.Number, IntegerType) =>
          val l = n.longValue()
          if (l >= Int.MinValue && l <= Int.MaxValue) Some(l.toInt) else None
        case (n: java.lang.Number, ShortType) =>
          val l = n.longValue()
          if (l >= Short.MinValue && l <= Short.MaxValue) Some(l.toShort)
          else None
        case (n: java.lang.Number, ByteType) =>
          val l = n.longValue()
          if (l >= Byte.MinValue && l <= Byte.MaxValue) Some(l.toByte)
          else None
        case (s: String, StringType) => Some(s)
        case _ => return None // cross-family key: not provable, abort
      }
    }.toSeq
    Some(keys)
  }

  /** The fact subtree with `lr` swapped for a relation over the pruned
    * index — UNCONDITIONALLY once the proof chain held, even when the
    * evidence happened to cut zero files this time: how many files a
    * bloom/envelope probe drops is data-layout noise (a range boundary
    * shifting one row flips a file from cut to kept), and a rewrite
    * whose SHAPE depended on it would flap the plan fingerprint between
    * otherwise-identical runs. Convergence is structural, not
    * cut-dependent: the pruned copy is `flatForm = false`, so the
    * fixed-point batch's next pass refuses to re-prune it. The probe
    * went through [[SnapshotFileIndex.pruneByKeys]], which in
    * segment-planning mode prunes whole segments from their rollups
    * before parsing any per-file entry — O(segments + kept), not
    * O(files).
    */
  // ---- the EVOLVED tier: era-sliced fact scans -------------------------

  /** One era branch of a [[graft.sources.Snapshots.readIndexedEvolved]]
    * union: the era's scan plus a positional map from the CURRENT-name
    * output column to the era's PHYSICAL (column name, type) — None at
    * positions whose era projection is not a plain column or an
    * integral-widening cast of one (e.g. a default-event coalesce),
    * which simply leaves that branch unpruned for that key.
    */
  private final case class EraBranch(lr: LogicalRelation,
      hfs: HadoopFsRelation, fi: SnapshotFileIndex,
      colAt: Int => Option[(String, DataType)])

  /** Physical column behind one era-projection item. */
  private def eraColOf(ne: org.apache.spark.sql.catalyst.expressions
      .NamedExpression): Option[(String, DataType)] = ne match {
    case a: AttributeReference => Some((a.name, a.dataType))
    case Alias(a: AttributeReference, _) => Some((a.name, a.dataType))
    case Alias(c: Cast, _) => c.child match {
      case a: AttributeReference if widening(a.dataType, c.dataType) =>
        Some((a.name, a.dataType))
      case _ => None
    }
    case _ => None
  }

  private def eraScanOf(q: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation, SnapshotFileIndex)] =
    q match {
      case Filter(_, c) => eraScanOf(c)
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case fi: SnapshotFileIndex if fi.eraSlice => Some((lr, h, fi))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  private def branchOf(p: LogicalPlan): Option[EraBranch] = p match {
    case Project(list, child) => eraScanOf(child).map { case (lr, h, fi) =>
      EraBranch(lr, h, fi, i => list.lift(i).flatMap(eraColOf))
    }
    case _ => eraScanOf(p).map { case (lr, h, fi) =>
      EraBranch(lr, h, fi,
        i => lr.output.lift(i).map(a => (a.name, a.dataType)))
    }
  }

  /** An era-evolved fact side — the shape `readIndexedEvolved` plans
    * (and the optimizer reduces): [attribute-only Project | Filter]*
    * over a Union of era branches, each a Project over an era-sliced
    * index scan (or the bare scan once the optimizer dropped an
    * identity projection); a single surviving era matches without the
    * Union. Returns the positional output (the union's, for the
    * key-position lookup) and every branch — all branches must resolve
    * and agree on (table, version), or the side does not qualify.
    */
  private def evolvedFactOf(p: LogicalPlan)
      : Option[(Seq[Attribute], Seq[EraBranch])] = p match {
    case Project(pl, child)
        if pl.forall(_.isInstanceOf[AttributeReference]) =>
      evolvedFactOf(child)
    case Filter(_, child) => evolvedFactOf(child)
    case u: Union =>
      val bs = u.children.map(branchOf)
      if (bs.nonEmpty && bs.forall(_.isDefined)) {
        val all = bs.flatten
        if (all.map(b => (b.fi.table, b.fi.version)).distinct.size == 1)
          Some((u.output, all))
        else None
      } else None
    case other => branchOf(other).map(b => (other.output, Seq(b)))
  }

  /** Equi-conjuncts linking the evolved fact's OUTPUT POSITIONS to dim
    * attributes — positional because each era branch maps the position
    * to its own physical column.
    */
  private def evolvedEquiKeys(cond: Expression, outs: Seq[Attribute],
      dimSide: LogicalPlan): Seq[(Int, Attribute)] = {
    def strip(e: Expression): Option[Attribute] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast if widening(c.child.dataType, c.dataType) =>
        strip(c.child)
      case _ => None
    }
    def factIdx(a: Attribute): Option[Int] = {
      val i = outs.indexWhere(_.exprId == a.exprId)
      if (i >= 0) Some(i) else None
    }
    def dimAttr(a: Attribute): Option[Attribute] =
      dimSide.outputSet.find(_.exprId == a.exprId)
    splitConjunctivePredicates(cond).flatMap {
      case EqualTo(l, r) =>
        (strip(l), strip(r)) match {
          case (Some(a), Some(b)) =>
            factIdx(a).flatMap(i => dimAttr(b).map(d => (i, d)))
              .orElse(factIdx(b).flatMap(i => dimAttr(a).map(d => (i, d))))
          case _ => None
        }
      case _ => None
    }
  }

  /** The evolved counterpart of [[pruneSide]]: each era branch prunes
    * INDEPENDENTLY through its own projection — the dim keys narrow to
    * the era's physical type (a key outside an int era's range can
    * match no row physically stored as int) and probe that era's
    * evidence under its own column names, with
    * [[SnapshotFileIndex.pruneByKeys]]'s widen-aware bloom reprobes. A
    * branch whose key position hides behind a default-coalesce (or any
    * unprovable projection) stays unpruned — soundness never depends on
    * all branches participating. The dim executes ONCE and substitutes
    * back as a LocalRelation, exactly like the flat tier.
    */
  private def pruneEvolvedSide(factSide: LogicalPlan, dimSide: LogicalPlan,
      cond: Expression): Option[(LogicalPlan, LogicalPlan)] = {
    val spark = SparkSession.active
    for {
      (outs, branches) <- evolvedFactOf(factSide)
      fi0 = branches.head.fi
      maxKeys <- fi0.rootPaths.headOption
        .flatMap(rp => DimFilePrune.maxKeysFor(spark, rp.toUri.getPath))
      if boundOf(dimSide).exists(_ <= maxKeys) ||
        broadcastable(dimSide) || materialized(dimSide)
      if dimSide.find(p =>
        p.expressions.exists(e => !e.deterministic)).isEmpty
      conjs = evolvedEquiKeys(cond, outs, dimSide).take(4)
        .filter { case (i, d) => supported(d.dataType) &&
          branches.exists(_.colAt(i).exists(c => supported(c._2))) }
      if conjs.nonEmpty
      dimRows = collectDim(spark, dimSide, maxKeys)
      // raw distinct keys per conjunct, in the DIM's own type — each
      // branch narrows to its own era width from this one collection
      rawKeys = conjs.map { case (i, dimAttr) =>
        (i, dimRows.fold(
          collectKeys(spark, dimAttr, dimSide, dimAttr.dataType, maxKeys))(
          rows => keysFrom(rows, dimSide.output, dimAttr,
            dimAttr.dataType)))
      }
      if rawKeys.exists(_._2.isDefined)
      pruned <- rewriteEvolved(spark, factSide, branches, rawKeys)
    } yield (pruned,
      dimRows.fold(dimSide)(rows =>
        LocalRelation(dimSide.output, rows.toIndexedSeq)))
  }

  private def rewriteEvolved(spark: SparkSession, factSide: LogicalPlan,
      branches: Seq[EraBranch],
      rawKeys: Seq[(Int, Option[Seq[Any]])]): Option[LogicalPlan] = {
    var keptTotal = 0
    var skippedTotal = 0
    val swaps: Seq[(LogicalRelation, LogicalRelation)] = branches.flatMap {
      b =>
        val cuts = rawKeys.flatMap { case (i, keysOpt) =>
          for {
            keys <- keysOpt
            (eraCol, eraType) <- b.colAt(i)
            if supported(eraType)
            narrowed <- narrowKeys(keys.iterator, eraType)
          } yield b.fi.pruneByKeys(eraCol, narrowed)
        }
        if (cuts.isEmpty) { keptTotal += b.fi.entries.size; None }
        else {
          val keptPaths =
            cuts.map(_._1.map(_.path).toSet).reduce(_ intersect _)
          val kept = cuts.head._1.filter(e => keptPaths.contains(e.path))
          keptTotal += kept.size
          skippedTotal += b.fi.entries.size - kept.size
          val newFi = SnapshotFileIndex.prunedCopy(spark, b.fi, kept)
          Some((b.lr, b.lr.copy(relation =
            b.hfs.copy(location = newFi)(b.hfs.sparkSession))))
        }
    }
    if (swaps.isEmpty) None
    else {
      DimFilePrune.lastCut =
        Some((branches.head.fi.table, keptTotal, skippedTotal))
      val byRef = swaps.toMap
      Some(factSide.transformUp {
        case l2: LogicalRelation
            if byRef.keys.exists(_ eq l2) => byRef.find(_._1 eq l2).get._2
      })
    }
  }

  private def rewrite(spark: SparkSession, factSide: LogicalPlan,
      lr: LogicalRelation, hfs: HadoopFsRelation, fi: SnapshotFileIndex,
      cut: (Seq[graft.sources.Snapshots.FileEntry], Int))
      : Option[LogicalPlan] = {
    val (kept, skipped) = cut
    DimFilePrune.lastCut = Some((fi.table, kept.size, skipped))
    val newFi = SnapshotFileIndex.prunedCopy(spark, fi, kept)
    val newRel = hfs.copy(location = newFi)(hfs.sparkSession)
    // same output attributes: downstream references resolve untouched
    val newLr = lr.copy(relation = newRel)
    Some(factSide.transformUp {
      case l2: LogicalRelation if l2 eq lr => newLr
    })
  }
}
