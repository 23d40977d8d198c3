package graft.plans

import graft.sources.{GraftReadRelation, SnapshotFileIndex, Snapshots}
import org.apache.spark.sql.{Column, GraftBridge, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit}

/** SQL DML on graft tables — `INSERT INTO`, `DELETE FROM`, `UPDATE` and
  * `MERGE INTO` through `spark.sql(...)`, routed onto the snapshot
  * commit protocol instead of Spark's manifest-blind file writes:
  *
  * {{{
  *   val s = SqlDml.enable(spark)   // sibling session with the rule
  *   s.sql(s"CREATE TABLE t USING graft OPTIONS (path '\$tbl')")
  *   s.sql("INSERT INTO t VALUES (1, 'a')")          // Snapshots.commit
  *   s.sql("UPDATE t SET v = v * 2 WHERE k < 10")    // updateWhere (MOR)
  *   s.sql("DELETE FROM t WHERE v IS NULL")          // deleteVector (MOR)
  *   s.sql("MERGE INTO t USING s ON t.k = s.k " +
  *     "WHEN MATCHED THEN UPDATE SET * " +
  *     "WHEN NOT MATCHED THEN INSERT *")             // Snapshots.merge
  * }}}
  *
  * The vehicle is a RESOLUTION rule ([[GraftDmlRule]]): once the
  * analyzer has resolved the statement's relation to a graft
  * [[SnapshotFileIndex]] relation and its expressions, the statement is
  * rewritten to a [[LeafRunnableCommand]] that performs the matching
  * snapshot operation — BEFORE `CheckAnalysis` would refuse row-level
  * DML on a v1 relation, and before Spark's own `INSERT INTO` planning
  * would write parquet files no manifest references. Expressions are
  * re-anchored by NAME (attribute ids from the statement's relation
  * instance mean nothing against the fresh MOR read inside the
  * command); every rewrite requires the statement fully resolved first,
  * so unknown columns still fail with Spark's own analysis errors.
  *
  * Semantics per statement (each is ONE atomic snapshot commit):
  *  - INSERT INTO/OVERWRITE: positional, cast to the table's recorded
  *    schema, `Snapshots.commit` append/overwrite — constraints
  *    (CHECK/UNIQUE/FK) enforce exactly as for API commits.
  *  - DELETE: `Snapshots.deleteVector` — a position-vector commit, so
  *    arbitrary predicates work with no key column and no file rewrite.
  *  - UPDATE: `Snapshots.updateWhere` — atomic vector + rewritten rows.
  *  - MERGE: ONE path for every shape — a side-prefixed join of target
  *    and source evaluates the SQL first-true-wins action cascade and
  *    lands as ONE atomic `Snapshots.merge` commit (copy-on-write,
  *    key-exact). The canonical `UPDATE SET * / INSERT *` upsert and
  *    `WHEN MATCHED THEN DELETE` are its unconditional one-clause
  *    sections; everything else real CDC merges use — `WHEN MATCHED AND
  *    <cond>`, multiple clauses, partial `SET` (unassigned columns keep
  *    target values), values referencing both sides, conditional
  *    INSERTs, and `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE` — is
  *    the same cascade with more clauses. Composite `ON k1 = k1 AND k2 = k2`
  *    tuple keys land through the same key-list `Snapshots.merge`, and
  *    `MERGE WITH SCHEMA EVOLUTION` adds source-only columns to the
  *    target (metadata-only addColumn + catalog-schema sync; star
  *    expansions carry their source values) and WIDENS target columns a
  *    source feed outgrew (int->bigint, float->double — the metadata-only
  *    widenColumn event; non-key columns only). Only key-changing
  *    SETs refuse: `SET k = s.k` (or `t.k`) is the identity and passes.
  *
  * Time-traveled relations (`versionAsOf`/`timestampAsOf`/`tag`/
  * `branch` reader options) refuse all DML: history is immutable.
  */
object SqlDml {

  /** A sibling session (shared context, catalog, temp views) with the
    * DML rule installed — see [[GraftBridge.siblingSessionWithExtensions]]
    * for why a live session cannot take new analyzer rules directly.
    * The graft SQL functions and the as-of-join strategy ride along, so
    * the sibling is a strict superset of a `GraftExtensions` session.
    *
    * MEMOIZED, one sibling per parent session: the sibling's session
    * state is cloned at FIRST enable, so temp views/functions the
    * PARENT registers later are not visible in it. Register statement
    * inputs through the returned session (the normal pattern), or call
    * [[invalidate]] after mutating the parent's session state to force
    * a fresh clone.
    *
    * HOLD the returned session across dependent statements: the memo
    * keeps only a weak reference (see [[enabledSiblings]]), so a caller
    * that registers temp views through one `enable()` result, drops it,
    * and calls `enable()` again may get a FRESH clone without them if a
    * GC ran in between. Sibling-local temp state is only as durable as
    * the caller's own reference to the sibling.
    */
  def enable(spark: SparkSession): SparkSession =
    enabledSiblings.synchronized {
      val cached = Option(enabledSiblings.get(spark)).flatMap(r =>
        Option(r.get()))
      cached.getOrElse {
        val s = GraftBridge.siblingSessionWithExtensions(spark, apply)
        // the cloned session state copies the parent's REGISTRIES
        // (functions and table functions) rather than re-applying
        // extensions — register the metadata table functions and SQL
        // expressions directly
        MetaTables.registerRuntime(s)
        graft.GraftExtensions.register(s)
        enabledSiblings.put(spark, new java.lang.ref.WeakReference(s))
        s
      }
    }

  /** One DML sibling per parent session: building the sibling's
    * analyzer/registries costs a visible fraction of a second, and DML
    * statements keep no cross-statement state in the session, so every
    * `enable` on the same parent shares one sibling (the catalog is
    * shared with the parent either way).
    *
    * WEAK on both sides so the memo never pins sessions in long-lived
    * JVMs that churn them: a WeakHashMap key (the parent) is collectable
    * once the caller drops it, and the value is a WeakReference because
    * the sibling's session state chains back to the parent's — a strong
    * value would resurrect the key. Losing an entry to GC is benign
    * FOR DML ITSELF (statements keep no cross-statement state; the next
    * [[enable]] just re-clones) — but sibling-LOCAL temp views and
    * functions a caller registered die with the dropped sibling, which
    * is why [[enable]]'s contract requires holding the returned session
    * across dependent statements.
    */
  private val enabledSiblings =
    new java.util.WeakHashMap[SparkSession,
      java.lang.ref.WeakReference[SparkSession]]()

  /** Drop the memoized DML sibling for `spark` — the next [[enable]]
    * re-clones the parent's CURRENT session state (temp views included).
    */
  def invalidate(spark: SparkSession): Unit =
    enabledSiblings.synchronized { enabledSiblings.remove(spark) }

  /** Extension installer — usable directly via
    * `spark.sql.extensions=graft.GraftExtensions` plus this, or through
    * [[enable]] at runtime.
    */
  def apply(ext: SparkSessionExtensions): Unit = {
    new graft.GraftExtensions()(ext)
    ext.injectResolutionRule(_ => GraftDmlRule)
    // the Hints batch runs BEFORE the main resolution batch — the time
    // travel substitution must beat ResolveRelations, which throws
    // UNSUPPORTED_FEATURE.TIME_TRAVEL for v1 relations on sight
    ext.injectHintResolutionRule(session => new GraftTimeTravelRule(session))
    // DDL must also beat ResolveSessionCatalog (Resolution batch), which
    // would route v1 ALTER TABLE onto catalog-schema-only commands that
    // no manifest ever sees
    ext.injectHintResolutionRule(session => new GraftDdlRule(session))
    // CALL graft_*() maintenance procedures must also beat Spark's own
    // procedure resolution (which refuses against the v1 session catalog)
    ext.injectHintResolutionRule(session => new GraftCallRule(session))
    MetaTables.install(ext)
  }

  /** Matches a fully-resolved scan over a graft snapshot relation and
    * yields (table path, relation output, reader options).
    */
  private[plans] object GraftRel {
    def unapply(plan: LogicalPlan)
        : Option[(String, Seq[Attribute], Map[String, String], Option[String])] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case lr: LogicalRelation => lr.relation match {
          case hfr: HadoopFsRelation => hfr.location match {
            case idx: SnapshotFileIndex =>
              Some((idx.table, lr.output, hfr.options,
                lr.catalogTable.map(_.identifier.unquotedString)))
            case _ => None
          }
          case r: GraftReadRelation =>
            Some((r.table, lr.output, r.options,
              lr.catalogTable.map(_.identifier.unquotedString)))
          case _ => None
        }
        case _ => None
      }
  }

  private val TravelKeys = Seq("versionAsOf", "timestampAsOf", "tag",
    "branch")

  private def requireWritable(table: String,
      options: Map[String, String]): Unit = {
    val travel = TravelKeys.filter(options.contains)
    require(travel.isEmpty, s"graft DML: $table was read with " +
      s"${travel.mkString("/")} — historical versions are immutable; " +
      "point the relation at the table head")
  }

  /** UNCORRELATED subqueries in DML predicates work: their resolved
    * plans ride the re-anchored Column untouched (`DELETE ... WHERE k
    * IN (SELECT ...)` is spec-pinned). CORRELATED ones cannot — the
    * outer references are bound to the statement's relation instance,
    * which the command replaces with a fresh read, and re-anchoring
    * them by bare name inside the subquery would silently capture
    * same-named INNER columns — so they refuse loudly at analysis
    * instead of dying later with an internal attribute-not-found.
    */
  private def refuseCorrelated(e: Expression, what: String): Unit =
    e.foreach {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression
          if s.isCorrelated =>
        throw new IllegalArgumentException(
          s"graft DML: $what predicates support uncorrelated subqueries " +
            "(IN/EXISTS over an independent query) but not CORRELATED " +
            "ones — rewrite the correlation as an IN over a join")
      case _ => ()
    }

  // ---- decorrelation (DELETE / UPDATE predicates) -------------------------

  private def hasOuterE(e: Expression): Boolean = e.exists {
    case _: org.apache.spark.sql.catalyst.expressions.OuterReference => true
    case _ => false
  }
  private def planHasOuter(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(hasOuterE))
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }
  /** The outer side of a correlated equality conjunct: an expression
    * whose EVERY column is an outer reference (a bare outer column, the
    * analyzer's widening cast over one, `t.k + 1`, ...). Unwrapping the
    * OuterReference markers yields the expression as the OUTER query
    * evaluates it — which is exactly the IN-subquery value side. A
    * conjunct mixing inner and outer columns on one side is not a key
    * equality and stays refused.
    */
  private object OuterKey {
    import org.apache.spark.sql.catalyst.expressions.OuterReference
    private def innerAttrFree(e: Expression): Boolean = e match {
      case OuterReference(_) => true // the wrapped attr is the outer one
      case _: AttributeReference => false
      case other => other.children.forall(innerAttrFree)
    }
    def unapply(e: Expression): Option[Expression] =
      if (hasOuterE(e) && innerAttrFree(e))
        Some(e.transform { case OuterReference(a) => a })
      else None
  }
  /** Peel a correlated subquery BODY: a [Filter over an outer-free
    * child] whose correlated conjuncts are ALL same-shape equalities
    * `outer = inner`. Returns the (outer, inner) key pairs and the body
    * with only the uncorrelated conjuncts left. None = some correlation
    * this rewrite cannot express (non-equality, outer refs under an
    * aggregate/join, ...) — the caller refuses loudly.
    */
  private def peelBody(p: LogicalPlan)
      : Option[(Seq[(Expression, Expression)], LogicalPlan)] = p match {
    case Filter(cond, child) if !planHasOuter(child) =>
      val (corr, plain) = conjuncts(cond).partition(hasOuterE)
      val pairs = corr.map {
        case EqualTo(OuterKey(o), i) if !hasOuterE(i) => Some((o, i))
        case EqualTo(i, OuterKey(o)) if !hasOuterE(i) => Some((o, i))
        case _ => None
      }
      if (pairs.exists(_.isEmpty)) None
      else Some((pairs.flatten,
        plain.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .map(Filter(_, child)).getOrElse(child)))
    case other if !planHasOuter(other) => Some((Nil, other))
    case _ => None
  }
  private def dropTopProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(list, child) if !list.exists(hasOuterE) =>
      dropTopProjects(child)
    case other => other
  }

  /** Decorrelate `EXISTS (... WHERE inner = outer)` and
    * `v IN (SELECT x ... WHERE inner = outer)` in a DELETE/UPDATE
    * predicate into the UNCORRELATED `(outer keys...) IN (SELECT inner
    * keys ...)` they denote — the semi-join shape the engine already
    * supports, and the most common real CDC DELETE/UPDATE form. The
    * rewrite is EXACT under nulls in every boolean context (NOT EXISTS
    * included):
    *  - inner key rows with a NULL component are filtered out — they can
    *    never satisfy the correlated equality, and leaving them in would
    *    turn a definite FALSE into NULL under the tuple IN;
    *  - a NULL outer key short-circuits to FALSE (`If` guard) — the
    *    correlated equality can never hold for that row, while the bare
    *    IN would yield NULL and flip under an enclosing NOT.
    * Correlations this cannot express — non-equality conjuncts, outer
    * references under aggregates/joins, correlated SCALAR subqueries —
    * keep the loud refusal with rewrite guidance.
    */
  private def decorrelate(e: Expression, what: String): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And => CAnd,
      Exists, If, InSubquery, IsNotNull, ListQuery, Literal}
    def keysIn(pairs: Seq[(Expression, Expression)], body: LogicalPlan)
        : Expression = {
      val inner = pairs.map(_._2)
      val outer = pairs.map(_._1)
      val guarded = Filter(inner.map(IsNotNull(_): Expression).reduce(CAnd(_, _)), body)
      val proj = Project(inner.zipWithIndex.map { case (k, i) =>
        Alias(k, s"__graft_ck$i")() }, guarded)
      If(outer.map(IsNotNull(_): Expression).reduce(CAnd(_, _)),
        InSubquery(outer, ListQuery(proj)), Literal.FalseLiteral)
    }
    val out = e.transformUp {
      case ex: Exists if ex.isCorrelated =>
        peelBody(dropTopProjects(ex.plan)) match {
          case Some((pairs, body)) if pairs.nonEmpty => keysIn(pairs, body)
          case _ => ex // not expressible — refused below
        }
      case in @ InSubquery(values, lq: ListQuery) if lq.isCorrelated =>
        lq.plan match {
          case Project(list, body0) if !list.exists(hasOuterE) =>
            peelBody(body0) match {
              case Some((pairs, body)) if pairs.nonEmpty =>
                // rebuild: original values compare against the projected
                // value columns, appended key pairs carry the correlation
                val keyAliases = pairs.map(_._2).zipWithIndex.map {
                  case (k, i) => Alias(k, s"__graft_ck$i")() }
                val guarded = Filter(pairs.map(_._2).map(IsNotNull(_): Expression)
                  .reduce(CAnd(_, _)), body)
                val proj = Project(list ++ keyAliases, guarded)
                val allValues = values ++ pairs.map(_._1)
                If(pairs.map(_._1).map(IsNotNull(_): Expression).reduce(CAnd(_, _)),
                  InSubquery(allValues, ListQuery(proj)),
                  Literal.FalseLiteral)
              case _ => in
            }
          case _ => in
        }
    }
    refuseCorrelated(out, what)
    out
  }

  // ---- decorrelation (UPDATE SET scalar values) ----------------------------

  /** One correlated SCALAR subquery lifted out of an UPDATE SET value:
    * `SET v = (SELECT agg FROM s WHERE s.k = t.k)` decorrelates into the
    * per-key LEFT-JOIN lookup it denotes. The command runs [[agg]] (the
    * subquery grouped by its correlation keys, each row flagged), LEFT
    * joins the matched target rows on [[outerKeys]] = [[keyCols]], and
    * the SET value reads the joined result through [[valueCol]]:
    * matched groups take the group's aggregate, unmatched rows (and
    * NULL outer keys — the correlated equality can never hold) take the
    * aggregate-over-EMPTY-input default computed from [[default]] —
    * which is how `COUNT` stays 0 instead of flipping to NULL, the
    * classic decorrelation bug. Exactly one row per key group by
    * aggregate construction, so the original scalar's cardinality
    * contract holds structurally.
    */
  private[plans] final case class ScalarSetLookup(
      valueCol: String, rawCol: String, matchCol: String,
      keyCols: Seq[String], outerKeys: Seq[Column],
      agg: LogicalPlan, default: LogicalPlan,
      dataType: org.apache.spark.sql.types.DataType)

  /** Lift every equality-correlated scalar subquery out of the UPDATE
    * SET value expressions: each lifted node is replaced by a reference
    * to its lookup's [[ScalarSetLookup.valueCol]] (resolved against the
    * command's enriched matched frame at run time). Shapes this cannot
    * express — non-aggregate scalar bodies, grouped aggregates,
    * non-equality correlation, outer refs under the aggregate — are
    * left in place for [[refuseCorrelated]]'s loud refusal.
    */
  private def liftScalarSets(values: Seq[Expression])
      : (Seq[Expression], Seq[ScalarSetLookup]) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And => CAnd,
      IsNotNull, Literal, NamedExpression, ScalarSubquery}
    val lookups = scala.collection.mutable.ListBuffer.empty[ScalarSetLookup]
    // outer-free Project chain over a group-less Aggregate — `(SELECT
    // agg ...)` plus any post-aggregate arithmetic the parser projected
    def peelScalar(p: LogicalPlan)
        : Option[(List[Seq[NamedExpression]], Aggregate)] = p match {
      case Project(list, child) if !list.exists(hasOuterE) =>
        peelScalar(child).map { case (chain, a) => (list :: chain, a) }
      case a @ Aggregate(Nil, aggs, _, _) if !aggs.exists(hasOuterE) =>
        Some((Nil, a))
      case _ => None
    }
    val out = values.map(_.transform {
      case s: ScalarSubquery if s.isCorrelated =>
        (for {
          (chain, aggNode) <- peelScalar(s.plan)
          (pairs, uncorrBody) <- peelBody(aggNode.child)
          if pairs.nonEmpty
        } yield {
          val i = lookups.size
          // inner rows with NULL keys can never satisfy the equality —
          // dropping them shrinks the aggregate's state, and their
          // group could never join anyway
          val guarded = Filter(pairs.map(_._2)
            .map(IsNotNull(_): Expression).reduce(CAnd(_, _)), uncorrBody)
          val keyAliases = pairs.map(_._2).zipWithIndex.map {
            case (k, j) => Alias(k, s"__gsk${i}_$j")() }
          val flag = Alias(Literal.TrueLiteral, s"__gmatch$i")()
          val extras = (keyAliases :+ flag).map(_.toAttribute)
          val grouped = Aggregate(pairs.map(_._2),
            aggNode.aggregateExpressions ++ keyAliases :+ flag, guarded)
          // replay the post-aggregate Project chain, passing the key
          // and flag columns through each level
          val replayed = chain.foldRight(grouped: LogicalPlan) {
            (list, child) => Project(list ++ extras, child) }
          val outAttr = s.plan.output.head
          val aggPlan = Project(
            Alias(outAttr, s"__gv$i")() +: extras, replayed)
          // the aggregate over EMPTY input — what the scalar returns
          // when no inner row correlates (COUNT: 0, SUM: NULL, ...)
          val defaultPlan = Project(Seq(Alias(outAttr, s"__gv$i")()),
            chain.foldRight(Aggregate(Nil, aggNode.aggregateExpressions,
              LocalRelation(uncorrBody.output)): LogicalPlan) {
              (list, child) => Project(list, child) })
          lookups += ScalarSetLookup(
            valueCol = s"__graft_scv$i", rawCol = s"__gv$i",
            matchCol = s"__gmatch$i",
            keyCols = keyAliases.map(_.name),
            outerKeys = pairs.map(p => asColumn(p._1)),
            agg = aggPlan, default = defaultPlan, dataType = s.dataType)
          UnresolvedAttribute(Seq(s"__graft_scv$i")): Expression
        }).getOrElse(s) // not expressible — refused by the caller
    })
    (out, lookups.toSeq)
  }

  /** Re-anchor an expression by NAME: attribute references resolved
    * against the statement's relation instance are replaced with
    * unresolved ones, so the expression re-resolves against the fresh
    * frame the command reads at run time.
    */
  private[plans] def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  private def asColumn(e: Expression): Column =
    GraftBridge.column(byName(e))

  // ---- SQL time travel ----------------------------------------------------

  /** `SELECT ... FROM t VERSION AS OF 3` / `TIMESTAMP AS OF ts` /
    * `VERSION AS OF 'tag-or-branch'` on a catalog graft table: Spark
    * parses the suffix into [[RelationTimeTravel]] but only resolves it
    * for v2 catalogs — this rule resolves the identifier through the
    * session catalog itself and substitutes the PINNED relation (the
    * same reader-option machinery as `spark.read.format("graft")
    * .option("versionAsOf", ...)`), so SQL users get time travel,
    * tags and branches with standard syntax. Non-graft tables pass
    * through untouched for Spark's own handling.
    */
  final class GraftTimeTravelRule(session: SparkSession)
      extends Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver)
            if ts.forall(e => e.resolved && e.foldable) =>
          graftTablePath(u.multipartIdentifier) match {
            case None => tt // not ours — Spark's own error/v2 handling
            case Some(path) =>
              val travel: (String, String) = (ts, ver) match {
                case (_, Some(v)) if v.forall(_.isDigit) =>
                  ("versionAsOf", v)
                case (_, Some(v)) =>
                  // non-numeric version = a named ref (tag first, else
                  // branch) — the reader options accept exactly one
                  val isTag = graft.sources.Branches
                    .tags(session, path).exists(_._1 == v)
                  (if (isTag) "tag" else "branch", v)
                case (Some(e), None) =>
                  // a bare string literal ('2024-01-01') is the common
                  // SQL shape — cast it to a timestamp the way Spark's
                  // own v2 time travel does, in the session timezone
                  val tz = session.asInstanceOf[org.apache.spark.sql
                    .classic.SparkSession].sessionState.conf
                    .sessionLocalTimeZone
                  val casted =
                    if (e.dataType.isInstanceOf[
                        org.apache.spark.sql.types.StringType])
                      org.apache.spark.sql.catalyst.expressions.Cast(e,
                        org.apache.spark.sql.types.TimestampType, Some(tz))
                    else e
                  val micros = casted.eval() match {
                    case l: java.lang.Long => l.longValue()
                    case other => throw new IllegalArgumentException(
                      s"graft time travel: TIMESTAMP AS OF must fold to " +
                        s"a timestamp, got $other")
                  }
                  ("timestampAsOf", (micros / 1000L).toString)
                case (None, None) => throw new IllegalArgumentException(
                  "graft time travel: neither version nor timestamp")
              }
              val rel = new graft.sources.GraftSource().createRelation(
                session.asInstanceOf[org.apache.spark.sql.classic
                  .SparkSession].sqlContext,
                Map("path" -> path, travel._1 -> travel._2))
              SubqueryAlias(u.multipartIdentifier.last,
                LogicalRelation(rel, isStreaming = false))
          }
      }

    private def graftTablePath(parts: Seq[String]): Option[String] =
      SqlDml.graftTablePath(session, parts)
  }

  // ---- SQL DDL (ALTER TABLE) ---------------------------------------------

  /** `ALTER TABLE` on catalog graft tables, routed onto the
    * METADATA-ONLY evolution ops — none of these rewrite a data byte:
    *
    *  - `ADD COLUMN c TYPE [DEFAULT lit]` → [[Snapshots.addColumn]]
    *    (era-scoped initial default);
    *  - `RENAME COLUMN a TO b` → [[Snapshots.renameColumn]];
    *  - `DROP COLUMN c` → [[Snapshots.dropColumn]] (name retired);
    *  - `ALTER COLUMN c TYPE wider` → [[Snapshots.widenColumn]].
    *
    * Runs in the Hints batch: Spark's own `ResolveSessionCatalog` would
    * otherwise convert these to catalog-schema-only v1 commands that no
    * manifest ever sees — the reader's schema is the MANIFEST's, so
    * that path would silently change nothing (or worse, desync the
    * catalog). Non-graft tables pass through untouched. Each statement
    * is one atomic snapshot commit; the session's cached relation
    * refreshes so the next read resolves the evolved schema.
    */
  final class GraftDdlRule(session: SparkSession) extends Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedTable

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case a @ AddColumns(u: UnresolvedTable, cols) =>
          withGraft(u, a) { table =>
            cols.foreach { qc =>
              require(qc.path.isEmpty && qc.name.size == 1,
                s"graft DDL: nested columns are not supported, got " +
                  qc.name.mkString("."))
              require(qc.position.isEmpty,
                "graft DDL: column POSITION is not supported")
              val default = qc.default.map { d =>
                require(d.child.foldable,
                  s"graft DDL: DEFAULT must be a literal, got ${d.child}")
                d.child.eval() match {
                  case s: org.apache.spark.unsafe.types.UTF8String =>
                    s.toString
                  case other => other
                }
              }
              Snapshots.addColumn(session, table, qc.name.head,
                qc.dataType, default)
            }
          }

        case r @ RenameColumn(u: UnresolvedTable, column, newName) =>
          withGraft(u, r) { table =>
            require(column.name.size == 1,
              "graft DDL: nested columns are not supported")
            Snapshots.renameColumn(session, table, column.name.head,
              newName)
          }

        case d @ DropColumns(u: UnresolvedTable, cols, ifExists) =>
          withGraft(u, d) { table =>
            cols.foreach { f =>
              require(f.name.size == 1,
                "graft DDL: nested columns are not supported")
              val exists = Snapshots.properties(session, table,
                Snapshots.latestVersion(session, table))
                .get(Snapshots.SchemaProp)
                .exists(_.contains("\"" + f.name.head + "\""))
              if (exists || !ifExists)
                Snapshots.dropColumn(session, table, f.name.head)
            }
          }

        case ac @ AlterColumns(u: UnresolvedTable, specs) =>
          withGraft(u, ac) { table =>
            specs.foreach { sp =>
              require(sp.column.name.size == 1,
                "graft DDL: nested columns are not supported")
              val newType = sp.newDataType.getOrElse(
                throw new IllegalArgumentException(
                  "graft DDL: only ALTER COLUMN ... TYPE is supported " +
                    "(widening)"))
              Snapshots.widenColumn(session, table, sp.column.name.head,
                newType)
            }
          }
      }

    /** Rewrite to a deferred command when the identifier names a graft
      * table; otherwise return the node untouched. The side effects run
      * at COMMAND EXECUTION, not analysis — an EXPLAIN must not alter
      * the table.
      */
    private def withGraft(u: UnresolvedTable, orig: LogicalPlan)(
        f: String => Unit): LogicalPlan =
      SqlDml.graftTablePath(session, u.multipartIdentifier) match {
        case None => orig
        case Some(table) =>
          GraftDdlCommand(table, orig.nodeName, { () =>
            f(table)
            // the catalog pins the CREATE-time schema and re-resolution
            // compares it against the relation's — sync it to the new
            // recorded schema (what Spark's own v1 ALTER commands do),
            // nullable-normalized to the relation convention
            val recorded = Snapshots.properties(session, table,
                Snapshots.latestVersion(session, table))
              .get(Snapshots.SchemaProp)
              .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
                .asInstanceOf[org.apache.spark.sql.types.StructType])
            recorded.foreach { st =>
              val nullable = org.apache.spark.sql.types.StructType(
                st.fields.map(_.copy(nullable = true)))
              val ident = u.multipartIdentifier match {
                case Seq(t) => org.apache.spark.sql.catalyst
                  .TableIdentifier(t)
                case Seq(db, t) => org.apache.spark.sql.catalyst
                  .TableIdentifier(t, Some(db))
                case _ => null
              }
              if (ident != null) {
                // alterTableDataSchema refuses narrowing (rename/drop) —
                // replace the whole catalog entry's schema instead
                val catalog = session.asInstanceOf[org.apache.spark.sql
                  .classic.SparkSession].sessionState.catalog
                val meta = catalog.getTableMetadata(ident)
                catalog.alterTable(meta.copy(schema = nullable))
              }
            }
            refreshCatalog(session,
              Some(u.multipartIdentifier.mkString(".")))
          })
      }
  }

  /** A deferred graft DDL statement — the body executes when Spark
    * runs the command, never at analysis (EXPLAIN must not alter the
    * table). A single parameter list: TreeNode's reflective makeCopy
    * requires ctor args == product arity.
    */
  final case class GraftDdlCommand(table: String, statement: String,
      body: () => Unit) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      body()
      Seq.empty
    }
  }

  /** The table path iff the identifier names a catalog table with
    * provider `graft`; None otherwise (including missing tables).
    */
  private[plans] def graftTablePath(session: SparkSession,
      parts: Seq[String]): Option[String] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val ident = parts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case _ => return None
    }
    val catalog = session.asInstanceOf[org.apache.spark.sql.classic
      .SparkSession].sessionState.catalog
    try {
      val meta = catalog.getTableMetadata(ident)
      if (meta.provider.exists(_.equalsIgnoreCase("graft")))
        meta.storage.properties.get("path")
          .orElse(meta.storage.locationUri.map(_.getPath))
      else None
    } catch { case _: Exception => None }
  }

  // ---- the analyzer rule ------------------------------------------------

  object GraftDmlRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case i @ InsertIntoStatement(GraftRel(table, out, opts, ident),
            part, cols, query, overwrite, _, byNameIns)
            if query.resolved =>
          requireWritable(table, opts)
          require(part.isEmpty, "graft DML: INSERT ... PARTITION is not " +
            "supported — partitioning rides the table layout")
          require(cols.isEmpty || byNameIns ||
            cols.map(_.toLowerCase) == out.map(_.name.toLowerCase),
            s"graft DML: an INSERT column list must name ALL the " +
              s"table's columns in order (missing columns are not " +
              s"default-filled), got (${cols.mkString(", ")})")
          val _ = i
          GraftInsertCommand(table, query, overwrite, schemaOf(out),
            byNameIns, ident)

        case DeleteFromTable(GraftRel(table, _, opts, ident), condition)
            if condition.resolved =>
          requireWritable(table, opts)
          GraftDeleteCommand(table,
            asColumn(decorrelate(condition, "DELETE")), ident)

        case UpdateTable(GraftRel(table, _, opts, ident), assignments,
            condition)
            if assignments.forall(_.resolved) &&
              condition.forall(_.resolved) =>
          requireWritable(table, opts)
          // correlated SCALAR subqueries in SET values decorrelate into
          // per-key left-join lookups (the CDC enrichment shape `SET v =
          // (SELECT agg FROM s WHERE s.k = t.k)`); anything the lift
          // cannot express stays in the value and refuses loudly below
          val (values, scalarLookups) =
            liftScalarSets(assignments.map(_.value))
          val set = assignments.zip(values).map { case (a, value) =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case u: UnresolvedAttribute => u.name
              case other => throw new IllegalArgumentException(
                s"graft DML: UPDATE SET target must be a plain column, " +
                  s"got $other")
            }
            (name, asColumn(value))
          }
          (assignments.map(_.key) ++ values)
            .foreach(refuseCorrelated(_, "UPDATE"))
          GraftUpdateCommand(table, set,
            asColumn(decorrelate(condition.getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral),
              "UPDATE")),
            ident, scalarLookups)

        case m: MergeIntoTable if m.targetTable.resolved &&
            m.sourceTable.resolved && m.mergeCondition.resolved &&
            GraftRel.unapply(m.targetTable).isDefined =>
          val Some((table, tOut, opts, ident)) =
            GraftRel.unapply(m.targetTable)
          requireWritable(table, opts)
          rewriteMerge(m, table, tOut, ident)
      }

    private def rewriteMerge(m: MergeIntoTable, table: String,
        tOut: Seq[Attribute], ident: Option[String]): LogicalPlan = {
      val sOut = m.sourceTable.output
      // MERGE WITH SCHEMA EVOLUTION: source columns absent from the
      // target become NEW nullable target columns — a metadata-only
      // Snapshots.addColumn when the command executes (old rows read
      // null-filled, per the era discipline), so the evolution is as
      // atomic-enough as Delta's (schema commit then merge commit).
      // Star expansions carry the new columns' SOURCE values; explicit
      // assignment actions leave them carried/null (an explicit SET of
      // a new column can't resolve pre-evolution and refuses upstream).
      // Column TYPE widening under evolution is NOT attempted —
      // widenColumn is the explicit op for that.
      val newCols: Seq[org.apache.spark.sql.types.StructField] =
        if (!m.withSchemaEvolution) Nil
        else sOut
          .filterNot(sa => tOut.exists(_.name.equalsIgnoreCase(sa.name)))
          .map(sa => org.apache.spark.sql.types.StructField(
            sa.name, sa.dataType, nullable = true))
      // canonical equality key: ON t.k = s.k with the SAME column name
      // on both sides — the shape Snapshots.merge upserts by. Spark's
      // type coercion wraps the NARROWER side in a widening cast when
      // the key types differ (an int-keyed CDC feed against a bigint
      // target is routine); a lossless integral widening is still the
      // same single-column equality, so unwrap it before matching —
      // merge keys collect as longs and upsert rows cast to the target
      // schema either way. Narrowing/cross-family casts stay refused.
      def integralRank(dt: org.apache.spark.sql.types.DataType): Int =
        dt match {
          case org.apache.spark.sql.types.ByteType => 1
          case org.apache.spark.sql.types.ShortType => 2
          case org.apache.spark.sql.types.IntegerType => 3
          case org.apache.spark.sql.types.LongType => 4
          case _ => 0
        }
      def stripWiden(e: Expression): Expression = e match {
        case c: Cast if integralRank(c.child.dataType) > 0 &&
            integralRank(c.dataType) >= integralRank(c.child.dataType) =>
          stripWiden(c.child)
        case other => other
      }
      // the ON condition may be a CONJUNCTION of same-named equalities —
      // the composite (order_id, line_number)-shaped tuple keys real CDC
      // feeds carry; each conjunct is validated independently
      def splitAnd(e: Expression): Seq[Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          splitAnd(l) ++ splitAnd(r)
        case other => Seq(other)
      }
      val keyAttrs: Seq[Attribute] = splitAnd(m.mergeCondition).map { conj =>
        (conj match {
          case EqualTo(l, r) => EqualTo(stripWiden(l), stripWiden(r))
          case other => other
        }) match {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if a.name.equalsIgnoreCase(b.name) &&
                ((tOut.exists(_.exprId == a.exprId) &&
                  sOut.exists(_.exprId == b.exprId)) ||
                  (tOut.exists(_.exprId == b.exprId) &&
                    sOut.exists(_.exprId == a.exprId))) =>
            // the widening cast is only acceptable on the SOURCE side: a
            // NARROW target key with a wide source would cast inserted
            // keys down via the non-ANSI positional cast, silently
            // WRAPPING out-of-range values into the key space
            val (tAttr, sAttr) =
              if (tOut.exists(_.exprId == a.exprId)) (a, b) else (b, a)
            if (integralRank(tAttr.dataType) > 0 &&
                integralRank(sAttr.dataType) > integralRank(tAttr.dataType))
              throw new IllegalArgumentException(
                "graft DML: MERGE source key '" + sAttr.name + "' is " +
                  s"${sAttr.dataType.simpleString} but the target key is " +
                  s"${tAttr.dataType.simpleString} — an out-of-range source " +
                  "key would WRAP under the insert cast; widen the target " +
                  "column (widenColumn) or cast the source down explicitly")
            tOut.find(_.name.equalsIgnoreCase(a.name)).get
          case other => throw new IllegalArgumentException(
            "graft DML: MERGE condition must be an equality (or a " +
              "conjunction of equalities) on same-named columns of " +
              s"target and source, got $other")
        }
      }
      require(keyAttrs.map(_.name.toLowerCase).distinct.size ==
        keyAttrs.size, "graft DML: MERGE condition repeats a key column")
      // assignment VALUES re-anchor by side-prefixed bare names — a
      // CORRELATED subquery's outer references cannot (the UPDATE-style
      // scalar lift does not compose with the merge cascade's
      // two-sided projections), so those refuse loudly; plain UPDATE
      // supports the scalar shape via liftScalarSets. Action CONDITIONS
      // decorrelate like DELETE/UPDATE predicates do — see `decond`
      // below.
      (m.matchedActions ++ m.notMatchedActions ++
        m.notMatchedBySourceActions).foreach {
        case UpdateAction(_, assigns, _) => assigns.foreach(a =>
          refuseCorrelated(a.value, "MERGE assignment"))
        case InsertAction(_, assigns) => assigns.foreach(a =>
          refuseCorrelated(a.value, "MERGE assignment"))
        case _ => ()
      }
      // Snapshots.merge* supports integral keys (collected as longs
      // against the manifest [min,max] stats) and string keys (UNCAST,
      // pruned through the UTF-8 string envelopes); anything else —
      // dates, doubles, structs — refuses HERE, loudly, at analysis
      keyAttrs.foreach(keyAttr => keyAttr.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft DML: MERGE key '${keyAttr.name}' must be an integral " +
            s"or string column, got ${dt.simpleString}")
      })
      val keyCols = keyAttrs.map(_.name)
      // WITH SCHEMA EVOLUTION, part 2: a source column that exists on
      // the target at a NARROWER width — exactly the lossless pairs
      // Snapshots.widenColumn accepts (int->bigint, float->double) —
      // widens the target via the metadata-only widen event when the
      // command executes, same after-validation discipline as
      // addColumn. KEY columns are excluded: the wide-source-key
      // refusal above stands (widening a key under recorded envelopes
      // is an explicit widenColumn decision, not a merge side effect).
      // Without evolution the narrower-target positional cast applies,
      // as before.
      val widenCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
        if (!m.withSchemaEvolution) Nil
        else {
          import org.apache.spark.sql.types.{DoubleType, FloatType,
            IntegerType, LongType}
          sOut.flatMap { sa =>
            tOut.find(_.name.equalsIgnoreCase(sa.name))
              .filterNot(ta => keyCols.exists(_.equalsIgnoreCase(ta.name)))
              .collect {
                case ta if (ta.dataType == IntegerType &&
                    sa.dataType == LongType) ||
                    (ta.dataType == FloatType &&
                      sa.dataType == DoubleType) =>
                  (ta.name, sa.dataType)
              }
          }
        }
      // the EFFECTIVE (post-evolution) schema every projection casts to
      def widened(fs: Array[org.apache.spark.sql.types.StructField])
          : Array[org.apache.spark.sql.types.StructField] =
        fs.map(f => widenCols.find(_._1.equalsIgnoreCase(f.name))
          .map(w => f.copy(dataType = w._2)).getOrElse(f))
      // the analyzer aligns SET * / INSERT * values to the PRE-widen
      // target type with an outer Cast — under ANSI that cast overflows
      // on exactly the values the widen exists for, so strip it when the
      // assignment targets a widened column (the projection re-casts to
      // the widened type; in-range values are unchanged).
      // KNOWN EDGE: a user-written `CAST(v AS INT)` on a widened column
      // is textually identical to the analyzer's alignment cast after
      // analysis, so under WITH SCHEMA EVOLUTION it is stripped too and
      // the wide value is kept instead of the requested truncation /
      // ANSI overflow error. Accepted: asking for evolution and a
      // narrowing cast on the same column in one statement is
      // contradictory intent, and the analyzer does not preserve the
      // cast's origin for us to tell the two apart.
      def unNarrow(name: String, e: Expression): Expression =
        widenCols.find(_._1.equalsIgnoreCase(name)) match {
          case Some((_, wdt)) => e match {
            case c: Cast if c.child.dataType == wdt &&
                tOut.exists(t => t.name.equalsIgnoreCase(name) &&
                  t.dataType == c.dataType) => c.child
            case other => other
          }
          case None => e
        }
      require(m.matchedActions.nonEmpty || m.notMatchedActions.nonEmpty ||
        m.notMatchedBySourceActions.nonEmpty,
        "graft DML: MERGE with no actions")
      // every MERGE evaluates the SQL first-true-wins cascade — the
      // canonical SET * / INSERT * / WHEN MATCHED THEN DELETE shapes are
      // its one- and two-clause cases. Expressions are re-anchored
      // SIDE-AWARE: the command joins a target frame and a source frame
      // whose columns are prefixed per side, so a target and a source
      // column sharing a name (the norm in MERGE) resolve unambiguously.
      // Evolution: a star UPDATE carries the new columns' source values;
      // every INSERT is full-row-from-source (validated below), so new
      // columns ride inserts too; explicit/bySource actions leave them
      // to shapeRow's target-side carry (null-filled post-evolution)
      val newAssigns: Seq[(String, Column)] = newCols.map(f => (f.name,
        GraftBridge.column(UnresolvedAttribute(
          Seq(GraftMergeCommand.SP + f.name)))))
      val tIds = tOut.map(_.exprId).toSet
      val sIds = sOut.map(_.exprId).toSet
      def sided(e: Expression): Column = GraftBridge.column(e.transform {
        case a: AttributeReference if tIds.contains(a.exprId) =>
          UnresolvedAttribute(Seq(GraftMergeCommand.TP + a.name))
        case a: AttributeReference if sIds.contains(a.exprId) =>
          UnresolvedAttribute(Seq(GraftMergeCommand.SP + a.name))
      })
      def onlySide(e: Expression, badIds: Set[
          org.apache.spark.sql.catalyst.expressions.ExprId],
          what: String, side: String): Unit = e.foreach {
        case ar: AttributeReference if badIds.contains(ar.exprId) =>
          throw new IllegalArgumentException(s"graft DML: MERGE $what " +
            s"may reference only the $side, got '${ar.name}'")
        case _ => ()
      }
      // a key SET whose value is the same-named key of either side is
      // the identity (the join condition makes t.k = s.k): the star
      // expansion's `k = s.k` and an explicit full-row `SET k = s.k`
      def keyIdentity(key: String, e: Expression): Boolean =
        stripWiden(e) match {
          case ar: AttributeReference => ar.name.equalsIgnoreCase(key) &&
            (tIds.contains(ar.exprId) || sIds.contains(ar.exprId))
          case _ => false
        }
      def assignsOf(assigns: Seq[Assignment], what: String,
          allowKey: Boolean): Seq[(String, Column)] = assigns.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => throw new IllegalArgumentException(
            s"graft DML: MERGE $what assigns to non-column $other")
        }
        val t = tOut.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"graft DML: MERGE $what assigns unknown column '$name'"))
        require(allowKey || !keyCols.exists(t.name.equalsIgnoreCase) ||
          keyIdentity(t.name, a.value),
          s"graft DML: MERGE $what must not SET the merge key " +
            s"'${t.name}' — key-changing updates are not a merge")
        (t.name, sided(unNarrow(t.name, a.value)))
      }
      // action conditions take the SAME equality decorrelation as
      // DELETE/UPDATE predicates (e.g. `WHEN MATCHED AND EXISTS (SELECT
      // 1 FROM blocklist b WHERE b.k = t.k) THEN DELETE` — the
      // blocklist-gated CDC shape); the extracted outer keys are plain
      // t/s attributes, which sided() then re-anchors per side, and the
      // uncorrelated subquery plan rides untouched
      def decond(c: Option[Expression], what: String): Option[Column] =
        c.map(e => sided(decorrelate(e, what)))
      val matched = m.matchedActions.map {
        case DeleteAction(c) => (decond(c, "WHEN MATCHED condition"), None)
        case UpdateAction(c, assigns, fromStar) =>
          (decond(c, "WHEN MATCHED condition"),
            Some(assignsOf(assigns, "WHEN MATCHED", allowKey = false) ++
              (if (fromStar) newAssigns else Nil)))
        case other => throw new IllegalArgumentException(
          s"graft DML: unsupported WHEN MATCHED action $other")
      }
      val notMatched = m.notMatchedActions.map {
        case InsertAction(c, assigns) =>
          c.foreach(onlySide(_, tIds, "NOT MATCHED condition", "source"))
          assigns.foreach(a =>
            onlySide(a.value, tIds, "INSERT value", "source"))
          val proj = assignsOf(assigns, "WHEN NOT MATCHED", allowKey = true)
          val missing = tOut.map(_.name)
            .filterNot(n => proj.exists(_._1.equalsIgnoreCase(n)))
          require(missing.isEmpty, "graft DML: MERGE INSERT must assign " +
            s"every target column (missing ${missing.mkString(", ")})")
          (decond(c, "WHEN NOT MATCHED condition"),
            tOut.map(t => proj.find(_._1.equalsIgnoreCase(t.name)).get) ++
              newAssigns)
        case other => throw new IllegalArgumentException(
          s"graft DML: unsupported WHEN NOT MATCHED action $other")
      }
      val nmbs = m.notMatchedBySourceActions.map {
        case DeleteAction(c) =>
          c.foreach(onlySide(_, sIds,
            "NOT MATCHED BY SOURCE condition", "target"))
          (decond(c, "NOT MATCHED BY SOURCE condition"), None)
        case UpdateAction(c, assigns, _) =>
          c.foreach(onlySide(_, sIds,
            "NOT MATCHED BY SOURCE condition", "target"))
          assigns.foreach(a => onlySide(a.value, sIds,
            "NOT MATCHED BY SOURCE value", "target"))
          (decond(c, "NOT MATCHED BY SOURCE condition"),
            Some(assignsOf(assigns,
              "WHEN NOT MATCHED BY SOURCE", allowKey = false)))
        case other => throw new IllegalArgumentException(
          s"graft DML: unsupported WHEN NOT MATCHED BY SOURCE action $other")
      }
      GraftMergeCommand(table, m.sourceTable, keyCols,
        matched, notMatched, nmbs,
        org.apache.spark.sql.types.StructType(
          widened(schemaOf(tOut).fields) ++ newCols),
        newCols, widenCols, ident)
    }
  }

  /** Sync the catalog entry's schema to the table's RECORDED schema,
    * nullable-normalized to the relation convention — what Spark's own
    * v1 ALTER commands do. The catalog pins the CREATE-time schema and
    * re-resolution compares it against the relation's, so any command
    * that evolves the table outside the DDL path (MERGE WITH SCHEMA
    * EVOLUTION) must sync or the next statement on the name wedges.
    */
  private def syncCatalogSchema(spark: SparkSession, table: String,
      ident: Option[String]): Unit = {
    ident.foreach { id =>
    Snapshots.properties(spark, table,
        Snapshots.latestVersion(spark, table))
      .get(Snapshots.SchemaProp)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .foreach { st =>
        val nullable = org.apache.spark.sql.types.StructType(
          st.fields.map(_.copy(nullable = true)))
        // catalog idents print 1-3 parts ([catalog.][db.]table) — the
        // session catalog keys on (db, table), so drop the catalog part
        val tid = id.split("\\.").toSeq match {
          case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
          case Seq(db, t) =>
            org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
          case Seq(_, db, t) =>
            org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
          case _ => null
        }
        if (tid != null) {
          val catalog = spark.asInstanceOf[org.apache.spark.sql
            .classic.SparkSession].sessionState.catalog
          val meta = catalog.getTableMetadata(tid)
          catalog.alterTable(meta.copy(schema = nullable))
        }
      }
    }
  }

  /** Drop the cached catalog plan for this table: the session catalog
    * caches resolved file relations (pinned at a version), so a
    * post-DML read through the SAME catalog name must re-resolve to see
    * the new version — the `REFRESH TABLE` a user would otherwise have
    * to run. Only THIS session's cache: a sibling/parent session keeps
    * Spark's normal refresh contract.
    */
  private def refreshCatalog(spark: SparkSession,
      ident: Option[String]): Unit =
    ident.foreach(spark.catalog.refreshTable)

  private def schemaOf(out: Seq[Attribute])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(out.map(a =>
      org.apache.spark.sql.types.StructField(a.name, a.dataType,
        a.nullable)))

  /** Re-stamp a frame with the table's RECORDED schema (zero-copy: the
    * internal rows are reused). Casts and joins widen nullability, and
    * a commit records its frame's schema — without this, one SQL MERGE
    * would flip a NOT NULL table column nullable and the catalog
    * relation would refuse to re-resolve against its stored schema.
    */
  private def withRecordedSchema(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    GraftBridge.internalDataFrame(spark, df.queryExecution.toRdd, schema)

  /** SQL MERGE cardinality guard (the Delta/standard-SQL rule): when
    * more than one source row matches the SAME target row and attempts
    * to modify it (UPDATE or DELETE), the statement is ambiguous —
    * which source row wins is undefined — so it is REFUSED, loudly,
    * before anything commits. `modifiers` carries one row per
    * (matched-and-acted) source row with the target key as `keyCol`;
    * one grouped count + limit(1) finds an offender without collecting
    * the batch. Duplicate NOT-MATCHED (insert) keys are NOT refused —
    * the standard inserts both rows — and duplicate delete keys within
    * the unconditional WHEN MATCHED THEN DELETE shorthand are
    * idempotent and deduped by the merge itself.
    */
  private def refuseMultiMatch(modifiers: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], table: String): Unit = {
    val dup = modifiers
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__graft_n"))
      .filter(col("__graft_n") > 1)
      .limit(1).collect()
    if (dup.nonEmpty) {
      val tuple = keyCols.zipWithIndex
        .map { case (k, i) => s"$k = ${dup.head.get(i)}" }.mkString(", ")
      throw new IllegalStateException(
        s"graft DML: MERGE into $table — " +
          s"${dup.head.getLong(keyCols.size)} source rows matched the " +
          s"target row with $tuple and attempted to modify it; which " +
          "row wins is undefined. De-duplicate the source on the merge " +
          "key (e.g. keep the latest row per key) and re-run.")
    }
  }

  // ---- the commands ------------------------------------------------------

  /** INSERT INTO / INSERT OVERWRITE → one snapshot commit. Positional
    * semantics (SQL INSERT), cast to the table's recorded types; with
    * `byNameIns` (INSERT ... BY NAME / a named column list) columns are
    * matched by name instead.
    */
  final case class GraftInsertCommand(table: String, query: LogicalPlan,
      overwrite: Boolean,
      targetSchema: org.apache.spark.sql.types.StructType,
      byNameIns: Boolean, ident: Option[String])
      extends LeafRunnableCommand {
    override def innerChildren: Seq[LogicalPlan] = Seq(query)
    override def run(spark: SparkSession): Seq[Row] = {
      val df = GraftBridge.dataFrame(spark, query)
      require(df.columns.length == targetSchema.size,
        s"graft DML: INSERT provides ${df.columns.length} column(s), " +
          s"table $table has ${targetSchema.size}")
      val aligned =
        if (byNameIns)
          df.select(targetSchema.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
        else
          // positional: rename first (a VALUES column can be named
          // "1.0", which col() would parse as a nested field)
          df.toDF(targetSchema.fieldNames.toSeq: _*)
            .select(targetSchema.fields.toSeq.map(f =>
              col(f.name).cast(f.dataType).as(f.name)): _*)
      val shaped = withRecordedSchema(spark, aligned, targetSchema)
      // a partition-spec'd table must take its appends through the
      // partitioned writer (the SnapshotStream.commitBatch routing):
      // a plain commit would land layout-less files in the spec'd era
      // and knock the table off the partition tier (partitions/
      // overwritePartitions refuse) until a rewriteLayout
      if (graft.sources.Partitioning.currentSpec(spark, table).nonEmpty)
        graft.sources.Partitioning.commitPartitioned(shaped, table,
          overwrite = overwrite)
      else
        Snapshots.commit(shaped, table, overwrite = overwrite)
      refreshCatalog(spark, ident)
      Seq.empty
    }
  }

  /** DELETE FROM → a position delete-vector commit. The predicate is
    * held as a [[Column]] (re-anchored by name): an Expression field
    * would surface through the command's own `expressions` and fail
    * CheckAnalysis as unresolved.
    */
  final case class GraftDeleteCommand(table: String, condition: Column,
      ident: Option[String])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      Snapshots.deleteVector(spark, table, condition)
      refreshCatalog(spark, ident)
      Seq.empty
    }
  }

  /** UPDATE → an atomic vector + rewritten-rows commit. Scalar-subquery
    * SET values arrive decorrelated as [[ScalarSetLookup]]s: each one
    * LEFT-joins the matched rows against its per-key aggregate (grouped
    * lookups are per-key-unique by construction, so the join is
    * row-preserving — [[graft.sources.Snapshots.updateWhere]] still
    * guards the count) and exposes the scalar as a column the SET
    * expressions reference by name; unmatched rows take the
    * aggregate-over-empty default the original scalar denotes.
    */
  final case class GraftUpdateCommand(table: String,
      set: Seq[(String, Column)], condition: Column,
      ident: Option[String],
      scalarLookups: Seq[SqlDml.ScalarSetLookup] = Nil)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.{col => c, lit, when}
      val enrich = Option(scalarLookups).filter(_.nonEmpty).map { ls =>
        (matched: org.apache.spark.sql.DataFrame) =>
          ls.foldLeft(matched) { (df, l) =>
            val lk = GraftBridge.dataFrame(spark, l.agg)
            val dflt = GraftBridge.dataFrame(spark, l.default).head().get(0)
            val cond = l.outerKeys.zip(l.keyCols)
              .map { case (o, k) => o === lk(k) }.reduce(_ && _)
            df.join(lk, cond, "left")
              .withColumn(l.valueCol,
                when(c(l.matchCol).isNotNull, c(l.rawCol))
                  .otherwise(lit(dflt).cast(l.dataType)))
              .drop((l.keyCols :+ l.rawCol :+ l.matchCol): _*)
          }
      }
      Snapshots.updateWhere(spark, table, condition, set, enrich = enrich)
      refreshCatalog(spark, ident)
      Seq.empty
    }
  }

  /** MERGE INTO (see `rewriteMerge`): evaluates the SQL action cascade
    * — per matched/not-matched/not-matched-by-source row, the FIRST
    * action whose condition holds applies; a row matching no action is
    * untouched — then lands the whole statement as ONE atomic
    * [[Snapshots.merge]] (update/insert rows as upserts, deletes as
    * delete keys). `UPDATE SET * / INSERT *` and `WHEN MATCHED THEN
    * DELETE` are the cascade's unconditional one-clause sections.
    *
    * Shape at scale: ONE join target⋈source on the merge key whose type
    * covers exactly the row classes the actions need (an anti-join when
    * only one unmatched side acts), localCheckpoint'ed — every action
    * filters the SAME materialized row set, so N actions never re-run
    * the join — then the merge's own envelope-pruned rewrite. AQE
    * broadcasts the (typically CDC-batch-sized) source side. Multiple
    * source rows matching-and-acting on one target key are REFUSED (the
    * standard MERGE cardinality rule — see [[SqlDml.refuseMultiMatch]]),
    * except under a lone unconditional `WHEN MATCHED THEN DELETE`.
    */
  final case class GraftMergeCommand(table: String,
      source: LogicalPlan, keyCols: Seq[String],
      matched: Seq[(Option[Column], Option[Seq[(String, Column)]])],
      notMatched: Seq[(Option[Column], Seq[(String, Column)])],
      notMatchedBySource: Seq[(Option[Column], Option[Seq[(String, Column)]])],
      targetSchema: org.apache.spark.sql.types.StructType,
      newCols: Seq[org.apache.spark.sql.types.StructField] = Nil,
      widenCols: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil,
      ident: Option[String] = None)
      extends LeafRunnableCommand {
    import GraftMergeCommand.{TP, SP}
    override def innerChildren: Seq[LogicalPlan] = Seq(source)

    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.{col, lit, when}
      val src0 = GraftBridge.dataFrame(spark, source)
      // WITH SCHEMA EVOLUTION: the target is read PRE-evolution (the
      // guard below must be able to refuse with the table untouched,
      // schema included), so shapeRow carries new columns as typed
      // NULLs on the target side; the actual addColumn + catalog sync
      // happen only after every run-time validation passed
      val tgt0 = Snapshots.read(spark, table)
      require((tgt0.columns ++ src0.columns)
        .forall(c => !c.startsWith("__graft_")),
        "graft DML: MERGE reserves the __graft_ column-name prefix")
      val tgtP = tgt0.select(tgt0.columns.toSeq.map(c =>
        col(c).as(TP + c)): _*)
      val srcP = src0.select(src0.columns.toSeq.map(c =>
        col(c).as(SP + c)): _*)
      val tKeys = keyCols.map(k => col(TP + k))
      val sKeys = keyCols.map(k => col(SP + k))
      // tuple equality: every key conjunct must hold (a null component
      // matches nothing — exactly the anti-join semantics)
      val tEqS = tKeys.zip(sKeys).map { case (t, q) => t === q }
        .reduce(_ && _)
      val act = "__graft_act"
      // first-true-wins: when(c1,1).when(c2,2)...otherwise(0) — CaseWhen
      // evaluates branches in order, 0 = no action touches the row
      def actIdx(conds: Seq[Option[Column]]): Column = {
        val first = when(conds.head.getOrElse(lit(true)), lit(1))
        conds.zipWithIndex.drop(1).foldLeft(first) { case (w, (c, i)) =>
          w.when(c.getOrElse(lit(true)), lit(i + 1))
        }.otherwise(lit(0))
      }
      // full target row: assigned columns from the action's SET, the
      // rest carried from the side `fallback` prefixes
      val newNames = newCols.map(_.name.toLowerCase).toSet
      def shapeRow(frame: org.apache.spark.sql.DataFrame,
          set: Seq[(String, Column)], fallback: String) =
        frame.select(targetSchema.fields.toSeq.map { f =>
          set.find(_._1.equalsIgnoreCase(f.name)).map(_._2)
            // an evolving column has no target-side value yet — the
            // pre-evolution rows carry it as NULL by definition
            .getOrElse(if (newNames.contains(f.name.toLowerCase))
              lit(null) else col(fallback + f.name))
            .cast(f.dataType).as(f.name)
        }: _*)
      // ONE join, ONE checkpoint: the three row classes (matched,
      // source-only, target-only) are disjoint slices of a single outer
      // join, classified by per-side presence flags — null join keys
      // never match, exactly the anti-join semantics each class had when
      // it ran its own join. The checkpoint pins every action frame
      // against re-execution (Snapshots.merge runs them twice:
      // key-collect pass, write pass — an un-pinned source plan could
      // commit inconsistent action sets if non-deterministic), and doing
      // it ONCE replaces the three per-class join runs + materializations
      // this command used to pay (r14 advisory follow-up).
      val needM = matched.nonEmpty
      val needI = notMatched.nonEmpty // insert class: source-only rows
      val needD = notMatchedBySource.nonEmpty // target-only rows
      // single-anti-class statements keep their anti join — an outer
      // join would checkpoint the matched rows only to filter them out
      val joinType = (needM, needI, needD) match {
        case (false, true, false) => "src_anti"
        case (false, false, true) => "tgt_anti"
        case (_, true, true) => "full_outer"
        case (_, true, false) => "right_outer" // all source + matched
        case (_, false, true) => "left_outer" // all target + matched
        case _ => "inner"
      }
      val tFlag = "__graft_t"
      val sFlag = "__graft_s"
      val actM = act + "_m"
      val actI = act + "_i"
      val actD = act + "_d"
      val tPresent = col(tFlag).isNotNull
      val sPresent = col(sFlag).isNotNull
      // per-class action index computed BEFORE the checkpoint (so a
      // non-deterministic condition is evaluated exactly once), guarded
      // by presence — a class's conditions reference columns the other
      // side null-fills, and must never classify rows outside the class
      var j = joinType match {
        case "src_anti" =>
          srcP.join(tgtP, tEqS, "left_anti")
            .withColumn(tFlag, lit(null).cast("boolean"))
            .withColumn(sFlag, lit(true))
        case "tgt_anti" =>
          tgtP.join(srcP, tEqS, "left_anti")
            .withColumn(tFlag, lit(true))
            .withColumn(sFlag, lit(null).cast("boolean"))
        case jt =>
          tgtP.withColumn(tFlag, lit(true))
            .join(srcP.withColumn(sFlag, lit(true)), tEqS, jt)
      }
      if (needM) j = j.withColumn(actM,
        when(tPresent && sPresent, actIdx(matched.map(_._1)))
          .otherwise(lit(0)))
      if (needI) j = j.withColumn(actI,
        when(!tPresent, actIdx(notMatched.map(_._1))).otherwise(lit(0)))
      if (needD) j = j.withColumn(actD,
        when(!sPresent, actIdx(notMatchedBySource.map(_._1)))
          .otherwise(lit(0)))
      val pinned = j.localCheckpoint()
      try {
        // cardinality guard over the already-materialized join: >1 source
        // row matching AND acting on one target key is ambiguous — refuse
        // (rows whose matched cascade selects no action modify nothing
        // and are exempt, as are duplicate NOT-MATCHED insert keys, and a
        // lone unconditional WHEN MATCHED THEN DELETE: deleting a row
        // twice deletes it once — Delta exempts the shorthand the same way)
        if (needM && matched != Seq((None, None))) refuseMultiMatch(
          pinned.filter(col(actM) >= 1)
            .select(keyCols.map(k => col(TP + k).as(k)): _*),
          keyCols, table)
        var upserts = Seq.empty[org.apache.spark.sql.DataFrame]
        var delKeys = Seq.empty[org.apache.spark.sql.DataFrame]
        matched.zipWithIndex.foreach { case ((_, setOpt), i) =>
          val rows = pinned.filter(col(actM) === lit(i + 1))
          setOpt match {
            case Some(set) => upserts :+= shapeRow(rows, set, TP)
            case None => delKeys :+= rows
              .select(keyCols.map(k => col(TP + k).as(k)): _*)
          }
        }
        notMatched.zipWithIndex.foreach { case ((_, proj), i) =>
          upserts :+= shapeRow(pinned.filter(col(actI) === lit(i + 1)),
            proj, SP)
        }
        notMatchedBySource.zipWithIndex.foreach { case ((_, setOpt), i) =>
          val rows = pinned.filter(col(actD) === lit(i + 1))
          setOpt match {
            case Some(set) => upserts :+= shapeRow(rows, set, TP)
            case None => delKeys :+= rows
              .select(keyCols.map(k => col(TP + k).as(k)): _*)
          }
        }
        def emptyTarget = spark.createDataFrame(
          new java.util.ArrayList[Row](), targetSchema)
        val ups =
          if (upserts.isEmpty) emptyTarget
          else upserts.reduce(_.unionByName(_))
        val dels =
          if (delKeys.isEmpty) emptyTarget
          else delKeys.reduce(_.unionByName(_))
        if (newCols.nonEmpty || widenCols.nonEmpty) {
          // WITH SCHEMA EVOLUTION commits its schema changes AFTER every
          // guard that runs pre-merge (the cardinality guard above, the
          // in-batch UNIQUE pre-validation here): those refusals leave the
          // table untouched, schema included. Guards that live INSIDE the
          // merge commit itself — unique-vs-carried-files, CHECK/FK, the
          // concurrent-commit rebase refusal — can still fire after the
          // evolution committed; that is benign to retry (the retried
          // statement recomputes its evolution set as empty) but is a
          // two-commit window, the same one Delta's schema-then-data
          // evolution has. Widens go FIRST: widenColumn carries its own
          // refusals (constraints, rename history) and must fire before
          // any addColumn lands; the catalog sync keeps the next statement
          // on the name from comparing the stale CREATE-time schema
          Snapshots.preValidateUniqueBatch(spark, table, ups)
          widenCols.foreach { case (n, dt) =>
            Snapshots.widenColumn(spark, table, n, dt) }
          newCols.foreach(f =>
            Snapshots.addColumn(spark, table, f.name, f.dataType))
          syncCatalogSchema(spark, table, ident)
        }
        Snapshots.merge(spark, table,
          upserts = withRecordedSchema(spark, ups, targetSchema),
          deleteKeys = dels, keyCols = keyCols)
      } finally {
        // the checkpoint belongs to this statement: release its blocks
        // once the merge committed or refused, instead of holding one
        // persisted RDD per MERGE until a driver GC lets the cleaner run
        pinned.queryExecution.logical.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.unpersist(blocking = false)
          case _ => ()
        }
      }
      refreshCatalog(spark, ident)
      Seq.empty
    }
  }

  object GraftMergeCommand {
    /** Side prefixes the MERGE cascade joins under — reserved names,
      * refused loudly if a table/source column collides.
      */
    private[plans] val TP = "__graft_t__"
    private[plans] val SP = "__graft_s__"
  }
}
