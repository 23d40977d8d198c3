package graft.plans

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Model-based property test for the SQL MERGE cascade
  * ([[SqlDml.GraftMergeCommand]], the one command every MERGE builds):
  * random target/source tables and a random clause cascade — `WHEN
  * MATCHED [AND c] UPDATE/DELETE`, `WHEN NOT MATCHED [AND c] INSERT`,
  * `WHEN NOT MATCHED BY SOURCE [AND c] UPDATE/DELETE`, each section 0–2
  * clauses, the whole-row `UPDATE SET *` / explicit full-row `SET k =
  * s.k, ...` / `INSERT *` among the actions — must land exactly the
  * rows an in-memory first-true-wins model computes.
  * This pins the semantics example tests cannot enumerate: clause-order
  * precedence under overlapping conditions, rows no clause touches,
  * empty sections, empty source, and partial-SET column carry (the
  * third column `tag` is set by exactly one action — every other
  * update must CARRY the target's value, inserts take the source's).
  */
class MergePropertySpec extends SparkSpec {

  private lazy val dml: SparkSession = SqlDml.enable(spark)
  private var caseNo = 0

  // ---- clause pool: SQL text + the model twin ---------------------------

  /** cond(tv, sv, k): evaluated where tv/sv are the matched sides'
    * values; None = unconditional.
    */
  private case class MCond(sql: String, f: (Long, Long) => Boolean)
  private case class MAct(sql: String, f: Option[(Long, Long) => Long],
      tagFromSource: Boolean = false) // f None = DELETE
  private case class NCond(sql: String, f: (Long, Long) => Boolean) // (sv, k)
  private case class NIns(sql: String, f: (Long, Long) => Long) // (sv, k) => v
  private case class BCond(sql: String, f: (Long, Long) => Boolean) // (tv, k)
  private case class BAct(sql: String, f: Option[(Long, Long) => Long]) // (tv, k)

  private val lits = Seq(-1L, 0L, 25L, 75L, 1000L)
  private def lit: Gen[Long] = Gen.oneOf(lits)

  private val mCond: Gen[Option[MCond]] = Gen.option(Gen.oneOf(
    lit.map(l => MCond(s"t.v >= $l", (tv, _) => tv >= l)),
    lit.map(l => MCond(s"s.v > $l", (_, sv) => sv > l)),
    Gen.const(MCond("s.v > t.v", (tv, sv) => sv > tv))))
  /** Action value: new v plus whether tag comes from the source (the
    * multi-assignment case) — everything else must CARRY the target tag
    * (the partial-SET contract).
    */
  private val mAct: Gen[MAct] = Gen.oneOf(
    Gen.const(MAct("DELETE", None)),
    Gen.const(MAct("UPDATE SET v = s.v + t.v", Some((tv, sv) => sv + tv))),
    lit.map(l => MAct(s"UPDATE SET v = $l", Some((_, _) => l))),
    Gen.const(MAct("UPDATE SET v = s.v", Some((_, sv) => sv))),
    Gen.const(MAct("UPDATE SET v = s.v, tag = s.tag",
      Some((_, sv) => sv), tagFromSource = true)),
    Gen.const(MAct("UPDATE SET *", Some((_, sv) => sv),
      tagFromSource = true)),
    Gen.const(MAct("UPDATE SET k = s.k, v = s.v, tag = s.tag",
      Some((_, sv) => sv), tagFromSource = true)))

  private val nCond: Gen[Option[NCond]] = Gen.option(Gen.oneOf(
    lit.map(l => NCond(s"s.v > $l", (sv, _) => sv > l)),
    Gen.choose(0L, 15L).map(l => NCond(s"s.k < $l", (_, k) => k < l))))
  private val nIns: Gen[NIns] = Gen.oneOf(
    Gen.const(NIns("INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)",
      (sv, _) => sv)),
    lit.map(l => NIns(s"INSERT (k, v, tag) VALUES (s.k, $l, s.tag)",
      (_, _) => l)),
    Gen.const(NIns("INSERT *", (sv, _) => sv)))

  private val bCond: Gen[Option[BCond]] = Gen.option(Gen.oneOf(
    lit.map(l => BCond(s"t.v >= $l", (tv, _) => tv >= l)),
    Gen.choose(0L, 15L).map(l => BCond(s"t.k < $l", (_, k) => k < l))))
  private val bAct: Gen[BAct] = Gen.oneOf(
    Gen.const(BAct("DELETE", None)),
    Gen.const(BAct("UPDATE SET v = -1", Some((_, _) => -1L))),
    lit.map(l => BAct(s"UPDATE SET v = t.v + $l", Some((tv, _) => tv + l))))

  private case class Case(
      target: Map[Long, Long], source: Map[Long, Long],
      matched: List[(Option[MCond], MAct)],
      notMatched: List[(Option[NCond], NIns)],
      bySource: List[(Option[BCond], BAct)])

  private def rowsGen: Gen[Map[Long, Long]] = for {
    keys <- Gen.someOf(0L until 15L)
    vs <- Gen.listOfN(keys.size, Gen.choose(0L, 100L))
  } yield keys.zip(vs).toMap

  /** Spark's MERGE grammar: within a section only the LAST clause may
    * omit its condition — so two-clause sections force a condition on
    * the first.
    */
  private def section[C, A](cond: Gen[Option[C]], act: Gen[A])
      : Gen[List[(Option[C], A)]] =
    Gen.choose(0, 2).flatMap {
      case 0 => Gen.const(Nil)
      case 1 => Gen.zip(cond, act).map(List(_))
      case _ => for {
        c1 <- cond.suchThat(_.isDefined); a1 <- act
        c2 <- cond; a2 <- act
      } yield List((c1, a1), (c2, a2))
    }

  private val caseGen: Gen[Case] = (for {
    t <- rowsGen
    s <- rowsGen
    m <- section(mCond, mAct)
    nm <- section(nCond, nIns)
    bs <- section(bCond, bAct)
  } yield Case(t, s, m, nm, bs))
    .suchThat(c => c.matched.nonEmpty || c.notMatched.nonEmpty ||
      c.bySource.nonEmpty)

  /** The in-memory reference: first-true-wins per section, untouched
    * rows carried.
    */
  private def model(c: Case): Map[Long, (Long, String)] = {
    val out = scala.collection.mutable.Map.empty[Long, (Long, String)]
    c.target.foreach { case (k, tv) =>
      c.source.get(k) match {
        case Some(sv) =>
          c.matched.find(_._1.forall(_.f(tv, sv))) match {
            case Some((_, act)) =>
              act.f.foreach(f => out(k) = (f(tv, sv),
                if (act.tagFromSource) s"s$k" else s"t$k")) // None = delete
            case None => out(k) = (tv, s"t$k")
          }
        case None =>
          c.bySource.find(_._1.forall(_.f(tv, k))) match {
            case Some((_, act)) =>
              act.f.foreach(f => out(k) = (f(tv, k), s"t$k"))
            case None => out(k) = (tv, s"t$k")
          }
      }
    }
    c.source.foreach { case (k, sv) =>
      if (!c.target.contains(k))
        c.notMatched.find(_._1.forall(_.f(sv, k)))
          .foreach { case (_, ins) => out(k) = (ins.f(sv, k), s"s$k") }
    }
    out.toMap
  }

  private def runSql(c: Case): Map[Long, (Long, String)] = {
    import spark.implicits._
    caseNo += 1
    val tbl = freshTable(s"pmrg_$caseNo")
    val tdf =
      if (c.target.isEmpty)
        Seq((0L, 0L, "")).toDF("k", "v", "tag").limit(0)
      else c.target.toSeq.map { case (k, v) => (k, v, s"t$k") }
        .toDF("k", "v", "tag")
    Snapshots.commit(tdf, tbl, statsCols = Seq("k"))
    val name = s"pmrg_t_$caseNo"
    dml.sql(s"DROP TABLE IF EXISTS $name")
    dml.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$tbl')")
    val srcRows =
      if (c.source.isEmpty) "SELECT CAST(NULL AS LONG) k, " +
        "CAST(NULL AS LONG) v, CAST(NULL AS STRING) tag WHERE 1 = 0"
      else c.source.toSeq.sorted
        .map { case (k, v) => s"($k, $v, 's$k')" }
        .mkString("SELECT * FROM VALUES ", ", ", " AS x(k, v, tag)")
    dml.sql(s"CREATE OR REPLACE TEMPORARY VIEW pmrg_s_$caseNo AS $srcRows")
    val clauses =
      c.matched.map { case (cond, act) =>
        s"WHEN MATCHED${cond.map(" AND " + _.sql).getOrElse("")} " +
          s"THEN ${act.sql}"
      } ++ c.notMatched.map { case (cond, ins) =>
        s"WHEN NOT MATCHED${cond.map(" AND " + _.sql).getOrElse("")} " +
          s"THEN ${ins.sql}"
      } ++ c.bySource.map { case (cond, act) =>
        s"WHEN NOT MATCHED BY SOURCE" +
          s"${cond.map(" AND " + _.sql).getOrElse("")} THEN ${act.sql}"
      }
    dml.sql(s"MERGE INTO $name t USING pmrg_s_$caseNo s ON t.k = s.k " +
      clauses.mkString(" "))
    Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
  }

  test("MERGE key widening is one-directional: an int SOURCE against a " +
      "bigint target is accepted; a bigint source against an int TARGET " +
      "refuses (out-of-range keys would wrap under the insert cast)") {
    import spark.implicits._
    val tbl = freshTable("pmrg_narrow")
    Snapshots.commit(Seq((1, 10L)).toDF("k", "v"), tbl) // k is INT
    dml.sql("DROP TABLE IF EXISTS pmrg_narrow")
    dml.sql(s"CREATE TABLE pmrg_narrow USING graft OPTIONS (path '$tbl')")
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW pmrg_wide_src AS " +
      "SELECT CAST(5000000000 AS BIGINT) AS k, CAST(1 AS BIGINT) AS v")
    val e = intercept[Exception] {
      dml.sql("MERGE INTO pmrg_narrow t USING pmrg_wide_src s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    }
    assert(e.getMessage.contains("WRAP"), e.getMessage)
  }

  test("accepted direction end-to-end: an int-keyed source MERGEd into a " +
      "bigint-keyed target updates matches and inserts misses correctly " +
      "(stripWiden + lossless insert-cast path)") {
    import spark.implicits._
    val tbl = freshTable("pmrg_widen_ok")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), tbl) // BIGINT k
    dml.sql("DROP TABLE IF EXISTS pmrg_widen_ok")
    dml.sql(s"CREATE TABLE pmrg_widen_ok USING graft OPTIONS (path '$tbl')")
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW pmrg_narrow_src AS " +
      "SELECT * FROM VALUES (CAST(2 AS INT), CAST(99 AS BIGINT)), " +
      "(CAST(3 AS INT), CAST(30 AS BIGINT)) AS x(k, v)")
    dml.sql("MERGE INTO pmrg_widen_ok t USING pmrg_narrow_src s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val got = Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 10L, 2L -> 99L, 3L -> 30L), got.toString)
  }

  test("conditional MERGE ≡ first-true-wins reference model on random " +
      "tables and clause cascades") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12),
      Prop.forAllNoShrink(caseGen) { c =>
        val got = runSql(c)
        val want = model(c)
        Prop(got == want) :|
          s"target=${c.target} source=${c.source} " +
          s"matched=${c.matched.map(x => (x._1.map(_.sql), x._2.sql))} " +
          s"notMatched=${c.notMatched.map(x => (x._1.map(_.sql), x._2.sql))} " +
          s"bySource=${c.bySource.map(x => (x._1.map(_.sql), x._2.sql))} " +
          s"got=$got want=$want"
      })
    assert(res.passed, res.status.toString)
  }
}
