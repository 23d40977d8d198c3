package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property test for the manifest-pruning soundness surface — the one
  * place a bug LOSES ROWS SILENTLY instead of failing loudly: for
  * arbitrary predicate trees (comparisons, IN, string equality/prefix,
  * AND/OR/NOT nesting, in-range and out-of-range literals), the indexed
  * read ([[Snapshots.readIndexed]] / [[Snapshots.read]])
  * must return exactly the unpruned read's rows. The evolved table
  * drives every era dimension at once — rename, int→long widen WITH a
  * bloom (the width-sensitive probe), and an add-column default — so
  * `probeOf`/`cmpMay`'s cast/coalesce handling is exercised under the
  * same random predicates.
  */
class SnapshotFileIndexPropertySpec extends SparkSpec {

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- fixtures (built once per suite) ----------------------------------

  /** Plain table: k long range-clustered (envelopes), v long hash-
    * scattered (bloomed), s string (UTF-8 envelopes).
    */
  private lazy val plainTbl: String = {
    import spark.implicits._
    val tbl = freshTable("sfiprop_plain")
    val df = (0L until 64L).map(i => (i, (i % 7) * 100, f"s${i % 16}%02d"))
      .toDF("k", "v", "s")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k", "v"),
      bloomCols = Seq("v"), strStatsCols = Seq("s"))
    tbl
  }
  private lazy val plainIndexed = Snapshots.readIndexed(spark, plainTbl)._1
  private lazy val plainFull = IndexedCount.listed(spark, plainTbl)

  /** Evolved table: era 1 (k, q:int bloomed, s), then k→key rename,
    * q int→long widen, tag default; era 2 native.
    */
  private lazy val evolvedTbl: String = {
    import spark.implicits._
    val tbl = freshTable("sfiprop_ev")
    val df = (0L until 16L).map(i => (i, (i * 10).toInt, f"s${i}%02d"))
      .toDF("k", "q", "s")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k", "q"),
      bloomCols = Seq("q"), strStatsCols = Seq("s"))
    Snapshots.renameColumn(spark, tbl, "k", "key")
    Snapshots.widenColumn(spark, tbl, "q",
      org.apache.spark.sql.types.LongType)
    Snapshots.addColumn(spark, tbl, "tag",
      org.apache.spark.sql.types.StringType, default = Some("legacy"))
    val df2 = (16L until 32L).map(i => (i, i * 10, f"s${i}%02d", "fresh"))
      .toDF("key", "q", "s", "tag")
      .repartitionByRange(4, col("key")).sortWithinPartitions(col("key"))
    Snapshots.commit(df2, tbl, statsCols = Seq("key", "q"),
      bloomCols = Seq("q"), strStatsCols = Seq("s", "tag"))
    tbl
  }
  private lazy val evolvedIndexed =
    Snapshots.read(spark, evolvedTbl)
  private lazy val evolvedFull = IndexedCount.unpruned(spark, evolvedTbl)

  // ---- predicate generators ----------------------------------------------

  /** In-range, boundary, and out-of-range literals — out-of-range is
    * where an unsound prune hides (everything must skip, nothing lost).
    */
  private def longLit(lo: Long, hi: Long): Gen[Long] = Gen.frequency(
    5 -> Gen.choose(lo, hi),
    2 -> Gen.oneOf(lo, hi, lo - 1, hi + 1),
    1 -> Gen.oneOf(-1000L, 100000L))

  private def cmpLeaf(c: String, lit: Gen[Long]): Gen[Column] = for {
    v <- lit
    f <- Gen.oneOf[Long => Column](
      (x: Long) => col(c) === x, (x: Long) => col(c) > x,
      (x: Long) => col(c) >= x, (x: Long) => col(c) < x,
      (x: Long) => col(c) <= x, (x: Long) => col(c) =!= x)
  } yield f(v)

  private def inLeaf(c: String, lit: Gen[Long]): Gen[Column] = for {
    n <- Gen.choose(1, 4)
    vs <- Gen.listOfN(n, lit)
  } yield col(c).isin(vs: _*)

  private def strLeaf(c: String, values: Seq[String]): Gen[Column] =
    Gen.oneOf(
      Gen.oneOf(values :+ "zzz").map(col(c) === _),
      Gen.oneOf("s0", "s1", "s", "z", "s07").map(col(c).startsWith(_)))

  private def tree(leaf: Gen[Column], depth: Int): Gen[Column] =
    if (depth <= 0) leaf
    else Gen.frequency(
      4 -> leaf,
      2 -> Gen.lzy(for {
        a <- tree(leaf, depth - 1); b <- tree(leaf, depth - 1)
      } yield a && b),
      2 -> Gen.lzy(for {
        a <- tree(leaf, depth - 1); b <- tree(leaf, depth - 1)
      } yield a || b),
      1 -> Gen.lzy(tree(leaf, depth - 1).map(!_)))

  private def agree(indexed: org.apache.spark.sql.DataFrame,
      full: org.apache.spark.sql.DataFrame, p: Column): Prop = {
    val got = indexed.filter(p).collect().map(_.toString).sorted.toSeq
    val want = full.filter(p).collect().map(_.toString).sorted.toSeq
    Prop(got == want) :| s"pred $p: indexed ${got.size} rows, " +
      s"unpruned ${want.size}"
  }

  test("plain indexed read ≡ unpruned read under random predicate trees " +
      "(envelopes, blooms, string envelopes, AND/OR/NOT, out-of-range)") {
    val leaf = Gen.oneOf(
      cmpLeaf("k", longLit(0, 63)),
      cmpLeaf("v", longLit(0, 600)),
      inLeaf("k", longLit(0, 63)),
      inLeaf("v", longLit(0, 600)),
      strLeaf("s", (0 until 16).map(i => f"s$i%02d")))
    check(Prop.forAll(tree(leaf, 2)) { p =>
      agree(plainIndexed, plainFull, p)
    }, minSuccessful = 40)
  }

  test("EVOLVED indexed read ≡ unpruned read under random predicate " +
      "trees across rename + widen(bloom) + default eras") {
    val leaf = Gen.oneOf(
      cmpLeaf("key", longLit(0, 31)),
      cmpLeaf("q", longLit(0, 310)),
      inLeaf("q", longLit(0, 310)),
      strLeaf("s", (0 until 32).map(i => f"s$i%02d")),
      Gen.oneOf("legacy", "fresh", "zzz").map(col("tag") === _))
    check(Prop.forAll(tree(leaf, 2)) { p =>
      agree(evolvedIndexed, evolvedFull, p)
    }, minSuccessful = 40)
  }
}
