package graft.sources

import graft.SparkSpec
import graft.plans.DimFilePrune
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property test for the automatic dim-driven file cut
  * ([[graft.plans.DimFilePruneRule]]) — like
  * [[SnapshotFileIndexPropertySpec]] pins indexed reads, this pins the
  * join cut: for ARBITRARY dim key sets (hits, misses, out-of-domain
  * values, duplicates, empty — presented at the recorded width and at a
  * NARROWER one), a plain `fact.join(dim, k === dk)` over an enabled
  * indexed fact must return exactly the rows of the unpruned join. The
  * widened table reads through [[Snapshots.readIndexedEvolved]] and
  * drives the era-aware bloom probe (pre-widen files hashed the narrow
  * type) under the same random key sets — the class of silent row loss
  * the widen-aware probe closed. The empty-dim and over-limit edges are
  * pinned in DimFilePruneSpec.
  */
class DimFilePrunePropertySpec extends SparkSpec {

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- fixtures (built once per suite, each enabled for the rule) -------

  private def enabled(tbl: String): String = {
    DimFilePrune.enable(spark, tbl)
    tbl
  }

  /** k long, range-clustered (envelopes) AND bloomed — both integral
    * evidence tiers active at once.
    */
  private lazy val factTbl: String = {
    import spark.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft_dpsprop_fact").toString + "/t"
    val df = (0L until 64L).map(i => (i, i * 10))
      .toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    enabled(tbl)
  }

  /** Era 1 stores k as INT (bloom hashed at int width), then k widens to
    * long and era 2 commits long rows — a key in [0,31] probes pre-widen
    * blooms, a key in [32,63] post-widen ones.
    */
  private lazy val widenTbl: String = {
    import spark.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft_dpsprop_widen").toString + "/t"
    val df = (0 until 32).map(i => (i, i * 10L)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.widenColumn(spark, tbl, "k",
      org.apache.spark.sql.types.LongType)
    val df2 = (32L until 64L).map(i => (i, i * 10L)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df2, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    enabled(tbl)
  }

  /** s string with UTF-8 envelopes only — the string evidence tier. */
  private lazy val strTbl: String = {
    import spark.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft_dpsprop_str").toString + "/t"
    val df = (0 until 64).map(i => (f"s$i%03d", i.toLong)).toDF("s", "v")
      .repartitionByRange(8, col("s")).sortWithinPartitions(col("s"))
    Snapshots.commit(df, tbl, strStatsCols = Seq("s"))
    enabled(tbl)
  }

  // ---- generators --------------------------------------------------------

  /** Hits, boundary misses, far out-of-domain values (both signs),
    * duplicates; sized 0..12 — empty is a legal dim slice.
    */
  private val longKeys: Gen[List[Long]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(0L, 63L),
      2 -> Gen.choose(64L, 200L),
      1 -> Gen.choose(-50L, -1L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, 63L))))

  private val strKeys: Gen[List[String]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(0, 63).map(i => f"s$i%03d"),
      2 -> Gen.choose(64, 99).map(i => f"s$i%03d"),
      1 -> Gen.oneOf("", "zzz", "a", "s"))))

  // ---- the property -------------------------------------------------------

  // how many joins the rule actually cut — a property that never fired
  // would pin nothing
  private val cuts = new java.util.concurrent.atomic.AtomicInteger(0)

  private def rows(df: DataFrame): List[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toList

  /** Pruned join rows ≡ unpruned join rows. `fact` is the enabled
    * indexed read; the unpruned side joins the plain read, which the
    * rule never touches.
    */
  private def sameJoin(tbl: String, fact: DataFrame, key: String,
      dim: DataFrame, show: String): Prop = {
    DimFilePrune.lastCut = None
    val got = rows(fact.join(dim, col(key) === col("dk")))
    if (DimFilePrune.lastCut.nonEmpty) cuts.incrementAndGet()
    val want = rows(Snapshots.read(spark, tbl)
      .join(dim, col(key) === col("dk")))
    Prop(got == want) :| s"$show got=$got want=$want"
  }

  /** `narrow` presents the dim keys as INT (dropping unrepresentable
    * ones — a narrower dim column is exactly the width mismatch the
    * rule's recorded-type narrowing exists for).
    */
  private def soundOn(tbl: String, fact: DataFrame, keys: List[Long],
      narrow: Boolean): Prop = {
    import spark.implicits._
    val ks = if (narrow) keys.filter(k => k.isValidInt) else keys
    val dim =
      if (narrow) ks.map(_.toInt).toDF("dk")
      else ks.toDF("dk")
    sameJoin(tbl, fact, "k", dim, s"keys=$ks narrow=$narrow")
  }

  private def checkFired(): Unit = {
    assert(cuts.get > 0, "the rule never cut a join")
    cuts.set(0)
  }

  test("pruned join ≡ unpruned join for random dim key sets " +
      "(envelopes + blooms, long and int-presented keys)") {
    check(Prop.forAll(longKeys, Gen.oneOf(true, false)) { (keys, narrow) =>
      soundOn(factTbl, Snapshots.readIndexed(spark, factTbl)._1, keys,
        narrow)
    }, minSuccessful = 60)
    checkFired()
  }

  test("pruned join ≡ unpruned join across a k int→long WIDEN read " +
      "through readIndexedEvolved (pre-widen blooms hashed narrow; the " +
      "era-aware probe must not lose rows)") {
    check(Prop.forAll(longKeys, Gen.oneOf(true, false)) { (keys, narrow) =>
      soundOn(widenTbl, Snapshots.readIndexedEvolved(spark, widenTbl)._1,
        keys, narrow)
    }, minSuccessful = 60)
    checkFired()
  }

  test("pruned join ≡ unpruned join for random STRING key sets " +
      "(UTF-8 envelope tier)") {
    import spark.implicits._
    check(Prop.forAll(strKeys) { keys =>
      sameJoin(strTbl, Snapshots.readIndexed(spark, strTbl)._1, "s",
        keys.toDF("dk"), s"keys=$keys")
    }, minSuccessful = 60)
    checkFired()
  }
}
