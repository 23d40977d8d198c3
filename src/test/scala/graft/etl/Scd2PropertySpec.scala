package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based SCD2 invariants (SURVEY §5): for ANY sequence of
  * batches over a small key space, after every merge —
  *   1. exactly one current row per natural key ever seen;
  *   2. surrogate keys are unique and dense (1..N);
  *   3. current rows never carry an expiry date, expired rows always do;
  *   4. the current row reflects the latest batch's attributes;
  *   5. replaying the final batch is a no-op.
  * A third property compares every merge, surrogate keys included, with
  * a driver-side reference model of the same semantics.
  */
class Scd2PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  private val cfg = Scd2Config(Seq("id"), Seq("attr"), "key")
  private val dates = Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01")
    .map(java.sql.Date.valueOf)

  private val genBatch: Gen[List[(String, String)]] =
    Gen.listOfN(6, for {
      id <- Gen.oneOf("a", "b", "c", "d")
      attr <- Gen.oneOf("x", "y", "z")
    } yield (id, attr)).map(_.distinctBy(_._1))

  private def toDf(b: List[(String, String)]): DataFrame =
    b.toDF("id", "attr")

  test("SCD2 invariants hold for arbitrary batch sequences") {
    check(Prop.forAll(Gen.listOfN(3, genBatch).suchThat(_.forall(_.nonEmpty))) { batches =>
      val dim = batches.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
        case (acc, (b, i)) =>
          val df = toDf(b)
          Some(acc match {
            case None      => Scd2.initialLoad(df, cfg, dates(i))
            case Some(cur) => Scd2.merge(cur, df, cfg, dates(i))
          })
      }.get.collect()

      // columns: 0 key, 1 id, 2 attr, 3 effective, 4 expiry, 5 is_current,
      // 6 version
      val currents = dim.filter(_.getInt(5) == 1)
      val expired = dim.filter(_.getInt(5) == 0)
      val seenKeys = batches.flatten.map(_._1).toSet
      val latest: Map[String, String] = batches.flatten
        .foldLeft(Map.empty[String, String]) { case (m, (id, a)) => m + (id -> a) }

      val oneCurrentPerKey = currents.groupBy(_.getString(1)).forall(_._2.length == 1)
      val allSeenCurrent = currents.map(_.getString(1)).toSet == seenKeys
      val keys = dim.map(_.getLong(0)).sorted.toSeq
      val denseUnique = keys == (1L to dim.length).toSeq
      val currentNoExpiry = currents.forall(_.isNullAt(4))
      val expiredHasExpiry = expired.forall(!_.isNullAt(4))
      val latestAttrWins = currents.forall(r => latest(r.getString(1)) == r.getString(2))
      // 6. versions are dense 1..n per key, monotone in effective date,
      //    and the current row carries the max version.
      val versionsDense = dim.groupBy(_.getString(1)).forall { case (_, rows) =>
        val byEff = rows.sortBy(_.getDate(3).toString).map(_.getInt(6)).toSeq
        byEff == (1 to rows.length) &&
          rows.filter(_.getInt(5) == 1).forall(_.getInt(6) == rows.length)
      }

      oneCurrentPerKey && allSeenCurrent && denseUnique &&
        currentNoExpiry && expiredHasExpiry && latestAttrWins && versionsDense
    }, minSuccessful = 15)
  }

  test("replaying the last batch is always a no-op") {
    check(Prop.forAll(genBatch.suchThat(_.nonEmpty)) { b =>
      val df = toDf(b)
      val d1 = Scd2.initialLoad(df, cfg, dates(0))
      val d2 = Scd2.merge(d1, df, cfg, dates(1))
      val d3 = Scd2.merge(d2, df, cfg, dates(2))
      d2.collect().sortBy(_.getLong(0)).toSeq ==
        d3.collect().sortBy(_.getLong(0)).toSeq
    }, minSuccessful = 10)
  }

  /** One dimension row of the reference model: `attrs` is the natural
    * key followed by the tracked columns, dates are ISO strings.
    */
  private final case class V(key: Long, attrs: List[Option[String]], eff: String,
      exp: Option[String], cur: Int, ver: Int)

  private implicit val attrOrder: Ordering[List[Option[String]]] =
    Ordering.Implicits.seqOrdering[List, Option[String]]

  /** The SCD2 semantics `Scd2.merge` implements, row by row on the driver:
    * in-batch duplicates collapse to the smallest tracked tuple (the key
    * itself for key-only dims, nulls first); a changed tracked tuple
    * (null-safe) expires the current row and opens version + 1, unless
    * the current row took effect on `asOf`, which is corrected in place;
    * fresh rows take keys max + 1.. in natural-key order (nulls first).
    */
  private def model(dim: Seq[V], batch: Seq[List[Option[String]]],
      nKey: Int, keyOnly: Boolean, asOf: String): Seq[V] = {
    val inc = batch.groupBy(_.take(nKey)).map { case (k, rows) =>
      k -> rows.minBy(a => if (keyOnly) a.take(nKey) else a.drop(nKey))
    }
    val cur = dim.filter(_.cur == 1).map(v => v.attrs.take(nKey) -> v).toMap
    val maxKey = (0L +: dim.map(_.key)).max
    val settled = Seq.newBuilder[V]
    val fresh = Seq.newBuilder[(List[Option[String]], Int)]
    for (k <- inc.keySet ++ cur.keySet) (inc.get(k), cur.get(k)) match {
      case (None, Some(c)) => settled += c
      case (Some(i), Some(c)) if i.drop(nKey) == c.attrs.drop(nKey) => settled += c
      case (Some(i), Some(c)) if c.eff == asOf => settled += c.copy(attrs = i)
      case (Some(i), Some(c)) =>
        settled += c.copy(exp = Some(asOf), cur = 0)
        fresh += (i -> (c.ver + 1))
      case (Some(i), None) => fresh += (i -> 1)
      case (None, None) =>
    }
    val keyed = fresh.result().sortBy(_._1.take(nKey)).zipWithIndex.map {
      case ((a, ver), ix) => V(maxKey + ix + 1, a, asOf, None, 1, ver)
    }
    dim.filter(_.cur == 0) ++ settled.result() ++ keyed
  }

  private val genVal: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> Gen.oneOf("x", "y").map(Some(_)))
  private val genKey: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 8 -> Gen.oneOf("a", "b", "c", "d").map(Some(_)))
  // (id, name, seg) rows: duplicate keys and exact duplicates both occur
  private val genRows: Gen[List[(Option[String], Option[String], Option[String])]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(genKey, genVal, genVal)))
  // 1..4 batches, each dated the same day as the one before or a day later
  private val genRun = for {
    n <- Gen.choose(1, 4)
    batches <- Gen.listOfN(n, genRows)
    steps <- Gen.listOfN(n, Gen.oneOf(0, 1))
    keyOnly <- Gen.oneOf(false, true)
  } yield (batches, steps.scanLeft(0)(_ + _).tail, keyOnly)

  test("merge and initialLoad match a reference model exactly, surrogate keys included") {
    check(Prop.forAll(genRun) { case (batches, days, keyOnly) =>
      val c = Scd2Config(Seq("id"), if (keyOnly) Nil else Seq("name", "seg"), "key")
      val nAttr = c.attrCols.size
      val steps = batches.zip(days.map(d =>
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong))))
      steps.foldLeft((Option.empty[DataFrame], Seq.empty[V], true)) {
        case ((prev, expected, ok), (rows, asOf)) =>
          val df = rows.toDF("id", "name", "seg")
          val merged = prev.fold(Scd2.initialLoad(df, c, asOf))(Scd2.merge(_, df, c, asOf))
            .localCheckpoint(true)
          val got = merged.collect().map(r => V(r.getLong(0),
            (1 to nAttr).map(ix => Option(r.getString(ix))).toList,
            r.getDate(nAttr + 1).toString, Option(r.getDate(nAttr + 2)).map(_.toString),
            r.getInt(nAttr + 3), r.getInt(nAttr + 4))).toSeq
          val batch = rows.map { case (id, name, seg) => List(id, name, seg).take(nAttr) }
          val want = model(expected, batch, 1, keyOnly, asOf.toString)
          val same = got.sortBy(_.toString) == want.sortBy(_.toString)
          (Some(merged), want, ok && same)
      }._3
    }, minSuccessful = 25)
  }
}
