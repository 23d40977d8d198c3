package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different text with no overlap at all"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactByHash groups exact copies, keeps smallest id") {
    val got = Dedup.exactByHash(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(got.length === 3)
    val dup = got.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) === 1L) // keep_id of the duplicated text
  }

  test("exactSurvivors keeps one full row per distinct text") {
    val got = Dedup.exactSurvivors(docs, "text", "doc_id")
    assert(got.count() === 3)
    assert(got.filter(col("doc_id") === 4).count() === 0)
  }

  test("jaccardPairs finds the near-dup pair with correct similarity") {
    val got = Dedup.jaccardPairs(docs.filter(col("doc_id") =!= 4), "text", "doc_id", 3, 0.5)
      .collect()
    assert(got.length === 1)
    assert((got(0).getLong(0), got(0).getLong(1)) === (1L, 2L))
    // 9 tokens -> 7 shingles each; 6 shared -> 6/8 = 0.75
    assert(got(0).getDouble(3) === 0.75)
  }

  test("incrementalExactSurvivors drops in-batch dups and corpus-seen texts") {
    val existing = Seq((10L, "already ingested words")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "already ingested words"),  // seen in corpus -> dropped
      (21L, "fresh new content here"),
      (22L, "fresh new content here"),  // in-batch dup of 21 -> dropped
      (23L, "another novel document"),
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExactSurvivors(batch, existing, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(21L, 23L))
  }

  test("simhashNearDupPairs equals brute-force hamming filter (pigeonhole completeness)") {
    import org.apache.spark.sql.functions.{bit_count, col}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with no overlap at all"),
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "alpha beta gamma delta epsilon"),
    ).toDF("doc_id", "text")
    val sk = corpus.select(col("doc_id").as("doc"),
      Dedup.simhash16(col("text")).as("sk"))
    val brute = sk.as("a").crossJoin(sk.as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc"), col("b.doc"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = Dedup.simhashNearDupPairs(corpus, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute)
    assert(got.exists { case (a, b, h) => a == 1L && b == 4L && h == 0 }) // exact dup
  }

  test("minhash LSH surfaces near-dup candidates without false negatives on exact dups") {
    val got = Dedup.minhashLshCandidates(docs, "text", "doc_id").collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides on every band
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup caught
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) }) // disjoint doc never pairs
  }

  // Three identical docs land in the same bucket of EVERY band — the
  // hot-bucket shape (a big near-dup cluster is hot in all bands at once).
  private val hotDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta"),
    (4L, "totally unrelated words about something else entirely here"),
  ).toDF("doc_id", "text")

  test("oversized buckets degrade to star pairing around the min doc, keeping the cluster connected") {
    val got = Dedup.minhashLshCandidates(hotDocs, "text", "doc_id", maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // k=3 > cap=2: each doc pairs with the representative (doc 1) only.
    assert(got.map(t => (t._1, t._2)) === Set((1L, 2L), (1L, 3L)))
    // Identical docs share all 8 band buckets even on the star path.
    assert(got.forall(_._3 === 8L))
  }

  test("buckets at or under maxBucketSize emit all pairs") {
    val got = Dedup.minhashLshCandidates(hotDocs, "text", "doc_id", maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("md5 variant applies the same hot-bucket star cap and bands require") {
    val star = Dedup.minhashLshCandidatesMd5(hotDocs, "text", "doc_id", maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(star.map(t => (t._1, t._2)) === Set((1L, 2L), (1L, 3L)))
    assert(star.forall(_._3 === 8L))
    val full = Dedup.minhashLshCandidatesMd5(hotDocs, "text", "doc_id", maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    intercept[IllegalArgumentException] {
      Dedup.minhashLshCandidatesMd5(hotDocs, "text", "doc_id", bands = 3)
    }
  }

  test("exactSurvivors keeps null-id rows intact (nulls-first ordering, no corrupt rows)") {
    val withNulls = Seq(
      (Some(5L), "same text"), (None, "same text"),
      (None, "only null ids here"), (None, "only null ids here"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSurvivors(withNulls, "text", "doc_id").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    // null id sorts first (matches the asc_nulls_first window this
    // replaced), and the all-null group yields a REAL row, not all-NULLs
    assert(got === Set((None, "same text"), (None, "only null ids here")))
  }

  test("bands must divide numHashes") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.minhashLshCandidates(docs, "text", "doc_id", numHashes = 16, bands = 3)
    }
    assert(ex.getMessage.contains("must divide"))
    intercept[IllegalArgumentException] {
      Dedup.lshBucketStats(docs, "text", "doc_id", numHashes = 16, bands = 3)
    }
  }

  test("lshBucketStats surfaces the hot bucket's pair mass, largest first") {
    val stats = Dedup.lshBucketStats(hotDocs, "text", "doc_id").collect()
    // 8 bands × one bucket of the 3 identical docs lead the ranking.
    assert(stats.take(8).forall(_.getLong(1) === 3L))
    assert(stats.drop(8).forall(_.getLong(1) === 1L))
  }

  test("jaccardOnCandidates scores supplied pairs and keeps zero-overlap pairs") {
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardOnCandidates(cands, docs, "text", "doc_id", 3)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard")))
      .toMap
    assert(got((1L, 2L)) === 0.75) // 6 shared of 8 distinct shingles
    assert(got((1L, 3L)) === 0.0)  // disjoint pair surfaces with 0, not dropped
  }

  test("jaccardOnShingleSets equals the row-form confirm, keeps " +
      "zero-overlap and shingle-less pairs at 0") {
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 9L)).toDF("id_a", "id_b")
    // precomputed dup-keeping hash rows, as the fused pipeline feeds them
    val sh = Dedup.shingleHashRows(docs, "text", "doc_id", 3)
    val got = Dedup.jaccardOnShingleSets(cands, sh)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard")))
      .toMap
    val wrapper = Dedup.jaccardOnCandidates(cands, docs, "text", "doc_id", 3)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard")))
      .toMap
    assert(got((1L, 2L)) === 0.75)
    assert(got((1L, 3L)) === 0.0)  // disjoint pair surfaces with 0
    assert(got((1L, 9L)) === 0.0)  // doc with no shingle rows at all
    // independent reference: set Jaccard over the same word 3-grams on
    // the driver (no hash collision among this handful of shingles)
    val sets = docs.as[(Long, String)].collect().toMap.map { case (id, t) =>
      id -> shingles(t) }
    val brute = Seq((1L, 2L), (1L, 3L), (1L, 9L)).map { case (a, b) =>
      (a, b) -> setJaccard(sets.getOrElse(a, Set.empty), sets.getOrElse(b, Set.empty))
    }.toMap
    assert(got === brute)
    assert(wrapper === brute)
    // duplicate shingle rows cannot inflate a set intersection
    val withDups = Dedup.jaccardOnShingleSets(cands, sh.unionAll(sh))
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard")))
      .toMap
    assert(withDups === got)
  }

  /** Distinct word n-grams of `t`, the driver-side twin of
    * `TextFunctions.wordShingles` + `array_distinct`.
    */
  private def shingles(t: String, n: Int = 3): Set[String] =
    t.trim.split("\\s+").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  /** Set Jaccard; a zero union scores 0.0. */
  private def setJaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a intersect b).size
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  test("jaccardOnCandidatesStrings matches driver-side set counts on a " +
      "seeded corpus: bigint inter/sz_a/sz_b, duplicate pairs, shingle-less docs") {
    val rnd = new scala.util.Random(20261019L)
    // three words = 27 possible 3-grams, so random docs overlap often
    val vocab = Array("ant", "bee", "cat")
    // 0-8 tokens per doc: the short ones have no 3-gram at all
    val corpus = (1L to 40L).map(id =>
      id -> Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    // candidate ids run past the corpus (41, 42 have no row) and every
    // pair is listed twice
    val pairs = Seq.fill(60) {
      val a = 1L + rnd.nextInt(42); val b = 1L + rnd.nextInt(42)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val cands = (pairs ++ pairs).toDF("id_a", "id_b")
    val got = Dedup.jaccardOnCandidatesStrings(cands, corpus.toDF("doc_id", "text"),
      "text", "doc_id", 3)
    for (c <- Seq("inter", "sz_a", "sz_b"))
      assert(got.schema(c).dataType === org.apache.spark.sql.types.LongType, c)
    val rows = got.select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    val sets = corpus.toMap.map { case (id, t) => id -> shingles(t) }
    val brute = pairs.distinct.map { case (a, b) =>
      val sa = sets.getOrElse(a, Set.empty); val sb = sets.getOrElse(b, Set.empty)
      (a, b, (sa intersect sb).size.toLong, sa.size.toLong, sb.size.toLong,
        setJaccard(sa, sb))
    }
    assert(rows.length === brute.length, "one row per distinct pair")
    assert(rows.toSet === brute.toSet)
    assert(brute.exists(r => r._4 == 0L || r._5 == 0L), "a shingle-less side must occur")
    assert(brute.exists(r => r._3 > 0L), "an overlapping pair must occur")
  }

  test("building the text-input confirms and containmentPairs starts no job") {
    val cands = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val (_, jobs) = jobTags {
      Dedup.jaccardOnCandidates(cands, docs, "text", "doc_id", 3)
      Dedup.jaccardOnCandidatesStrings(cands, docs, "text", "doc_id", 3)
      Dedup.containmentPairs(docs, "text", "doc_id")
    }
    assert(jobs.isEmpty, s"construction started ${jobs.size} job(s)")
  }

  test("simhash16: identical texts agree, disjoint texts differ") {
    val sh = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(4L))
    assert(sh(1L) !== sh(3L))
    assert(sh.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("containmentPairs: prefix ⊆ full, partial overlap excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),  // container
      (2L, "alpha beta gamma delta"),               // prefix of 1 → ⊆ 1
      (3L, "gamma delta epsilon"),                  // infix of 1 → ⊆ 1
      (4L, "alpha beta gamma nu xi omicron pi"),    // overlaps 1, not ⊆
      (5L, "totally different words here entirely"),
      (6L, "ab cd")                                  // < n tokens: no shingles
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((2L, 1L), (3L, 1L)))
  }

  test("containmentPairs: mutual for identical shingle sets") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four"),
      (2L, "one two three four"),
      (3L, "five six seven eight")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (2L, 1L)))
  }

  test("containmentPairs equals brute-force subset test (completeness)") {
    import spark.implicits._
    // pseudo-random corpus with planted containments: every doc whose id
    // is divisible by 4 also appears truncated under id+100
    val words = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9".split(" ")
    def text(i: Long): String =
      (0 until 8).map(k => words(((i * 31 + k * 17) % 10).toInt))
        .mkString(" ")
    val base = (0L until 24L).map(i => (i, text(i)))
    val planted = base.collect { case (i, t) if i % 4 == 0 =>
      (i + 100L, t.split(" ").take(5).mkString(" ")) }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force on the driver with the same 3-gram shingle definition
    val sets = (base ++ planted).map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      id -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val brute = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b && sa.nonEmpty && sa.subsetOf(sb)
    } yield (a, b)).toSet
    assert(got === brute)
    assert(brute.nonEmpty, "planted containments must exist")
  }
}
