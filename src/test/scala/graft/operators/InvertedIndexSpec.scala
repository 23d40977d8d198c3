package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[InvertedIndex]]: posting-list construction, conjunctive search
  * completeness (vs a brute array-contains scan), and the integer
  * ranking's determinism under repartitioning.
  */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val tiny = Seq(
    (1L, "spark shuffle join join"),
    (2L, "join vector"),
    (3L, "vector vector join spark"),
    (4L, "   "),
    (5L, "unrelated words only")).toDF("doc_id", "text")

  test("postings: one row per (token, doc), tf exact, blank docs dropped") {
    val p = InvertedIndex.postings(tiny).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(p.contains(("join", 1L, 2L)))
    assert(p.contains(("vector", 3L, 2L)))
    assert(!p.exists(_._2 == 4L)) // whitespace-only doc indexes nothing
    assert(p.count(_._1 == "join") === 3)
  }

  test("searchAll is AND-complete vs brute scan") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val post = InvertedIndex.postings(docs)
    val terms = Seq("vector", "hash")
    val got = InvertedIndex.searchAll(post, terms)
      .collect().map(_.getLong(0)).toSet
    val brute = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(terms.map(t => array_contains(col("toks"), t)).reduce(_ && _))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === brute && got.nonEmpty)
  }

  test("duplicate terms in the query don't change AND semantics") {
    val post = InvertedIndex.postings(tiny)
    val a = InvertedIndex.searchAll(post, Seq("join", "vector"))
      .collect().map(_.getLong(0)).toSet
    val b = InvertedIndex.searchAll(post, Seq("join", "vector", "join"))
      .collect().map(_.getLong(0)).toSet
    assert(a === b && a === Set(2L, 3L))
  }

  test("rankedSearch: hand-computed integer scores, saturation, rarity") {
    val post = InvertedIndex.postings(tiny)
    val totals = tiny.agg(count(lit(1)).cast("bigint").as("n_docs"))
    // terms {join}: N=5, df(join)=3 → rarity = (1e6*(5-3+1)) div 6 = 500000
    // doc1 tf=2 → satTf = 2000 div 4 = 500 → score 250000000
    // doc2 tf=1 → satTf = 1000 div 3 = 333 → score 166500000
    val r = InvertedIndex.rankedSearch(post, totals, Seq("join"), k = 2,
      topK = 10).collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.head === ((1L, 250000000L)))
    assert(r.toSeq.contains((2L, 166500000L)))
    // ties (doc2/doc3 same tf) break by doc_id ascending
    val tied = r.filter(_._2 == 166500000L).map(_._1).toSeq
    assert(tied === tied.sorted)
  }

  test("ranking is invariant under input partitioning") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val totals = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
    val terms = Seq("vector", "hash", "stream")
    val base = InvertedIndex.rankedSearch(
      InvertedIndex.postings(docs), totals, terms).collect().toSeq
    val re = InvertedIndex.rankedSearch(
      InvertedIndex.postings(docs.repartition(13, col("lang"))), totals,
      terms).collect().toSeq
    assert(base === re && base.nonEmpty)
  }

  test("stored index: IN-pruned scan skips files, append ≡ full rebuild") {
    import graft.sources.Snapshots
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val tbl = tempDir("invidx") + "/postings"
    // two append commits of disjoint doc halves = index maintenance
    Seq(0, 1).foreach { half =>
      val batch = InvertedIndex.postings(
        docs.filter(pmod(col("doc_id"), lit(2)) === half))
      Snapshots.commit(
        batch.repartitionByRange(8, col("token"))
          .sortWithinPartitions("token"),
        tbl, strStatsCols = Seq("token"), bloomCols = Seq("token"))
    }
    val terms = Seq("vector", "hash", "stream")
    val (postings, ix) = Snapshots.readIndexed(spark, tbl)
    val pruned = postings.filter(col("token").isin(terms: _*))
    val n = pruned.count()
    val (kept, total) = ix.lastPrune
    assert(kept < total, s"token-clustered files should skip: kept=$kept")
    // pruned scan ≡ unpruned scan
    val unpruned = graft.sources.IndexedCount.listed(spark, tbl)
      .filter(col("token").isin(terms: _*))
    assert(n === unpruned.count())
    // append-maintained index answers exactly the from-scratch search
    val totals = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
    val stored = InvertedIndex.rankedSearch(pruned, totals, terms)
      .collect().toSeq
    val scratch = InvertedIndex.rankedSearch(
      InvertedIndex.postings(docs), totals, terms).collect().toSeq
    assert(stored === scratch && stored.nonEmpty)
  }

  test("an indexed IN filter without evidence reads everything, stays " +
      "exact") {
    import graft.sources.IndexedCount
    import graft.sources.Snapshots
    val tbl = freshTable("invidx_ne")
    val post = InvertedIndex.postings(tiny)
    Snapshots.commit(post.repartition(3), tbl) // no stats, no blooms
    val c = IndexedCount.of(spark, tbl, col("token").isin("join"))
    assert(c.skipped === 0)
    assert(c.rows === post.filter(col("token") === "join").count())
  }

  test("a term absent from the corpus empties the AND result") {
    val post = InvertedIndex.postings(tiny)
    val totals = tiny.agg(count(lit(1)).cast("bigint").as("n_docs"))
    assert(InvertedIndex.searchAll(post,
      Seq("join", "zzz_not_there")).count() === 0)
    assert(InvertedIndex.rankedSearch(post, totals,
      Seq("join", "zzz_not_there")).count() === 0)
  }
}
