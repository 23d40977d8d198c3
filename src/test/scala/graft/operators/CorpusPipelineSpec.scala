package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home"

  private val docs = Seq(
    (1L, base * 4),                          // good doc
    (2L, base * 4),                          // exact dup of 1
    (3L, (base + " extra") * 4),             // near-dup of 1
    (4L, "tiny"),                            // fails length gate
    (5L, "!!! ??? ... ;;; ::: !!! ??? ... " * 10), // fails quality gate
    (6L, ("der hund und die katze ist das haus und der baum ist " * 6)), // german
  ).toDF("doc_id", "text")

  test("gate drops short and low-quality docs") {
    // punct-only docs score ~0.32 (length alone contributes 0.5 weight);
    // 0.4 separates them from real prose (~0.6-0.7)
    val g = CorpusPipeline.gate(docs, CorpusPipeline.Config(minQuality = 0.4))
    val ids = g.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(4L) && !ids.contains(5L))
    assert(ids.contains(1L) && ids.contains(6L))
  }

  test("language filter keeps only requested languages") {
    val g = CorpusPipeline.gate(docs, CorpusPipeline.Config(langs = Seq("en")))
    val ids = g.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 3L))
  }

  test("full pipeline: exact dup and near-dup both removed, smallest id survives") {
    val out = CorpusPipeline.prepare(docs,
      CorpusPipeline.Config(minQuality = 0.4, nearDupThreshold = 0.5))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(1L))
    assert(!ids.contains(2L)) // exact dup
    assert(!ids.contains(3L)) // near dup
    assert(ids.contains(6L))
  }

  test("dedupThenGate returns the rows and columns of gate then exactDedup") {
    // exact-duplicate pairs on each side of every gate, listed larger id
    // first so the survivor is not simply the first row
    val english = base * 4
    val d = Seq(
      (11L, english), (10L, english),            // passes every gate
      (21L, "tiny"), (20L, "tiny"),              // fails the length gate
      (31L, "!!! ??? ... ;;; ::: " * 10),
      (30L, "!!! ??? ... ;;; ::: " * 10),        // fails the quality gate
      (41L, "der hund und die katze ist das haus und der baum ist " * 6),
      (40L, "der hund und die katze ist das haus und der baum ist " * 6),
      (50L, (base + " extra") * 4),              // passes, no duplicate
    ).toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(minQuality = 0.4, langs = Seq("en"))
    val want = CorpusPipeline.exactDedup(CorpusPipeline.gate(d, cfg))
    val got = CorpusPipeline.dedupThenGate(d, cfg)
    // names and types; gate-then-dedup's min_by makes every column
    // nullable
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(got) === rows(want))
    assert(rows(got).map(_.head) === Seq(10L, 50L))
    // the german pair passes the length and quality gates: only the
    // language gate drops it
    assert(rows(CorpusPipeline.dedupThenGate(d, cfg.copy(langs = Nil)))
      .map(_.head) === Seq(10L, 40L, 50L))
  }

  test("prepare and prepareVerified leave the cache as they found it") {
    import org.apache.spark.sql.SpecBridge.cachedEntries
    val sc = spark.sparkContext
    val entries = cachedEntries(spark)
    val rdds = sc.getPersistentRDDs.keySet
    val cfg = CorpusPipeline.Config(minQuality = 0.4, nearDupThreshold = 0.5)
    assert(CorpusPipeline.prepare(docs, cfg).count() === 2)
    assert(CorpusPipeline.prepareVerified(docs, cfg).count() === 2)
    assert(cachedEntries(spark) === entries)
    assert(sc.getPersistentRDDs.keySet.diff(rdds).isEmpty)
  }

  test("one prepare count over a fixed corpus stays within its job bound") {
    // the sf0.001 documents as an in-memory batch, the shape a caller
    // hands the pipeline
    val batch = graft.Tables.documents(spark, sf001)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .toDF("doc_id", "text")
    val (n, tags) = jobTags(CorpusPipeline.prepare(batch).count())
    assert(n > 0)
    // measured 11 (one per query stage: each shared stage runs once);
    // with the shingle, corpus and pair frames persisted it was 24
    assert(tags.size <= 12, s"${tags.size} jobs")
  }

  test("token report aggregates by predicted language") {
    val rep = CorpusPipeline.tokenReport(
      CorpusPipeline.gate(docs, CorpusPipeline.Config()))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("en") === 3)
    assert(rep("de") === 1)
  }

  test("pairwise jaccard expression matches the set definition") {
    val j = Seq(("a b c d e", "a b c d x"))
      .toDF("x", "y")
      .select(Dedup.jaccardColumns(col("x"), col("y"), 3).as("j"))
      .collect()(0).getDouble(0)
    // shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter 2, union 4
    assert(j === 0.5)
  }

  test("jaccardOnCandidates keeps short-doc pairs at 0 and tolerates duplicate pairs") {
    val d = Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "xy")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardOnCandidates(cands, d, "text", "doc_id", 3)
      .orderBy("id_a", "id_b").collect()
    assert(got.length === 2) // duplicates collapsed, short-doc pair kept
    assert(got(0).getAs[Double]("jaccard") === 0.5)
    assert(got(1).getAs[Double]("jaccard") === 0.0) // doc 3 has < 3 tokens
  }

  test("the gate is streamable: MemoryStream run equals the batch run") {
    // gate is a stateless narrow transform, so it runs unchanged over a
    // stream in append mode — the property that lets a pipeline annotate
    // and filter documents AS THEY ARRIVE, before any stateful dedup.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = graft.Tables.documents(spark, sf001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val cfg = CorpusPipeline.Config()
    val q = CorpusPipeline.gate(stream.toDF().toDF("doc_id", "text"), cfg)
      .writeStream.format("memory").queryName("t_gate").outputMode("append")
      .start()
    val (first, rest) = rows.splitAt(rows.length / 2)
    stream.addData(first.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(rest.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_gate")
    val batch = CorpusPipeline.gate(
      graft.Tables.documents(spark, sf001).select($"doc_id", $"text"), cfg)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
