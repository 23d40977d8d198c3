package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosineSimilarity on known vectors") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(round(VectorFunctions.cosineSimilarity(col("a"), col("b")), 6).as("c"))
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(0.0, 1.0))
  }

  test("bruteForceTopK returns self-similar nearest first") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, Seq(1.0, 0.0, 0.0), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L))
  }

  test("bruteForceTopKDf matches the literal-vector form with no eager job") {
    val e = graft.Tables.embeddings(spark, sf001)
    val qv = e.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble)
    val viaLit = Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0), qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaDf = Similarity.bruteForceTopKDf(
      e.filter(col("vec_id") =!= 0), e.filter(col("vec_id") === 0), 10)
    assert(viaDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === viaLit)
    // the query row arrives via broadcast, not a driver fetch
    assert(viaDf.queryExecution.executedPlan.toString.contains("Broadcast"))
  }

  test("lshTopK ranks within buckets and never self-matches") {
    val e = graft.Tables.embeddings(spark, sf001)
    val got = Similarity.lshTopK(e, e.filter(col("vec_id") < 5), k = 3)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // ranks are 1..k per query
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length).toSeq)
    }
  }

  test("excludeSelf=false keeps coinciding-id candidates for independent id spaces") {
    val e = graft.Tables.embeddings(spark, sf001)
    val q = e.filter(col("vec_id") < 5)
    val withSelf = Similarity.lshTopK(e, q, k = 3, excludeSelf = false).collect()
    // a query vector always lands in its own bucket with cosine 1.0:
    // every query's rank-1 candidate is itself when self-matches stay
    val rank1 = withSelf.filter(_.getInt(3) == 1)
    assert(rank1.nonEmpty)
    assert(rank1.forall(r => r.getLong(0) == r.getLong(1) && r.getDouble(2) === 1.0))
    // and the default still drops them
    val noSelf = Similarity.lshTopK(e, q, k = 3).collect()
    assert(noSelf.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("probeBucketed over a partitioned layout equals lshTopK and prunes dynamically") {
    val e = graft.Tables.embeddings(spark, sf001)
    val out = tempDir("annidx") + "/idx"
    Similarity.writeBucketedCorpus(e, out)
    // one partition directory per occupied bucket, string-typed values
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=b")))
    val q = e.filter(col("vec_id") < 20)
    // broadcastQueries asserted: the DPP below rides the broadcast
    val probe = Similarity.probeBucketed(spark, out, q, k = 5, broadcastQueries = true)
    val direct = Similarity.lshTopK(e, q, k = 5, broadcastQueries = true)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(key(probe) === key(direct))
    // the scan is pruned at runtime by the broadcast query buckets
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
  }

  test("cosineNearDupLsh is a subset of brute pairs with identical cosines") {
    val e = graft.Tables.embeddings(spark, sf001).filter(col("vec_id") < 200)
    val brute = Similarity.cosinePairsBrute(e, 0.15).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.cosineNearDupLsh(e, 0.15).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(brute.nonEmpty && lsh.nonEmpty)
    assert(lsh.keySet.subsetOf(brute.keySet))
    lsh.foreach { case (pair, sim) => assert(brute(pair) === sim) }
  }

  test("ivfTopK with exhaustive probe equals brute force; partial probe is sound") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 5)
    val full = Similarity.ivfTopK(e, queries, k = 5, nCentroids = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // per query, exhaustive probe must reproduce exact brute-force top-k
    val brute = (0L until 5L).flatMap { qid =>
      Similarity.bruteForceTopKDf(
        e.filter(col("vec_id") =!= qid), e.filter(col("vec_id") === qid), 5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(full === brute)
    val partial = Similarity.ivfTopK(e, queries, k = 5, nCentroids = 8, nProbe = 2)
      .collect()
    assert(partial.nonEmpty)
    assert(partial.forall(r => r.getLong(0) != r.getLong(1)))
    partial.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length).toSeq)
    }
  }

  test("annPlaneCount sizes from parquet footers and launches no Spark job") {
    // rowCount directly (not the memoized annPlaneCount wrapper, which a
    // prior suite may have warmed): the footer read is what must be free
    val (n, jobs) = jobTags(
      graft.sources.ParquetMeta.rowCount(spark, s"$sf001/embeddings.parquet"))
    assert(jobs.isEmpty, "index sizing must read footer metadata, not scan")
    // the sizing matches the documented formula on the actual count
    val planes = graft.analytics.NorthStarQueries.annPlaneCount(spark, sf001)
    val q = math.max(n / 128L, 1L)
    assert(planes ===
      math.max(2, math.min(8, 63 - java.lang.Long.numberOfLeadingZeros(q))))
    // and the footer count equals the scan count (parquet footers are exact)
    assert(n === graft.Tables.embeddings(spark, sf001).count())
  }

  test("semanticDedup drops the larger id of every in-cluster near-dup pair") {
    // centroids = two smallest ids: v0=(1,0,0) and v1=(0,1,0)
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f)),
      (2L, Seq(2.0f, 0.1f, 0.0f)),  // cluster 0, cos(v2,v0)~0.99875 -> dropped
      (3L, Seq(0.0f, 3.0f, 0.2f)),  // cluster 1, cos(v3,v1)~0.99779 -> dropped
      (4L, Seq(0.5f, 0.5f, 0.7f)),  // equidistant: tie -> larger cent_id 1; far from both -> kept
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, threshold = 0.95, nCentroids = 2)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq === Seq(
      (0L, 0L, false), (1L, 1L, false),
      (2L, 0L, true), (3L, 1L, true),
      (4L, 1L, false)))
  }

  test("semanticDedup matches a naive in-memory recompute on the sf0.001 embeddings") {
    val e = graft.Tables.embeddings(spark, sf001)
    val got = Similarity.semanticDedup(e, threshold = 0.3, nCentroids = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    // naive recompute with the same semantics: argmax cosine, ties to the
    // larger centroid id; drop when a smaller-id cluster-mate has
    // round(cos, 6) >= threshold
    val all = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) 0.0 else dot / den
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = all.take(8)
    val cluster = all.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cos(v, cv), cid) }.max._2
    }.toMap
    val expected = all.map { case (id, v) =>
      val dropped = all.exists { case (oid, ov) =>
        oid < id && cluster(oid) == cluster(id) && r6(cos(ov, v)) >= 0.3
      }
      (id, cluster(id), dropped)
    }.toSeq
    assert(got.toSeq === expected)
  }

  test("int8 quantization bounds reconstruction error and handles zero vectors") {
    import graft.functions.VectorFunctions._
    val vecs = Seq(
      (0L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),     // all-zero: scale 0, qvec zeros
      (2L, Seq(100.0f, -100.0f, 3.3f, 0.7f)),
    ).toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
        maxAbs(col("embedding")).as("s"),
        quantizeInt8(col("embedding")).as("q"),
        round(cosineSimilarity(col("embedding"),
          dequantizeInt8(quantizeInt8(col("embedding")),
            maxAbs(col("embedding")))), 6).as("cos"))
      .orderBy("vec_id").collect()
    assert(got(1).getDouble(1) === 0.0)
    assert(got(1).getSeq[Byte](2).forall(_ === 0))
    assert(got(1).getDouble(3) === 0.0) // zero vector: cosine guard -> 0
    // max-abs element quantizes to exactly +/-127
    assert(got(0).getSeq[Byte](2).head === 127.toByte)
    assert(got(2).getSeq[Byte](2).take(2) === Seq(127.toByte, (-127).toByte))
    // int8 reconstruction keeps cosine > 0.9999 for non-degenerate vectors
    Seq(0, 2).foreach(i => assert(got(i).getDouble(3) > 0.9999, s"row $i"))
    // sf0.001 corpus: every vector reconstructs above 0.999
    val e = graft.Tables.embeddings(spark, sf001)
    val minCos = e.select(round(cosineSimilarity(col("embedding"),
        dequantizeInt8(quantizeInt8(col("embedding")), maxAbs(col("embedding")))),
        6).as("c"))
      .agg(min(col("c"))).head.getDouble(0)
    assert(minCos > 0.999, s"min reconstruction cosine $minCos")
  }

  test("native cosine returns null on mismatched dimensions, matching the HOF form") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val native = df.select(
      graft.functions.CosineExpression.cosine(col("a"), col("b"))).collect()
    val hof = df.select(
      VectorFunctions.cosineSimilarity(col("a"), col("b"))).collect()
    assert(native.head.isNullAt(0) && hof.head.isNullAt(0))
  }

  test("native cosine expression equals the HOF formulation bit-for-bit") {
    val e = graft.Tables.embeddings(spark, sf001).limit(200)
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0)
    val native = e.select(col("vec_id"),
      graft.functions.CosineExpression.cosine(col("embedding"), typedLit(q)).as("c"))
    val hof = e.select(col("vec_id"),
      VectorFunctions.cosineSimilarity(col("embedding"), typedLit(q)).as("c"))
    val n = native.orderBy("vec_id").collect().map(_.getDouble(1))
    val h = hof.orderBy("vec_id").collect().map(_.getDouble(1))
    assert(n.toSeq === h.toSeq)
  }

  test("native cosine expression rejects non-numeric-array inputs") {
    val bad = Seq((Seq("a", "b"), Seq("c", "d"))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(graft.functions.CosineExpression.cosine(col("a"), col("b"))).collect()
    }
  }

  test("native l2_squared equals the aggregate-fold HOF form bit-for-bit") {
    // the PQ encode argmin rides this expression; a 1-ulp flip would
    // cascade into different codebooks, so pin exact equality against
    // the sequential aggregate-over-zip_with fold it replaced
    val e = graft.Tables.embeddings(spark, sf001).limit(200)
      .withColumn("d", transform(col("embedding"), x => x.cast("double")))
    val q = e.filter(col("vec_id") === 1).select("d")
      .collect()(0).getSeq[Double](0)
    val native = e.select(col("vec_id"),
      graft.functions.L2Expression.l2sq(col("d"), typedLit(q)).as("v"))
      .orderBy("vec_id").collect().map(_.getDouble(1))
    val hof = e.select(col("vec_id"),
      aggregate(zip_with(col("d"), typedLit(q), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, el) => acc + el).as("v"))
      .orderBy("vec_id").collect().map(_.getDouble(1))
    assert(native.toSeq === hof.toSeq)
    // mismatched lengths are null in both forms
    val bad = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(bad.select(
      graft.functions.L2Expression.l2sq(col("a"), col("b"))).collect().head.isNullAt(0))
  }

  test("native cosine accepts double arrays and mixed float/double sides") {
    // float→double promotion is exact, so a double copy of a float vector
    // must produce the bit-identical cosine on either (or both) sides
    val e = graft.Tables.embeddings(spark, sf001).limit(50)
      .withColumn("d", transform(col("embedding"), x => x.cast("double")))
    val ff = e.select(graft.functions.CosineExpression.cosine(
      col("embedding"), col("embedding")).as("c")).collect().map(_.getDouble(0))
    val dd = e.select(graft.functions.CosineExpression.cosine(
      col("d"), col("d")).as("c")).collect().map(_.getDouble(0))
    val fd = e.select(graft.functions.CosineExpression.cosine(
      col("embedding"), col("d")).as("c")).collect().map(_.getDouble(0))
    assert(ff.toSeq === dd.toSeq)
    assert(ff.toSeq === fd.toSeq)
  }

  test("ivfTopKTrained at iters=0 degenerates to untrained ivfTopK") {
    val e = graft.Tables.embeddings(spark, sf001)
    val q = e.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val untrained = Similarity.ivfTopK(e, q, k = 5)
    val zeroIter = Similarity.ivfTopKTrained(e, q, k = 5, iters = 0)
    assert(key(zeroIter) === key(untrained))
  }

  test("Lloyd's training does not lose recall vs untrained IVF on the fixture corpus") {
    // 8 centroids over the 50-vector fixture (16 would leave ~3 vectors
    // per cluster — a degenerate index no deployment would size). At
    // (nCentroids=8, nProbe=4), two Lloyd's iterations lift measured
    // recall 0.85 → 0.87 on this corpus; the assert pins training never
    // regressing below the untrained seeds here.
    val e = graft.Tables.embeddings(spark, sf001)
    val q = e.filter(col("vec_id") < 20)
    // ground truth: per-query brute-force top-5 ids
    val brute = (0L until 20L).flatMap { qid =>
      Similarity.bruteForceTopKDf(
        e.filter(col("vec_id") =!= qid), e.filter(col("vec_id") === qid), 5)
        .collect().map(r => (qid, r.getLong(0)))
    }.toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val untrained = recall(Similarity.ivfTopK(e, q, k = 5,
      nCentroids = 8, nProbe = 4))
    val trained = recall(Similarity.ivfTopKTrained(e, q, k = 5,
      nCentroids = 8, nProbe = 4, iters = 2))
    assert(trained >= untrained,
      s"trained recall $trained < untrained $untrained")
  }

  test("trainIvfCentroids is deterministic and keeps empty clusters on their seed") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(-1.0f, 0.0f)),   // isolated seed: nothing else assigns here
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.8f, -0.1f))).toDF("vec_id", "embedding")
    val c1 = Similarity.trainIvfCentroids(vecs, nCentroids = 2, iters = 2)
      .orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val c2 = Similarity.trainIvfCentroids(vecs, nCentroids = 2, iters = 2)
      .orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    assert(c1.toSeq === c2.toSeq)
    // cluster 1 keeps only its own seed vector (others have cosine < 0
    // to it), so its mean is the seed itself
    assert(c1(1)._2 === Seq(-1.0, 0.0))
    // cluster 0's centroid is the 1e-6-quantized mean of vectors 0,2,3
    assert(math.abs(c1(0)._2.head - (1.0 + 0.9 + 0.8) / 3) < 1e-6)
  }

  /** Clustered fixture for the PQ tests: `nPer` vectors around each of
    * four well-separated axis-aligned centers in 8 dims, perturbed by a
    * small deterministic LCG wiggle — structure PQ must preserve (unlike
    * the near-orthogonal random fixture corpus, where approximate scores
    * legitimately shuffle the noise-level neighbor ranking).
    */
  private def clusteredVecs(nPer: Int): org.apache.spark.sql.DataFrame = {
    val centers = Seq(
      Array(10f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 10f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 10f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 10f, 0f, 0f, 0f, 0f))
    // ids interleave clusters (cluster = id % 4) so the smallest-id
    // coarse seeds land one per cluster
    val rows = for (c <- 0 until 4; j <- 0 until nPer) yield {
      val id = (j * 4 + c).toLong
      val v = centers(c).zipWithIndex.map { case (x, pos) =>
        // deterministic wiggle in [-0.5, 0.5)
        val h = (id * 6364136223846793005L + pos * 1442695040888963407L) >>> 40
        x + ((h % 1000L) / 1000.0f - 0.5f)
      }
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("ivfPqTopK keeps cluster neighbors on structured data") {
    val vecs = clusteredVecs(10)
    val q = vecs.filter(col("vec_id") < 4) // one query per cluster
    val got = Similarity.ivfPqTopK(vecs, q, k = 5, nCentroids = 4,
      nProbe = 1, m = 4, ksub = 8, iters = 1, dim = 8,
      broadcastQueries = true).collect()
    assert(got.length === 20) // 4 queries × top-5
    // every retrieved neighbor belongs to the query's own cluster
    got.foreach { r =>
      assert(r.getLong(0) % 4 === r.getLong(1) % 4,
        s"query ${r.getLong(0)} retrieved cross-cluster ${r.getLong(1)}")
    }
  }

  test("PQ with ksub = corpus size and zero training recovers plain IVF ordering") {
    // every residual subvector is its own codebook entry, so the
    // reconstruction is (x - c) + c per component — not algebraically x,
    // but within 1 ulp, and invisible after the round-6 ranking
    val vecs = clusteredVecs(6)
    val q = vecs.filter(col("vec_id") < 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val pq = Similarity.ivfPqTopK(vecs, q, k = 3, nCentroids = 4, nProbe = 2,
      m = 4, ksub = 24, iters = 0, dim = 8)
    val ivf = Similarity.ivfTopK(vecs, q, k = 3, nCentroids = 4, nProbe = 2)
    assert(key(pq) === key(ivf))
  }

  test("stored PQ index round-trips bit-identically and prunes by probed bucket") {
    val e = graft.Tables.embeddings(spark, sf001)
    val out = tempDir("pqidx") + "/idx"
    Similarity.writePqIndex(e, out, iters = 1)
    // partition directory per coarse bucket, string-typed values
    val dirs = new java.io.File(s"$out/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=c")))
    val q = e.filter(col("vec_id") < 20)
    val probe = Similarity.probePqIndex(spark, out, q, k = 5,
      broadcastQueries = true)
    val mem = Similarity.ivfPqTopK(e, q, k = 5, iters = 1,
      broadcastQueries = true)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // storing codes and rebuilding the reconstruction loses nothing
    assert(key(probe) === key(mem))
    // the codes scan is pruned at runtime by the broadcast query buckets
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
  }

  test("ivfPqRerank with a full shortlist recovers exact-cosine ranking") {
    // nProbe = all 4 centroids and shortlist = corpus size: every
    // candidate survives to the rerank, whose exact rescoring must then
    // reproduce plain IVF (exact cosine over the same candidate set)
    val vecs = clusteredVecs(6)
    val q = vecs.filter(col("vec_id") < 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val rr = Similarity.ivfPqRerank(vecs, q, k = 3, shortlist = 24,
      nCentroids = 4, nProbe = 4, m = 4, ksub = 8, iters = 1, dim = 8)
    val exact = Similarity.ivfTopK(vecs, q, k = 3, nCentroids = 4, nProbe = 4)
    assert(key(rr) === key(exact))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRerank(vecs, q, k = 5, shortlist = 3)
    }
  }

  test("appendToPqIndex equals a train-restricted full build, batch-split invariant") {
    val vecs = clusteredVecs(8) // ids 0..31, cluster = id % 4
    val a = vecs.filter(col("vec_id") < 16)
    val b = vecs.filter(col("vec_id") >= 16)
    val q = vecs.filter(col("vec_id") < 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // build on A, append B in one batch
    val one = tempDir("pqup1") + "/i"
    Similarity.writePqIndex(a, one, nCentroids = 4, m = 4, ksub = 8,
      iters = 1, dim = 8)
    Similarity.appendToPqIndex(spark, one, b)
    val probeOne = Similarity.probePqIndex(spark, one, q, k = 3,
      broadcastQueries = true)
    // reference: full in-memory build with training restricted to A
    val ref = Similarity.ivfPqTopK(vecs, q, k = 3, nCentroids = 4,
      nProbe = 4, m = 4, ksub = 8, iters = 1, dim = 8,
      broadcastQueries = true, train = Some(a))
    assert(key(probeOne) === key(ref))
    // append B as two batches: same index
    val two = tempDir("pqup2") + "/i"
    Similarity.writePqIndex(a, two, nCentroids = 4, m = 4, ksub = 8,
      iters = 1, dim = 8)
    Similarity.appendToPqIndex(spark, two, b.filter(col("vec_id") < 24))
    Similarity.appendToPqIndex(spark, two, b.filter(col("vec_id") >= 24))
    val probeTwo = Similarity.probePqIndex(spark, two, q, k = 3,
      broadcastQueries = true)
    assert(key(probeTwo) === key(probeOne))
    // coverage: every vector of A ∪ B holds exactly one code row
    val codes = spark.read.parquet(s"$two/codes")
    assert(codes.count() === 32 &&
      codes.select(col("vec_id")).distinct().count() === 32)
  }

  test("trainPqCodebooks is deterministic across invocations") {
    val vecs = clusteredVecs(8)
    val subs = vecs.select(col("vec_id"),
      explode(array(
        struct(lit(0).as("sub"),
          transform(slice(col("embedding"), 1, 4), x => x.cast("double")).as("subv")),
        struct(lit(1).as("sub"),
          transform(slice(col("embedding"), 5, 4), x => x.cast("double")).as("subv")))).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.subv").as("subv"))
    def snap() = Similarity.trainPqCodebooks(subs, ksub = 4, iters = 2)
      .orderBy("sub", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq)).toSeq
    assert(snap() === snap())
  }

  test("hyperplanes are deterministic") {
    assert(VectorFunctions.hyperplanes(2, 4) === VectorFunctions.hyperplanes(2, 4))
  }

  test("native sign-bucket expression equals the HOF formulation") {
    val e = graft.Tables.embeddings(spark, sf001).limit(100)
    val planes = VectorFunctions.hyperplanes(8, 64)
    val native = e.select(col("vec_id"),
      graft.functions.SignBucketExpression.signBucket(col("embedding"), planes).as("b"))
      .orderBy("vec_id").collect().map(_.getString(1))
    val hof = e.select(col("vec_id"),
      VectorFunctions.signBucket(col("embedding"), planes).as("b"))
      .orderBy("vec_id").collect().map(_.getString(1))
    assert(native.toSeq === hof.toSeq)
    assert(native.forall(_.length == 8))
  }

  test("hardNegatives: different label, exact per-query top-k, broadcast") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 4)
    val got = Similarity.hardNegatives(e, queries, k = 3)
    // never the query itself, never its own label
    val labels = e.select(col("vec_id").as("query_id"),
      col("label").as("qlbl"))
    assert(got.filter(col("query_id") === col("vec_id")).count() === 0)
    assert(got.join(labels, "query_id")
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label") === col("qlbl")).count() === 0)
    // per query exactly k, ranked 1..k by (sim desc, id)
    val byQ = got.groupBy(col("query_id")).count().collect()
    assert(byQ.forall(_.getLong(1) === 3L) && byQ.length === 4)
    // the probe frame broadcast: the corpus side never exchanges
    val plan = executedPlan(
      Similarity.hardNegatives(e, queries, k = 3))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"expected broadcast:\n$plan")
  }
}
