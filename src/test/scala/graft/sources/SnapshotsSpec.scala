package graft.sources

import graft.SparkSpec
import graft.plans.DimFilePrune
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {

  private def freshTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_snap_$tag").toString + "/t"

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))

  private def fs(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append commits version monotonically and each version time-travels") {
    val tbl = freshTable("tt")
    val v1 = Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    val v2 = Snapshots.commit(orders.filter(col("o_orderkey") > 1000), tbl)
    assert(v1 === 1 && v2 === 2)
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
    val n1 = orders.filter(col("o_orderkey") <= 1000).count()
    assert(Snapshots.read(spark, tbl, Some(1)).count() === n1)
    assert(Snapshots.read(spark, tbl).count() === orders.count())
  }

  test("diffAdded reads ONLY the delta files of an append lineage") {
    val tbl = freshTable("diff")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    Snapshots.commit(orders.filter(col("o_orderkey") > 1000), tbl)
    val delta = Snapshots.diffAdded(spark, tbl, 1, 2)
    assert(delta.count() === orders.filter(col("o_orderkey") > 1000).count())
    // scan cost ∝ change: the delta's input files are exactly v2 minus v1
    val v1Files = Snapshots.manifest(spark, tbl, 1).map(_.path).toSet
    val read = delta.inputFiles.toSet
    assert(read.nonEmpty && !read.exists(f => v1Files.exists(f.endsWith)))
    // overwrite breaks file-identity lineage → diff must refuse
    Snapshots.commit(orders.limit(10), tbl, overwrite = true)
    intercept[IllegalArgumentException] {
      Snapshots.diffAdded(spark, tbl, 1, 3)
    }
  }

  test("indexed range filter skips files by manifest envelope and loses " +
      "no rows") {
    val tbl = freshTable("skip")
    Snapshots.commit(orders.repartitionByRange(8, col("o_orderkey")), tbl,
      statsCols = Seq("o_orderkey"))
    val c = IndexedCount.of(spark, tbl, col("o_orderkey").between(1L, 500L))
    assert(c.skipped > 0, "tight range over 8 range-files must skip some")
    assert(c.kept + c.skipped === 8)
    val expect = orders.filter(col("o_orderkey").between(1, 500)).count()
    assert(c.rows === expect)
    // a column without recorded stats never skips (correctness over speed)
    val c2 = IndexedCount.of(spark, tbl, col("o_totalprice").between(0L, 1L))
    assert(c2.skipped === 0 && c2.kept === 8)
  }

  test("compactVersion shrinks file count, preserves content and history") {
    val tbl = freshTable("vc")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000).repartition(6),
      tbl, statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey") > 1000).repartition(6),
      tbl, statsCols = Seq("o_orderkey"))
    val before = Snapshots.manifest(spark, tbl, 2).size
    val v3 = Snapshots.compactVersion(spark, tbl)
    assert(v3 === 3)
    val after = Snapshots.manifest(spark, tbl, 3)
    assert(after.size < before)
    // stats columns carry over to the compacted manifest
    assert(after.forall(_.stats.contains("o_orderkey")))
    assert(Snapshots.read(spark, tbl, Some(3)).count() === orders.count())
    // pre-compaction snapshots still read (immutable files)
    assert(Snapshots.read(spark, tbl, Some(1)).count() ===
      orders.filter(col("o_orderkey") <= 1000).count())
  }

  test("vacuum deletes only files unreferenced by retained versions") {
    val tbl = freshTable("vac")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    Snapshots.commit(orders.filter(col("o_orderkey") > 1000), tbl)
    Snapshots.compactVersion(spark, tbl) // v3 rewrites everything
    val deleted = Snapshots.vacuum(spark, tbl, keepLast = 1)
    assert(deleted.nonEmpty, "v1/v2 files are unreferenced after compaction")
    assert(Snapshots.versions(spark, tbl) === Seq(3))
    assert(Snapshots.read(spark, tbl).count() === orders.count())
    // append lineage: a shared file survives vacuum of its first version
    val tbl2 = freshTable("vac2")
    Snapshots.commit(orders.limit(100), tbl2)
    Snapshots.commit(orders.limit(100), tbl2) // v2 references v1's files too
    val deleted2 = Snapshots.vacuum(spark, tbl2, keepLast = 1)
    assert(deleted2.isEmpty)
    assert(Snapshots.read(spark, tbl2).count() === 200)
  }

  test("indexed equality filter skips files via manifest blooms, soundly") {
    val tbl = freshTable("bloom")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    Snapshots.commit(o.repartition(8, col("o_custkey")), tbl,
      bloomCols = Seq("o_custkey"))
    val cust = o.agg(min(col("o_custkey"))).head().getLong(0)
    val c = IndexedCount.of(spark, tbl, col("o_custkey") === cust)
    // the customer hashes into ONE of the 8 custkey-clustered files;
    // blooms must prove absence for most of the rest (false positives ok)
    assert(c.skipped >= 4, s"skipped only ${c.skipped}/8")
    assert(c.rows === o.filter(col("o_custkey") === cust).count())
    // a column without a bloom never skips
    val c2 = IndexedCount.of(spark, tbl, col("o_orderkey") === 1L)
    assert(c2.skipped === 0)
    // blooms survive compaction (carried like statsCols)
    Snapshots.compactVersion(spark, tbl, targetBytes = 1L << 14)
    val after = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl))
    assert(after.forall(_.blooms.contains("o_custkey")))
  }

  test("a dim-pruned join cuts fact files from a selective dim's join " +
      "keys (envelope + bloom), loses no rows, casts key widths, falls " +
      "back to the plain join on unselective dims") {
    val tbl = freshTable("dfp")
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select(col("l_suppkey"), col("l_extendedprice"))
    Snapshots.commit(
      li.repartitionByRange(8, col("l_suppkey"))
        .sortWithinPartitions(col("l_suppkey")),
      tbl, statsCols = Seq("l_suppkey"), bloomCols = Seq("l_suppkey"))
    val sup = spark.read.parquet(s"$sf001/supplier.parquet")
    val nat = sup.agg(min(col("s_nationkey")).cast("long"))
      .head().getLong(0)
    val dim = sup.filter(col("s_nationkey") === lit(nat))
      .select(col("s_suppkey"))
    val dimKeys = dim.collect().map(_.getLong(0)).toSet
    assert(dimKeys.nonEmpty)
    // row count of the plain join over the indexed fact, and the rule's
    // (table, kept, skipped) cut — None when it planned the join untouched
    def prunedJoin(fact: String, factCol: String, d: DataFrame)
        : (Long, Option[(String, Int, Int)]) = {
      DimFilePrune.lastCut = None
      val dk = d.select(col(d.columns.head).as("_dk"))
      val n = Snapshots.readIndexed(spark, fact)._1
        .join(dk, col(factCol) === col("_dk")).count()
      (n, DimFilePrune.lastCut)
    }
    DimFilePrune.enable(spark, tbl)
    try {
      val (n, cut) = prunedJoin(tbl, "l_suppkey", dim)
      // the key is range-clustered, the dim is 1/25 of the key space —
      // envelopes alone must cut files
      assert(cut.exists(_._3 > 0), s"no file cut: $cut")
      val want = li.filter(col("l_suppkey").isInCollection(dimKeys)).count()
      assert(n === want)
      // width-normalized hashing: an INT-typed dim key column must probe
      // the LONG fact column's blooms correctly (narrow before hash)
      val (nInt, cutInt) = prunedJoin(tbl, "l_suppkey",
        dim.select(col("s_suppkey").cast("int")))
      assert(nInt === want,
        "int-typed dim keys lost rows against the long fact column")
      assert(cutInt === cut)
      // empty dim → zero files read, empty result
      val (nEmpty, cutEmpty) = prunedJoin(tbl, "l_suppkey",
        dim.filter(col("s_suppkey") < 0))
      assert(nEmpty === 0L && cutEmpty.exists(_._2 == 0), s"$cutEmpty")
      // unselective dim: the rule backs off to the plain join
      DimFilePrune.enable(spark, tbl, maxKeys = 3)
      val (nWide, cutWide) = prunedJoin(tbl, "l_suppkey",
        li.select(col("l_suppkey")).distinct())
      assert(nWide === li.count() && cutWide.isEmpty, s"$cutWide")
    } finally DimFilePrune.disable(spark, tbl)
    // STRING join keys prune through the UTF-8 envelope tier: a fact
    // range-clustered on a string key, dim'd by a handful of values
    val tblS = freshTable("dfps")
    val liS = li.select(
      concat(lit("sup-"), lpad(col("l_suppkey").cast("string"), 4, "0"))
        .as("sk"), col("l_extendedprice"))
    Snapshots.commit(
      liS.repartitionByRange(8, col("sk")).sortWithinPartitions(col("sk")),
      tblS, strStatsCols = Seq("sk"))
    val dimS = dim.select(
      concat(lit("sup-"), lpad(col("s_suppkey").cast("string"), 4, "0"))
        .as("sk"))
    DimFilePrune.enable(spark, tblS)
    try {
      val (nS, cutS) = prunedJoin(tblS, "sk", dimS)
      assert(cutS.exists(_._3 > 0), s"no string-envelope cut: $cutS")
      assert(nS === liS.join(dimS, "sk").count())
    } finally DimFilePrune.disable(spark, tblS)
  }

  test("z-ordered layout + box pruning beats a linear layout") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val stats = Seq("l_partkey", "l_suppkey")
    val zTbl = freshTable("zbox")
    Snapshots.commit(
      li.repartitionByRange(8, graft.functions.ZOrderExpression.zValue(
        col("l_partkey"), col("l_suppkey")))
        .sortWithinPartitions(graft.functions.ZOrderExpression.zValue(
          col("l_partkey"), col("l_suppkey"))),
      zTbl, statsCols = stats)
    val linTbl = freshTable("linbox")
    Snapshots.commit(li.repartitionByRange(8, col("l_orderkey")), linTbl,
      statsCols = stats)
    val box = col("l_partkey").between(1L, 25L) &&
      col("l_suppkey").between(1L, 2L)
    val z = IndexedCount.of(spark, zTbl, box)
    val lin = IndexedCount.of(spark, linTbl, box)
    assert(z.skipped > lin.skipped,
      s"z skipped ${z.skipped}, linear skipped ${lin.skipped}")
    // both layouts return the exact filter result
    val expect = li.filter(col("l_partkey").between(1, 25) &&
      col("l_suppkey").between(1, 2)).count()
    assert(z.rows === expect && lin.rows === expect)
  }

  test("half-written manifest (no terminator) reads as an absent version") {
    val tbl = freshTable("crash")
    Snapshots.commit(orders.limit(50), tbl)
    val f = fs(tbl)
    val bad = new Path(s"$tbl/_manifests/v000002.manifest")
    val out = f.create(bad, false)
    out.write("graft-manifest-v1\nsome/file.parquet\t5\t".getBytes("UTF-8"))
    out.close()
    assert(Snapshots.versions(spark, tbl) === Seq(1))
    assert(Snapshots.latestVersion(spark, tbl) === 1)
    // the next commit survives the collision with the dead manifest file
    val v = Snapshots.commit(orders.limit(10), tbl)
    assert(v === 3 && Snapshots.read(spark, tbl).count() === 60)
  }

  test("merge rewrites only envelope-touched files; carried files keep skipping") {
    val tbl = freshTable("merge")
    // three key-disjoint commits → tight per-file key envelopes
    // (driver testdata orderkeys are DENSE from 0, ~1500 at sf0.001)
    Snapshots.commit(orders.filter(col("o_orderkey") <= 500), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey").between(501, 1000)),
      tbl, statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey") > 1000), tbl,
      statsCols = Seq("o_orderkey"))
    val total = Snapshots.manifest(spark, tbl, 3).size
    val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val upd = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val ins = orders.filter(col("o_orderkey") <= 10)
      .withColumn("o_orderkey", col("o_orderkey") + 9000000L)
    // minKey is in BOTH upserts and deletes → the upsert row must win
    val delKeys = orders.filter(col("o_orderkey").between(501, 550) ||
      col("o_orderkey") === minKey).select(col("o_orderkey"))
    val r = Snapshots.merge(spark, tbl, upd.unionByName(ins), delKeys,
      "o_orderkey")
    assert(r.filesCarried > 0, "high-key files hold no affected key → carried")
    assert(r.filesRewritten < total)
    val m = Snapshots.read(spark, tbl)
    val nOrig = orders.count()
    val nDel = orders.filter(col("o_orderkey").between(501, 550)).count()
    val nIns = orders.filter(col("o_orderkey") <= 10).count()
    assert(m.count() === nOrig - nDel + nIns)
    // update replaced in place (and won over the simultaneous delete)
    val orig = orders.filter(col("o_orderkey") === minKey)
      .head().getAs[Double]("o_totalprice")
    assert(m.filter(col("o_orderkey") === minKey)
      .head().getAs[Double]("o_totalprice") === orig * 2)
    // deletes gone, inserts present
    assert(m.filter(col("o_orderkey").between(501, 550)).count() === 0)
    assert(m.filter(col("o_orderkey") >= 9000000L).count() === nIns)
    // the pre-merge version still reads as the original (time travel)
    assert(Snapshots.read(spark, tbl, Some(3)).count() === nOrig)
    // carried entries keep their envelopes → file skipping still works on
    // a range no carried file covers
    val c = IndexedCount.of(spark, tbl,
      col("o_orderkey").between(1000000L, 2000000L))
    assert(c.skipped > 0)
    assert(c.rows === 0)
  }

  test("merge key resolves case-insensitively, like col()/SQL — the " +
      "canonical table spelling drives envelope pruning either way") {
    import spark.implicits._
    val tbl = freshTable("cimerge")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), tbl,
      statsCols = Seq("id"))
    Snapshots.commit(Seq((100L, 30L)).toDF("id", "v"), tbl,
      statsCols = Seq("id"))
    // 'ID' for column 'id': resolution must not hit the no-column or
    // type-refusal path, and pruning must still find the canonical
    // 'id' envelopes (the high-key file is carried)
    val r = Snapshots.merge(spark, tbl,
      Seq((2L, 200L)).toDF("id", "v"),
      Seq(1L).toDF("ID"), "ID")
    assert(r.filesCarried > 0, "canonical-name envelope must still prune")
    assert(Snapshots.read(spark, tbl).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap ===
      Map(2L -> 200L, 100L -> 30L))
    // composite path: mixed-case key list
    val tbl2 = freshTable("cimergec")
    Snapshots.commit(Seq((1L, 1, 10L), (2L, 2, 20L)).toDF("k1", "k2", "v"),
      tbl2, statsCols = Seq("k1"))
    Snapshots.mergeComposite(spark, tbl2,
      Seq((2L, 2, 222L)).toDF("k1", "k2", "v"),
      Seq((1L, 1)).toDF("K1", "K2"), Seq("K1", "k2"))
    assert(Snapshots.read(spark, tbl2).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet ===
      Set((2L, 2, 222L)))
  }

  test("string-keyed merge: keys compare UNCAST ('1'/'01' distinct, " +
      "non-numeric first-class), string envelopes prune, key evidence " +
      "is recorded on rewritten files") {
    import spark.implicits._
    val tbl = freshTable("smerge")
    // two commits with u8-disjoint key ranges → tight string envelopes
    Snapshots.commit(
      Seq(("01", 1L), ("1", 10L), ("a2", 2L), ("m1", 3L), ("m2", 4L))
        .toDF("k", "v"),
      tbl, strStatsCols = Seq("k"))
    Snapshots.commit(Seq(("z1", 5L), ("z2", 6L)).toDF("k", "v"), tbl,
      strStatsCols = Seq("k"))
    // upsert '1' (must NOT collapse onto '01'), insert non-numeric
    // 'b9', delete 'm1' — none reaches the z-range files
    val r = Snapshots.merge(spark, tbl,
      Seq(("1", 100L), ("b9", 9L)).toDF("k", "v"),
      Seq("m1").toDF("k"), "k")
    assert(r.filesCarried > 0, "z-range files hold no affected key")
    val m1 = Snapshots.read(spark, tbl).collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(m1 === Map("01" -> 1L, "1" -> 100L, "a2" -> 2L, "m2" -> 4L,
      "b9" -> 9L, "z1" -> 5L, "z2" -> 6L))
    // the rewritten files RECORDED the key envelope: a second merge on
    // the z range carries them — and exercises the over-cap fallback
    // (maxCollectedKeys = 0 → encode()-ordered range, shuffled anti)
    val r2 = Snapshots.merge(spark, tbl,
      Seq(("z1", 50L)).toDF("k", "v"),
      Seq.empty[String].toDF("k"), "k", maxCollectedKeys = 0)
    assert(r2.filesCarried > 0,
      "rewritten low-range files carry their recorded k envelope")
    val m2 = Snapshots.read(spark, tbl).collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(m2 === m1 + ("z1" -> 50L))
    // non-integral, non-string key types refuse loudly
    val dbl = freshTable("smerge_dbl")
    Snapshots.commit(Seq((1.5, 1L)).toDF("k", "v"), dbl)
    val e = intercept[Exception] {
      Snapshots.merge(spark, dbl, Seq((1.5, 2L)).toDF("k", "v"),
        Seq.empty[Double].toDF("k"), "k")
    }
    assert(e.getMessage.contains("integral or string"), e.getMessage)
  }

  test("composite-key merge: tuple semantics (mixed-width components), " +
      "lead-envelope pruning, upsert wins over simultaneous delete") {
    import spark.implicits._
    val tbl = freshTable("cmerge")
    // (g, i) tuple keys, i committed as INT (narrower than the long the
    // tuple frame compares as); lead g range-disjoint across commits
    Snapshots.commit(
      Seq((1L, 1, "a"), (1L, 2, "b"), (2L, 1, "c")).toDF("g", "i", "v"),
      tbl, statsCols = Seq("g"))
    Snapshots.commit(Seq((9L, 1, "x"), (9L, 2, "y")).toDF("g", "i", "v"),
      tbl, statsCols = Seq("g"))
    val ups = Seq((1L, 2, "B"), (3L, 1, "n"), (2L, 1, "C")).toDF("g", "i", "v")
    // (2,1) is in BOTH upserts and deletes → the upsert row must win;
    // (1,1) only deleted
    val del = Seq((1L, 1), (2L, 1)).toDF("g", "i")
    val r = Snapshots.mergeComposite(spark, tbl, ups, del, Seq("g", "i"))
    assert(r.filesCarried > 0, "lead-9 file holds no affected lead")
    val got = Snapshots.read(spark, tbl).collect()
      .map(x => ((x.getLong(0), x.getInt(1)), x.getString(2))).toMap
    assert(got === Map((1L, 2) -> "B", (2L, 1) -> "C", (3L, 1) -> "n",
      (9L, 1) -> "x", (9L, 2) -> "y"))
    // tuple, not per-column, matching: (1,1) was deleted but (1,2) and
    // (2,1) survive — a column-wise IN test would have killed them too
    assert(!got.contains((1L, 1)))
    // deleteKeys must carry EVERY key column — a lead-only delete frame
    // cannot express tuple deletion and refuses loudly
    val e = intercept[Exception] {
      Snapshots.mergeComposite(spark, tbl,
        Seq((1L, 1, "z")).toDF("g", "i", "v"),
        Seq(1L).toDF("g"), Seq("g", "i"))
    }
    assert(e.getMessage.contains("deleteKeys needs"), e.getMessage)
  }

  test("add-column evolution: per-version schema, old files null-filled") {
    val tbl = freshTable("evo")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
    Snapshots.commit(o.filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_totalprice")), tbl)
    Snapshots.commit(o.filter(col("o_orderkey") > 1000)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority")), tbl)
    val latest = Snapshots.read(spark, tbl)
    assert(latest.columns.toSeq ===
      Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    val nOld = o.filter(col("o_orderkey") <= 1000).count()
    assert(latest.filter(col("o_orderpriority").isNull).count() === nOld)
    assert(latest.filter(col("o_orderkey") > 1000 &&
      col("o_orderpriority").isNull).count() === 0)
    // time travel keeps v1's own narrower shape
    assert(Snapshots.read(spark, tbl, Some(1)).columns.toSeq ===
      Seq("o_orderkey", "o_totalprice"))
  }

  test("rollback is metadata-only and the lineage continues past it") {
    val tbl = freshTable("rb")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    Snapshots.commit(orders.filter(col("o_orderkey") > 1000), tbl)
    val vBad = Snapshots.commit(orders.limit(5), tbl, overwrite = true)
    val dataFilesBefore = fs(tbl).getContentSummary(
      new Path(s"$tbl/data")).getFileCount
    val vBack = Snapshots.rollback(spark, tbl, toVersion = 2)
    // metadata-only: no data file appeared or vanished
    assert(fs(tbl).getContentSummary(new Path(s"$tbl/data")).getFileCount ===
      dataFilesBefore)
    assert(Snapshots.manifest(spark, tbl, vBack).map(_.path) ===
      Snapshots.manifest(spark, tbl, 2).map(_.path))
    assert(Snapshots.read(spark, tbl).count() === orders.count())
    // the mis-commit stays readable for forensics until vacuum
    assert(Snapshots.read(spark, tbl, Some(vBad)).count() === 5)
    assert(Snapshots.properties(spark, tbl, vBack)
      .get("rolledBackTo") === Some("2"))
    // appends continue from the rolled-back state
    Snapshots.commit(orders.limit(7), tbl)
    assert(Snapshots.read(spark, tbl).count() === orders.count() + 7)
    // vacuum now retires the bad version's files, not the shared lineage
    Snapshots.vacuum(spark, tbl, keepLast = 1)
    assert(Snapshots.read(spark, tbl).count() === orders.count() + 7)
    intercept[IllegalArgumentException] {
      Snapshots.rollback(spark, tbl, toVersion = 99)
    }
  }

  test("removeOrphans deletes only never-committed debris") {
    val tbl = freshTable("orph")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    // debris: a batch dir written by a writer that died before its
    // manifest create (exactly what commit leaves behind on a crash)
    orders.limit(10).write.parquet(s"$tbl/data/bdeadbeef")
    // a half-written manifest referencing a second batch: that writer may
    // still be alive — its files must survive
    orders.limit(3).coalesce(1).write.parquet(s"$tbl/data/binflight")
    val inflight = fs(tbl).listStatus(new Path(s"$tbl/data/binflight"))
      .map(_.getPath.getName).find(_.endsWith(".parquet")).get
    val out = fs(tbl).create(new Path(s"$tbl/_manifests/v000002.manifest"), false)
    out.write(s"graft-manifest-v1\ndata/binflight/$inflight\t3\t"
      .getBytes("UTF-8"))
    out.close()
    val deleted = Snapshots.removeOrphans(spark, tbl, olderThanMs = -1000L)
    assert(deleted.nonEmpty && deleted.forall(_.contains("bdeadbeef")))
    assert(fs(tbl).exists(new Path(s"$tbl/data/binflight/$inflight")))
    // committed data untouched
    assert(Snapshots.read(spark, tbl).count() ===
      orders.filter(col("o_orderkey") <= 1000).count())
    // age guard: fresh debris survives a conservative horizon
    orders.limit(2).write.parquet(s"$tbl/data/byoung")
    assert(Snapshots.removeOrphans(spark, tbl, olderThanMs = 3600000L).isEmpty)
  }

  test("compactSmall rewrites only small files; the big file is carried") {
    val tbl = freshTable("cs")
    Snapshots.commit(orders.coalesce(1), tbl, statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.limit(200).repartition(8), tbl,
      statsCols = Seq("o_orderkey"))
    val before = Snapshots.manifest(spark, tbl, 2)
    val sizes = before.map(e =>
      fs(tbl).getFileStatus(new Path(s"$tbl/${e.path}")).getLen)
    val v = Snapshots.compactSmall(spark, tbl, minBytes = sizes.max)
    assert(v === 3)
    val after = Snapshots.manifest(spark, tbl, 3)
    assert(after.size < before.size)
    // the biggest file survives byte-identical, stats intact
    val bigPath = before(sizes.indexOf(sizes.max)).path
    assert(after.exists(e => e.path === bigPath &&
      e.stats.contains("o_orderkey")))
    assert(Snapshots.read(spark, tbl).count() === orders.count() + 200)
    assert(Snapshots.read(spark, tbl, Some(2)).count() === orders.count() + 200)
    // no-op when no file is under the threshold
    assert(Snapshots.compactSmall(spark, tbl, minBytes = 1L) === 3)
  }

  test("history lists committed versions with exact counts and props") {
    val tbl = freshTable("hist")
    Snapshots.commit(orders.limit(100), tbl, properties = Map("src" -> "a"))
    Snapshots.commit(orders.limit(50), tbl, properties = Map("src" -> "b"))
    val h = Snapshots.history(spark, tbl).orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(h.map(_.getLong(2)).toSeq === Seq(100L, 150L))
    assert(h(1).getString(3) === "src=b")
  }

  test("indexed string-range filter skips files by UTF-8 envelope and " +
      "loses no rows") {
    val tbl = freshTable("strskip")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Snapshots.commit(o.repartitionByRange(5, col("o_orderpriority")), tbl,
      strStatsCols = Seq("o_orderpriority"))
    val c = IndexedCount.of(spark, tbl,
      col("o_orderpriority").between("1-URGENT", "2-HIGH"))
    assert(c.skipped > 0, "priority-clustered files must skip")
    val expect = o.filter(col("o_orderpriority")
      .between("1-URGENT", "2-HIGH")).count()
    assert(c.rows === expect)
    // a string probe with no recorded string envelope behind it never
    // skips
    val c2 = IndexedCount.of(spark, tbl,
      col("o_orderkey").cast("string").between("a", "b"))
    assert(c2.skipped === 0)
    // envelopes survive incremental compaction (carried like statsCols)
    Snapshots.commit(o.limit(10), tbl)
    val sizes = Snapshots.manifest(spark, tbl, 2).map(e =>
      fs(tbl).getFileStatus(new Path(s"$tbl/${e.path}")).getLen)
    Snapshots.compactSmall(spark, tbl, minBytes = sizes.max)
    val after = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl))
    assert(after.exists(_.strStats.contains("o_orderpriority")))
  }

  test("commit collision retries to the next version") {
    val tbl = freshTable("coll")
    Snapshots.commit(orders.limit(20), tbl)
    // simulate a concurrent winner: pre-create a COMPLETE v2 manifest
    // listing v1's files, as a real racing committer would publish
    val m1 = Snapshots.manifest(spark, tbl, 1)
    val f = fs(tbl)
    val out = f.create(new Path(s"$tbl/_manifests/v000002.manifest"), false)
    out.write(("graft-manifest-v1\n" +
      m1.map(e => s"${e.path}\t${e.rows}\t").mkString("\n") +
      "\nend").getBytes("UTF-8"))
    out.close()
    val v = Snapshots.commit(orders.limit(30), tbl)
    assert(v === 3)
    assert(Snapshots.read(spark, tbl, Some(3)).count() === 50)
  }

  test("write-audit-publish: a failing audit publishes NOTHING at any version") {
    val tbl = freshTable("wap")
    val good = orders.filter(col("o_orderkey") <= 1000)
    assert(Snapshots.commitAudited(good, tbl,
      b => if (b.filter(col("o_totalprice") <= 0).count() > 0)
        Some("nonpositive totalprice") else None) === Right(1))
    // poison batch: audit must reject and leave the table untouched
    val bad = orders.filter(col("o_orderkey") > 1000)
      .withColumn("o_totalprice", -col("o_totalprice"))
    val res = Snapshots.commitAudited(bad, tbl,
      b => if (b.filter(col("o_totalprice") <= 0).count() > 0)
        Some("nonpositive totalprice") else None)
    assert(res === Left("nonpositive totalprice"))
    assert(Snapshots.latestVersion(spark, tbl) === 1)
    assert(Snapshots.read(spark, tbl).count() === good.count())
    // the rejected batch is invisible crash-shaped debris; removeOrphans
    // reclaims it once past the age horizon
    val removed = Snapshots.removeOrphans(spark, tbl, olderThanMs = 0L)
    assert(removed.nonEmpty)
    assert(Snapshots.read(spark, tbl).count() === good.count())
    // and a later good batch appends normally
    assert(Snapshots.commitAudited(orders.filter(col("o_orderkey") > 1000),
      tbl, _ => None) === Right(2))
    assert(Snapshots.read(spark, tbl).count() === orders.count())
  }

  test("write-audit-publish audits the STAGED batch, not table history") {
    val tbl = freshTable("wapdelta")
    Snapshots.commit(orders.filter(col("o_orderkey") <= 1000), tbl)
    var audited = -1L
    val batch = orders.filter(col("o_orderkey") > 1000)
    Snapshots.commitAudited(batch, tbl, b => { audited = b.count(); None })
    assert(audited === batch.count()) // delta-sized, not table-sized
  }

  /** Key-range-partitioned fixture: three commits with tight per-file
    * o_orderkey envelopes, so racing merges on disjoint ranges provably
    * touch disjoint file sets.
    */
  private def threeRangeCommits(tag: String): String = {
    val tbl = freshTable(tag)
    Snapshots.commit(orders.filter(col("o_orderkey") <= 500), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey").between(501, 1000)),
      tbl, statsCols = Seq("o_orderkey"))
    Snapshots.commit(orders.filter(col("o_orderkey") > 1000), tbl,
      statsCols = Seq("o_orderkey"))
    tbl
  }

  private val noKeys = spark.range(0).selectExpr("id AS o_orderkey")

  test("racing merges on disjoint key ranges BOTH land via auto-rebase") {
    val tbl = threeRangeCommits("rebase")
    val lowUpd = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val highUpd = orders.filter(col("o_orderkey").between(1100, 1200))
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    // the racer commits INSIDE the low merge's plan→commit window — the
    // deterministic version of two pipelines merging concurrently
    var racer: Snapshots.MergeResult = null
    val r = Snapshots.merge(spark, tbl, lowUpd, noKeys, "o_orderkey",
      planHook = () => {
        racer = Snapshots.merge(spark, tbl, highUpd, noKeys, "o_orderkey")
      })
    assert(racer.version === 4 && r.version === 5)
    // no data loss, no duplicates: both updates landed, count unchanged
    val m = Snapshots.read(spark, tbl)
    assert(m.count() === orders.count())
    assert(m.select(col("o_orderkey")).distinct().count() === orders.count())
    val origLow = orders.filter(col("o_orderkey") === 100)
      .head().getAs[Double]("o_totalprice")
    assert(m.filter(col("o_orderkey") === 100)
      .head().getAs[Double]("o_totalprice") === origLow * 2)
    val origHigh = orders.filter(col("o_orderkey") === 1100)
      .head().getAs[Double]("o_totalprice")
    assert(m.filter(col("o_orderkey") === 1100)
      .head().getAs[Double]("o_totalprice") === origHigh * 3)
    // the rebase carried the racer's rewritten files, not the stale plan
    assert(r.filesCarried > 0)
  }

  test("racing merge that rewrote an overlapping FILE aborts loudly") {
    val tbl = threeRangeCommits("conflict_file")
    val mine = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val theirs = orders.filter(col("o_orderkey") === 50)
      .withColumn("o_totalprice", lit(0.0))
    val e = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, tbl, mine, noKeys, "o_orderkey",
        planHook = () => {
          Snapshots.merge(spark, tbl, theirs, noKeys, "o_orderkey")
        })
    }
    assert(e.getMessage.contains("retry the merge"), e.getMessage)
    // the racer's merge itself landed and was not clobbered
    assert(Snapshots.read(spark, tbl)
      .filter(col("o_orderkey") === 50)
      .head().getAs[Double]("o_totalprice") === 0.0)
  }

  test("racing commit that EVOLVED the schema aborts the rebase loudly") {
    val tbl = threeRangeCommits("conflict_schema")
    val mine = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    // racer appends disjoint HIGH keys but with an added column — the
    // file/key tests alone would rebase and republish the stale schema,
    // silently hiding o_flag from every read of the merged version
    val evolved = orders.filter(col("o_orderkey") > 1400)
      .withColumn("o_orderkey", col("o_orderkey") + 100000L)
      .withColumn("o_flag", lit("new"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, tbl, mine, noKeys, "o_orderkey",
        planHook = () => { Snapshots.commit(evolved, tbl,
          statsCols = Seq("o_orderkey")) })
    }
    assert(e.getMessage.contains("changed the schema"), e.getMessage)
    // the racer's evolved column is intact at latest
    assert(Snapshots.read(spark, tbl).columns.contains("o_flag"))
  }

  test("racing merge that ADDED an overlapping key aborts loudly") {
    val tbl = threeRangeCommits("conflict_key")
    // both merges INSERT the same brand-new key: neither touches an
    // existing file, so the file test passes — the added-file key
    // envelope test must catch it
    val insA = orders.filter(col("o_orderkey") === 10)
      .withColumn("o_orderkey", lit(9000050L))
    val insB = orders.filter(col("o_orderkey") === 20)
      .withColumn("o_orderkey", lit(9000050L))
    val e = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, tbl, insA, noKeys, "o_orderkey",
        planHook = () => {
          Snapshots.merge(spark, tbl, insB, noKeys, "o_orderkey")
        })
    }
    assert(e.getMessage.contains("may hold this merge's keys"), e.getMessage)
    // exactly one row for the contested key (the racer's)
    assert(Snapshots.read(spark, tbl)
      .filter(col("o_orderkey") === 9000050L).count() === 1)
  }

  test("readAsOf resolves a wall-clock instant to the right version") {
    val tbl = freshTable("asof")
    val v1Rows = orders.filter(col("o_orderkey") <= 700)
    Snapshots.commit(v1Rows, tbl)
    Snapshots.commit(orders.filter(col("o_orderkey") > 700), tbl)
    val ts1 = Snapshots.properties(spark, tbl, 1)(Snapshots.CommitTsProp).toLong
    val ts2 = Snapshots.properties(spark, tbl, 2)(Snapshots.CommitTsProp).toLong
    assert(ts1 < ts2, "two spark-write commits cannot share a millisecond")
    // boundary is inclusive: exactly-at-commit-time reads that version
    assert(Snapshots.readAsOf(spark, tbl, ts1).count() === v1Rows.count())
    assert(Snapshots.readAsOf(spark, tbl, ts2).count() === orders.count())
    assert(Snapshots.readAsOf(spark, tbl,
      System.currentTimeMillis() + 60000).count() === orders.count())
    val e = intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, tbl, ts1 - 1000000)
    }
    assert(e.getMessage.contains("no version"), e.getMessage)
    // history elides the volatile stamp so its output stays replayable
    assert(!Snapshots.history(spark, tbl).collect()
      .map(_.getString(3)).exists(_.contains("graft.commit.ts")))
    // tombstoned versions time-travel too (readAsOf goes through the
    // MOR reader; the strict read() would refuse here)
    Snapshots.deleteWhere(spark, tbl,
      spark.range(1, 101).select(col("id").as("o_orderkey")), "o_orderkey")
    val ts3 = Snapshots.properties(spark, tbl,
      Snapshots.latestVersion(spark, tbl))(Snapshots.CommitTsProp).toLong
    assert(Snapshots.readAsOf(spark, tbl, ts3).count() ===
      orders.filter(!col("o_orderkey").between(1, 100)).count())
    assert(Snapshots.readAsOf(spark, tbl, ts2).count() === orders.count(),
      "pre-delete instants still read whole")
  }

  test("statsAgg answers count/min/max from metadata, zero Spark jobs") {
    val tbl = freshTable("stats")
    val o = orders.select(col("o_orderkey"), col("o_totalprice"))
    Snapshots.commit(o.filter(col("o_orderkey") < 700), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.commit(o.filter(col("o_orderkey") >= 700), tbl,
      statsCols = Seq("o_orderkey"))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val (n, env) = try {
      val r = Snapshots.statsAgg(spark, tbl, "o_orderkey")
      Thread.sleep(1000)
      assert(jobs === 0, "statsAgg must not launch a job")
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    val truth = o.agg(count(lit(1)), min(col("o_orderkey").cast("long")),
      max(col("o_orderkey").cast("long"))).head()
    assert(n === truth.getLong(0))
    assert(env === Some((truth.getLong(1), truth.getLong(2))))
    // refuses a version with tombstones, and a stats-less commit
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 5).select(col("id").as("o_orderkey")), "o_orderkey")
    intercept[IllegalArgumentException] {
      Snapshots.statsAgg(spark, tbl, "o_orderkey")
    }
    Snapshots.compactMor(spark, tbl)
    assert(Snapshots.statsAgg(spark, tbl, "o_orderkey")._1 ===
      truth.getLong(0) - o.filter(col("o_orderkey") < 5).count())
    Snapshots.commit(o.limit(7), tbl) // no statsCols
    intercept[IllegalArgumentException] {
      Snapshots.statsAgg(spark, tbl, "o_orderkey")
    }
  }

  test("statsAggStr answers string count/min/max from metadata, zero jobs") {
    val tbl = freshTable("strstats")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Snapshots.commit(o.filter(col("o_orderkey") < 700), tbl,
      strStatsCols = Seq("o_orderpriority"))
    Snapshots.commit(o.filter(col("o_orderkey") >= 700), tbl,
      strStatsCols = Seq("o_orderpriority"))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val (n, env) = try {
      val r = Snapshots.statsAggStr(spark, tbl, "o_orderpriority")
      Thread.sleep(1000)
      assert(jobs === 0, "statsAggStr must not launch a job")
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    val truth = o.agg(count(lit(1)), min(col("o_orderpriority")),
      max(col("o_orderpriority"))).head()
    assert(n === truth.getLong(0))
    assert(env === Some((truth.getString(1), truth.getString(2))))
    // same refusal discipline as the integral path
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 5).select(col("id").as("o_orderkey")), "o_orderkey")
    intercept[IllegalArgumentException] {
      Snapshots.statsAggStr(spark, tbl, "o_orderpriority")
    }
    Snapshots.compactMor(spark, tbl)
    assert(Snapshots.statsAggStr(spark, tbl, "o_orderpriority")._2 ===
      Some((truth.getString(1), truth.getString(2))))
    Snapshots.commit(o.limit(7), tbl) // no strStatsCols
    intercept[IllegalArgumentException] {
      Snapshots.statsAggStr(spark, tbl, "o_orderpriority")
    }
  }

  test("manifest metadata reads are props-only and stay exact: values " +
      "with '=' and multi-byte UTF-8 round-trip, a terminator-less " +
      "manifest reads as absent, and an empty-props manifest parses") {
    import spark.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("graft_props")
      .toString + "/t"
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "v"), tbl)
    val v2 = Snapshots.commit(Seq((2L, 20L)).toDF("k", "v"), tbl,
      properties = Map("note" -> "a=b=c é", "empty.ish" -> "x"))
    assert(Snapshots.properties(spark, tbl, v2)("note") === "a=b=c é")
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
    assert(Snapshots.latestVersion(spark, tbl) === 2)
    // crash-shaped manifest at the next slot: header + props but NO
    // terminator — every metadata read must treat it as never written,
    // and the head must stay below it
    val p = new org.apache.hadoop.fs.Path(
      s"$tbl/_manifests/v000003.manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write("graft-manifest-v1\n#k=v\ndata/bogus.parquet\t5\t"
      .getBytes("UTF-8"))
    out.close()
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2))
    assert(Snapshots.latestVersion(spark, tbl) === 2)
    intercept[RuntimeException] { Snapshots.properties(spark, tbl, 3) }
    // ...and the slot stays occupied: the next commit skips past it
    val v4 = Snapshots.commit(Seq((3L, 30L)).toDF("k", "v"), tbl)
    assert(v4 === 4)
    assert(Snapshots.readMor(spark, tbl).count() === 3)
  }
}
