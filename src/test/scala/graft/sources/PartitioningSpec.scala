package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hidden partitioning with evolution ([[Partitioning]]): declared
  * transform specs, automatic layout + skip evidence, metadata-only
  * partition listings, dynamic partition overwrite, spec eras.
  */
class PartitioningSpec extends SparkSpec {

  // the driver's testdata ships o_orderdate as TIMESTAMP in some
  // generations — normalize to DATE so literal comparisons and Row
  // accessors are stable
  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate").cast("date").as("o_orderdate"))

  private def rows(df: DataFrame): Set[(Long, Double, java.sql.Date)] =
    df.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDate(2))).toSet

  test("commitPartitioned lays files out one-partition-tuple-per-file; " +
      "content round-trips exactly; partitions() answers from metadata") {
    val tbl = freshTable("basic")
    import spark.implicits._
    Snapshots.commit(orders.limit(0), tbl) // schema-bearing empty seed
    Partitioning.setSpec(spark, tbl,
      Seq(Partitioning.Year("o_orderdate")))
    Partitioning.commitPartitioned(orders, tbl)
    assert(rows(Snapshots.read(spark, tbl)) === rows(orders))
    // every data file of the spec'd era carries exactly one tuple
    val es = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl)).filter(_.rows > 0)
    assert(es.forall(e => Partitioning.tupleOf(e.path).exists(_.size == 1)))
    // metadata-only listing: one row per year, counts exact
    val parts = Partitioning.partitions(spark, tbl)
      .filter(col("spec") =!= "unpartitioned")
      .select(col("partition"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val truth = orders.groupBy((year(col("o_orderdate")) - 1970)
        .cast("long").as("y"))
      .count().collect().map(r => (r.getLong(0).toString, r.getLong(1)))
      .toMap
    assert(parts === truth)
  }

  test("plain WHERE on the raw column data-skips through the file " +
      "index — no partition-aware predicate needed") {
    val tbl = freshTable("skip")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Year("o_orderdate")))
    Partitioning.commitPartitioned(orders, tbl)
    val (df, idx) = Snapshots.readIndexed(spark, tbl)
    val got = df.filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") <= lit("1997-12-31"))
      .agg(count(lit(1))).head().getLong(0)
    val want = orders.filter(col("o_orderdate") >= lit("1997-01-01") &&
      col("o_orderdate") <= lit("1997-12-31")).count()
    assert(got === want)
    val (kept, total) = idx.lastPrune
    assert(kept < total, s"expected a file cut, kept $kept of $total")
  }

  test("bucket transform records blooms: equality on the raw column " +
      "prunes sibling buckets") {
    val tbl = freshTable("bucket")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl,
      Seq(Partitioning.Bucket(8, "o_orderkey")))
    Partitioning.commitPartitioned(orders, tbl)
    val key = orders.select(max("o_orderkey")).head().getLong(0)
    val (df, idx) = Snapshots.readIndexed(spark, tbl)
    val got = df.filter(col("o_orderkey") === key).count()
    assert(got === orders.filter(col("o_orderkey") === key).count())
    val (kept, total) = idx.lastPrune
    assert(kept < total, s"expected a bloom cut, kept $kept of $total")
  }

  test("overwritePartitions replaces exactly the touched tuples in one " +
      "atomic commit; untouched files are carried byte-identical") {
    val tbl = freshTable("dyn")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Year("o_orderdate")))
    Partitioning.commitPartitioned(orders, tbl)
    val before = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl))
    // recompute 1996 with zeroed prices and swap it in
    val batch = orders.filter(year(col("o_orderdate")) === 1996)
      .withColumn("o_totalprice", lit(0.0))
    Partitioning.overwritePartitions(batch, tbl)
    val expect = orders.withColumn("o_totalprice",
      when(year(col("o_orderdate")) === 1996, 0.0)
        .otherwise(col("o_totalprice")))
    assert(rows(Snapshots.read(spark, tbl)) === rows(expect))
    // untouched years: same manifest entries, carried not rewritten
    val after = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl))
    val untouchedBefore = before.filter(e =>
      Partitioning.tupleOf(e.path).exists(_.head != 26L)).map(_.path).toSet
    assert(untouchedBefore.subsetOf(after.map(_.path).toSet))
    assert(!after.map(_.path).toSet
      .exists(p => before.map(_.path).toSet.contains(p) &&
        Partitioning.tupleOf(p).exists(_.head == 26L)))
    // idempotent re-run: same content
    Partitioning.overwritePartitions(batch, tbl)
    assert(rows(Snapshots.read(spark, tbl)) === rows(expect))
  }

  test("COMPOSITE spec (month × bucket): 2-level tuples, metadata " +
      "listing matches the data, both transforms prune one query, " +
      "overwrite replaces at CELL granularity") {
    val tbl = freshTable("comp")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"))
    def keyset(df: DataFrame): Set[(Long, Double)] =
      df.select(col("o_orderkey").cast("long"), col("o_totalprice"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    Snapshots.commit(o.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(
      Partitioning.Month("o_orderdate"),
      Partitioning.Bucket(8, "o_custkey")))
    Partitioning.commitPartitioned(o, tbl)
    assert(keyset(Snapshots.read(spark, tbl)) === keyset(o))
    // every data file carries exactly one 2-LEVEL tuple in its name
    val es = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl)).filter(_.rows > 0)
    assert(es.forall(e => Partitioning.tupleOf(e.path).exists(_.size == 2)))
    // metadata-only listing = exact distinct (month, bucket) cells
    val mOf = ((year(col("o_orderdate")) - 1970) * 12
      + month(col("o_orderdate")) - 1).cast("long")
    val bOf = pmod(xxhash64(col("o_custkey")), lit(8L))
    val nCells = Partitioning.partitions(spark, tbl)
      .filter(col("spec") =!= "unpartitioned").count()
    assert(nCells === o.select(mOf.as("m"), bOf.as("b")).distinct().count())
    // ONE query filtered on BOTH raw columns: the month envelope cuts
    // the date axis, the bucket bloom cuts the custkey axis — together
    // they keep strictly fewer files than either alone
    val ck = o.select(max(col("o_custkey")).cast("long")).head().getLong(0)
    val cond = col("o_orderdate") >= lit("1997-01-01") &&
      col("o_orderdate") <= lit("1997-03-31") && col("o_custkey") === ck
    val (df, idx) = Snapshots.readIndexed(spark, tbl)
    assert(df.filter(cond).count() === o.filter(cond).count())
    val (kept, total) = idx.lastPrune
    df.filter(col("o_orderdate") >= lit("1997-01-01") &&
      col("o_orderdate") <= lit("1997-03-31")).count()
    val monthOnly = idx.lastPrune._1
    df.filter(col("o_custkey") === ck).count()
    val bucketOnly = idx.lastPrune._1
    assert(kept < monthOnly && kept < bucketOnly && kept < total,
      s"composite cut $kept not finer than month-only $monthOnly / " +
        s"bucket-only $bucketOnly / total $total")
    // CELL-granular dynamic overwrite: the batch recomputes 1996 rows of
    // ONE bucket; exactly those (month, bucket) cells are replaced —
    // including their other custkeys (the batch is the cells' full new
    // content) — and all sibling-bucket files in the same months carry
    val batch = o.filter(year(col("o_orderdate")) === 1996 &&
        col("o_custkey") === ck)
      .withColumn("o_totalprice", lit(0.0))
    val before = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl)).filter(_.rows > 0)
    Partitioning.overwritePartitions(batch, tbl)
    val touched = batch.select(mOf.as("m"), bOf.as("b")).distinct()
    val expect = o.join(touched,
        mOf === col("m") && bOf === col("b"), "left_anti")
      .unionByName(batch.drop("m", "b"))
    assert(keyset(Snapshots.read(spark, tbl)) === keyset(expect))
    val touchedSet = touched.collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val after = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl)).map(_.path).toSet
    before.foreach { e =>
      val t = Partitioning.tupleOf(e.path).get
      if (touchedSet.contains(t)) assert(!after.contains(e.path),
        s"touched cell $t file ${e.path} not replaced")
      else assert(after.contains(e.path),
        s"untouched cell $t file ${e.path} not carried")
    }
  }

  test("COMPOSITE spec with THREE transforms (year × truncate × bucket): " +
      "each axis prunes independently and the conjunction cuts finest") {
    val tbl = freshTable("comp3")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"))
    Snapshots.commit(o.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(
      Partitioning.Year("o_orderdate"),
      Partitioning.Truncate(50, "o_custkey"),
      Partitioning.Bucket(4, "o_orderkey")))
    Partitioning.commitPartitioned(o, tbl)
    // content roundtrip + every file carries one 3-LEVEL tuple
    def keyset(df: DataFrame): Set[(Long, Double)] =
      df.select(col("o_orderkey").cast("long"), col("o_totalprice"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(keyset(Snapshots.read(spark, tbl)) === keyset(o))
    val es = Snapshots.manifest(spark, tbl,
      Snapshots.latestVersion(spark, tbl)).filter(_.rows > 0)
    assert(es.forall(e => Partitioning.tupleOf(e.path).exists(_.size == 3)))
    // per-axis evidence, each asserted INDEPENDENTLY: year rides the
    // date envelope, truncate is monotonic so the custkey envelope
    // survives it, bucket records blooms for raw-key equality
    val (df, idx) = Snapshots.readIndexed(spark, tbl)
    val ok = o.select(max(col("o_orderkey")).cast("long")).head().getLong(0)
    val yearCond = col("o_orderdate") >= lit("1997-01-01") &&
      col("o_orderdate") <= lit("1997-12-31")
    val truncCond = col("o_custkey") >= 0L && col("o_custkey") <= 49L
    val bucketCond = col("o_orderkey") === ok
    val total = es.size
    def prunedCount(cond: org.apache.spark.sql.Column): Int = {
      assert(df.filter(cond).count() === o.filter(cond).count())
      idx.lastPrune._1
    }
    val yearKept = prunedCount(yearCond)
    val truncKept = prunedCount(truncCond)
    val bucketKept = prunedCount(bucketCond)
    assert(yearKept < total, s"year axis cut nothing: $yearKept/$total")
    assert(truncKept < total, s"truncate axis cut nothing: $truncKept/$total")
    assert(bucketKept < total, s"bucket axis cut nothing: $bucketKept/$total")
    val allKept = prunedCount(yearCond && truncCond && bucketCond)
    assert(allKept <= yearKept && allKept <= truncKept &&
      allKept <= bucketKept && allKept < total,
      s"3-axis cut $allKept not finest of $yearKept/$truncKept/" +
        s"$bucketKept/$total")
  }

  test("partition EVOLUTION: old files keep their era's spec; " +
      "overwrites refuse unprovable old-era files; rewriteLayout " +
      "migrates; time travel still reads every version") {
    val tbl = freshTable("evolve")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Year("o_orderdate")))
    val cut = "1998-01-01" // testdata dates span 1995..2001
    Partitioning.commitPartitioned(
      orders.filter(col("o_orderdate") < lit(cut)), tbl)
    Partitioning.setSpec(spark, tbl,
      Seq(Partitioning.Month("o_orderdate")))
    Partitioning.commitPartitioned(
      orders.filter(col("o_orderdate") >= lit(cut)), tbl)
    // per-era listing: both specs present
    val specs = Partitioning.partitions(spark, tbl)
      .select("spec").distinct().collect().map(_.getString(0)).toSet
    assert(specs === Set("year(o_orderdate)", "month(o_orderdate)"))
    assert(rows(Snapshots.read(spark, tbl)) === rows(orders))
    // dynamic overwrite under the NEW spec refuses: year-era files
    // cannot prove tuple membership under month granularity
    val e = intercept[IllegalArgumentException] {
      Partitioning.overwritePartitions(
        orders.filter(col("o_orderdate") >= lit(cut)).limit(10), tbl)
    }
    assert(e.getMessage.contains("rewriteLayout"))
    // migrate everything to the current spec, then the overwrite lands
    Partitioning.rewriteLayout(spark, tbl)
    assert(Partitioning.partitions(spark, tbl)
      .select("spec").distinct().collect().map(_.getString(0)).toSet ===
      Set("month(o_orderdate)"))
    assert(rows(Snapshots.read(spark, tbl)) === rows(orders))
    val batch = orders.filter(col("o_orderdate").between("1996-03-01",
      "1996-03-31")).withColumn("o_totalprice", lit(1.0))
    Partitioning.overwritePartitions(batch, tbl)
    val expect = orders.withColumn("o_totalprice",
      when(col("o_orderdate").between("1996-03-01", "1996-03-31"), 1.0)
        .otherwise(col("o_totalprice")))
    assert(rows(Snapshots.read(spark, tbl)) === rows(expect))
  }

  test("guards: plain commits into a spec'd era are refused by " +
      "partitions(); null transform sources refuse; rename/drop of a " +
      "spec column refuses; spec survives inheritance") {
    import spark.implicits._
    val tbl = freshTable("guards")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Year("o_orderdate")))
    Partitioning.commitPartitioned(orders.filter(col("o_orderkey") <= 100),
      tbl)
    // a plain commit still lands (the protocol allows it)...
    Snapshots.commit(orders.filter(col("o_orderkey") > 100 &&
      col("o_orderkey") <= 120), tbl)
    // ...but partition listings refuse the layout-less file loudly
    val e1 = intercept[IllegalArgumentException] {
      Partitioning.partitions(spark, tbl).collect()
    }
    assert(e1.getMessage.contains("commitPartitioned"))
    // rewriteLayout repairs
    Partitioning.rewriteLayout(spark, tbl)
    assert(Partitioning.partitions(spark, tbl).count() > 0)
    // null transform source
    val e2 = intercept[IllegalArgumentException] {
      Partitioning.commitPartitioned(
        Seq((1L, 1.0)).toDF("o_orderkey", "o_totalprice")
          .withColumn("o_orderdate", lit(null).cast("date")), tbl)
    }
    assert(e2.getMessage.contains("NULL"))
    // rename/drop of the transform column refuses
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, tbl, "o_orderdate", "od")
    }
    assert(e3.getMessage.contains("partition spec"))
    // the spec prop is inherited across unrelated commits
    assert(Partitioning.currentSpec(spark, tbl).map(_.render) ===
      Seq("year(o_orderdate)"))
  }

  test("streaming ingest through format(\"graft\") keeps a declared " +
      "partition spec: every micro-batch lands one-tuple-per-file and " +
      "partitions() stays answerable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tbl = freshTable("stream")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Year("o_orderdate")))
    val ckpt = tempDir("pt_ckpt")
    val in = MemoryStream[(Long, Double, String)]
    val q = in.toDF().toDF("o_orderkey", "o_totalprice", "d")
      .withColumn("o_orderdate", col("d").cast("date")).drop("d")
      .writeStream.format("graft").option("path", tbl)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((1L, 1.0, "1996-02-10"), (2L, 2.0, "1997-03-11"))
      q.processAllAvailable()
      in.addData((3L, 3.0, "1996-08-01"))
      q.processAllAvailable()
    } finally q.stop()
    val parts = Partitioning.partitions(spark, tbl)
      .filter(col("spec") =!= "unpartitioned")
      .select("partition", "n_rows").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(parts === Map("26" -> 2L, "27" -> 1L)) // years since 1970
    assert(Snapshots.read(spark, tbl).count() === 3)
    // dynamic overwrite works directly on the streamed layout
    import spark.implicits._
    Partitioning.overwritePartitions(
      Seq((9L, 9.0, "1997-06-06")).toDF("o_orderkey", "o_totalprice", "d")
        .withColumn("o_orderdate", col("d").cast("date")).drop("d"), tbl)
    assert(Snapshots.read(spark, tbl)
      .filter(col("o_orderkey") === 2L).count() === 0)
    assert(Snapshots.read(spark, tbl).count() === 3)
  }

  test("overwritePartitions enforces UNIQUE keys against the CARRIED " +
      "partitions while allowing idempotent re-loads of the replaced one") {
    import spark.implicits._
    val tbl = freshTable("uq")
    Snapshots.commit(Seq.empty[(Long, Long)].toDF("k", "bucketv")
      .withColumn("g", (col("k") % 2).cast("long")), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Identity("g")))
    Partitioning.commitPartitioned(
      (0L until 10L).map(k => (k, k * 10, k % 2)).toDF("k", "bucketv", "g"),
      tbl, statsCols = Seq("k"))
    Snapshots.addUnique(spark, tbl, "k")
    // re-load of partition g=0 with the SAME keys: legitimate (those
    // keys live in the replaced files)
    Partitioning.overwritePartitions(
      (0L until 10L by 2).map(k => (k, k * 100, 0L)).toDF("k", "bucketv", "g"),
      tbl, statsCols = Seq("k"))
    // but a g=0 batch carrying a key that lives in CARRIED g=1 refuses
    val e = intercept[IllegalArgumentException] {
      Partitioning.overwritePartitions(
        Seq((1L, 999L, 0L)).toDF("k", "bucketv", "g"), tbl,
        statsCols = Seq("k"))
    }
    assert(e.getMessage.contains("UNIQUE"))
  }

  test("commitPartitioned on a UNIQUE-keyed table pins the collision-" +
      "checked parent (a racing commit aborts loudly) and records key " +
      "envelopes unasked") {
    val tbl = freshTable("uqpin")
    Snapshots.commit(orders.limit(0), tbl)
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Year("o_orderdate")))
    Partitioning.commitPartitioned(
      orders.filter(col("o_orderkey") < 500), tbl)
    Snapshots.addUnique(spark, tbl, "o_orderkey")
    // a post-constraint partitioned append records the key envelope even
    // though the caller asked for no statsCols — the next collision
    // check must be able to prune this batch's files
    val vBefore = Snapshots.latestVersion(spark, tbl)
    val prior = Snapshots.manifest(spark, tbl, vBefore).map(_.path).toSet
    Partitioning.commitPartitioned(
      orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 600),
      tbl)
    val fresh = Snapshots.manifest(spark, tbl,
        Snapshots.latestVersion(spark, tbl))
      .filterNot(e => prior(e.path)).filter(_.rows > 0)
    assert(fresh.nonEmpty && fresh.forall(_.stats.contains("o_orderkey")))
    // a commit landing between the collision check and the publish must
    // abort THIS commit — silently rebasing would land a batch that was
    // never collision-checked against the racer's keys
    val e = intercept[IllegalArgumentException] {
      Partitioning.commitPartitioned(
        orders.filter(col("o_orderkey") >= 600 && col("o_orderkey") < 700),
        tbl,
        planHook = () => {
          Partitioning.commitPartitioned(
            orders.filter(col("o_orderkey") >= 700 &&
              col("o_orderkey") < 750), tbl)
          ()
        })
    }
    assert(e.getMessage.contains("concurrent commit"))
    // only the racer's keys landed; the aborted batch left no rows
    val keys = Snapshots.read(spark, tbl).agg(max(col("o_orderkey")))
      .head.getLong(0)
    assert(keys < 750)
    assert(Snapshots.read(spark, tbl)
      .filter(col("o_orderkey") >= 600 && col("o_orderkey") < 700)
      .count() === 0)
  }
}
