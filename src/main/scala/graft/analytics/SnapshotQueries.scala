package graft.analytics

import graft.Tables._
import graft.sources.{Branches, Snapshots}
import QueryDsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-table (time travel / snapshot) catalog entries over
  * [[graft.sources.Snapshots]]. Each query builds its own table under the
  * JVM tmpdir from the driver's orders parquet — MEMOIZED per (JVM,
  * dataset, tag) via [[Fixtures.memo]]: the construction (commits,
  * mutations, maintenance) runs once, later invocations reuse the built
  * table, and FixtureMemoSpec pins second-invocation hash-identity —
  * and the oracle replays the version contents as predicates over the
  * SOURCE table, which is exactly the property a snapshot layer must
  * keep: a version reads as the data that was committed into it, no
  * matter what later commits, compactions, or layout changes happened.
  */
object SnapshotQueries {

  // mid-range for every testdata generation seen so far (dates have
  // shipped as 1992..1998 and 1995..2001): both sides of the split stay
  // non-empty, so version-1 snapshots actually hold data
  private val cutoff = "1996-07-01"

  private def tablePath(s: SparkSession, d: String, tag: String): String =
    Fixtures.tablePath(s, d, tag)

  private def freshTable(s: SparkSession, d: String, tag: String): String =
    Fixtures.freshTable(s, d, tag)

  /** See [[Fixtures.memo]]. */
  private def memoFixture(s: SparkSession, d: String, tag: String)(
      build: String => Unit): String = Fixtures.memo(s, d, tag)(build)

  /** (Re-)bind a session-global catalog NAME to this dataset's table
    * path. The SQL-DML entries register their names inside the memoized
    * builder (the build's statements need them), but the memo is keyed
    * per (JVM, dataset, tag) while the NAME is session-global and only
    * rebound on a memo MISS — a JVM interleaving two datasets (d1
    * build, d2 build, d1 memo-hit) would silently read d2's table for
    * d1. Re-running the metadata-only DROP/CREATE after every memo
    * return pins the name to the caller's dataset.
    */
  private def bindName(q: SparkSession, name: String, tbl: String): Unit = {
    q.sql(s"DROP TABLE IF EXISTS $name")
    q.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$tbl')")
  }

  private def src(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate"))

  /** v1 = pre-cutoff orders, v2 = append the rest — MEMOIZED per
    * (JVM, dataset, tag): every caller only reads the two versions.
    */
  private def buildTwoVersions(s: SparkSession, d: String, tag: String)
      : String = memoFixture(s, d, tag) { tbl =>
    val o = src(s, d)
    Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl,
      statsCols = Seq("o_orderkey"))
    Snapshots.commit(o.filter(col("o_orderdate") >= lit(cutoff)), tbl,
      statsCols = Seq("o_orderkey"))
  }

  private def agg(df: DataFrame, version: Int): DataFrame =
    df.agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      .select(lit(version).as("version"), col("n_orders"), col("total"))

  /** X48: time travel — after the v2 append, v1 must still read as
    * exactly the pre-cutoff snapshot (old manifests + immutable files),
    * while the latest version reads as the full table.
    */
  val timeTravel = Q("q_time_travel",
    (s, d) => {
      val tbl = buildTwoVersions(s, d, "tt")
      agg(Snapshots.read(s, tbl, Some(1)), 1)
        .unionByName(agg(Snapshots.read(s, tbl), 2))
        .orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT 2, count(*), ${dsumSql("o_totalprice")}
         FROM orders
         ORDER BY version"""))

  /** X48: snapshot diff — the rows added v1→v2, read from ONLY the delta
    * files (scan cost proportional to the change, not the table; the
    * subset check in [[Snapshots.diffAdded]] guards the append-only
    * precondition). Oracle = the appended predicate.
    */
  val snapshotDiff = Q("q_snapshot_diff",
    (s, d) => {
      val tbl = buildTwoVersions(s, d, "diff")
      Snapshots.diffAdded(s, tbl, from = 1, to = 2)
        .agg(count(lit(1)).as("n_added"),
          dsum(col("o_totalprice")).as("total_added"))
    },
    Some(s"""SELECT count(*) AS n_added,
         ${dsumSql("o_totalprice")} AS total_added
         FROM orders WHERE o_orderdate >= DATE '$cutoff'"""))

  /** X86: zero-copy clone ([[Snapshots.cloneTable]]) — the clone's v1 is
    * one manifest write pointing at the source's files (no data copied;
    * CloneSpec pins the no-data-dir property), then a MERGE on the clone
    * (price override below key 100, delete keys 100–119) rewrites only
    * borrowed files into the clone's own root. Reading BOTH tables after
    * proves the fork: the clone shows the merge, the source is
    * bit-identical to the original — which is exactly what the oracle
    * replays as predicates over the one shared orders table.
    */
  val cloneQ = Q("q_clone",
    (s, d) => {
      val dstTbl = memoFixture(s, d, "cldst") { dstTbl =>
        val srcTbl = freshTable(s, d, "clsrc")
        val o = src(s, d)
        Snapshots.commit(o, srcTbl, statsCols = Seq("o_orderkey"))
        Snapshots.cloneTable(s, srcTbl, dstTbl)
        val upd = o.filter(col("o_orderkey") < 100)
          .withColumn("o_totalprice", lit(0.0))
        val del = s.range(100, 120).select(col("id").as("o_orderkey"))
        Snapshots.merge(s, dstTbl, upd, del, "o_orderkey")
      }
      val srcTbl = tablePath(s, d, "clsrc")
      def side(tbl: String, name: String): DataFrame =
        Snapshots.read(s, tbl)
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"))
          .select(lit(name).as("side"), col("n_orders"), col("total"))
      side(dstTbl, "clone").unionByName(side(srcTbl, "source"))
        .orderBy(col("side"))
    },
    Some(s"""SELECT 'clone' AS side, count(*) AS n_orders,
         ${dsumSql("CASE WHEN o_orderkey < 100 THEN 0.0 ELSE o_totalprice END")} AS total
         FROM orders WHERE o_orderkey NOT BETWEEN 100 AND 119
         UNION ALL
         SELECT 'source', count(*), ${dsumSql("o_totalprice")}
         FROM orders
         ORDER BY side"""))

  /** X93: timestamp time travel ([[Snapshots.readAsOf]]) — every commit
    * stamps its wall-clock time into the manifest, and a query "as of
    * instant T" resolves to the newest version committed at or before T
    * from metadata alone. Reading as-of v1's OWN stamp (inclusive
    * boundary) must see exactly the v1 snapshot no matter what was
    * committed after — which the pre-cutoff oracle replays.
    */
  val timeTravelTs = Q("q_time_travel_ts",
    (s, d) => {
      val tbl = buildTwoVersions(s, d, "ttts")
      val ts1 = Snapshots.properties(s, tbl, 1)(Snapshots.CommitTsProp).toLong
      agg(Snapshots.readAsOf(s, tbl, ts1), 1)
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderdate < DATE '$cutoff'"""))

  /** X92: query result cache ([[graft.sources.ResultCache]]) — the
    * dashboard aggregate is computed once, published under a key of
    * (canonicalized plan, scan paths, schema, table version), and the
    * SECOND run is served from the stored parquet: the returned frame IS
    * the cache read, so the oracle hash validates the cached bytes, not
    * just the computation. Any new commit to the table changes the key
    * (ResultCacheSpec pins hit/invalidation/collision/prune).
    */
  val resultCacheQ = Q("q_result_cache",
    (s, d) => {
      val tbl = buildTwoVersions(s, d, "rc")
      val cache = freshTable(s, d, "rcc")
      def q = Snapshots.read(s, tbl)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
      graft.sources.ResultCache.cached(q, cache, Seq(tbl)) // miss: publish
      graft.sources.ResultCache.cached(q, cache, Seq(tbl)) // hit: serve
        .orderBy(col("order_year"))
    },
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders GROUP BY 1 ORDER BY 1"""))

  /** X90b: atomic merge-on-read upsert ([[Snapshots.upsertMor]]) — the
    * batch's tombstone and data share one manifest AND one sequence
    * number, so older copies of keys 1–10 vanish, the batch's own rows
    * survive, and no reader can ever observe a deleted-but-not-
    * reinserted state. O(batch) cost: zero data files rewritten. The
    * oracle replays replace-keys-1-to-10 as a CASE over orders.
    */
  val morUpsert = Q("q_mor_upsert",
    (s, d) => {
      val tbl = memoFixture(s, d, "morup") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o, tbl, statsCols = Seq("o_orderkey"))
        val batch = o.filter(col("o_orderkey").between(1, 10))
          .withColumn("o_totalprice", lit(0.0))
        Snapshots.upsertMor(s, tbl, batch, "o_orderkey")
      }
      Snapshots.readMor(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows,
         ${dsumSql("CASE WHEN o_orderkey BETWEEN 1 AND 10 THEN 0.0 ELSE o_totalprice END")} AS total
         FROM orders"""))

  /** X91: incrementally refreshed MV over a versioned fact
    * ([[graft.plans.SnapshotMv]]): refresh #1 builds the rollup from v1,
    * the append commits v2, and refresh #2 folds ONLY the delta files
    * into the stored state (SnapshotMvSpec proves v1's files can be cold
    * during it) — then the user aggregate over the LATEST version is
    * answered from the rollup by the transparent rewrite, exact because
    * registration pins v2's exact file set. Oracle = the full recompute,
    * so the hash pins delta-fold ≡ recompute.
    */
  val mvIncremental = Q("q_mv_incremental",
    (s, d) => {
      def mvOf(tbl: String) = graft.plans.SnapshotMv.SnapshotMvDef(tbl,
        tablePath(s, d, "smvroot"),
        keys = Seq("o_orderkey"), countCol = "n",
        sums = Seq(graft.plans.MaterializedViews.MvSum("rev", "o_totalprice",
          Some(org.apache.spark.sql.types.DecimalType(27, 4)))))
      val tbl = memoFixture(s, d, "smv") { tbl =>
        val o = src(s, d)
        val root = freshTable(s, d, "smvroot") // cleared with the memo
        val _ = root
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        graft.plans.SnapshotMv.refresh(s, mvOf(tbl)) // full build at v1
        Snapshots.commit(o.filter(col("o_orderdate") >= lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        graft.plans.SnapshotMv.refresh(s, mvOf(tbl)) // delta fold to v2
      }
      // already-current: no fold, just the manifest-pinned registration
      // of the rewrite this entry's aggregate is answered through
      graft.plans.SnapshotMv.refresh(s, mvOf(tbl))
      try {
        Snapshots.read(s, tbl)
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(27,4)")).as("_rev"))
          .localCheckpoint()
          .select(col("o_orderkey"), col("n_rows"),
            col("_rev").cast("double").as("revenue"))
          .orderBy(col("o_orderkey"))
      } finally graft.plans.MaterializedViews.clear()
    },
    Some(s"""SELECT o_orderkey, count(*) AS n_rows,
         ${dsumSql("o_totalprice")} AS revenue
         FROM orders GROUP BY 1 ORDER BY 1"""))

  /** X90: merge-on-read deletes ([[Snapshots.deleteWhere]]) — a GDPR-
    * style delete commits a kilobyte equality tombstone instead of
    * copy-on-write rewriting every file that may hold the keys (at
    * 100 TB: the difference between an instant commit and a terabyte
    * rewrite). Reads subtract tombstoned keys per data-sequence-number
    * group, so the append AFTER the delete re-inserts keys 1–10
    * correctly (newer rows are not masked — the Iceberg v2 ordering).
    * The oracle replays delete-then-reinsert as predicates over orders.
    */
  val morDelete = Q("q_mor_delete",
    (s, d) => {
      val tbl = memoFixture(s, d, "mor") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o, tbl, statsCols = Seq("o_orderkey"))
        Snapshots.deleteWhere(s, tbl,
          s.range(1, 51).select(col("id").as("o_orderkey")), "o_orderkey")
        Snapshots.commit(o.filter(col("o_orderkey").between(1, 10))
          .withColumn("o_totalprice", lit(0.0)), tbl,
          statsCols = Seq("o_orderkey"))
      }
      Snapshots.readMor(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("p")} AS total FROM (
           SELECT o_totalprice AS p FROM orders
           WHERE o_orderkey NOT BETWEEN 1 AND 50
           UNION ALL
           SELECT 0.0 FROM orders WHERE o_orderkey BETWEEN 1 AND 10)"""))

  /** X48: file skipping from manifest stats — the table is committed
    * range-partitioned on o_orderkey so file envelopes are tight, then a
    * key-range filter over the indexed read prunes whole files
    * driver-side (SnapshotsSpec asserts the prune count); the filter
    * itself makes the result EXACTLY the full scan's, which is what the
    * oracle pins.
    */
  val fileSkip = Q("q_file_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "skip") { tbl =>
        Snapshots.commit(src(s, d).repartitionByRange(8, col("o_orderkey")),
          tbl, statsCols = Seq("o_orderkey"))
      }
      val maxKey = orders(s, d).agg(max(col("o_orderkey")).cast("long"))
        .head().getLong(0)
      val hi = maxKey / 10
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("o_orderkey").between(1L, hi))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders
         WHERE o_orderkey BETWEEN 1
           AND (SELECT max(o_orderkey) FROM orders) // 10"""))

  /** X48: versioned compaction — [[Snapshots.compactVersion]] rewrites
    * the fragmented latest version into few files as a NEW commit, so
    * content is unchanged (row 3 ≡ full table) AND v1 stays readable
    * after the rewrite (row 1 ≡ the pre-cutoff snapshot): layout
    * maintenance that cannot lose time travel.
    */
  val versionedCompact = Q("q_versioned_compact",
    (s, d) => {
      val tbl = memoFixture(s, d, "vc") { tbl =>
        val o = src(s, d)
        Snapshots.commit(
          o.filter(col("o_orderdate") < lit(cutoff)).repartition(6), tbl)
        Snapshots.commit(
          o.filter(col("o_orderdate") >= lit(cutoff)).repartition(6), tbl)
        Snapshots.compactVersion(s, tbl)
      }
      val v3 = 3 // the compaction commit above
      agg(Snapshots.read(s, tbl, Some(1)), 1)
        .unionByName(agg(Snapshots.read(s, tbl, Some(v3)), v3))
        .orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT 3, count(*), ${dsumSql("o_totalprice")}
         FROM orders
         ORDER BY version"""))

  /** X48 consumer: snapshot-CDC-driven rollup maintenance — v1's rollup
    * is folded forward with a partial aggregate computed from ONLY the
    * v1→v2 delta files ([[Snapshots.diffAdded]] →
    * [[graft.operators.IncrementalAgg.mergeRollup]]); nothing re-reads
    * v1's data. The oracle is the full recompute over all of orders, so
    * passing pins delta-maintained ≡ recomputed — the maintenance loop a
    * 100 TB warehouse actually runs, driven by the table format's own
    * change tracking instead of an external CDC feed.
    */
  val snapshotRollup = Q("q_snapshot_rollup",
    (s, d) => {
      val tbl = buildTwoVersions(s, d, "roll")
      def rollup(df: DataFrame) =
        df.groupBy(year(col("o_orderdate")).as("order_year"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(27,4)")).as("rev_dec"))
      val prior = rollup(Snapshots.read(s, tbl, Some(1)))
      val delta = rollup(Snapshots.diffAdded(s, tbl, from = 1, to = 2))
      graft.operators.IncrementalAgg.mergeRollup(prior, delta,
          Seq("order_year"), Seq("n_orders", "rev_dec"))
        .select(col("order_year"), col("n_orders"),
          col("rev_dec").cast("double").as("revenue"))
        .orderBy(col("order_year"))
    },
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         count(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
         FROM orders GROUP BY 1 ORDER BY 1"""))

  /** X50: equality file skipping via per-file manifest BLOOMS — when the
    * table is clustered by customer, each customer's rows live in one
    * file but every file's [min,max] custkey envelope spans most of the
    * domain, so range stats prune nothing for `o_custkey = x`; the bloom
    * proves absence per file driver-side (SnapshotsSpec asserts the skip
    * count). The filter makes the result exactly the full scan's, which
    * is what the oracle pins (a sound skip can never change the answer).
    */
  val bloomSkip = Q("q_bloom_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "bloom") { tbl =>
        Snapshots.commit(
          orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
            col("o_custkey")).repartition(8, col("o_custkey")),
          tbl, bloomCols = Seq("o_custkey"))
      }
      val cust = orders(s, d).agg(min(col("o_custkey")).cast("long"))
        .head().getLong(0)
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("o_custkey") === lit(cust))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders
         WHERE o_custkey = (SELECT min(o_custkey) FROM orders)"""))

  /** X50: Z-order layout × manifest box pruning — committed in z-value
    * order, each file is a small box in (l_partkey, l_suppkey) space, so
    * a box predicate on BOTH dims prunes most files from their manifest
    * envelopes alone ([[Snapshots.readIndexed]]; spec quantifies the
    * win vs a linear layout). File-level twin of ZOrderSpec's row-group
    * pruning; the oracle is the plain conjunctive filter.
    */
  val zorderSkip = Q("q_zorder_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "zskip") { tbl =>
        val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        Snapshots.commit(
          li.orderBy(graft.functions.ZOrderExpression.zValue(
            col("l_partkey"), col("l_suppkey"))),
          tbl, statsCols = Seq("l_partkey", "l_suppkey"))
      }
      val maxPart = part(s, d).agg(max(col("p_partkey")).cast("long"))
        .head().getLong(0)
      val maxSupp = supplier(s, d).agg(max(col("s_suppkey")).cast("long"))
        .head().getLong(0)
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("l_partkey").between(1L, maxPart / 8) &&
          col("l_suppkey").between(1L, maxSupp / 8))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("qty"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("l_quantity")} AS qty
         FROM lineitem
         WHERE l_partkey BETWEEN 1 AND (SELECT max(p_partkey) FROM part) // 8
           AND l_suppkey BETWEEN 1 AND (SELECT max(s_suppkey) FROM supplier) // 8"""))

  /** X109: Catalyst-native data skipping ([[Snapshots.readIndexed]] +
    * [[graft.sources.SnapshotFileIndex]]) — the same z-ordered layout as
    * [[zorderSkip]], but NO explicit pruning call: a plain `.filter` on
    * the indexed frame is pushed by FileSourceStrategy into the
    * FileIndex, which drops files from manifest envelopes before the
    * scan plans — data skipping as a property of the relation, not an
    * API the query author must remember (and it composes with every
    * Catalyst predicate shape the evidence can serve: ranges, IN, OR,
    * prefixes, bloom equality). SnapshotFileIndexSpec pins the pruned
    * file counts, the numFiles metric, result-equality with the
    * unpruned read, and the conservative keep for unprovable shapes.
    */
  val autoSkip = Q("q_auto_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "autoskip") { tbl =>
        val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        Snapshots.commit(
          li.orderBy(graft.functions.ZOrderExpression.zValue(
            col("l_partkey"), col("l_suppkey"))),
          tbl, statsCols = Seq("l_partkey", "l_suppkey"))
      }
      val maxPart = part(s, d).agg(max(col("p_partkey")).cast("long"))
        .head().getLong(0)
      val maxSupp = supplier(s, d).agg(max(col("s_suppkey")).cast("long"))
        .head().getLong(0)
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("l_partkey").between(lit(1L), lit(maxPart / 8)) &&
          col("l_suppkey").between(lit(maxSupp / 2), lit(maxSupp / 2 + maxSupp / 8)))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("qty"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("l_quantity")} AS qty
         FROM lineitem
         WHERE l_partkey BETWEEN 1 AND (SELECT max(p_partkey) FROM part) // 8
           AND l_suppkey BETWEEN (SELECT max(s_suppkey) FROM supplier) // 2
             AND (SELECT max(s_suppkey) FROM supplier) // 2
               + (SELECT max(s_suppkey) FROM supplier) // 8"""))

  /** X109/X119: Catalyst-native data skipping SURVIVES schema evolution
    * ([[Snapshots.readIndexedEvolved]]) — the most common long-lived-
    * table state. A z-ordered commit, then a column RENAME, a type
    * WIDEN (int→bigint), and an add-column DEFAULT, then a second
    * commit under the evolved schema: the old files now need per-era
    * name/type aliasing that a flat relation cannot express, yet a
    * plain `.filter` on the evolved frame still cuts files from
    * manifest envelopes in BOTH eras — Catalyst pushes the predicate
    * through each era's re-aliasing projection (as widening casts /
    * default coalesces, which the FileIndex's mayMatch understands).
    * The query touches all three evolved columns: the renamed key in
    * the box predicate, the widened quantity in a range, the defaulted
    * tag in the grouping — and hash-matches DuckDB replaying the same
    * evolution as CASE logic over the source table.
    */
  /** DATE/TIMESTAMP file-skip envelopes — the single most common real
    * prune (`WHERE ts BETWEEN ...`) on a PLAIN unpartitioned table, no
    * hidden-partition transform declared: commit records epoch-micros /
    * epoch-day long envelopes for timestamp and date statsCols (the
    * write path forces INT64-micros parquet timestamps —
    * [[graft.sources.Snapshots.withMicrosTs]] — because INT96's Binary
    * stats can never prune), and a plain `.filter` range on the indexed
    * read cuts files driver-side. SnapshotFileIndexSpec pins the
    * numFiles cut and compaction survival; the oracle pins exactness.
    */
  val tsSkip = Q("q_ts_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "tsskip") { tbl =>
        Snapshots.commit(
          src(s, d).withColumn("o_date", to_date(col("o_orderdate")))
            .repartitionByRange(8, col("o_orderdate")),
          tbl, statsCols = Seq("o_orderdate", "o_date"))
      }
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("o_orderdate") <
            lit("1996-10-01 00:00:00").cast("timestamp") &&
          col("o_date") >= lit("1996-03-01").cast("date"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-03-01'"""))

  val autoSkipEvolved = Q("q_auto_skip_evolved",
    (s, d) => {
      val li = lineitem(s, d)
      val maxPart = part(s, d).agg(max(col("p_partkey")).cast("long"))
        .head().getLong(0)
      val maxSupp = supplier(s, d).agg(max(col("s_suppkey")).cast("long"))
        .head().getLong(0)
      val tbl = memoFixture(s, d, "autoskipev") { tbl =>
        // era 1: even orderkeys, pre-evolution shape (pk int-era names)
        val part1 = li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
            col("l_quantity").cast("int").as("qty_i"))
        Snapshots.commit(
          part1.orderBy(graft.functions.ZOrderExpression.zValue(
            col("pk"), col("sk"))),
          tbl, statsCols = Seq("pk", "sk", "qty_i"))
        Snapshots.renameColumn(s, tbl, "pk", "part_key")
        Snapshots.widenColumn(s, tbl, "qty_i",
          org.apache.spark.sql.types.LongType)
        Snapshots.addColumn(s, tbl, "tag",
          org.apache.spark.sql.types.StringType, default = Some("legacy"))
        // era 2: odd orderkeys, evolved shape with real tag values
        val part2 = li.filter(col("l_orderkey") % 2 === 1)
          .select(col("l_partkey").as("part_key"),
            col("l_suppkey").as("sk"),
            col("l_quantity").cast("long").as("qty_i"),
            lit("fresh").as("tag"))
        Snapshots.commit(
          part2.orderBy(graft.functions.ZOrderExpression.zValue(
            col("part_key"), col("sk"))),
          tbl, statsCols = Seq("part_key", "sk", "qty_i"))
      }
      Snapshots.readIndexedEvolved(s, tbl)._1
        .filter(col("part_key").between(lit(1L), lit(maxPart / 8)) &&
          col("sk").between(lit(maxSupp / 2),
            lit(maxSupp / 2 + maxSupp / 8)) &&
          col("qty_i") > lit(25L))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n_rows"),
          // BIGINT on both sides: DuckDB's sum(BIGINT) yields HUGEINT
          // (float64 at the compare boundary) — cast pins int64 parity.
          sum(col("qty_i")).cast("long").as("total_qty"))
        .orderBy(col("tag"))
    },
    Some(s"""WITH src AS (SELECT l_partkey AS part_key,
               l_suppkey AS sk,
               CAST(CAST(l_quantity AS INTEGER) AS BIGINT) AS qty_i,
               CASE WHEN l_orderkey % 2 = 0 THEN 'legacy' ELSE 'fresh' END
                 AS tag
             FROM lineitem)
         SELECT tag, count(*) AS n_rows,
                CAST(sum(qty_i) AS BIGINT) AS total_qty FROM src
         WHERE part_key BETWEEN 1 AND (SELECT max(p_partkey) FROM part) // 8
           AND sk BETWEEN (SELECT max(s_suppkey) FROM supplier) // 2
             AND (SELECT max(s_suppkey) FROM supplier) // 2
               + (SELECT max(s_suppkey) FROM supplier) // 8
           AND qty_i > 25
         GROUP BY tag ORDER BY tag"""))

  /** X71 serving path: HILBERT layout × manifest box pruning — the
    * no-jump curve through the same file-skipping tier as
    * [[zorderSkip]]: committed in hilbert_d order, every file is a
    * small box in (l_partkey, l_suppkey) space with the curve's
    * stronger locality (consecutive files are grid-neighbors, so a box
    * predicate's survivors are contiguous, not scattered). The probe
    * box sits mid-domain on the supplier axis — the case where a
    * single-column sort prunes nothing at all.
    */
  val hilbertSkip = Q("q_hilbert_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "hskip") { tbl =>
        val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        Snapshots.commit(
          li.orderBy(graft.functions.HilbertExpression.hilbert(
            col("l_partkey"), col("l_suppkey"), bits = 16)),
          tbl, statsCols = Seq("l_partkey", "l_suppkey"))
      }
      val maxPart = part(s, d).agg(max(col("p_partkey")).cast("long"))
        .head().getLong(0)
      val maxSupp = supplier(s, d).agg(max(col("s_suppkey")).cast("long"))
        .head().getLong(0)
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("l_partkey").between(1L, maxPart / 8) &&
          col("l_suppkey").between(maxSupp / 2, maxSupp / 2 + maxSupp / 8))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("qty"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("l_quantity")} AS qty
         FROM lineitem
         WHERE l_partkey BETWEEN 1 AND (SELECT max(p_partkey) FROM part) // 8
           AND l_suppkey BETWEEN (SELECT max(s_suppkey) FROM supplier) // 2
             AND (SELECT max(s_suppkey) FROM supplier) // 2
               + (SELECT max(s_suppkey) FROM supplier) // 8"""))

  /** X107: TWO-LEVEL manifest pruning ([[Snapshots.buildSegmentIndex]]
    * under [[Snapshots.readIndexed]]) — the manifest-list tier: the
    * z-ordered file list is segmented with rolled-up envelopes, the
    * indexed read plans from the segment tier, a box filter prunes whole
    * SEGMENTS from the small index before any per-file entry is parsed,
    * and the version's properties ride the index header so planning
    * never opens the flat manifest — at a million files, per-query
    * planning cost follows the surviving fraction, not the table.
    * Exactness is the oracle's (same plain conjunctive filter as
    * [[zorderSkip]] over a different mid-domain probe); SegmentIndexSpec
    * pins segment-level skip counts, flat-scan equality, idempotent
    * builds, and the crash discipline.
    */
  val manifestList = Q("q_manifest_list",
    (s, d) => {
      val tbl = memoFixture(s, d, "mlist") { tbl =>
        val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        Snapshots.commit(
          li.orderBy(graft.functions.ZOrderExpression.zValue(
            col("l_partkey"), col("l_suppkey"))),
          tbl, statsCols = Seq("l_partkey", "l_suppkey"))
        Snapshots.buildSegmentIndex(s, tbl, segSize = 4)
      }
      val maxPart = part(s, d).agg(max(col("p_partkey")).cast("long"))
        .head().getLong(0)
      val maxSupp = supplier(s, d).agg(max(col("s_suppkey")).cast("long"))
        .head().getLong(0)
      Snapshots.readIndexed(s, tbl)._1
        .filter(
          col("l_partkey").between(maxPart / 2, maxPart / 2 + maxPart / 8) &&
            col("l_suppkey").between(1L, maxSupp / 8))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("qty"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("l_quantity")} AS qty
         FROM lineitem
         WHERE l_partkey BETWEEN (SELECT max(p_partkey) FROM part) // 2
             AND (SELECT max(p_partkey) FROM part) // 2
               + (SELECT max(p_partkey) FROM part) // 8
           AND l_suppkey BETWEEN 1 AND (SELECT max(s_suppkey) FROM supplier) // 8"""))

  /** X108: branches and tags ([[graft.sources.Branches]]) — the named-ref
    * tier: v1 (keys with bucket >= 2) is TAGGED, a zero-copy branch forks
    * it, the branch deletes bucket 2 and appends bucket 0 while main
    * independently appends bucket 1, and the merge replays the branch's
    * change feed onto main after proving the two sides' touched keys are
    * disjoint — write-audit-publish at PIPELINE granularity. The output
    * is the merged table per bucket plus the tag row (bucket -1), which
    * must still read as exactly the fork-time snapshot after the merge;
    * the oracle recomputes both from the bucket predicates. BranchSpec
    * pins isolation, conflict refusal, vacuum pinning, and ref
    * immutability.
    */
  val branchMerge = Q("q_branch_merge",
    (s, d) => {
      val tbl = memoFixture(s, d, "branch") { tbl =>
        val o = src(s, d)
        val bucket = col("o_orderkey") % 10
        Snapshots.commit(o.filter(bucket >= 2), tbl,
          statsCols = Seq("o_orderkey"))
        Branches.tag(s, tbl, "base")
        // the branch dir lives OUTSIDE the table root; freshTable keeps
        // the one-time fork clean even if a crashed prior JVM left one
        val br = Branches.create(s, tbl, "dev",
          dir = Some(freshTable(s, d, "branchdev")))
        Snapshots.deleteWhere(s, br,
          o.filter(bucket === 2).select(col("o_orderkey")).distinct(),
          "o_orderkey")
        Snapshots.commit(o.filter(bucket === 0), br,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(bucket === 1), tbl,
          statsCols = Seq("o_orderkey"))
        Branches.merge(s, tbl, "dev", "o_orderkey")
      }
      Snapshots.readMor(s, tbl)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .unionByName(Branches.readTag(s, tbl, "base")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .select(lit(-1L).as("bucket"), col("n_orders"), col("total")))
        .orderBy(col("bucket"))
    },
    Some(s"""SELECT o_orderkey % 10 AS bucket, count(*) AS n_orders,
           ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderkey % 10 <> 2
         GROUP BY 1
         UNION ALL
         SELECT CAST(-1 AS BIGINT), count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 10 >= 2
         ORDER BY bucket"""))

  /** X110: `format("graft")` ([[graft.sources.GraftSource]]) — the
    * snapshot format behind Spark's OWN reader/writer API, no graft
    * import needed on the consumer side: two `df.write.format("graft")`
    * commits build the table, `spark.read.format("graft")` reads the
    * head, `versionAsOf` time-travels to the first commit, and a bucket
    * filter on the head read data-skips through [[graft.sources.
    * SnapshotFileIndex]] with no explicit pruning call. The oracle
    * replays all three frames from the source predicates;
    * GraftSourceSpec pins the save-mode semantics, every time-travel
    * option, the numFiles cut, and exactly-once streaming ingest.
    */
  val formatIo = Q("q_format_io",
    (s, d) => {
      val tbl = freshTable(s, d, "fmt")
      val o = src(s, d)
      o.filter(col("o_orderdate") < lit(cutoff)).write.format("graft")
        .option("statsCols", "o_orderkey").save(tbl)
      o.filter(col("o_orderdate") >= lit(cutoff)).write.format("graft")
        .option("statsCols", "o_orderkey")
        .mode(org.apache.spark.sql.SaveMode.Append).save(tbl)
      val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
      agg(s.read.format("graft").option("versionAsOf", "1").load(tbl), 1)
        .unionByName(agg(s.read.format("graft").load(tbl), 2))
        .unionByName(agg(s.read.format("graft").load(tbl)
          .filter(col("o_orderkey") <= lit(maxKey / 4)), 3))
        .orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT 2, count(*), ${dsumSql("o_totalprice")} FROM orders
         UNION ALL
         SELECT 3, count(*), ${dsumSql("o_totalprice")} FROM orders
         WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 4
         ORDER BY version"""))

  /** X112: metadata aggregates through the OPTIMIZER
    * ([[graft.plans.MetaAgg]]) — [[Snapshots.statsAgg]]'s zero-IO
    * answers without the bespoke API: once the table path is enabled, a
    * plain `df.agg(count/min/max)` over the indexed read collapses to a
    * LocalRelation computed from manifest row counts and footer-exact
    * envelopes (integral AND string) — zero Spark jobs, any API the
    * user writes the aggregate in. MetaAggSpec pins the LocalRelation
    * plan, the zero-job listener, exact equality with recompute, and
    * every refusal shape (count(col) with nulls, filters, grouping,
    * DISTINCT, stat-less columns, cleared registry).
    */
  val metaAgg = Q("q_meta_agg",
    (s, d) => {
      val tbl = freshTable(s, d, "metaagg")
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
        statsCols = Seq("o_orderkey"), strStatsCols = Seq("o_orderpriority"))
      Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), tbl,
        statsCols = Seq("o_orderkey"), strStatsCols = Seq("o_orderpriority"))
      graft.plans.MetaAgg.enable(s, tbl)
      Snapshots.readIndexed(s, tbl)._1
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_orderpriority")).as("min_prio"),
          max(col("o_orderpriority")).as("max_prio"))
    },
    Some("""SELECT count(*) AS n_rows, min(o_orderkey) AS min_key,
         max(o_orderkey) AS max_key, min(o_orderpriority) AS min_prio,
         max(o_orderpriority) AS max_prio
         FROM orders"""))

  /** X113: FOREIGN KEY constraints ([[Snapshots.addForeignKey]]) —
    * write-time referential integrity across TABLES, extending the
    * CHECK (X98) and UNIQUE (X101) tier: the child's customer keys are
    * constrained into the customer dimension; a conforming append
    * lands, an append whose keys point past the dimension is REJECTED
    * BEFORE any version publishes (parent probe envelope-pruned
    * driver-side), and the final child content proves the rejected
    * batch left no trace. ForeignKeySpec covers every write path, NULL
    * exemption, the parent-delete audit, and the evolve guards.
    */
  val foreignKey = Q("q_foreign_key",
    (s, d) => {
      val rejectedBox = new java.util.concurrent.atomic.AtomicLong(1L)
      val child = memoFixture(s, d, "fkchild") { child =>
        val parent = freshTable(s, d, "fkparent")
        Snapshots.commit(customer(s, d).select(col("c_custkey")), parent,
          statsCols = Seq("c_custkey"))
        val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        Snapshots.commit(o.filter(col("o_orderkey") % 4 === 0), child,
          statsCols = Seq("o_orderkey"))
        Snapshots.addForeignKey(s, child, "o_custkey", parent, "c_custkey")
        Snapshots.commit(o.filter(col("o_orderkey") % 4 === 1), child,
          statsCols = Seq("o_orderkey"))
        val maxCust = customer(s, d).agg(max(col("c_custkey")).cast("long"))
          .head().getLong(0)
        val poison = o.filter(col("o_orderkey") % 4 === 2)
          .withColumn("o_custkey", col("o_custkey") + lit(maxCust + 1L))
        rejectedBox.set(
          try { Snapshots.commit(poison, child); 0L }
          catch { case _: IllegalArgumentException => 1L })
      }
      val rejected = rejectedBox.get()
      Snapshots.readMor(s, child)
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .select(lit(rejected).as("n_rejected"), col("n_orders"),
          col("total"))
    },
    Some(s"""SELECT CAST(1 AS BIGINT) AS n_rejected, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderkey % 4 IN (0, 1)"""))

  /** X114: add-column with an initial DEFAULT ([[Snapshots.addColumn]])
    * — the backfill a 100 TB table cannot afford, done metadata-only:
    * pre-cutoff orders are committed, a `channel` column is added with
    * default 'store' (zero bytes rewritten — the DDL carries the
    * parent's files), and post-cutoff orders land with real channels
    * including NULLs. Old files read the default, new NULLs stay NULL
    * (per-file data sequence numbers decide, Iceberg's initial-default
    * contract), and the per-channel rollup proves it against an oracle
    * that recomputes the eras from the predicates. DefaultsSpec pins
    * time travel, compaction materialization, the feed guard,
    * structural replication, and the evolve guards.
    */
  val defaultColumn = Q("q_default_column",
    (s, d) => {
      val tbl = memoFixture(s, d, "defcol") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.addColumn(s, tbl, "channel",
          org.apache.spark.sql.types.StringType, default = Some("store"))
        Snapshots.commit(
          o.filter(col("o_orderdate") >= lit(cutoff))
            .withColumn("channel",
              when(col("o_orderkey") % 2 === 0, lit("web"))),
          tbl, statsCols = Seq("o_orderkey"))
      }
      Snapshots.read(s, tbl)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("channel"))
    },
    Some(s"""SELECT CASE WHEN o_orderdate < DATE '$cutoff' THEN 'store'
                WHEN o_orderkey % 2 = 0 THEN 'web' END AS channel,
           count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders
         GROUP BY 1 ORDER BY channel"""))

  /** X75: write-audit-publish ([[Snapshots.commitAudited]]) — the
    * governance gate: a clean batch stages, audits, and publishes; a
    * poison batch (negative prices injected) is REJECTED BEFORE any
    * manifest exists, so no reader at any version ever saw it. The
    * final table content — exactly the two clean batches — is what the
    * oracle pins; SnapshotsSpec pins the no-version-published and
    * orphan-reclaim halves.
    */
  val wap = Q("q_wap",
    (s, d) => {
      val tbl = memoFixture(s, d, "wap") { tbl =>
        val o = src(s, d)
        val audit: org.apache.spark.sql.DataFrame => Option[String] = b =>
          if (b.filter(col("o_totalprice") <= 0).count() > 0)
            Some("nonpositive totalprice") else None
        val lo = o.filter(col("o_orderkey") % 3 === 0)
        val poison = o.filter(col("o_orderkey") % 3 === 1)
          .withColumn("o_totalprice", -col("o_totalprice"))
        val hi = o.filter(col("o_orderkey") % 3 === 2)
        require(Snapshots.commitAudited(lo, tbl, audit).isRight)
        require(Snapshots.commitAudited(poison, tbl, audit).isLeft)
        require(Snapshots.commitAudited(hi, tbl, audit).isRight)
      }
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"),
          max(col("o_orderkey")).as("max_key"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total,
         max(o_orderkey) AS max_key
         FROM orders WHERE o_orderkey % 3 <> 1"""))

  /** X53: copy-on-write MERGE — updates (price doubled on the low key
    * range), deletes (the next range), and inserts (update keys shifted
    * past the key domain) applied in one [[Snapshots.merge]] commit that
    * rewrites ONLY files whose manifest key envelope may hold an affected
    * key; untouched files are carried byte-identical (MergeSpec asserts
    * the carried count and post-merge time travel). The oracle pins the
    * CONTENT: merged table ≡ the same merge replayed as set algebra over
    * the source orders.
    */
  val mergeInto = Q("q_merge_into",
    (s, d) => {
      val maxKey = orders(s, d).agg(max(col("o_orderkey")).cast("long"))
        .head().getLong(0)
      val updHi = maxKey / 20
      val tbl = memoFixture(s, d, "merge") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.repartitionByRange(8, col("o_orderkey")), tbl,
          statsCols = Seq("o_orderkey"))
        val delHi = maxKey / 10
        val updates = o.filter(col("o_orderkey") <= updHi)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val inserts = o.filter(col("o_orderkey") <= updHi)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        val deletes = o.filter(col("o_orderkey") > updHi &&
            col("o_orderkey") <= delHi)
          .select(col("o_orderkey"))
        Snapshots.merge(s, tbl, updates.unionByName(inserts), deletes,
          "o_orderkey")
      }
      Snapshots.read(s, tbl)
        .groupBy(when(col("o_orderkey") >= lit(1000000000L), lit("inserted"))
          .when(col("o_orderkey") <= updHi, lit("updated"))
          .otherwise(lit("kept")).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH mk AS (SELECT max(o_orderkey) AS m FROM orders),
         merged AS (
           SELECT 'kept' AS bucket, o_totalprice
           FROM orders, mk WHERE o_orderkey > m // 10
           UNION ALL
           SELECT 'updated', o_totalprice * 2
           FROM orders, mk WHERE o_orderkey <= m // 20
           UNION ALL
           SELECT 'inserted', o_totalprice
           FROM orders, mk WHERE o_orderkey <= m // 20)
         SELECT bucket, count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM merged GROUP BY bucket ORDER BY bucket"""))

  /** X54: add-column schema evolution — v1 is committed WITHOUT the
    * priority column, the v2 append carries it; every manifest records
    * its commit's schema, so reading v2 null-fills the pre-evolution
    * files while time travel to v1 still reads v1's own narrower shape
    * (SnapshotsSpec asserts both). Oracle: priority is NULL exactly for
    * the pre-cutoff rows.
    */
  val schemaEvolution = Q("q_schema_evolution",
    (s, d) => {
      val tbl = memoFixture(s, d, "evo") { tbl =>
        val o = orders(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff))
          .select(col("o_orderkey"), col("o_totalprice")), tbl)
        Snapshots.commit(o.filter(col("o_orderdate") >= lit(cutoff))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority")), tbl)
      }
      Snapshots.read(s, tbl)
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)"))
          .as("priority"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("priority"))
    },
    Some(s"""SELECT CASE WHEN o_orderdate < DATE '$cutoff'
         THEN '(pre-evolution)' ELSE o_orderpriority END AS priority,
         count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders GROUP BY 1 ORDER BY 1"""))

  /** X57: instant rollback — a bad overwrite (the table truncated to a
    * low-key slice) is undone by [[Snapshots.rollback]], a METADATA-ONLY
    * commit republishing the good version's file list (no data file read,
    * written or deleted — instant at any table size), after which the
    * append lineage simply continues. Rows pin all three states: the bad
    * version stays readable for forensics, the rollback reads as the good
    * snapshot, and the post-rollback append completes the full table.
    */
  val rollbackQ = Q("q_rollback",
    (s, d) => {
      val tbl = memoFixture(s, d, "rb") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl)
        val maxKey = orders(s, d).agg(max(col("o_orderkey")).cast("long"))
          .head().getLong(0)
        // the mis-commit: an overwrite that truncates the table
        Snapshots.commit(o.filter(col("o_orderkey") <= maxKey / 50),
          tbl, overwrite = true) // v2
        Snapshots.rollback(s, tbl, toVersion = 1) // v3
        Snapshots.commit(
          o.filter(col("o_orderdate") >= lit(cutoff)), tbl) // v4
      }
      val (vBad, vBack, vFinal) = (2, 3, 4)
      def tag(v: Int, t: String) = Snapshots.read(s, tbl, Some(v))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .select(lit(t).as("state"), col("n_orders"), col("total"))
      tag(vBad, "1_bad").unionByName(tag(vBack, "2_rolled_back"))
        .unionByName(tag(vFinal, "3_final"))
        .orderBy(col("state"))
    },
    Some(s"""WITH mk AS (SELECT max(o_orderkey) AS m FROM orders)
         SELECT '1_bad' AS state, count(*) AS n_orders,
           ${dsumSql("o_totalprice")} AS total
         FROM orders, mk WHERE o_orderkey <= m // 50
         UNION ALL
         SELECT '2_rolled_back', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT '3_final', count(*), ${dsumSql("o_totalprice")}
         FROM orders
         ORDER BY state"""))

  /** X62: incremental small-file compaction — a streaming-style
    * fragmented append merges into few files while the already-large
    * bootstrap file is CARRIED untouched ([[Snapshots.compactSmall]];
    * SnapshotsSpec asserts the byte-identical carry). Content oracle:
    * the maintenance commit preserves the table and pre-compaction time
    * travel exactly.
    */
  val compactSmallQ = Q("q_compact_small",
    (s, d) => {
      val tbl = memoFixture(s, d, "cs") { tbl =>
        val o = src(s, d)
        Snapshots.commit(
          o.filter(col("o_orderdate") < lit(cutoff)).coalesce(1), tbl)
        Snapshots.commit(
          o.filter(col("o_orderdate") >= lit(cutoff)).repartition(12), tbl)
        val p = new org.apache.hadoop.fs.Path(tbl)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val maxLen = Snapshots.manifest(s, tbl, 2).map(e =>
          fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$tbl/${e.path}"))
            .getLen).max
        Snapshots.compactSmall(s, tbl, minBytes = maxLen) // v3
      }
      val v = 3
      agg(Snapshots.read(s, tbl, Some(v)), v)
        .unionByName(agg(Snapshots.read(s, tbl, Some(1)), 1))
        .orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT 3, count(*), ${dsumSql("o_totalprice")}
         FROM orders
         ORDER BY version"""))

  /** X62: commit history (DESCRIBE HISTORY) — one row per version with
    * exact manifest row counts and the commit's provenance properties,
    * all from driver-side manifest reads.
    */
  val tableHistory = Q("q_table_history",
    (s, d) => {
      val tbl = memoFixture(s, d, "hist") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl,
          properties = Map("source" -> "backfill"))
        Snapshots.commit(o.filter(col("o_orderdate") >= lit(cutoff)), tbl,
          properties = Map("source" -> "daily"))
      }
      Snapshots.history(s, tbl)
        .select(col("version"), col("n_rows"), col("commit_props"))
        .orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_rows,
         'source=backfill' AS commit_props
         FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT 2, count(*), 'source=daily' FROM orders
         ORDER BY version"""))

  /** X63: STRING file skipping — the table is committed clustered by
    * order priority with UTF-8 [min,max] envelopes in the manifest
    * (byte-wise UTF-8 order, the order Spark/DuckDB/parquet stats all
    * compare with), then a priority-range filter over the indexed read
    * prunes whole files driver-side (SnapshotsSpec asserts the count);
    * the filter keeps the result exactly the full scan's, which the
    * oracle pins.
    */
  val strSkip = Q("q_str_skip",
    (s, d) => {
      val tbl = memoFixture(s, d, "strskip") { tbl =>
        Snapshots.commit(
          orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderpriority"))
            .repartitionByRange(5, col("o_orderpriority")),
          tbl, strStatsCols = Seq("o_orderpriority"))
      }
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("o_orderpriority").between("1-URGENT", "2-HIGH"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders
         WHERE o_orderpriority BETWEEN '1-URGENT' AND '2-HIGH'"""))

  /** The bucketed fact tables behind [[bucketJoin]], built ONCE per
    * (dataset, application) and re-registered (metadata-only) per
    * invocation — the storedDedupEdges discipline: the one-time layout
    * cost is the build path, amortized across every later join on the
    * key; the bench measures the serving-path JOIN. Registration happens
    * under the lock so a parallel suite can never observe a
    * dropped-but-not-yet-recreated catalog name.
    */
  private def bucketedFactTables(s: SparkSession, d: String)
      : (String, String) = {
    // catalog names must stay dot-free (a backticked dotted name parses
    // as db.table), hence the stricter sanitizer than AppState's
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val oName = s"graft_bkt_orders_$tag"; val lName = s"graft_bkt_lineitem_$tag"
    AppState.ensure(s, s"graft_bktstate_$tag") { dir =>
      val oTbl = s"$dir/orders"; val lTbl = s"$dir/lineitem"
      Snapshots.commitBucketed(orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority")), oTbl, "o_orderkey", 16,
        statsCols = Seq("o_orderkey"))
      Snapshots.commitBucketed(lineitem(s, d).select(col("l_orderkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        lTbl, "l_orderkey", 16, statsCols = Seq("l_orderkey"))
      // the session catalog outlives this build, so registration (also
      // metadata-only) rides the same once-per-app completion marker —
      // no per-invocation DROP/CREATE for a parallel reader to race
      Snapshots.registerBucketed(s, oTbl, oName)
      Snapshots.registerBucketed(s, lTbl, lName)
    }
    (oName, lName)
  }

  /** X76: storage-co-partitioned fact-fact join — the missing 100 TB plan
    * shape: orders and lineitem committed hash-bucketed 16 ways on their
    * join key ([[Snapshots.commitBucketed]]), registered bucket-aware
    * ([[Snapshots.registerBucketed]]), so the equi-join runs with ZERO
    * Exchange on either side (BucketedJoinSpec pins the plan, and the
    * shuffle fallback on mismatched bucket counts): each of the 16 join
    * tasks reads bucket i of both tables. The only remaining shuffle is
    * the post-join rollup on o_orderpriority — cardinality-bounded output,
    * not fact-sized input. Bucketing is pure layout, so the oracle is the
    * plain join.
    */
  val bucketJoin = Q("q_bucket_join",
    (s, d) => {
      val (o, l) = bucketedFactTables(s, d)
      s.table(o).hint("merge")
        .join(s.table(l), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(revenue(col("l_extendedprice"), col("l_discount")))
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n_items,
         ${dsumSql("l_quantity")} AS sum_qty,
         ${dsumSql(revenueSql)} AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** The post-merge bucketed state behind [[bucketMergeJoin]], built
    * ONCE per (dataset, application): orders committed 16-way bucketed
    * on the join key, then a bucket-aligned MERGE
    * ([[Snapshots.mergeBucketed]]) re-prioritizes keys ≤ 50 and deletes
    * 51–60 — rewriting ONLY the buckets those keys hash into; lineitem
    * bucketed alongside. The serving-path join reads the merged version
    * through [[Snapshots.readBucketed]] (manifest-exact file set), so
    * maintenance never costs the layout: the join is STILL Exchange-free
    * after the merge, which is the whole point of bucket-aligned
    * copy-on-write at 100 TB.
    */
  private def mergedBucketTables(s: SparkSession, d: String)
      : (String, String) = {
    val dir = AppState.ensure(s, "graft_bktmerge_" +
      d.replaceAll("[^A-Za-z0-9]", "_")) { dir =>
      val oTbl = s"$dir/orders"; val lTbl = s"$dir/lineitem"
      Snapshots.commitBucketed(orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority")), oTbl, "o_orderkey", 16,
        statsCols = Seq("o_orderkey"))
      Snapshots.commitBucketed(lineitem(s, d).select(col("l_orderkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        lTbl, "l_orderkey", 16, statsCols = Seq("l_orderkey"))
      val upserts = orders(s, d)
        .filter(col("o_orderkey") <= 50)
        .select(col("o_orderkey"), lit("0-MERGED").as("o_orderpriority"))
      val deletes = s.range(51, 61).selectExpr("id AS o_orderkey")
      Snapshots.mergeBucketed(s, oTbl, upserts, deletes, "o_orderkey")
    }
    (s"$dir/orders", s"$dir/lineitem")
  }

  /** X80: bucket-aligned MERGE keeps the co-partitioned join shuffle-free
    * — the maintenance half of X76's storage-bucketed join story. The
    * oracle replays the merge as predicates over the source table
    * (updated keys re-prioritized, deleted keys absent), so a hash match
    * proves both the merge semantics and that the carried buckets still
    * read exactly their committed rows.
    */
  val bucketMergeJoin = Q("q_bucket_merge_join",
    (s, d) => {
      val (oTbl, lTbl) = mergedBucketTables(s, d)
      Snapshots.readBucketed(s, oTbl).hint("merge")
        .join(Snapshots.readBucketed(s, lTbl),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(revenue(col("l_extendedprice"), col("l_discount")))
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""WITH merged AS (
           SELECT o_orderkey, '0-MERGED' AS o_orderpriority
           FROM orders WHERE o_orderkey <= 50
           UNION ALL
           SELECT o_orderkey, o_orderpriority
           FROM orders WHERE o_orderkey > 60)
         SELECT o_orderpriority, count(*) AS n_items,
           ${dsumSql("l_quantity")} AS sum_qty,
           ${dsumSql(revenueSql)} AS revenue
         FROM merged JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** X94: change data feed ([[Snapshots.changes]]) — the row-level
    * insert/delete deltas of a version range, derived from manifest
    * deltas only (inserts read added files; delete pre-images read the
    * parent's envelope-pruned visible rows — never a full-table diff).
    * v1/v2 appends, v3 a merge-on-read delete (keys ≡ 0 mod 31), v4 a
    * MOR upsert (keys ≡ 0 mod 97, price doubled) that surfaces as
    * delete-of-old + insert-of-new at one version. Key 0 is in BOTH key
    * sets, pinning the already-invisible rule: its v3 delete means v4
    * emits no second pre-image for it. Oracle replays each version's
    * change set as predicates over the source table.
    */
  val changeFeed = Q("q_change_feed",
    (s, d) => {
      val tbl = memoFixture(s, d, "cdf") { tbl =>
        val o = src(s, d)
        // split v1/v2 by key parity, not date: the sf0.001 generation
        // has no pre-cutoff orders, and an empty version would drop a
        // feed group the oracle's UNION branch still emits
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.deleteWhere(s, tbl,
          o.filter(col("o_orderkey") % 31 === 0).select("o_orderkey"),
          "o_orderkey")
        Snapshots.upsertMor(s, tbl,
          o.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          "o_orderkey")
      }
      Snapshots.changes(s, tbl, from = 0, to = 4)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("commit_version"), col("change_type"))
    },
    Some(s"""SELECT 1 AS commit_version, 'insert' AS change_type,
         count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT 2, 'insert', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 2 = 1
         UNION ALL
         SELECT 3, 'delete', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 31 = 0
         UNION ALL
         SELECT 4, 'delete', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 31 <> 0
         UNION ALL
         SELECT 4, 'insert', count(*), ${dsumSql("o_totalprice * 2")}
         FROM orders WHERE o_orderkey % 97 = 0
         ORDER BY commit_version, change_type"""))

  /** X134: STREAMING change-data-feed source —
    * `readStream.format("graft").option("readChangeFeed", true)`
    * ([[graft.sources.GraftSource.createSource]]): q_change_feed's
    * timeline consumed AS A STREAM. The fixture builds the same
    * v1/v2 appends + v3 MOR delete (keys ≡ 0 mod 31) + v4 MOR upsert
    * (keys ≡ 0 mod 97, price doubled), then runs the REAL checkpointed
    * streaming query — CDC source into the graft sink, exactly-once end
    * to end — and the entry aggregates the SINK table. The oracle
    * replays the expected feed per version, so the hash pins that the
    * stream delivered exactly the batch CDC surface, deletes included
    * (the shape the append-only streaming tail refuses loudly), with
    * key 0's already-invisible rule intact across the stream boundary.
    */
  val cdcStream = Q("q_cdc_stream",
    (s, d) => {
      val root = memoFixture(s, d, "cdcs") { rootDir =>
        val srcTbl = s"$rootDir/src"
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), srcTbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), srcTbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.deleteWhere(s, srcTbl,
          o.filter(col("o_orderkey") % 31 === 0).select("o_orderkey"),
          "o_orderkey")
        Snapshots.upsertMor(s, srcTbl,
          o.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          "o_orderkey")
        val q = s.readStream.format("graft")
          .option("readChangeFeed", "true").load(srcTbl)
          .writeStream.format("graft").option("path", s"$rootDir/out")
          .option("checkpointLocation", s"$rootDir/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.format("graft").load(s"$root/out")
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("commit_version"), col("change_type"))
    },
    Some(s"""SELECT 1 AS commit_version, 'insert' AS change_type,
         count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT 2, 'insert', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 2 = 1
         UNION ALL
         SELECT 3, 'delete', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 31 = 0
         UNION ALL
         SELECT 4, 'delete', count(*), ${dsumSql("o_totalprice")}
         FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 31 <> 0
         UNION ALL
         SELECT 4, 'insert', count(*), ${dsumSql("o_totalprice * 2")}
         FROM orders WHERE o_orderkey % 97 = 0
         ORDER BY commit_version, change_type"""))

  /** X96: change-feed MV maintenance ([[graft.plans.SnapshotMv]] over
    * [[Snapshots.changes]]) — the rollup is refreshed at v1, then a
    * merge-on-read delete (keys ≡ 0 mod 7) and an upsert (keys ≡ 0 mod
    * 11, price doubled) land, and the second refresh folds the CHANGE
    * FEED into the stored state: delete pre-images subtract, upsert
    * pairs net to the value change — no fact rescan, no full rebuild.
    * Keys ≡ 0 mod 77 exercise delete-then-upsert re-insertion through
    * the fold. Output is the stored rollup itself; the oracle recomputes
    * it from source truth, so the hash pins fold ≡ recompute.
    */
  val mvChanges = Q("q_mv_changes",
    (s, d) => {
      def mvOf(tbl: String) = graft.plans.SnapshotMv.SnapshotMvDef(tbl,
        tablePath(s, d, "mvchroot"),
        keys = Seq("o_orderpriority"), countCol = "n",
        sums = Seq(graft.plans.MaterializedViews.MvSum("rev", "o_totalprice",
          Some(org.apache.spark.sql.types.DecimalType(27, 4)))))
      val tbl = memoFixture(s, d, "mvch") { tbl =>
        val o = orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        val root = freshTable(s, d, "mvchroot") // cleared with the memo
        val _ = root
        Snapshots.commit(o, tbl, statsCols = Seq("o_orderkey"))
        graft.plans.SnapshotMv.refresh(s, mvOf(tbl)) // full build at v1
        Snapshots.deleteWhere(s, tbl,
          o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
          "o_orderkey")
        Snapshots.upsertMor(s, tbl,
          o.filter(col("o_orderkey") % 11 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          "o_orderkey")
        graft.plans.SnapshotMv.refresh(s, mvOf(tbl)) // change-feed fold
      }
      val root = tablePath(s, d, "mvchroot")
      try {
        // already-current: registration only
        val v = graft.plans.SnapshotMv.refresh(s, mvOf(tbl))
        s.read.parquet(s"$root/r$v")
          .select(col("o_orderpriority"), col("n"),
            col("rev").cast("double").as("rev"))
          .orderBy(col("o_orderpriority"))
          .localCheckpoint()
      } finally graft.plans.MaterializedViews.clear()
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(CASE WHEN o_orderkey % 11 = 0
                            THEN o_totalprice * 2
                            ELSE o_totalprice END
                       AS DECIMAL(27,4))) AS DOUBLE) AS rev
         FROM orders
         WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 <> 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** X97: change-feed replication ([[graft.sources.Replication.sync]]) —
    * a target versioned table follows the source's append / MOR-delete /
    * upsert history by applying only row-level deltas (each source
    * version replayed with the write shape that produced it, the sync
    * marker riding the same atomic commit). The output aggregates the
    * REPLICA, so the oracle pins the mirror's content to source truth.
    */
  val replicate = Q("q_replicate",
    (s, d) => {
      // the memo key is the REPLICA: src is rebuilt inside the same
      // one-time build, so both sides exist iff the memo holds
      val dst = memoFixture(s, d, "repldst") { dst =>
        val o = orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        val src = freshTable(s, d, "replsrc")
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), src,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), src,
          statsCols = Seq("o_orderkey"))
        Snapshots.deleteWhere(s, src,
          o.filter(col("o_orderkey") % 31 === 0).select("o_orderkey"),
          "o_orderkey")
        Snapshots.upsertMor(s, src,
          o.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          "o_orderkey")
        graft.sources.Replication.sync(s, src, dst, "o_orderkey")
      }
      Snapshots.readMor(s, dst)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_rows,
         CAST(sum(CAST(CASE WHEN o_orderkey % 97 = 0
                            THEN o_totalprice * 2
                            ELSE o_totalprice END
                       AS DECIMAL(27,4))) AS DOUBLE) AS total
         FROM orders
         WHERE o_orderkey % 97 = 0 OR o_orderkey % 31 <> 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** X98: CHECK constraints ([[Snapshots.addCheck]]) — a table-level
    * invariant recorded once, inherited by every commit, enforced on
    * every write path BEFORE anything becomes visible. The query commits
    * half the orders, adds `o_totalprice > 0`, then attempts a poisoned
    * batch (negated prices — rejected atomically, swallowed here) and a
    * clean one; the final read equals the full table, which the oracle
    * pins — if enforcement ever let the poisoned batch through, the hash
    * would break.
    */
  val checkConstraintsQ = Q("q_check_constraints",
    (s, d) => {
      val tbl = memoFixture(s, d, "chk") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.addCheck(s, tbl, "price_pos", "o_totalprice > 0")
        try Snapshots.commit(
          o.filter(col("o_orderkey") % 2 === 1)
            .withColumn("o_totalprice", -col("o_totalprice")), tbl)
        catch { case _: IllegalArgumentException => () }
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), tbl)
      }
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM orders"""))

  /** X101: UNIQUE key constraint ([[Snapshots.addUnique]]) — primary-key
    * enforcement on a versioned table: a colliding append is rejected
    * (envelope-pruned check against the MOR-visible rows, swallowed
    * here), a MOR delete frees its keys, and the legal re-insert with
    * doubled prices lands. The oracle replays exactly the accepted
    * history — if enforcement ever admitted the colliding batch, the
    * count and sum would break.
    */
  val uniqueKey = Q("q_unique_key",
    (s, d) => {
      val tbl = memoFixture(s, d, "uq") { tbl =>
        val dedup = src(s, d).groupBy(col("o_orderkey"))
          .agg(max(col("o_totalprice")).as("o_totalprice"))
        Snapshots.commit(dedup, tbl, statsCols = Seq("o_orderkey"))
        Snapshots.addUnique(s, tbl, "o_orderkey")
        try Snapshots.commit(dedup.filter(col("o_orderkey") % 10 === 0), tbl)
        catch { case _: IllegalArgumentException => () }
        Snapshots.deleteWhere(s, tbl,
          dedup.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
          "o_orderkey")
        Snapshots.commit(
          dedup.filter(col("o_orderkey") % 5 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          tbl, statsCols = Seq("o_orderkey"))
      }
      Snapshots.readMor(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some("""WITH dd AS (SELECT o_orderkey, max(o_totalprice) AS p
           FROM orders GROUP BY 1)
         SELECT count(*) AS n_rows,
           CAST(sum(CAST(CASE WHEN o_orderkey % 5 = 0 THEN p * 2 ELSE p END
                         AS DECIMAL(27,4))) AS DOUBLE) AS total
         FROM dd"""))

  /** X102: metadata-only column rename ([[Snapshots.renameColumn]]) —
    * v1 commits under `o_totalprice`, the rename lands without touching
    * a data byte, v3 appends under `price`, and the latest read unions
    * BOTH file eras under the new name via the data-sequence era
    * mapping (a name-based reader would null-fill half the table);
    * time travel to v1 still shows the old name. The oracle pins both
    * the pre-rename snapshot and the cross-era union to source truth.
    */
  val renameColumnQ = Q("q_rename_column",
    (s, d) => {
      val tbl = freshTable(s, d, "ren")
      val o = src(s, d)
      Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
        statsCols = Seq("o_orderkey"))
      Snapshots.renameColumn(s, tbl, "o_totalprice", "price")
      Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "price"),
        tbl, statsCols = Seq("o_orderkey"))
      val v1 = Snapshots.read(s, tbl, Some(1))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(lit(1).as("version"), col("n_rows"), col("total"))
      val v3 = Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("price")).as("total"))
        .select(lit(3).as("version"), col("n_rows"), col("total"))
      v1.unionByName(v3).orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_rows,
         ${dsumSql("o_totalprice")} AS total
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT 3, count(*), ${dsumSql("o_totalprice")} FROM orders
         ORDER BY version"""))

  /** X102: metadata-only column drop ([[Snapshots.dropColumn]]) — the
    * narrowing twin of the rename: v1 commits three columns, the drop
    * retires `o_orderdate` without touching a byte, v3 appends the
    * narrow shape, and the latest read projects old files down while
    * time travel keeps v1's width. The oracle pins counts, the
    * surviving column's sum, and both schema widths.
    */
  val dropColumnQ = Q("q_drop_column",
    (s, d) => {
      val tbl = memoFixture(s, d, "dropc") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.dropColumn(s, tbl, "o_orderdate")
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1)
            .drop("o_orderdate"), tbl, statsCols = Seq("o_orderkey"))
      }
      def row(v: Option[Int], tag: Int) = {
        val r = Snapshots.read(s, tbl, v)
        r.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
          .select(lit(tag).as("version"), col("n_rows"), col("total"),
            lit(r.columns.length).as("n_cols"))
      }
      row(Some(1), 1).unionByName(row(None, 3)).orderBy(col("version"))
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_rows,
         ${dsumSql("o_totalprice")} AS total, 3 AS n_cols
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT 3, count(*), ${dsumSql("o_totalprice")}, 2 FROM orders
         ORDER BY version"""))

  /** X104: metadata-only aggregates ([[Snapshots.statsAgg]]) — exact
    * COUNT/MIN/MAX answered from manifest row counts and footer-exact
    * key envelopes: zero data IO, constant time at any table size (the
    * dashboard "how big is this table" query a 100 TB warehouse must
    * never scan for). The table is committed in two stats-carrying
    * versions; the oracle recomputes from source truth, pinning the
    * envelope fold exact.
    */
  val statsAggQ = Q("q_stats_agg",
    (s, d) => {
      import s.implicits._
      val tbl = memoFixture(s, d, "stats") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), tbl,
          statsCols = Seq("o_orderkey"))
      }
      val (n, env) = Snapshots.statsAgg(s, tbl, "o_orderkey")
      val (lo, hi) = env.getOrElse(sys.error("empty table"))
      Seq((n, lo, hi)).toDF("n_rows", "min_key", "max_key")
    },
    Some("""SELECT count(*) AS n_rows,
         CAST(min(o_orderkey) AS BIGINT) AS min_key,
         CAST(max(o_orderkey) AS BIGINT) AS max_key
         FROM orders"""))

  /** X95: multi-table atomic transaction ([[Snapshots.commitTxn]]) — a
    * fact table and its rollup committed in lockstep (pending manifests +
    * one shared status-file commit point), twice. The result joins the
    * fact-side recompute against the rollup table per priority; the
    * oracle pins both to the source truth — only possible if every
    * transaction landed on both tables exactly once.
    */
  val txnConsistent = Q("q_txn_consistent",
    (s, d) => {
      val a = memoFixture(s, d, "txna") { a =>
        val b = freshTable(s, d, "txnb")
        val txns = freshTable(s, d, "txnlog")
        val o = orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
        def roll(df: DataFrame) =
          df.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        val lo = o.filter(col("o_orderkey") % 2 === 0)
        val hi = o.filter(col("o_orderkey") % 2 === 1)
        Snapshots.commitTxn(s, Seq(
          Snapshots.TxnWrite(lo, a), Snapshots.TxnWrite(roll(lo), b)), txns)
        Snapshots.commitTxn(s, Seq(
          Snapshots.TxnWrite(hi, a), Snapshots.TxnWrite(roll(hi), b)), txns)
      }
      val b = tablePath(s, d, "txnb")
      val facts = Snapshots.read(s, a)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_facts"))
      val rollup = Snapshots.read(s, b)
        .groupBy(col("o_orderpriority")).agg(sum(col("n")).as("n_rollup"))
      facts.join(rollup, "o_orderpriority").orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_facts,
         count(*) AS n_rollup
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** X101: UNIQUE on a STRING key ([[Snapshots.addUnique]]) — the type
    * path the reference's own natural keys (customer/product ids) use.
    * Keys like `C<custkey>` are non-numeric, so a cast-based check
    * would null them all out and silently admit the colliding
    * re-append; enforcement compares UNCAST and prunes parent files by
    * the UTF-8 string envelopes. The oracle replays the accepted
    * history — base rows plus the disjoint `X…`-keyed append — so an
    * admitted duplicate would break both count and sum.
    */
  val uniqueKeyStr = Q("q_unique_key_str",
    (s, d) => {
      val tbl = memoFixture(s, d, "uqs") { tbl =>
        val byCust = orders(s, d).groupBy(col("o_custkey"))
          .agg(max(col("o_totalprice")).as("o_totalprice"))
        def keyed(prefix: String, df: DataFrame) =
          df.select(concat(lit(prefix), col("o_custkey")).as("cust_id"),
            col("o_totalprice"))
        Snapshots.commit(keyed("C", byCust), tbl,
          strStatsCols = Seq("cust_id"))
        Snapshots.addUnique(s, tbl, "cust_id")
        // colliding re-append of every 10th key — must be rejected
        try Snapshots.commit(
          keyed("C", byCust.filter(col("o_custkey") % 10 === 0)), tbl)
        catch { case _: IllegalArgumentException => () }
        // disjoint keys land, constraint inherited
        Snapshots.commit(
          keyed("X", byCust.filter(col("o_custkey") % 10 === 0))
            .withColumn("o_totalprice", col("o_totalprice") * 2), tbl)
      }
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some("""WITH dd AS (SELECT o_custkey, max(o_totalprice) AS p
           FROM orders GROUP BY 1),
         u AS (SELECT p FROM dd
               UNION ALL
               SELECT p * 2 FROM dd WHERE o_custkey % 10 = 0)
         SELECT count(*) AS n_rows,
           CAST(sum(CAST(p AS DECIMAL(27,4))) AS DOUBLE) AS total FROM u"""))

  /** X101: composite UNIQUE key — (order, line)-pair enforcement, the
    * key shape retail upserts actually use. A colliding pair re-append
    * is rejected; the SAME orders under fresh line numbers land,
    * because the TUPLE is the key, not the leading column. Oracle
    * replays the accepted history.
    */
  val uniqueKeyPair = Q("q_unique_pair",
    (s, d) => {
      val tbl = memoFixture(s, d, "uqp") { tbl =>
        val pairs = lineitem(s, d)
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(max(col("l_quantity")).as("qty"))
        Snapshots.commit(pairs, tbl, statsCols = Seq("l_orderkey"))
        Snapshots.addUnique(s, tbl, Seq("l_orderkey", "l_linenumber"))
        // colliding pairs — rejected
        try Snapshots.commit(pairs.filter(col("l_orderkey") % 7 === 0), tbl)
        catch { case _: IllegalArgumentException => () }
        // same orders, new line numbers — the tuple admits them
        Snapshots.commit(pairs.filter(col("l_orderkey") % 7 === 0)
          .withColumn("l_linenumber", col("l_linenumber") + 100), tbl)
      }
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("qty")).as("total_qty"))
    },
    Some("""WITH dd AS (SELECT l_orderkey, l_linenumber,
             max(l_quantity) AS q FROM lineitem GROUP BY 1, 2),
         u AS (SELECT q FROM dd
               UNION ALL
               SELECT q FROM dd WHERE l_orderkey % 7 = 0)
         SELECT count(*) AS n_rows,
           CAST(sum(CAST(q AS DECIMAL(27,4))) AS DOUBLE) AS total_qty
         FROM u"""))

  /** X104: metadata-only STRING aggregates ([[Snapshots.statsAggStr]])
    * — exact COUNT/MIN/MAX of a string column folded from the per-file
    * UTF-8 envelopes, zero data IO; the string twin of q_stats_agg.
    */
  val statsAggStrQ = Q("q_stats_agg_str",
    (s, d) => {
      import s.implicits._
      val tbl = memoFixture(s, d, "statss") { tbl =>
        val o = orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), tbl,
          strStatsCols = Seq("o_orderpriority"))
        Snapshots.commit(o.filter(col("o_orderkey") % 2 === 1), tbl,
          strStatsCols = Seq("o_orderpriority"))
      }
      val (n, env) = Snapshots.statsAggStr(s, tbl, "o_orderpriority")
      val (lo, hi) = env.getOrElse(sys.error("empty table"))
      Seq((n, lo, hi)).toDF("n_rows", "min_pri", "max_pri")
    },
    Some("""SELECT count(*) AS n_rows,
         min(o_orderpriority) AS min_pri,
         max(o_orderpriority) AS max_pri
         FROM orders"""))

  /** X115: position delete vectors — [[Snapshots.deleteVector]] deletes
    * by ARBITRARY PREDICATE (no key column) committing kilobytes of
    * (file, row-index) pairs instead of rewriting data files. Timeline:
    * v1 = pre-cutoff orders; v2 = DV masking high-price rows; v3 =
    * append post-cutoff rows (appends after the vector are never
    * masked — same data-sequence ordering as equality tombstones);
    * v4 = a second DV over everything visible. The oracle replays the
    * masks as era-scoped predicates over orders.
    */
  val deletionVector = Q("q_deletion_vector",
    (s, d) => {
      val tbl = memoFixture(s, d, "dv") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.deleteVector(s, tbl, col("o_totalprice") > 200000.0)
        Snapshots.commit(o.filter(col("o_orderdate") >= lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.deleteVector(s, tbl,
          col("o_totalprice") < 50000.0)
      }
      Snapshots.readMor(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM (
           SELECT o_totalprice FROM orders
           WHERE o_orderdate < DATE '$cutoff'
             AND NOT o_totalprice > 200000.0
             AND NOT o_totalprice < 50000.0
           UNION ALL
           SELECT o_totalprice FROM orders
           WHERE o_orderdate >= DATE '$cutoff'
             AND NOT o_totalprice < 50000.0)"""))

  /** X115: merge-on-read UPDATE — [[Snapshots.updateWhere]] commits ONE
    * atomic version holding a position vector of the matched rows plus
    * their re-written copies (cost O(matched), no file rewritten); a
    * later DV then deletes across original and updated rows alike. The
    * oracle replays update-then-delete as plain SQL over orders.
    */
  val updateWhere = Q("q_update_where",
    (s, d) => {
      val tbl = memoFixture(s, d, "uw") { tbl =>
        Snapshots.commit(src(s, d), tbl, statsCols = Seq("o_orderkey"))
        Snapshots.updateWhere(s, tbl, col("o_orderdate") < lit(cutoff),
          Seq("o_totalprice" -> col("o_totalprice") * 0.5))
        Snapshots.deleteVector(s, tbl, col("o_totalprice") > 150000.0)
      }
      Snapshots.readMor(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("p")} AS total FROM (
           SELECT CASE WHEN o_orderdate < DATE '$cutoff'
                       THEN o_totalprice * 0.5
                       ELSE o_totalprice END AS p
           FROM orders) WHERE NOT p > 150000.0"""))

  /** X116: SQL DML — UPDATE / DELETE / INSERT INTO ... SELECT through
    * `spark.sql` on a catalog graft table ([[graft.plans.SqlDml]]): an
    * analyzer rule rewrites the statements onto the snapshot protocol
    * (UPDATE → atomic vector+rows commit, DELETE → position vector,
    * INSERT → commit), and the INSERT's self-referencing SELECT plus
    * the final aggregate read back through the catalog's merge-on-read
    * relation. The oracle replays the three statements as plain SQL.
    */
  val sqlDml = Q("q_sql_dml",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqldml") { tbl =>
        Snapshots.commit(src(s, d), tbl, statsCols = Seq("o_orderkey"))
        bindName(q, "graft_dml_q", tbl)
        q.sql("UPDATE graft_dml_q SET o_totalprice = o_totalprice * 0.5 " +
          s"WHERE o_orderdate < DATE '$cutoff'")
        q.sql("DELETE FROM graft_dml_q WHERE o_totalprice > 150000.0")
        q.sql("INSERT INTO graft_dml_q SELECT o_orderkey + 10000000, 1.0, " +
          "DATE '1999-12-31' FROM graft_dml_q WHERE o_totalprice < 1000.0")
      }
      bindName(q, "graft_dml_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total FROM graft_dml_q""")
    },
    Some(s"""WITH updated AS (
           SELECT CASE WHEN o_orderdate < DATE '$cutoff'
                       THEN o_totalprice * 0.5
                       ELSE o_totalprice END AS p
           FROM orders),
         kept AS (SELECT p FROM updated WHERE NOT p > 150000.0),
         final AS (
           SELECT p FROM kept
           UNION ALL
           SELECT 1.0 FROM kept WHERE p < 1000.0)
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total FROM final"""))

  /** Correlated subqueries in DML predicates — the real CDC
    * DELETE/UPDATE shape (`WHERE [NOT] EXISTS (SELECT ... WHERE s.k =
    * t.k)`): the rule DECORRELATES the equality-correlated
    * EXISTS/NOT-EXISTS/IN into the uncorrelated `(keys) IN (SELECT
    * ...)` it denotes (exact under nulls — inner null keys filtered,
    * null outer keys short-circuit FALSE) and the statement lands
    * through the same vector/rewrite commits as any other predicate.
    * DuckDB replays the NATIVE correlated form, so the oracle pins the
    * decorrelation itself, not a hand-rewritten equivalent.
    */
  val sqlDmlCorr = Q("q_sql_dml_corr",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqldmlc") { tbl =>
        Snapshots.commit(src(s, d).filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        bindName(q, "graft_cdml_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_cdml_src AS " +
          "SELECT o_orderkey, o_orderdate " +
          s"FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 3 = 0")
        // correlated EXISTS DELETE: drop rows whose key has an OLD entry
        // in the feed
        q.sql("DELETE FROM graft_cdml_q WHERE EXISTS " +
          "(SELECT 1 FROM graft_cdml_src s " +
          "WHERE s.o_orderkey = graft_cdml_q.o_orderkey " +
          s"AND s.o_orderdate < DATE '$cutoff')")
        // correlated NOT EXISTS UPDATE: double rows the feed never saw
        q.sql("UPDATE graft_cdml_q SET o_totalprice = o_totalprice * 2 " +
          "WHERE NOT EXISTS (SELECT 1 FROM graft_cdml_src s " +
          "WHERE s.o_orderkey = graft_cdml_q.o_orderkey)")
      }
      bindName(q, "graft_cdml_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total FROM graft_cdml_q""")
    },
    Some(s"""WITH t0 AS (
           SELECT o_orderkey AS k, o_totalprice AS p, o_orderdate AS dt
           FROM orders WHERE o_orderkey % 2 = 0),
         src AS (
           SELECT o_orderkey AS k, o_orderdate AS dt
           FROM orders WHERE o_orderkey % 3 = 0),
         t1 AS (
           SELECT * FROM t0 WHERE NOT EXISTS (
             SELECT 1 FROM src s
             WHERE s.k = t0.k AND s.dt < DATE '$cutoff')),
         t2 AS (
           SELECT k, CASE WHEN NOT EXISTS (
               SELECT 1 FROM src s WHERE s.k = t1.k)
             THEN p * 2 ELSE p END AS p
           FROM t1)
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total FROM t2"""))

  /** Correlated SCALAR subqueries in UPDATE SET values — the CDC
    * enrichment shape (`SET v = v + (SELECT agg FROM s WHERE s.k =
    * t.k)`): the rule lifts each scalar into a per-key aggregate
    * LEFT-JOIN lookup, with the aggregate-over-empty default for
    * unmatched keys — so the COUNT statement pins the classic
    * decorrelation bug (unmatched groups add 0, never NULL). The
    * second statement carries a decimal-exact SUM nested inside a
    * larger SET expression. DuckDB replays both statements in their
    * NATIVE correlated form, so the hash pins the decorrelation
    * itself.
    */
  val sqlUpdateScalar = Q("q_sql_update_scalar",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlusc") { tbl =>
        Snapshots.commit(src(s, d).filter(col("o_orderkey") % 2 === 1), tbl,
          statsCols = Seq("o_orderkey"))
        bindName(q, "graft_usc_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_usc_src AS " +
          "SELECT o_orderkey, o_totalprice " +
          s"FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 3 = 0")
        // COUNT lookup on a GROUP correlation (o_orderkey % 100): every
        // pre-cutoff row adds its group's feed count; groups the feed
        // never saw add 0 — the empty default, not NULL
        q.sql("UPDATE graft_usc_q SET o_totalprice = o_totalprice + " +
          "(SELECT count(*) FROM graft_usc_src s " +
          "WHERE s.o_orderkey % 100 = graft_usc_q.o_orderkey % 100) " +
          s"WHERE o_orderdate < DATE '$cutoff'")
        // decimal-exact SUM on the exact key, nested in the SET value —
        // the whole addition stays in DECIMAL(·,4) so every post-update
        // row value is a scale-4 decimal that round-trips the
        // double boundary identically in both engines
        q.sql("UPDATE graft_usc_q SET o_totalprice = " +
          "CAST(CAST(o_totalprice AS DECIMAL(27,4)) + " +
          "coalesce((SELECT sum(CAST(s.o_totalprice AS DECIMAL(27,4))) " +
          "FROM graft_usc_src s " +
          "WHERE s.o_orderkey = graft_usc_q.o_orderkey), " +
          "CAST(0 AS DECIMAL(27,4))) AS DOUBLE) " +
          s"WHERE o_orderdate >= DATE '$cutoff'")
      }
      bindName(q, "graft_usc_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total FROM graft_usc_q""")
    },
    Some(s"""WITH t0 AS (
           SELECT o_orderkey AS k, o_totalprice AS p, o_orderdate AS dt
           FROM orders WHERE o_orderkey % 2 = 1),
         src AS (
           SELECT o_orderkey AS k, o_totalprice AS p
           FROM orders WHERE o_orderkey % 3 = 0),
         t1 AS (
           SELECT k, CASE WHEN dt < DATE '$cutoff'
             THEN p + (SELECT count(*) FROM src s
                       WHERE s.k % 100 = t0.k % 100)
             ELSE p END AS p, dt
           FROM t0),
         t2 AS (
           SELECT k, CASE WHEN dt >= DATE '$cutoff'
             THEN CAST(CAST(p AS DECIMAL(27,4)) +
               coalesce((SELECT sum(CAST(s.p AS DECIMAL(27,4)))
                 FROM src s WHERE s.k = t1.k),
                 CAST(0 AS DECIMAL(27,4))) AS DOUBLE)
             ELSE p END AS p
           FROM t1)
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total FROM t2"""))

  /** SQL maintenance surface: the snapshot tier's maintenance ops as
    * Iceberg-procedure-shaped `CALL` statements
    * ([[graft.plans.SqlMaintenance]]) — here `CALL graft_compact` folds
    * a 3-commit scattered layout into one file as a NEW version
    * (content identical, history preserved). The result pins all three
    * claims: `n_files` = 1 proves the compaction ran, `n_versions` = 4
    * proves it was a commit (not a rewrite-in-place), and the
    * count/total prove content-preservation against the source table.
    * The command executes at statement execution — `EXPLAIN CALL` is
    * side-effect-free (spec-pinned in SqlMaintenanceSpec).
    */
  val sqlMaintain = Q("q_sql_maintain",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmnt") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderkey") % 3 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderkey") % 3 === 1), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderkey") % 3 === 2), tbl,
          statsCols = Seq("o_orderkey"))
        q.sql(s"CALL graft_compact('$tbl')")
        // registered AFTER the call so the catalog relation resolves the
        // compacted head (CALL takes a path, not a catalog ident, so it
        // has no table entry to refresh)
        bindName(q, "graft_mnt_q", tbl)
      }
      bindName(q, "graft_mnt_q", tbl)
      q.sql(s"""SELECT
          (SELECT count(*) FROM graft_files('$tbl')) AS n_files,
          (SELECT count(*) FROM graft_history('$tbl')) AS n_versions,
          count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
        FROM graft_mnt_q""")
    },
    Some(s"""SELECT CAST(1 AS BIGINT) AS n_files,
           CAST(4 AS BIGINT) AS n_versions,
           count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM orders"""))

  /** Predicate-scoped compaction ([[Snapshots.compactWhere]], the
    * Iceberg/Delta `OPTIMIZE ... WHERE` shape) through `CALL
    * graft_compact(path => ..., where => ...)`: two KEY-DISJOINT
    * batches (pre-cutoff in 4 files, post-cutoff in 3), then a
    * compaction scoped to the pre-cutoff key range — envelope evidence
    * proves the 3 post-cutoff files row-free for the predicate, so
    * they carry BYTE-IDENTICAL (SqlMaintenanceSpec pins path/bytes/seq
    * identity) while the 4 touched files fold into 1. `n_files` = 4
    * pins the split (1 rewritten + 3 carried — a whole-version compact
    * would read 1), `n_versions` = 3 pins it was a commit, the
    * count/total pin content preservation.
    */
  val compactWhereQ = Q("q_compact_where",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "cmpw") { tbl =>
        val o = src(s, d)
        Snapshots.commit(
          o.filter(col("o_orderdate") < lit(cutoff)).repartition(4),
          tbl, statsCols = Seq("o_orderkey"),
          strStatsCols = Seq.empty)
        Snapshots.commit(
          o.filter(col("o_orderdate") >= lit(cutoff))
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .repartition(3),
          tbl, statsCols = Seq("o_orderkey"))
        q.sql(s"CALL graft_compact(path => '$tbl', " +
          "where => 'o_orderkey < 10000000', " +
          "target_bytes => 1073741824)")
        bindName(q, "graft_cmpw_q", tbl)
      }
      bindName(q, "graft_cmpw_q", tbl)
      q.sql(s"""SELECT
          (SELECT count(*) FROM graft_files('$tbl')) AS n_files,
          (SELECT count(*) FROM graft_history('$tbl')) AS n_versions,
          count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
        FROM graft_cmpw_q""")
    },
    Some(s"""SELECT CAST(4 AS BIGINT) AS n_files,
           CAST(3 AS BIGINT) AS n_versions,
           count(*) AS n_rows, ${dsumSql("o_totalprice")} AS total
         FROM orders"""))

  /** DECIMAL end-to-end (the last untested type family in the table
    * format tier): a DECIMAL(18,4) price column and a DECIMAL(38,6)
    * sibling ride commit → unscaled-long manifest envelopes (precision
    * ≤ 18 is INT64-backed parquet; 38 is FLBA — correctly records no
    * envelope) → a partial-SET SQL MERGE whose decimal arithmetic casts
    * back to the recorded type → a range-filtered INDEXED read that
    * file-skips from the decimal envelope (SnapshotFileIndexSpec pins
    * per-type prune counts incl. the finer-scale-literal conservative
    * keep). All aggregates are decimal-exact; the oracle replays the
    * merge as decimal CASE arithmetic.
    */
  val decimalRoundtrip = Q("q_decimal_roundtrip",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "decrt") { tbl =>
        Snapshots.commit(
          src(s, d).select(col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,4)").as("price"),
            col("o_totalprice").cast("decimal(38,6)").as("big"))
            .repartitionByRange(6, col("price")),
          tbl, statsCols = Seq("o_orderkey", "price", "big"))
        bindName(q, "graft_dec_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_dec_src AS " +
          "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) " +
          s"AS delta FROM parquet.`$d/orders.parquet` " +
          "WHERE o_orderkey % 3 = 0")
        q.sql("MERGE INTO graft_dec_q t USING graft_dec_src s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET price = t.price + s.delta")
      }
      bindName(q, "graft_dec_q", tbl)
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("price") >= lit("50000").cast("decimal(18,4)"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("total"),
          max(col("big")).cast("double").as("max_big"))
    },
    Some(s"""SELECT count(*) AS n_rows,
           CAST(sum(p2) AS DOUBLE) AS total,
           CAST(max(big) AS DOUBLE) AS max_big
         FROM (
           SELECT CASE WHEN o_orderkey % 3 = 0
               THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 2
                    AS DECIMAL(18,4))
               ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS p2,
             CAST(o_totalprice AS DECIMAL(38,6)) AS big
           FROM orders)
         WHERE p2 >= CAST(50000 AS DECIMAL(18,4))"""))

  /** X116: SQL MERGE INTO — the analyzer expands `UPDATE SET * / INSERT
    * *` into per-column assignments, which the rule turns into one
    * key-exact [[Snapshots.merge]] upsert; a second MERGE with `WHEN
    * MATCHED THEN DELETE` maps to the tombstoning merge. Target = even
    * orders, source = div-3 orders at doubled price: matched (div 6)
    * update, unmatched (odd div 3) insert, then div-5 keys delete.
    */
  val sqlMerge = Q("q_sql_merge",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmrg") { tbl =>
        Snapshots.commit(src(s, d).filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        bindName(q, "graft_mrg_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_mrg_src AS " +
          "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, " +
          s"o_orderdate FROM parquet.`$d/orders.parquet` " +
          "WHERE o_orderkey % 3 = 0")
        q.sql("MERGE INTO graft_mrg_q t USING graft_mrg_src s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_del_src AS " +
          s"SELECT * FROM parquet.`$d/orders.parquet` " +
          "WHERE o_orderkey % 5 = 0")
        q.sql("MERGE INTO graft_mrg_q t USING graft_del_src s " +
          "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN DELETE")
      }
      bindName(q, "graft_mrg_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total FROM graft_mrg_q""")
    },
    Some(s"""WITH merged AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 3 = 0
                       THEN o_totalprice * 2
                       ELSE o_totalprice END AS p
           FROM orders
           WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total
         FROM merged WHERE NOT k % 5 = 0"""))

  /** X116 (general form): CONDITIONAL MERGE — the clause shapes real
    * CDC merges use, all in ONE statement landing as ONE atomic commit:
    * `WHEN MATCHED AND <cond> THEN DELETE` ahead of an unconditional
    * MATCHED UPDATE (first-true-wins cascade), a PARTIAL `SET` whose
    * value references BOTH sides (unassigned columns keep target
    * values), a conditional `NOT MATCHED ... INSERT *`, and
    * `WHEN NOT MATCHED BY SOURCE THEN UPDATE`. DuckDB replays the
    * cascade as CASE logic over the matched/unmatched partitions.
    */
  val sqlMergeConditional = Q("q_sql_merge_conditional",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmrgc") { tbl =>
        Snapshots.commit(src(s, d).filter(col("o_orderkey") % 2 === 0), tbl,
          statsCols = Seq("o_orderkey"))
        bindName(q, "graft_cmrg_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_cmrg_src AS " +
          "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, " +
          s"o_orderdate FROM parquet.`$d/orders.parquet` " +
          "WHERE o_orderkey % 3 = 0")
        q.sql("""MERGE INTO graft_cmrg_q t USING graft_cmrg_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND t.o_totalprice > 150000 THEN DELETE
          WHEN MATCHED THEN
            UPDATE SET o_totalprice = s.o_totalprice + t.o_totalprice
          WHEN NOT MATCHED AND s.o_totalprice < 100000 THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 50000 THEN
            UPDATE SET o_totalprice = 0""")
      }
      bindName(q, "graft_cmrg_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total FROM graft_cmrg_q""")
    },
    Some(s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p
               FROM orders WHERE o_orderkey % 2 = 0),
             s AS (SELECT o_orderkey AS k, o_totalprice * 2 AS p
               FROM orders WHERE o_orderkey % 3 = 0),
             merged AS (
               SELECT t.k, CASE WHEN t.p > 150000 THEN NULL
                                ELSE s.p + t.p END AS p
               FROM t JOIN s ON t.k = s.k
               UNION ALL
               SELECT s.k, s.p FROM s
               WHERE s.k NOT IN (SELECT k FROM t) AND s.p < 100000
               UNION ALL
               SELECT t.k, CASE WHEN t.p < 50000 THEN 0 ELSE t.p END AS p
               FROM t WHERE t.k NOT IN (SELECT k FROM s))
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total
         FROM merged WHERE p IS NOT NULL"""))

  /** X116 (string keys): MERGE keyed on a STRING column — the CDC-feed
    * shape whose primary keys are natural identifiers, not integers.
    * Keys compare UNCAST end-to-end (a '1'/'01' pair can never collapse,
    * non-numeric keys are first-class) and the copy-on-write file
    * pruning rides the per-file UTF-8 string envelopes
    * ([[graft.sources.ParquetMeta.fileStrStats]]) instead of the
    * integral [min,max] stats. Same upsert shape as `q_sql_merge` over
    * the injective key `'o' || o_orderkey`, so the oracle replays the
    * identical arithmetic.
    */
  val sqlMergeStr = Q("q_sql_merge_str",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmrgs") { tbl =>
        Snapshots.commit(
          src(s, d).filter(col("o_orderkey") % 2 === 0)
            .select(concat(lit("o"), col("o_orderkey")).as("k"),
              col("o_totalprice"), col("o_orderdate")),
          tbl, strStatsCols = Seq("k"))
        bindName(q, "graft_smrg_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_smrg_src AS " +
          "SELECT concat('o', o_orderkey) AS k, " +
          "o_totalprice * 2 AS o_totalprice, o_orderdate " +
          s"FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 3 = 0")
        q.sql("MERGE INTO graft_smrg_q t USING graft_smrg_src s " +
          "ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      bindName(q, "graft_smrg_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total FROM graft_smrg_q""")
    },
    Some(s"""WITH merged AS (
           SELECT CASE WHEN o_orderkey % 3 = 0
                       THEN o_totalprice * 2
                       ELSE o_totalprice END AS p
           FROM orders
           WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total
         FROM merged"""))

  /** X126: MERGE WITH SCHEMA EVOLUTION — the CDC-feed shape whose
    * upstream grew a column: source columns absent from the target
    * become NEW nullable target columns via a metadata-only
    * `Snapshots.addColumn` when the command executes (old rows read
    * null-filled per the era discipline, prior versions keep their own
    * schema), the star expansions carry the new columns' source values,
    * and the whole statement still lands as one merge commit. Here the
    * target starts as (o_orderkey, o_totalprice) and the source brings
    * o_orderdate: matched+inserted rows carry their date, untouched
    * even-key rows read NULL — `n_dated` pins exactly that split.
    */
  val sqlMergeEvolve = Q("q_sql_merge_evolve",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmrge") { tbl =>
        Snapshots.commit(
          src(s, d).filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice")),
          tbl, statsCols = Seq("o_orderkey"))
        bindName(q, "graft_emrg_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_emrg_src AS " +
          "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, " +
          s"o_orderdate FROM parquet.`$d/orders.parquet` " +
          "WHERE o_orderkey % 3 = 0")
        q.sql("MERGE WITH SCHEMA EVOLUTION INTO graft_emrg_q t " +
          "USING graft_emrg_src s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      bindName(q, "graft_emrg_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("o_totalprice")} AS total,
        count(o_orderdate) AS n_dated FROM graft_emrg_q""")
    },
    Some(s"""WITH merged AS (
           SELECT CASE WHEN o_orderkey % 3 = 0
                       THEN o_totalprice * 2
                       ELSE o_totalprice END AS p,
                  CASE WHEN o_orderkey % 3 = 0
                       THEN o_orderdate END AS d
           FROM orders
           WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
         SELECT count(*) AS n_rows, ${dsumSql("p")} AS total,
                count(d) AS n_dated
         FROM merged"""))

  /** X126 (type widening): MERGE WITH SCHEMA EVOLUTION against a feed
    * that OUTGREW a column's width — the target stores `amt` as INT,
    * the evolved source sends BIGINT values far outside int range. The
    * statement composes the metadata-only [[Snapshots.widenColumn]]
    * event (int->bigint, files unrewritten, per-era cast on read) with
    * the merge commit, so matched/inserted rows carry the wide values
    * EXACTLY while untouched rows read their old ints widened. The
    * pre-merge version keeps its own width — `old_type`/`old_total`
    * pin that through a `VERSION AS OF` travel read, and
    * `new_type` pins the widened latest schema via `typeof`.
    */
  val sqlMergeEvolveWiden = Q("q_sql_merge_evolve_widen",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmrgw") { tbl =>
        Snapshots.commit(
          orders(s, d).filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"),
              col("o_custkey").cast("int").as("amt")),
          tbl, statsCols = Seq("o_orderkey"))
        bindName(q, "graft_wmrg_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_wmrg_src AS " +
          "SELECT o_orderkey, CAST(o_custkey AS BIGINT) * 100000000 AS amt " +
          s"FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 3 = 0")
        q.sql("MERGE WITH SCHEMA EVOLUTION INTO graft_wmrg_q t " +
          "USING graft_wmrg_src s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      bindName(q, "graft_wmrg_q", tbl)
      q.sql("""SELECT l.n_rows, l.total, l.new_type,
          o.old_rows, o.old_total, o.old_type
        FROM (SELECT count(*) AS n_rows,
                CAST(sum(CAST(amt AS DECIMAL(38,0))) AS DOUBLE) AS total,
                max(typeof(amt)) AS new_type FROM graft_wmrg_q) l
        CROSS JOIN (SELECT count(*) AS old_rows,
                CAST(sum(CAST(amt AS DECIMAL(38,0))) AS DOUBLE)
                  AS old_total,
                max(typeof(amt)) AS old_type
              FROM graft_wmrg_q VERSION AS OF 1) o""")
    },
    Some("""WITH merged AS (
           SELECT CASE WHEN o_orderkey % 3 = 0
                       THEN CAST(o_custkey AS BIGINT) * 100000000
                       ELSE CAST(o_custkey AS INTEGER) END AS amt
           FROM orders
           WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
         old AS (
           SELECT CAST(o_custkey AS INTEGER) AS amt
           FROM orders WHERE o_orderkey % 2 = 0)
         SELECT (SELECT count(*) FROM merged) AS n_rows,
                (SELECT CAST(sum(CAST(amt AS DECIMAL(38,0))) AS DOUBLE)
                   FROM merged) AS total,
                'bigint' AS new_type,
                (SELECT count(*) FROM old) AS old_rows,
                (SELECT CAST(sum(CAST(amt AS DECIMAL(38,0))) AS DOUBLE)
                   FROM old) AS old_total,
                'int' AS old_type"""))

  /** X125: COMPOSITE-key MERGE — `ON t.k1 = s.k1 AND t.k2 = s.k2`, the
    * (order_id, line_number)-shaped tuple keys real CDC feeds carry,
    * landed through [[graft.sources.Snapshots.mergeComposite]]: the
    * anti-join compares the FULL tuple (so rows sharing only one key
    * column are never touched) while file pruning rides the LEADING
    * column's envelope — lead-clustered layouts keep a bounded CDC
    * batch's rewrite bounded at any table size. The key is
    * (l_orderkey BIGINT, l_linenumber INT): mixed widths, so the tuple
    * comparison's width-free long normalization is exercised too.
    */
  val sqlMergeMulti = Q("q_sql_merge_multi",
    (s, d) => {
      val q = graft.plans.SqlDml.enable(s)
      val tbl = memoFixture(s, d, "sqlmrgm") { tbl =>
        // tuple-unique base: the driver's synthetic lineitem DUPLICATES
        // some (orderkey, linenumber) tuples, which the MERGE cardinality
        // guard correctly refuses — aggregate first (max: exact on
        // doubles, no accumulation order)
        val base = lineitem(s, d)
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(max(col("l_quantity")).as("qty"))
        Snapshots.commit(base.filter(col("l_orderkey") % 2 === 0), tbl,
          statsCols = Seq("l_orderkey"))
        bindName(q, "graft_mmrg_q", tbl)
        q.sql("CREATE OR REPLACE TEMPORARY VIEW graft_mmrg_src AS " +
          "SELECT l_orderkey, l_linenumber, max(l_quantity) * 2 AS qty " +
          s"FROM parquet.`$d/lineitem.parquet` " +
          "WHERE l_orderkey % 3 = 0 AND l_linenumber <= 3 " +
          "GROUP BY l_orderkey, l_linenumber")
        q.sql("MERGE INTO graft_mmrg_q t USING graft_mmrg_src s " +
          "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      bindName(q, "graft_mmrg_q", tbl)
      q.sql(s"""SELECT count(*) AS n_rows,
        ${dsumSql("qty")} AS total FROM graft_mmrg_q""")
    },
    Some(s"""WITH base AS (
           SELECT l_orderkey AS k1, l_linenumber AS k2,
                  max(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         merged AS (
           SELECT CASE WHEN k1 % 3 = 0 AND k2 <= 3
                       THEN q * 2 ELSE q END AS q2
           FROM base
           WHERE k1 % 2 = 0 OR (k1 % 3 = 0 AND k2 <= 3))
         SELECT count(*) AS n_rows, ${dsumSql("q2")} AS total
         FROM merged"""))

  /** X117: hidden partitioning — the table declares `month(o_orderdate)`
    * ([[graft.sources.Partitioning.setSpec]]), the write path lays files
    * out one-partition-tuple-per-file automatically, and
    * `overwritePartitions` then atomically replaces EXACTLY the three
    * months its batch touches (the idempotent re-load shape) while every
    * other file is carried untouched. `n_parts` comes from the
    * metadata-only partition listing (file names + footer counts, zero
    * data IO) and is oracled against a real DISTINCT over the data.
    */
  val hiddenPartition = Q("q_hidden_partition",
    (s, d) => {
      import graft.sources.Partitioning
      val tbl = memoFixture(s, d, "hp") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.limit(0), tbl) // schema-bearing seed
        Partitioning.setSpec(s, tbl, Seq(Partitioning.Month("o_orderdate")))
        Partitioning.commitPartitioned(o, tbl)
        Partitioning.overwritePartitions(
          o.filter(col("o_orderdate") >= lit("1996-03-01") &&
              col("o_orderdate") < lit("1996-06-01"))
            .withColumn("o_totalprice", col("o_totalprice") * 2), tbl)
      }
      val nParts = Partitioning.partitions(s, tbl)
        .filter(col("spec") =!= "unpartitioned").count()
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(col("n_rows"), col("total"), lit(nParts).as("n_parts"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("p")} AS total,
           (SELECT count(DISTINCT year(o_orderdate) * 12
                         + month(o_orderdate)) FROM orders) AS n_parts
         FROM (
           SELECT CASE WHEN o_orderdate >= TIMESTAMP '1996-03-01'
                        AND o_orderdate <  TIMESTAMP '1996-06-01'
                       THEN o_totalprice * 2
                       ELSE o_totalprice END AS p
           FROM orders)"""))

  /** X117 composite specs: MULTI-TRANSFORM hidden partitioning —
    * `(year(o_orderdate), truncate[1000](o_custkey))` as ONE spec, the
    * Iceberg composite-layout shape a time × entity table wants: the
    * write path lays files out one (year, custkey-band) CELL per file,
    * the metadata-only listing counts the 2-level tuples, and
    * `overwritePartitions` replaces at CELL granularity — the batch
    * recomputes ONE year of ONLY the two low-custkey bands and every
    * high-band file in that same year is carried untouched, a re-load
    * shape a single-transform time spec cannot express. Both transforms
    * are arithmetic (year index, truncate band), so DuckDB replays the
    * cell count and the doubled-price overwrite exactly. Year (not
    * month) keeps the demo-scale cell count protocol-friendly (~100
    * cells at sf0.1, not ~1200 two-row files — at 100 TB each cell is
    * GBs and month is the right grain); the bucket-transform composite
    * (bloom-pruned) is spec-pinned in PartitioningSpec — xxhash64 has
    * no oracle twin.
    */
  val compositePartition = Q("q_composite_partition",
    (s, d) => {
      import graft.sources.Partitioning
      val tbl = memoFixture(s, d, "cpart") { tbl =>
        val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"))
        Snapshots.commit(o.limit(0), tbl) // schema-bearing seed
        Partitioning.setSpec(s, tbl, Seq(
          Partitioning.Year("o_orderdate"),
          Partitioning.Truncate(1000L, "o_custkey")))
        Partitioning.commitPartitioned(o, tbl)
        // cell-granular idempotent re-load: exactly the (year, band)
        // cells present in the batch are replaced — the filter IS the
        // full content of those cells (predicate boundary 2000 aligns
        // with the band width), so the final table equals orders with
        // the doubling applied to the predicate set
        Partitioning.overwritePartitions(
          o.filter(year(col("o_orderdate")) === 1996 &&
              col("o_custkey") < lit(2000))
            .withColumn("o_totalprice", col("o_totalprice") * 2), tbl)
      }
      val nParts = Partitioning.partitions(s, tbl)
        .filter(col("spec") =!= "unpartitioned").count()
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(col("n_rows"), col("total"), lit(nParts).as("n_parts"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("p")} AS total,
           (SELECT count(DISTINCT
                     CAST(year(o_orderdate) AS VARCHAR)
                     || '/' ||
                     CAST(o_custkey - (o_custkey % 1000) AS VARCHAR))
              FROM orders) AS n_parts
         FROM (
           SELECT CASE WHEN year(o_orderdate) = 1996
                        AND o_custkey < 2000
                       THEN o_totalprice * 2
                       ELSE o_totalprice END AS p
           FROM orders)"""))

  /** X50 join tier: DYNAMIC FILE PRUNING from a dimension
    * ([[graft.plans.DimFilePrune]]) — the star-join scan cut Delta calls
    * dynamic file pruning: a SELECTIVE dim filter (one nation's
    * suppliers, 1/25 of the key space) collects its bounded distinct
    * join keys, the FACT table's files prune through every manifest
    * evidence tier (integral envelopes on the range-clustered key +
    * blooms) BEFORE the join, and the join then runs over the surviving
    * files with the dim broadcast. At 100 TB this is the difference
    * between scanning the fact table and scanning one nation's slice of
    * it. Keys narrow to the fact column's recorded type pre-hash (bloom
    * hashes are width-sensitive); the oracle replays the plain join.
    * The file cut itself is pinned in SnapshotsSpec (evidence counts
    * are data-layout-dependent, not oracle-replayable). The dim here is
    * a plain parquet slice, bounded by the broadcast-size estimate;
    * [[dimFilePruneAuto]] proves its bound from a committed dim.
    */
  val dimFilePrune = Q("q_dim_file_prune",
    (s, d) => {
      val tbl = memoFixture(s, d, "dfp") { tbl =>
        val li = lineitem(s, d).select(col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        Snapshots.commit(
          li.repartitionByRange(16, col("l_suppkey"))
            .sortWithinPartitions(col("l_suppkey")),
          tbl, statsCols = Seq("l_suppkey"), bloomCols = Seq("l_suppkey"))
      }
      // min(s_nationkey): non-empty at every scale factor (tiny
      // generations may miss a fixed nation id entirely)
      val nat = supplier(s, d).agg(min(col("s_nationkey")).cast("long"))
        .head().getLong(0)
      val dim = supplier(s, d)
        .filter(col("s_nationkey") === lit(nat))
        .select(col("s_suppkey"))
      graft.plans.DimFilePrune.enable(s, tbl)
      // two-level aggregate, NOT count_distinct mixed into the agg:
      // RewriteDistinctAggregates plans mixed distinct/plain aggregates
      // as an Expand whose group ids come from exprId hash-map
      // iteration — session-history-dependent, the one plan-fingerprint
      // instability class (NOTES r13); the per-key partial also
      // combines map-side, which is the shape that scales
      Snapshots.readIndexed(s, tbl)._1
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("_n"),
          sum(revenue(col("l_extendedprice"), col("l_discount"))
            .cast("decimal(27,4)")).as("_rev"))
        .agg(sum(col("_n")).as("n_rows"),
          sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_suppliers"))
    },
    Some(s"""SELECT count(*) AS n_rows,
           ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue,
           count(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)"""))

  /** X122's optimizer-rule completion: AUTOMATIC dynamic file pruning
    * ([[graft.plans.DimFilePruneRule]]) — the SAME star-join scan cut as
    * q_dim_file_prune, but from a PLAIN `fact.join(dim)` with zero graft
    * API calls on the query path: the registration-scoped rule detects
    * the selective-dim equi-join over the enabled indexed fact, collects
    * the dim's bounded keys inside optimization, and swaps the fact's
    * file index for the pruned copy — no residual filter needed, the
    * inner join drops what the evidence proved row-free. This is how a
    * BI tool's generated star join gets the cut at 100 TB without
    * knowing the graft API exists. Uses the MAX nation (q_dim_file_prune
    * probes the min) so the two entries pin different dim slices; the
    * rewrite's firing (files kept/skipped) is pinned in DimFilePruneSpec.
    * The dim slice is COMMITTED as a graft table so its manifest row
    * total proves the bound STRUCTURALLY — the cut no longer rides the
    * broadcast-threshold estimate tier, so a session with
    * autoBroadcastJoinThreshold=-1 still gets it. The registration is
    * deliberately NOT cleared here: the returned frame optimizes lazily
    * (after this builder returns), and the registry key is this entry's
    * own tmp path, which no other query's scan resolves to.
    */
  val dimFilePruneAuto = Q("q_dim_file_prune_auto",
    (s, d) => {
      val tbl = memoFixture(s, d, "dfpa") { tbl =>
        val li = lineitem(s, d).select(col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        Snapshots.commit(
          li.repartitionByRange(16, col("l_suppkey"))
            .sortWithinPartitions(col("l_suppkey")),
          tbl, statsCols = Seq("l_suppkey"), bloomCols = Seq("l_suppkey"))
      }
      graft.plans.DimFilePrune.enable(s, tbl)
      val nat = supplier(s, d).agg(max(col("s_nationkey")).cast("long"))
        .head().getLong(0)
      val dimTbl = memoFixture(s, d, "dfpa_dim") { dimTbl =>
        Snapshots.commit(supplier(s, d)
          .filter(col("s_nationkey") === lit(nat))
          .select(col("s_suppkey")), dimTbl)
      }
      val dim = Snapshots.readIndexed(s, dimTbl)._1
      val (fact, _) = Snapshots.readIndexed(s, tbl)
      // the PLAIN join — the rule injects the cut
      fact.join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("_n"),
          sum(revenue(col("l_extendedprice"), col("l_discount"))
            .cast("decimal(27,4)")).as("_rev"))
        .agg(sum(col("_n")).as("n_rows"),
          sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_suppliers"))
    },
    Some(s"""SELECT count(*) AS n_rows,
           ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue,
           count(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey = (SELECT max(s_nationkey) FROM supplier)"""))

  /** The EVOLVED tier of the automatic prune rule
    * ([[graft.plans.DimFilePruneRule]]): the same zero-API star-join
    * cut as q_dim_file_prune_auto, but the FACT table carries a column
    * RENAME and a type WIDEN with surviving pre-event files — the state
    * a long-lived 100 TB table is actually in. The per-era indexed read
    * plans a union of era branches; the rule prunes EACH branch through
    * its own projection (era-name evidence, keys narrowed to the era's
    * physical width), so the evolved table keeps the dim-driven file
    * cut a flat table gets. The oracle replays the evolution as
    * CAST/CASE logic over the source tables; the per-branch cut counts
    * are pinned in DimFilePruneSpec.
    */
  val dimPruneEvolved = Q("q_dim_prune_evolved",
    (s, d) => {
      val tbl = memoFixture(s, d, "dfpe") { tbl =>
        val li = lineitem(s, d)
        // era 1: even orderkeys under pre-rename/pre-widen shape
        Snapshots.commit(
          li.filter(col("l_orderkey") % 2 === 0)
            .select(col("l_suppkey").as("sk0"),
              col("l_quantity").cast("int").as("qty"),
              col("l_extendedprice"))
            .repartitionByRange(8, col("sk0"))
            .sortWithinPartitions(col("sk0")),
          tbl, statsCols = Seq("sk0"), bloomCols = Seq("sk0"))
        Snapshots.renameColumn(s, tbl, "sk0", "supp_key")
        Snapshots.widenColumn(s, tbl, "qty",
          org.apache.spark.sql.types.LongType)
        // era 2: odd orderkeys under the evolved shape
        Snapshots.commit(
          li.filter(col("l_orderkey") % 2 === 1)
            .select(col("l_suppkey").as("supp_key"),
              col("l_quantity").cast("long").as("qty"),
              col("l_extendedprice"))
            .repartitionByRange(8, col("supp_key"))
            .sortWithinPartitions(col("supp_key")),
          tbl, statsCols = Seq("supp_key"), bloomCols = Seq("supp_key"))
      }
      graft.plans.DimFilePrune.enable(s, tbl)
      val nat = supplier(s, d).agg(min(col("s_nationkey")).cast("long"))
        .head().getLong(0)
      val dimTbl = memoFixture(s, d, "dfpe_dim") { dimTbl =>
        Snapshots.commit(supplier(s, d)
          .filter(col("s_nationkey") === lit(nat))
          .select(col("s_suppkey")), dimTbl)
      }
      val dim = Snapshots.readIndexed(s, dimTbl)._1
      val fact = Snapshots.readIndexedEvolved(s, tbl)._1
      // the PLAIN join — the rule's evolved tier injects the per-era cut
      fact.join(broadcast(dim), col("supp_key") === col("s_suppkey"))
        .groupBy(col("supp_key"))
        .agg(count(lit(1)).as("_n"),
          sum(col("qty")).as("_q"),
          sum(col("l_extendedprice").cast("decimal(27,4)")).as("_rev"))
        .agg(sum(col("_n")).as("n_rows"),
          sum(col("_q")).cast("long").as("total_qty"),
          sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_suppliers"))
    },
    Some(s"""SELECT count(*) AS n_rows,
           CAST(sum(CAST(CAST(l_quantity AS INTEGER) AS BIGINT)) AS BIGINT)
             AS total_qty,
           ${dsumSql("l_extendedprice")} AS revenue,
           count(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)"""))

  /** BATCH TWIN of the streaming lookup join
    * ([[graft.streaming.SnapshotStream.lookupJoin]]): one micro-batch's
    * exact per-batch semantics — the batch's bounded key set dim-prunes
    * the static graft table's files, the batch LEFT-joins the surviving
    * slice, misses null-extend. Static side = EVEN-keyed customers only
    * (so odd-key lookups genuinely miss); batch = one month of orders.
    * The oracle replays the same left join over the source tables;
    * stream ≡ batch equivalence and the per-batch file cut are pinned in
    * LookupStreamSpec (cut counts are layout-dependent, not
    * oracle-replayable).
    */
  val lookupEnrich = Q("q_lookup_enrich",
    (s, d) => {
      val tbl = memoFixture(s, d, "lkp") { tbl =>
        val cust = customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
          .filter(col("c_custkey") % 2 === 0)
        Snapshots.commit(
          cust.repartitionByRange(8, col("c_custkey"))
            .sortWithinPartitions(col("c_custkey")),
          tbl, statsCols = Seq("c_custkey"), bloomCols = Seq("c_custkey"))
      }
      val batch = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-02-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.streaming.SnapshotStream
        .lookupBatch(batch, tbl, "c_custkey", "o_custkey", maxKeys = 100000)
        .groupBy(coalesce(col("c_mktsegment"), lit("UNMATCHED"))
          .as("segment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"))
          .as("total"))
        .orderBy(col("segment"))
    },
    Some(s"""SELECT coalesce(c_mktsegment, 'UNMATCHED') AS segment,
           count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         FROM orders LEFT JOIN
           (SELECT c_custkey, c_mktsegment FROM customer
             WHERE c_custkey % 2 = 0) c
           ON o_custkey = c_custkey
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-02-01'
         GROUP BY 1 ORDER BY 1"""))

  /** X116: SQL time travel — `VERSION AS OF` / `TIMESTAMP AS OF` /
    * `VERSION AS OF '<tag>'` through plain `spark.sql` on a catalog
    * graft table (the Hints-batch substitution rule): v1 reads
    * pre-cutoff, the tag pins the same version under a name, and the
    * head reads everything — all three resolved inside ONE SQL UNION.
    */
  val sqlTimeTravel = Q("q_sql_timetravel",
    (s, d) => {
      val tbl = memoFixture(s, d, "sqltt") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit("1998-01-01")),
          tbl, statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderdate") >= lit("1998-01-01")),
          tbl, statsCols = Seq("o_orderkey"))
        Branches.tag(s, tbl, "pre-cutoff", Some(1))
      }
      val q = graft.plans.SqlDml.enable(s)
      q.sql("DROP TABLE IF EXISTS graft_tt_q")
      q.sql(s"CREATE TABLE graft_tt_q USING graft OPTIONS (path '$tbl')")
      q.sql(s"""SELECT 1 AS era, count(*) AS n_rows,
          ${dsumSql("o_totalprice")} AS total
          FROM graft_tt_q VERSION AS OF 1
        UNION ALL
        SELECT 2, count(*), ${dsumSql("o_totalprice")}
          FROM graft_tt_q VERSION AS OF 'pre-cutoff'
        UNION ALL
        SELECT 3, count(*), ${dsumSql("o_totalprice")}
          FROM graft_tt_q
        ORDER BY era""")
    },
    Some(s"""SELECT 1 AS era, count(*) AS n_rows,
           ${dsumSql("o_totalprice")} AS total
           FROM orders WHERE o_orderdate < DATE '1998-01-01'
         UNION ALL
         SELECT 2, count(*), ${dsumSql("o_totalprice")}
           FROM orders WHERE o_orderdate < DATE '1998-01-01'
         UNION ALL
         SELECT 3, count(*), ${dsumSql("o_totalprice")}
           FROM orders
         ORDER BY era"""))

  /** X116: SQL metadata table functions ([[graft.plans.MetaTables]]) —
    * `graft_history` / `graft_tags` answering from manifest metadata
    * only, COMPOSED in plain SQL (the TVFs join like any relation): per
    * version, its cumulative row count and the tag pinned to it. The
    * oracle replays the commit predicates.
    */
  val metaTables = Q("q_meta_tables",
    (s, d) => {
      val tbl = memoFixture(s, d, "mtv") { tbl =>
        val o = src(s, d)
        Snapshots.commit(o.filter(col("o_orderdate") < lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        Snapshots.commit(o.filter(col("o_orderdate") >= lit(cutoff)), tbl,
          statsCols = Seq("o_orderkey"))
        Branches.tag(s, tbl, "first-load", Some(1))
      }
      val q = graft.plans.SqlDml.enable(s)
      q.sql(s"""SELECT h.version, h.n_rows, t.name AS tag
        FROM graft_history('$tbl') h
        LEFT JOIN graft_tags('$tbl') t ON h.version = t.version
        ORDER BY h.version""")
    },
    Some(s"""SELECT 1 AS version, count(*) AS n_rows,
           'first-load' AS tag
           FROM orders WHERE o_orderdate < DATE '$cutoff'
         UNION ALL
         SELECT 2, count(*), NULL FROM orders
         ORDER BY version"""))

  /** X119: metadata-only type widening — v1 stores the key as INT,
    * `widenColumn` flips it to LONG without touching a file, and the
    * appended rows carry values beyond int range; the final aggregate
    * unions pre-widen (cast at read from the era's physical type) and
    * post-widen files exactly. The oracle replays the same arithmetic.
    */
  val widenColumnQ = Q("q_widen_column",
    (s, d) => {
      val tbl = freshTable(s, d, "widen")
      val o = src(s, d)
      Snapshots.commit(
        o.filter(col("o_orderdate") < lit(cutoff))
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_totalprice")),
        tbl, statsCols = Seq("o_orderkey"))
      Snapshots.widenColumn(s, tbl, "o_orderkey",
        org.apache.spark.sql.types.LongType)
      Snapshots.commit(
        o.filter(col("o_orderdate") >= lit(cutoff))
          .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
            col("o_totalprice")),
        tbl, statsCols = Seq("o_orderkey"))
      Snapshots.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          max(col("o_orderkey")).as("key_max"),
          dsum(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT count(*) AS n_rows,
           CAST(sum(k) AS BIGINT) AS key_sum,
           max(k) AS key_max,
           ${dsumSql("p")} AS total
         FROM (
           SELECT o_orderkey AS k, o_totalprice AS p FROM orders
           WHERE o_orderdate < DATE '$cutoff'
           UNION ALL
           SELECT o_orderkey + 10000000000, o_totalprice FROM orders
           WHERE o_orderdate >= DATE '$cutoff')"""))

  /** X121: DECLARED clustering — [[Snapshots.setClustering]] records
    * the table's sort order (here `zorder(l_partkey, l_suppkey)`) as
    * inherited metadata, and the next ordinary [[Snapshots
    * .compactVersion]] re-establishes it automatically (range-partition
    * on the z-value + in-file sort + auto-recorded envelopes) — the
    * operator never re-states the layout, so skipping does not decay as
    * the table churns. The box probe after compaction reads exactly the
    * plain conjunctive filter's rows (the oracle); ClusteringSpec
    * quantifies the file cut vs the pre-compaction scatter.
    */
  val clusteredCompact = Q("q_clustered_compact",
    (s, d) => {
      val tbl = memoFixture(s, d, "clus") { tbl =>
        val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        // committed SCATTERED: every file spans the whole key domain
        Snapshots.commit(li.repartition(8), tbl,
          statsCols = Seq("l_partkey", "l_suppkey"))
        Snapshots.setClustering(s, tbl, "zorder(l_partkey,l_suppkey)")
        Snapshots.compactVersion(s, tbl, targetBytes = 1L << 20)
      }
      val maxPart = part(s, d).agg(max(col("p_partkey")).cast("long"))
        .head().getLong(0)
      val maxSupp = supplier(s, d).agg(max(col("s_suppkey")).cast("long"))
        .head().getLong(0)
      Snapshots.readIndexed(s, tbl)._1
        .filter(col("l_partkey").between(1L, maxPart / 8) &&
          col("l_suppkey").between(1L, maxSupp / 8))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("qty"))
    },
    Some(s"""SELECT count(*) AS n_rows, ${dsumSql("l_quantity")} AS qty
         FROM lineitem
         WHERE l_partkey BETWEEN 1 AND (SELECT max(p_partkey) FROM part) // 8
           AND l_suppkey BETWEEN 1 AND (SELECT max(s_suppkey) FROM supplier) // 8"""))

  val all: Seq[Q] = Seq(timeTravel, snapshotDiff, fileSkip, versionedCompact,
    deletionVector, updateWhere, sqlDml, sqlDmlCorr, sqlUpdateScalar,
    sqlMaintain, compactWhereQ, decimalRoundtrip, sqlMerge,
    sqlMergeConditional,
    sqlMergeStr, sqlMergeMulti, sqlMergeEvolve, sqlMergeEvolveWiden,
    hiddenPartition, compositePartition, dimFilePrune, dimFilePruneAuto,
    dimPruneEvolved, lookupEnrich,
    sqlTimeTravel, metaTables, widenColumnQ, clusteredCompact,
    snapshotRollup, bloomSkip, zorderSkip, hilbertSkip, manifestList,
    branchMerge, autoSkip, tsSkip, autoSkipEvolved, formatIo, metaAgg,
    foreignKey,
    defaultColumn,
    wap, mergeInto,
    schemaEvolution,
    rollbackQ, compactSmallQ, tableHistory, strSkip, bucketJoin,
    bucketMergeJoin, cloneQ, morDelete, morUpsert, mvIncremental,
    resultCacheQ, timeTravelTs, changeFeed, cdcStream, txnConsistent,
    mvChanges,
    replicate, checkConstraintsQ, uniqueKey, uniqueKeyStr, uniqueKeyPair,
    renameColumnQ, dropColumnQ, statsAggQ, statsAggStrQ)
}
