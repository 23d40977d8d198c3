package graft.plans

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL DML over graft tables ([[SqlDml]]): INSERT/DELETE/UPDATE/MERGE
  * through `spark.sql`, each one atomic snapshot commit.
  */
class SqlDmlSpec extends SparkSpec {

  private lazy val dml: SparkSession = SqlDml.enable(spark)

  private def register(name: String, tbl: String): Unit = {
    dml.sql(s"DROP TABLE IF EXISTS $name")
    dml.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$tbl')")
  }

  /** Ids of the RDDs the context currently holds persisted — compared
    * as sets, so blocks the cleaner reaps meanwhile cannot mask a leak.
    */
  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def seed(tbl: String, n: Long = 10L): Unit = {
    import spark.implicits._
    Snapshots.commit((0L until n).map(k => (k, k * 10)).toDF("k", "v"),
      tbl, statsCols = Seq("k"))
  }

  test("INSERT INTO appends through the commit protocol; INSERT " +
      "OVERWRITE replaces; types are cast positionally") {
    val tbl = freshTable("ins")
    seed(tbl, 3)
    register("dml_ins", tbl)
    dml.sql("INSERT INTO dml_ins VALUES (100, 1000), (101, 1010)")
    assert(Snapshots.latestVersion(spark, tbl) === 2)
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (1L, 10L), (2L, 20L), (100L, 1000L), (101L, 1010L)))
    // INSERT ... SELECT
    dml.sql("INSERT INTO dml_ins SELECT k + 200, v FROM dml_ins " +
      "WHERE k >= 100")
    assert(rows(Snapshots.read(spark, tbl))
      .contains((300L, 1000L)))
    // overwrite replaces content but keeps history
    dml.sql("INSERT OVERWRITE dml_ins VALUES (7, 70)")
    assert(rows(Snapshots.read(spark, tbl)) === Set((7L, 70L)))
    assert(rows(Snapshots.read(spark, tbl, Some(2)))
      .contains((100L, 1000L)))
  }

  test("DELETE FROM commits a position vector — arbitrary predicate, " +
      "no key column, files untouched") {
    val tbl = freshTable("del")
    seed(tbl)
    register("dml_del", tbl)
    dml.sql("DELETE FROM dml_del WHERE v > 50 AND k % 2 = 0")
    assert(rows(Snapshots.read(spark, tbl)) ===
      (0L until 10L).filterNot(k => k * 10 > 50 && k % 2 == 0)
        .map(k => (k, k * 10)).toSet)
    // the commit added only a dv- file
    val m = Snapshots.manifest(spark, tbl, 2)
    val m1 = Snapshots.manifest(spark, tbl, 1).map(_.path).toSet
    assert(m.filterNot(e => m1(e.path)).forall(e => Snapshots.isDv(e.path)))
    // DELETE with no WHERE empties the table
    dml.sql("DELETE FROM dml_del")
    assert(Snapshots.read(spark, tbl).count() === 0)
  }

  test("UPDATE commits an atomic vector + rewritten rows") {
    val tbl = freshTable("upd")
    seed(tbl)
    register("dml_upd", tbl)
    dml.sql("UPDATE dml_upd SET v = v + 1 WHERE k < 3")
    assert(rows(Snapshots.read(spark, tbl)) ===
      (0L until 10L).map(k => (k, if (k < 3) k * 10 + 1 else k * 10)).toSet)
    assert(Snapshots.latestVersion(spark, tbl) === 2)
  }

  test("MERGE INTO: UPDATE SET * + INSERT * is a key-exact upsert; " +
      "MATCHED DELETE drops source keys; update-only and insert-only " +
      "restrict correctly") {
    import spark.implicits._
    val tbl = freshTable("mrg")
    seed(tbl, 5) // keys 0..4
    register("dml_mrg", tbl)
    // temp views cloned at enable() time carry over; views created
    // AFTER must be registered on the sibling session itself
    dml.createDataFrame(Seq((3L, 999L), (7L, 777L))).toDF("k", "v")
      .createOrReplaceTempView("src_up")
    dml.sql("MERGE INTO dml_mrg USING src_up ON dml_mrg.k = src_up.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (1L, 10L), (2L, 20L), (3L, 999L), (4L, 40L),
        (7L, 777L)))
    // update-only: unmatched key 8 must NOT be inserted
    dml.createDataFrame(Seq((4L, 444L), (8L, 888L))).toDF("k", "v")
      .createOrReplaceTempView("src_uo")
    dml.sql("MERGE INTO dml_mrg USING src_uo ON dml_mrg.k = src_uo.k " +
      "WHEN MATCHED THEN UPDATE SET *")
    val afterUo = rows(Snapshots.read(spark, tbl))
    assert(afterUo.contains((4L, 444L)) && !afterUo.exists(_._1 == 8L))
    // insert-only: matched key 4 must NOT be updated
    dml.createDataFrame(Seq((4L, 4444L), (9L, 99L))).toDF("k", "v")
      .createOrReplaceTempView("src_io")
    dml.sql("MERGE INTO dml_mrg USING src_io ON dml_mrg.k = src_io.k " +
      "WHEN NOT MATCHED THEN INSERT *")
    val afterIo = rows(Snapshots.read(spark, tbl))
    assert(afterIo.contains((4L, 444L)) && afterIo.contains((9L, 99L)))
    // matched delete
    dml.createDataFrame(Seq((0L, 0L), (1L, 0L))).toDF("k", "v")
      .createOrReplaceTempView("src_del")
    dml.sql("MERGE INTO dml_mrg USING src_del ON dml_mrg.k = src_del.k " +
      "WHEN MATCHED THEN DELETE")
    assert(!rows(Snapshots.read(spark, tbl)).exists(_._1 <= 1L))
  }

  test("guards: time-traveled relations refuse DML; constraints " +
      "enforce through SQL; unsupported MERGE shapes refuse loudly") {
    val tbl = freshTable("guard")
    seed(tbl, 5)
    Snapshots.addCheck(spark, tbl, "v_nonneg", "v >= 0")
    register("dml_g", tbl)
    dml.sql("DROP TABLE IF EXISTS dml_g_v1")
    dml.sql(s"CREATE TABLE dml_g_v1 USING graft " +
      s"OPTIONS (path '$tbl', versionAsOf '1')")
    val e1 = intercept[Exception] {
      dml.sql("DELETE FROM dml_g_v1 WHERE k = 1")
    }
    assert(e1.getMessage.contains("immutable"))
    val e2 = intercept[Exception] {
      dml.sql("INSERT INTO dml_g VALUES (50, -1)")
    }
    assert(e2.getMessage.contains("v_nonneg"))
    val e3 = intercept[Exception] {
      dml.sql("MERGE INTO dml_g USING dml_g s ON dml_g.k = s.v " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e3.getMessage.contains("same-named column"))
    // the parent session has no DML rule: its DELETE still refuses
    intercept[Exception] {
      spark.sql("DELETE FROM dml_g WHERE k = 1")
    }
    // and nothing above committed
    assert(Snapshots.latestVersion(spark, tbl) === 2)
  }

  test("SQL time travel: VERSION AS OF, TIMESTAMP AS OF, and named " +
      "refs resolve on catalog graft tables") {
    val tbl = freshTable("tt")
    seed(tbl, 3) // v1: keys 0..2
    register("dml_tt", tbl)
    dml.sql("INSERT INTO dml_tt VALUES (50, 500)") // v2
    graft.sources.Branches.tag(spark, tbl, "before-fifty", Some(1))
    assert(dml.sql("SELECT count(*) FROM dml_tt VERSION AS OF 1")
      .head().getLong(0) === 3)
    assert(dml.sql("SELECT count(*) FROM dml_tt VERSION AS OF 2")
      .head().getLong(0) === 4)
    assert(dml.sql("SELECT count(*) FROM dml_tt VERSION AS OF " +
      "'before-fifty'").head().getLong(0) === 3)
    // timestamp travel: v2's commit instant reads the full table
    val ts2 = graft.sources.Snapshots.properties(spark, tbl, 2)(
      graft.sources.Snapshots.CommitTsProp).toLong
    val lit = new java.sql.Timestamp(ts2).toString
    assert(dml.sql(s"SELECT count(*) FROM dml_tt TIMESTAMP AS OF " +
      s"TIMESTAMP '$lit'").head().getLong(0) === 4)
    // the bare-string shape Delta/Iceberg accept works too
    assert(dml.sql(s"SELECT count(*) FROM dml_tt TIMESTAMP AS OF '$lit'")
      .head().getLong(0) === 4)
    // a plain SELECT still reads the head
    assert(dml.sql("SELECT count(*) FROM dml_tt").head().getLong(0) === 4)
    // non-graft tables pass through to Spark's own refusal
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW plainv AS SELECT 1 AS x")
    intercept[Exception] {
      dml.sql("SELECT * FROM plainv VERSION AS OF 1").collect()
    }
  }

  test("CREATE TABLE ... USING graft AS SELECT commits through the " +
      "protocol (CTAS)") {
    val tbl = freshTable("ctas")
    dml.sql("DROP TABLE IF EXISTS dml_ctas")
    dml.sql(s"CREATE TABLE dml_ctas USING graft OPTIONS (path '$tbl') " +
      "AS SELECT id AS k, id * 10 AS v FROM range(5)")
    assert(Snapshots.latestVersion(spark, tbl) === 1)
    assert(rows(Snapshots.read(spark, tbl)) ===
      (0L until 5L).map(k => (k, k * 10)).toSet)
    assert(dml.sql("SELECT count(*) FROM dml_ctas").head().getLong(0) === 5)
  }

  test("metadata table functions: graft_history / graft_files / " +
      "graft_tags / graft_partitions answer from manifests in plain SQL") {
    val tbl = freshTable("meta")
    seed(tbl, 4) // v1
    dml.sql(s"SELECT 1").collect() // force session init
    Snapshots.commit(
      spark.range(10, 12).selectExpr("id AS k", "id * 10 AS v"), tbl,
      statsCols = Seq("k")) // v2
    graft.sources.Branches.tag(spark, tbl, "v-one", Some(1))
    val hist = dml.sql(
      s"SELECT version, n_rows FROM graft_history('$tbl') ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(hist === Seq((1, 4L), (2, 6L)))
    // composes with the rest of SQL: filter + aggregate over the TVF
    assert(dml.sql(s"SELECT max(version) FROM graft_history('$tbl')")
      .head().getInt(0) === 2)
    val files = dml.sql(s"SELECT path, rows, seq FROM graft_files('$tbl')")
      .collect()
    assert(files.length ===
      Snapshots.manifest(spark, tbl, 2).size)
    assert(files.map(_.getInt(2)).toSet === Set(1, 2))
    assert(files.map(_.getLong(1)).sum === 6L)
    // historical listing: version 1's files only
    assert(dml.sql(s"SELECT count(*) FROM graft_files('$tbl', 1)")
      .head().getLong(0) === Snapshots.manifest(spark, tbl, 1).size)
    assert(dml.sql(s"SELECT name, version FROM graft_tags('$tbl')")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("v-one", 1)))
    // partitions() over a spec'd table through SQL
    val ptbl = freshTable("metap")
    Snapshots.commit(
      spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v"), ptbl)
    graft.sources.Partitioning.setSpec(spark, ptbl,
      Seq(graft.sources.Partitioning.Truncate(10, "k")))
    graft.sources.Partitioning.commitPartitioned(
      spark.range(20, 40).selectExpr("id AS k", "id * 2 AS v"), ptbl)
    val parts = dml.sql("SELECT partition, n_rows FROM " +
      s"graft_partitions('$ptbl') WHERE spec != 'unpartitioned' " +
      "ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(parts === Seq(("20", 10L), ("30", 10L)))
  }

  test("graft_changes: the change data feed as a SQL relation — " +
      "inserts and delete pre-images per version, composable") {
    val tbl = freshTable("cdf")
    seed(tbl, 4) // v1: keys 0..3
    register("dml_cdf", tbl)
    dml.sql("INSERT INTO dml_cdf VALUES (10, 100)") // v2
    Snapshots.deleteWhere(spark, tbl,
      spark.range(0, 2).selectExpr("id AS k"), "k") // v3
    val feed = dml.sql(s"SELECT _change_type, k, v FROM " +
      s"graft_changes('$tbl', 1, 3) ORDER BY _commit_version, k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(feed.toSeq === Seq(("insert", 10L, 100L),
      ("delete", 0L, 0L), ("delete", 1L, 10L)))
    // composes: net row delta per change type
    assert(dml.sql(s"SELECT _change_type, count(*) FROM " +
      s"graft_changes('$tbl', 0, 3) GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("delete", 2L), ("insert", 5L)))
  }

  test("SQL DDL: ALTER TABLE ADD/RENAME/DROP COLUMN and ALTER COLUMN " +
      "TYPE route onto the metadata-only evolution ops") {
    val tbl = freshTable("ddl2")
    seed(tbl, 3) // (k long, v long), v1
    register("dml_ddl", tbl)
    dml.sql("ALTER TABLE dml_ddl ADD COLUMN tag STRING DEFAULT 'old'")
    dml.sql("INSERT INTO dml_ddl VALUES (9, 90, 'new')")
    val got = dml.sql("SELECT k, tag FROM dml_ddl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // pre-evolution rows read the DEFAULT, the new row its real value
    assert(got === Seq((0L, "old"), (1L, "old"), (2L, "old"), (9L, "new")))
    // renaming a DEFAULTED column refuses by the library's own
    // contract (name-keyed events) — rename a plain one instead
    intercept[Exception] {
      dml.sql("ALTER TABLE dml_ddl RENAME COLUMN tag TO label")
    }
    dml.sql("ALTER TABLE dml_ddl RENAME COLUMN v TO val")
    assert(dml.sql("SELECT val FROM dml_ddl WHERE k = 9").head()
      .getLong(0) === 90L)
    dml.sql("ALTER TABLE dml_ddl DROP COLUMN tag")
    assert(!dml.sql("SELECT * FROM dml_ddl").columns.contains("tag"))
    // widening through SQL: int column table
    val tbl2 = freshTable("ddl3")
    Snapshots.commit(spark.range(3).selectExpr(
      "CAST(id AS INT) AS k", "id * 2 AS v"), tbl2, statsCols = Seq("k"))
    dml.sql("DROP TABLE IF EXISTS dml_ddl3")
    dml.sql(s"CREATE TABLE dml_ddl3 USING graft OPTIONS (path '$tbl2')")
    dml.sql("ALTER TABLE dml_ddl3 ALTER COLUMN k TYPE BIGINT")
    dml.sql("INSERT INTO dml_ddl3 VALUES (10000000000, 1)")
    assert(dml.sql("SELECT max(k) FROM dml_ddl3").head().getLong(0) ===
      10000000000L)
    // an EXPLAIN does not execute the DDL
    dml.sql("EXPLAIN ALTER TABLE dml_ddl3 DROP COLUMN v").collect()
    assert(dml.sql("SELECT * FROM dml_ddl3").columns.contains("v"))
    // non-graft targets pass through to Spark's own handling
    intercept[Exception] {
      dml.sql("ALTER TABLE does_not_exist ADD COLUMN x INT").collect()
    }
  }

  test("the sibling session shares the catalog and data but leaves the " +
      "parent session's analyzer untouched") {
    val tbl = freshTable("sib")
    seed(tbl, 4)
    register("dml_sib", tbl)
    // parent session sees the catalog table and can SELECT through it
    assert(spark.sql("SELECT count(*) FROM dml_sib").head().getLong(0) === 4)
    dml.sql("INSERT INTO dml_sib VALUES (99, 990)")
    // relation caches are per-session: the WRITING session refreshes its
    // own automatically; any other session keeps Spark's normal contract
    spark.catalog.refreshTable("dml_sib")
    assert(spark.sql("SELECT count(*) FROM dml_sib").head().getLong(0) === 5)
  }

  test("conditional MERGE: MATCHED AND cascades first-match-wins, " +
      "partial SET keeps target columns, conditional INSERT, and NOT " +
      "MATCHED BY SOURCE updates/deletes — one atomic commit") {
    val tbl = freshTable("cmrg")
    seed(tbl, 10) // (k, k*10) for k = 0..9
    register("dml_cmrg", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW cmrg_src AS " +
      "SELECT id AS k, id * 1000 AS v FROM range(5, 13)") // keys 5..12
    val vBefore = Snapshots.latestVersion(spark, tbl)
    dml.sql("""MERGE INTO dml_cmrg t USING cmrg_src s ON t.k = s.k
      WHEN MATCHED AND t.v >= 80 THEN DELETE
      WHEN MATCHED AND s.v > 6000 THEN UPDATE SET v = s.v + t.v
      WHEN NOT MATCHED AND s.k < 12 THEN INSERT (k, v) VALUES (s.k, s.v)
      WHEN NOT MATCHED BY SOURCE AND t.k < 2 THEN UPDATE SET v = -1
      WHEN NOT MATCHED BY SOURCE AND t.k = 4 THEN DELETE""")
    // matched 5..9: 8,9 delete (t.v>=80); 7 updates (7000>6000) to
    // 7000+70; 5,6 hit NO action and stay. unmatched source 10,11
    // insert, 12 skipped. unmatched target 0,1 -> -1; 4 deleted; 2,3 stay
    assert(rows(Snapshots.read(spark, tbl)) === Set(
      (0L, -1L), (1L, -1L), (2L, 20L), (3L, 30L), (5L, 50L), (6L, 60L),
      (7L, 7070L), (10L, 10000L), (11L, 11000L)))
    // the whole cascade landed as ONE commit
    assert(Snapshots.latestVersion(spark, tbl) === vBefore + 1)
    // clause ORDER decides when several conditions hold: first wins
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW cmrg_src2 AS " +
      "SELECT id AS k, id AS v FROM range(0, 3)")
    dml.sql("""MERGE INTO dml_cmrg t USING cmrg_src2 s ON t.k = s.k
      WHEN MATCHED AND s.v >= 0 THEN UPDATE SET v = 999
      WHEN MATCHED THEN DELETE""")
    val after = rows(Snapshots.read(spark, tbl))
    assert(after.contains((0L, 999L)) && after.contains((1L, 999L)) &&
      after.contains((2L, 999L)))
    // SET on the merge key refuses loudly
    val e = intercept[Exception] {
      dml.sql("""MERGE INTO dml_cmrg t USING cmrg_src2 s ON t.k = s.k
        WHEN MATCHED AND s.v > 1 THEN UPDATE SET k = 0""")
    }
    assert(e.getMessage.contains("merge key"))
    // a non-integral, non-string merge key (e.g. double) refuses at
    // analysis — neither the manifest stats nor the string envelopes
    // can key it
    import spark.implicits._
    val dtbl = freshTable("dblkey")
    Snapshots.commit(Seq((1.5, 1L), (2.5, 2L)).toDF("id", "v"), dtbl)
    register("dml_dblk", dtbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dblk_src AS " +
      "SELECT CAST(1.5 AS DOUBLE) AS id, CAST(10 AS BIGINT) AS v")
    val e2 = intercept[Exception] {
      dml.sql("""MERGE INTO dml_dblk t USING dblk_src s ON t.id = s.id
        WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v""")
    }
    assert(e2.getMessage.contains("integral or string"))
  }

  test("INSERT INTO a partition-spec'd table routes through the " +
      "partitioned writer — the partition tier survives a plain SQL " +
      "append") {
    import graft.sources.Partitioning
    import spark.implicits._
    val tbl = freshTable("ptins")
    Snapshots.commit((0L until 6L).map(k => (k, k % 3)).toDF("k", "g"),
      tbl, statsCols = Seq("k"))
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Identity("g")))
    Partitioning.rewriteLayout(spark, tbl)
    register("dml_ptins", tbl)
    dml.sql("INSERT INTO dml_ptins VALUES (100, 0), (101, 7)")
    // a plain commit would have landed layout-less files here and the
    // partition listing would refuse until rewriteLayout; the routed
    // write keeps the metadata tier live and lists the new tuple
    val parts = Partitioning.partitions(spark, tbl)
      .filter(col("spec") =!= "unpartitioned")
      .select(col("partition"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(parts("7") === 1L)
    assert(parts("0") === 3L) // 0,3 from the seed + the inserted 100
    assert(rows(Snapshots.read(spark, tbl)).contains((101L, 7L)))
    // INSERT OVERWRITE replaces content and stays partition-laid-out
    dml.sql("INSERT OVERWRITE dml_ptins VALUES (1, 5)")
    val after = Partitioning.partitions(spark, tbl)
      .filter(col("spec") =!= "unpartitioned")
      .collect().map(r => (r.getString(1), r.getLong(3))).toMap
    assert(after === Map("5" -> 1L))
  }

  test("MERGE with a string key: uncast matching through SQL on the " +
      "simple and conditional paths; '1'/'01' stay distinct keys") {
    import spark.implicits._
    val tbl = freshTable("strk")
    Snapshots.commit(Seq(("01", 1L), ("1", 10L), ("apple", 3L))
      .toDF("k", "v"), tbl, strStatsCols = Seq("k"))
    register("dml_strk", tbl)
    def content: Map[String, Long] = Snapshots.read(spark, tbl)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_strk_src AS " +
      "SELECT k, CAST(v AS BIGINT) v FROM VALUES ('1', 100), ('pear', 7) " +
      "AS x(k, v)")
    // unconditional SET * / INSERT *: key '1' updates WITHOUT touching '01'
    dml.sql("MERGE INTO dml_strk t USING dml_strk_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(content === Map("01" -> 1L, "1" -> 100L, "apple" -> 3L,
      "pear" -> 7L))
    // conditional path: string keys through the general cascade
    dml.sql("MERGE INTO dml_strk t USING dml_strk_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = t.v + 1 " +
      "WHEN NOT MATCHED BY SOURCE AND t.k = 'apple' THEN DELETE")
    assert(content === Map("01" -> 1L, "1" -> 101L, "pear" -> 7L))
  }

  test("DML predicates: uncorrelated IN-subqueries work end-to-end; " +
      "correlated subqueries refuse loudly at analysis") {
    val tbl = freshTable("sub")
    seed(tbl) // keys 0..9
    register("dml_sub", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_sub_bad AS " +
      "SELECT CAST(k AS BIGINT) k FROM VALUES (2), (5) AS x(k)")
    dml.sql("DELETE FROM dml_sub WHERE k IN (SELECT k FROM dml_sub_bad)")
    assert(rows(Snapshots.read(spark, tbl)).map(_._1) ===
      Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    dml.sql("UPDATE dml_sub SET v = 0 " +
      "WHERE k IN (SELECT k + 1 FROM dml_sub_bad)")
    assert(rows(Snapshots.read(spark, tbl))
      .filter(_._2 == 0L).map(_._1) === Set(0L, 3L, 6L)) // 0: seed v=0
    // correlated EXISTS DECORRELATES into the uncorrelated IN it
    // denotes — the common CDC DELETE shape works end-to-end, including
    // an outer-side expression (`b.k = t.k + 1` ⇒ keys where k+1 is bad)
    dml.sql("DELETE FROM dml_sub WHERE EXISTS " +
      "(SELECT 1 FROM dml_sub_bad b WHERE b.k = dml_sub.k + 1)")
    assert(rows(Snapshots.read(spark, tbl)).map(_._1) ===
      Set(0L, 3L, 6L, 7L, 8L, 9L)) // 1 and 4 gone (1+1=2, 4+1=5)
    dml.sql("UPDATE dml_sub SET v = 77 WHERE EXISTS " +
      "(SELECT 1 FROM dml_sub_bad b WHERE b.k = dml_sub.k)")
    // both bad keys (2, 5) were deleted by the first statement — the
    // correlated UPDATE matches nothing and must be a clean no-op
    assert(rows(Snapshots.read(spark, tbl))
      .filter(_._2 == 77L).map(_._1) === Set.empty[Long])
  }

  test("correlated DML subqueries: EXISTS / NOT EXISTS / correlated IN " +
      "decorrelate exactly (null keys included); inexpressible shapes " +
      "keep the loud refusal") {
    import spark.implicits._
    val tbl = freshTable("corr")
    Snapshots.commit(Seq(
      (java.lang.Long.valueOf(1L), 10L), (java.lang.Long.valueOf(2L), 20L),
      (java.lang.Long.valueOf(3L), 30L), (null.asInstanceOf[java.lang.Long],
        40L)).toDF("k", "v"), tbl)
    register("dml_corr", tbl)
    // side table holds a NULL key too — both null directions covered
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_corr_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(g AS BIGINT) g FROM VALUES " +
      "(2, 1), (9, 1), (NULL, 1), (3, 2) AS x(k, g)")
    def content: Set[(Option[Long], Long)] =
      Snapshots.read(spark, tbl).collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1))).toSet
    // NOT EXISTS: the null-key target row has no match ⇒ KEPT, and the
    // null inner key must not turn the whole predicate null
    dml.sql("UPDATE dml_corr SET v = v + 1 WHERE NOT EXISTS " +
      "(SELECT 1 FROM dml_corr_src s WHERE s.k = dml_corr.k)")
    assert(content === Set((Some(1L), 11L), (Some(2L), 20L),
      (Some(3L), 30L), (None, 41L)))
    // correlated IN with a second correlation column: v IN (...) AND the
    // subquery filters on the outer key
    dml.sql("DELETE FROM dml_corr WHERE k IN " +
      "(SELECT s.k FROM dml_corr_src s WHERE s.g = dml_corr.k - 1)")
    // k=2 (g=1=2-1 matches s.k=2) and k=3 (g=2=3-1 matches s.k=3) go
    assert(content === Set((Some(1L), 11L), (None, 41L)))
    // inexpressible: non-equality correlation refuses with guidance
    val e = intercept[IllegalArgumentException] {
      dml.sql("DELETE FROM dml_corr WHERE EXISTS " +
        "(SELECT 1 FROM dml_corr_src s WHERE s.k < dml_corr.k)")
    }
    assert(e.getMessage.contains("CORRELATED"), e.getMessage)
    // a HAVING equality on the aggregate OUTPUT is still a key equality
    // — `EXISTS (... HAVING max(g) = t.v)` is `t.v IN (SELECT max(g)
    // ... GROUP BY k)` and decorrelates (no row has v ∈ {1}, so no-op)
    dml.sql("DELETE FROM dml_corr WHERE EXISTS " +
      "(SELECT max(s.g) FROM dml_corr_src s GROUP BY s.k " +
      "HAVING max(s.g) = dml_corr.v)")
    assert(content === Set((Some(1L), 11L), (None, 41L)))
    // inexpressible: outer reference INSIDE the aggregate input — the
    // grouping itself depends on the outer row (Spark's own analysis
    // refuses this shape before the DML rule even sees it)
    val e2 = intercept[Exception] {
      dml.sql("DELETE FROM dml_corr WHERE EXISTS " +
        "(SELECT 1 FROM dml_corr_src s GROUP BY s.g " +
        "HAVING max(s.k + dml_corr.k) > 0)")
    }
    assert(e2.getMessage.toLowerCase.contains("correlat"), e2.getMessage)
    // a NON-equality-correlated scalar in a SET value stays refused
    // (equality-correlated ones decorrelate — next test)
    val e3 = intercept[IllegalArgumentException] {
      dml.sql("UPDATE dml_corr SET v = " +
        "(SELECT max(s.g) FROM dml_corr_src s WHERE s.k < dml_corr.k)")
    }
    assert(e3.getMessage.contains("CORRELATED"), e3.getMessage)
  }

  test("correlated SCALAR subqueries in UPDATE SET values decorrelate " +
      "into per-key left-join lookups: COUNT stays 0 for unmatched " +
      "keys, post-aggregate arithmetic rides, NULL outer keys take " +
      "the empty default; inexpressible shapes refuse") {
    import spark.implicits._
    val tbl = freshTable("scal")
    Snapshots.commit(Seq(
      (java.lang.Long.valueOf(1L), 10L), (java.lang.Long.valueOf(2L), 20L),
      (java.lang.Long.valueOf(3L), 30L),
      (null.asInstanceOf[java.lang.Long], 40L)).toDF("k", "v"), tbl)
    register("dml_scal", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_scal_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(x AS BIGINT) x FROM VALUES " +
      "(1, 5), (1, 7), (3, 100), (NULL, 9) AS s(k, x)")
    def content: Set[(Option[Long], Option[Long])] =
      Snapshots.read(spark, tbl).collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    // COUNT: the classic decorrelation bug — unmatched keys (k=2) and
    // NULL outer keys must read 0 (the aggregate over empty input),
    // never NULL
    dml.sql("UPDATE dml_scal SET v = (SELECT count(*) " +
      "FROM dml_scal_src s WHERE s.k = dml_scal.k)")
    assert(content === Set((Some(1L), Some(2L)), (Some(2L), Some(0L)),
      (Some(3L), Some(1L)), (None, Some(0L))))
    // post-aggregate arithmetic + the scalar nested inside a larger SET
    // expression; SUM over empty is NULL, so coalesce carries the miss
    dml.sql("UPDATE dml_scal SET v = v + coalesce((SELECT sum(s.x) * 2 " +
      "FROM dml_scal_src s WHERE s.k = dml_scal.k), 0)")
    assert(content === Set((Some(1L), Some(26L)), (Some(2L), Some(0L)),
      (Some(3L), Some(201L)), (None, Some(0L))))
    // bare SUM without coalesce: unmatched rows take the NULL the
    // original scalar denotes
    dml.sql("UPDATE dml_scal SET v = (SELECT sum(s.x) " +
      "FROM dml_scal_src s WHERE s.k = dml_scal.k) WHERE k = 2")
    assert(content.contains((Some(2L), None)))
    // refusal: grouped scalar (its cardinality contract is not
    // structural — a group-by scalar can return many rows)
    val e = intercept[Exception] {
      dml.sql("UPDATE dml_scal SET v = (SELECT max(s.x) " +
        "FROM dml_scal_src s WHERE s.k = dml_scal.k GROUP BY s.x)")
    }
    assert(e.getMessage.toLowerCase.contains("correlat"), e.getMessage)
    // refusal: outer reference INSIDE the aggregate input
    val e2 = intercept[Exception] {
      dml.sql("UPDATE dml_scal SET v = (SELECT sum(s.x + dml_scal.v) " +
        "FROM dml_scal_src s WHERE s.k = dml_scal.k)")
    }
    assert(e2.getMessage.toLowerCase.contains("correlat"), e2.getMessage)
  }

  test("MERGE action conditions decorrelate: a blocklist-gated " +
      "WHEN MATCHED DELETE via correlated EXISTS; values still refuse") {
    import spark.implicits._
    val tbl = freshTable("mcorr")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("k", "v"), tbl, statsCols = Seq("k"))
    register("dml_mcorr", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_mcorr_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v FROM VALUES " +
      "(1, 100), (2, 200), (9, 900) AS x(k, v)")
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_mcorr_block AS " +
      "SELECT CAST(k AS BIGINT) k FROM VALUES (2), (7) AS x(k)")
    // matched AND blocklisted -> DELETE; matched otherwise -> UPDATE;
    // unmatched AND NOT blocklisted -> INSERT
    dml.sql("""MERGE INTO dml_mcorr t USING dml_mcorr_src s ON t.k = s.k
      WHEN MATCHED AND EXISTS (
        SELECT 1 FROM dml_mcorr_block b WHERE b.k = t.k) THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED AND NOT EXISTS (
        SELECT 1 FROM dml_mcorr_block b WHERE b.k = s.k) THEN INSERT *""")
    val got = Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 updated, 2 deleted (blocklisted), 3/4 untouched, 9 inserted
    assert(got === Set((1L, 100L), (3L, 30L), (4L, 40L), (9L, 900L)),
      got.toString)
    // correlated subqueries in assignment VALUES stay refused
    val e = intercept[IllegalArgumentException] {
      dml.sql("MERGE INTO dml_mcorr t USING dml_mcorr_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = (SELECT max(b.k) " +
        "FROM dml_mcorr_block b WHERE b.k = t.k)")
    }
    assert(e.getMessage.contains("CORRELATED"), e.getMessage)
    // non-equality correlation in a condition refuses with guidance
    val e2 = intercept[IllegalArgumentException] {
      dml.sql("MERGE INTO dml_mcorr t USING dml_mcorr_src s ON t.k = s.k " +
        "WHEN MATCHED AND EXISTS (SELECT 1 FROM dml_mcorr_block b " +
        "WHERE b.k < t.k) THEN DELETE")
    }
    assert(e2.getMessage.contains("CORRELATED"), e2.getMessage)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns become nullable " +
      "target columns — stars carry source values, explicit actions and " +
      "untouched rows leave them null/carried, old versions keep their " +
      "own schema") {
    import spark.implicits._
    val tbl = freshTable("evo")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), tbl,
      statsCols = Seq("k"))
    register("dml_evo", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_evo_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v, " +
      "CAST(tag AS STRING) tag FROM VALUES (2, 200, 'b'), (9, 900, 'i') " +
      "AS x(k, v, tag)")
    // unconditional SET * / INSERT *: both carry the evolved column
    dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_evo t " +
      "USING dml_evo_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val got = Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got === Set((1L, 10L, null), (2L, 200L, "b"), (9L, 900L, "i")))
    // the PRE-evolution version still reads its own 2-column schema
    assert(Snapshots.read(spark, tbl, Some(1)).columns.toSeq ===
      Seq("k", "v"))

    // general path: star update carries the new column, the explicit
    // update leaves it carried (null here), NOT MATCHED BY SOURCE works
    val tbl2 = freshTable("evo2")
    Snapshots.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      tbl2, statsCols = Seq("k"))
    register("dml_evo2", tbl2)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_evo2_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v, " +
      "CAST(u AS BIGINT) u FROM VALUES (1, 500, 51), (2, 7, 52), " +
      "(9, 900, 59) AS x(k, v, u)")
    dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_evo2 t " +
      "USING dml_evo2_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.v > 100 THEN UPDATE SET * " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.v " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0")
    val got2 = Snapshots.read(spark, tbl2).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
      .toSet
    assert(got2 === Set(
      (1L, 500L, java.lang.Long.valueOf(51L)), // star: u from source
      (2L, 27L, null),                         // explicit SET: u carried
      (3L, 0L, null),                          // by-source: u carried
      (9L, 900L, java.lang.Long.valueOf(59L))), got2.toString) // insert
    // no new source columns → evolution is a no-op passthrough
    dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_evo2 t " +
      "USING (SELECT CAST(5 AS BIGINT) k, CAST(50 AS BIGINT) v, " +
      "CAST(55 AS BIGINT) u) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(Snapshots.read(spark, tbl2).count() === 5)

    // a REFUSED evolution merge leaves the table untouched — SCHEMA
    // included: the cardinality guard fires before the addColumn commits
    val tbl3 = freshTable("evo3")
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "v"), tbl3)
    register("dml_evo3", tbl3)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_evo3_dup AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v, " +
      "CAST(w AS BIGINT) w FROM VALUES (1, 2, 3), (1, 4, 5) AS x(k, v, w)")
    intercept[IllegalStateException] {
      dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_evo3 t " +
        "USING dml_evo3_dup s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(Snapshots.latestVersion(spark, tbl3) === 1,
      "refused evolution merge committed something")
    assert(Snapshots.read(spark, tbl3).columns.toSeq === Seq("k", "v"),
      "refused evolution merge evolved the schema")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens outgrown columns: int->bigint " +
      "via the metadata-only widen event, out-of-int-range source values " +
      "land exactly, old versions keep their width, refusals leave the " +
      "schema untouched") {
    import spark.implicits._
    val wide = 8L * 1000 * 1000 * 1000 // > Int.MaxValue
    // unconditional SET * / INSERT * with a BIGINT source against an INT
    // target column — the analyzer's alignment cast to int would ANSI-
    // overflow; the widen strips it and the value lands exactly
    val tbl = freshTable("wid")
    Snapshots.commit(Seq((1L, 10), (2L, 20)).toDF("k", "v"), tbl,
      statsCols = Seq("k"))
    register("dml_wid", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_wid_src AS " +
      s"SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v FROM VALUES " +
      s"(2, $wide), (9, ${wide + 1}) AS x(k, v)")
    dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_wid t " +
      "USING dml_wid_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val latest = Snapshots.read(spark, tbl)
    assert(latest.schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(latest.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (2L, wide), (9L, wide + 1)))
    // the PRE-widen version still reads its own INT width
    assert(Snapshots.read(spark, tbl, Some(1)).schema("v").dataType ===
      org.apache.spark.sql.types.IntegerType)

    // general path (conditional cascade) + float->double, and a NEW
    // column riding the same statement
    val tbl2 = freshTable("wid2")
    Snapshots.commit(Seq((1L, 1.5f), (2L, 2.5f)).toDF("k", "w"), tbl2,
      statsCols = Seq("k"))
    register("dml_wid2", tbl2)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_wid2_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(w AS DOUBLE) w, " +
      "CAST(tag AS STRING) tag FROM VALUES (2, 2.25, 'b'), " +
      "(9, 9.125, 'i') AS x(k, w, tag)")
    dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_wid2 t " +
      "USING dml_wid2_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.w > 1 THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val l2 = Snapshots.read(spark, tbl2)
    assert(l2.schema("w").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val got2 = l2.collect().map(r => (r.getLong(0), r.getDouble(1),
      if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got2 === Set((1L, 1.5d, null), (2L, 2.25d, "b"),
      (9L, 9.125d, "i")), got2.toString)

    // refusal BEFORE evolution: duplicate NOT-MATCHED insert keys are
    // legal for the cardinality rule but violate the table's UNIQUE —
    // the in-batch pre-validation fires with the schema untouched
    val tbl3 = freshTable("wid3")
    Snapshots.commit(Seq((1L, 10)).toDF("k", "v"), tbl3,
      statsCols = Seq("k"))
    Snapshots.addUnique(spark, tbl3, "k")
    register("dml_wid3", tbl3)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_wid3_dup AS " +
      s"SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v FROM VALUES " +
      s"(9, $wide), (9, ${wide + 1}) AS x(k, v)")
    val vBefore = Snapshots.latestVersion(spark, tbl3)
    intercept[Exception] {
      dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_wid3 t " +
        "USING dml_wid3_dup s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(Snapshots.latestVersion(spark, tbl3) === vBefore,
      "refused evolution merge committed something")
    assert(Snapshots.read(spark, tbl3).schema("v").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "refused evolution merge widened the schema")

    // KEY columns never widen as a side effect: the wide-source-key
    // refusal stands under WITH SCHEMA EVOLUTION too
    val tbl4 = freshTable("wid4")
    Snapshots.commit(Seq((1, 10L)).toDF("k", "v"), tbl4,
      statsCols = Seq("k"))
    register("dml_wid4", tbl4)
    val e = intercept[IllegalArgumentException] {
      dml.sql("MERGE WITH SCHEMA EVOLUTION INTO dml_wid4 t " +
        "USING (SELECT CAST(9 AS BIGINT) k, CAST(90 AS BIGINT) v) s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("widen"), e.getMessage)
  }

  test("MERGE INTO a partition-spec'd table keeps the partition tier " +
      "live — rewritten files carry the tuple-in-name layout") {
    import graft.sources.Partitioning
    import spark.implicits._
    val tbl = freshTable("ptmrg")
    Snapshots.commit((0L until 6L).map(k => (k, k % 3)).toDF("k", "g"),
      tbl, statsCols = Seq("k"))
    Partitioning.setSpec(spark, tbl, Seq(Partitioning.Identity("g")))
    Partitioning.rewriteLayout(spark, tbl)
    register("dml_ptmrg", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_ptmrg_src AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(g AS BIGINT) g FROM VALUES " +
      "(1, 9), (100, 7) AS x(k, g)")
    // k=1 moves to partition 9; k=100 inserts into partition 7
    dml.sql("MERGE INTO dml_ptmrg t USING dml_ptmrg_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // the partition LISTING still answers (a plain-writer merge would
    // have knocked the tier off until rewriteLayout) and counts the
    // merged rows in their new partitions
    val parts = Partitioning.partitions(spark, tbl)
      .filter(col("spec") =!= "unpartitioned")
      .select(col("partition"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(parts("9") === 1L, parts.toString)
    assert(parts("7") === 1L, parts.toString)
    assert(parts.values.sum === 7L, parts.toString)
    // and the rows themselves are exactly the merge's result
    val got = Snapshots.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(0L -> 0L, 1L -> 9L, 2L -> 2L, 3L -> 0L,
      4L -> 1L, 5L -> 2L, 100L -> 7L))
    // raw-column pruning still works through the auto evidence
    assert(Snapshots.read(spark, tbl).filter(col("g") === 9).count() === 1)
  }

  test("composite-key MERGE: ON k1 AND k2 matches tuples on the simple " +
      "and conditional paths; the cardinality guard judges tuples, not " +
      "columns") {
    import spark.implicits._
    val tbl = freshTable("comp")
    Snapshots.commit(
      Seq((1L, 1, 10L), (1L, 2, 20L), (2L, 1, 30L)).toDF("g", "i", "v"),
      tbl, statsCols = Seq("g"))
    register("dml_comp", tbl)
    def content: Map[(Long, Int), Long] = Snapshots.read(spark, tbl)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_comp_src AS " +
      "SELECT CAST(g AS BIGINT) g, CAST(i AS INT) i, CAST(v AS BIGINT) v " +
      "FROM VALUES (1, 2, 200), (3, 1, 300) AS x(g, i, v)")
    // unconditional SET * / INSERT *: tuple (1,2) updates; (3,1)
    // inserts; (1,1)/(2,1) share a COLUMN with source rows but no
    // TUPLE — untouched
    dml.sql("MERGE INTO dml_comp t USING dml_comp_src s " +
      "ON t.g = s.g AND t.i = s.i " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(content === Map((1L, 1) -> 10L, (1L, 2) -> 200L,
      (2L, 1) -> 30L, (3L, 1) -> 300L))
    // conditional path: tuple-matched DELETE + NOT MATCHED BY SOURCE
    dml.sql("MERGE INTO dml_comp t USING dml_comp_src s " +
      "ON t.g = s.g AND t.i = s.i " +
      "WHEN MATCHED AND s.v >= 300 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.v " +
      "WHEN NOT MATCHED BY SOURCE AND t.v = 10 THEN UPDATE SET v = 0")
    assert(content === Map((1L, 1) -> 0L, (1L, 2) -> 400L, (2L, 1) -> 30L))
    // cardinality guard on TUPLES: two source rows for tuple (1,2)
    // refuse; duplicate LEADS with distinct tuples pass
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_comp_dup AS " +
      "SELECT CAST(g AS BIGINT) g, CAST(i AS INT) i, CAST(v AS BIGINT) v " +
      "FROM VALUES (1, 2, 7), (1, 2, 8) AS x(g, i, v)")
    val e = intercept[IllegalStateException] {
      dml.sql("MERGE INTO dml_comp t USING dml_comp_dup s " +
        "ON t.g = s.g AND t.i = s.i WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e.getMessage.contains("attempted to modify"), e.getMessage)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_comp_lead AS " +
      "SELECT CAST(g AS BIGINT) g, CAST(i AS INT) i, CAST(v AS BIGINT) v " +
      "FROM VALUES (1, 1, 70), (1, 2, 80) AS x(g, i, v)")
    dml.sql("MERGE INTO dml_comp t USING dml_comp_lead s " +
      "ON t.g = s.g AND t.i = s.i WHEN MATCHED THEN UPDATE SET *")
    assert(content === Map((1L, 1) -> 70L, (1L, 2) -> 80L, (2L, 1) -> 30L))
    // SET on ANY key column refuses
    val e2 = intercept[Exception] {
      dml.sql("MERGE INTO dml_comp t USING dml_comp_lead s " +
        "ON t.g = s.g AND t.i = s.i " +
        "WHEN MATCHED AND s.v > 0 THEN UPDATE SET i = 9")
    }
    assert(e2.getMessage.contains("merge key"), e2.getMessage)
    // a repeated key column in the ON condition refuses
    val e3 = intercept[Exception] {
      dml.sql("MERGE INTO dml_comp t USING dml_comp_lead s " +
        "ON t.g = s.g AND t.g = s.g WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e3.getMessage.contains("repeats"), e3.getMessage)
  }

  test("MERGE cardinality guard: two source rows modifying one target " +
      "row refuse (simple AND conditional paths); non-acting duplicates " +
      "and duplicate NOT MATCHED inserts pass") {
    val tbl = freshTable("card")
    seed(tbl, 3) // keys 0..2, v = 10k
    register("dml_card", tbl)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_card_dup AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v FROM VALUES " +
      "(1, 100), (1, 200) AS x(k, v)")
    // the unconditional SET * / INSERT * upsert; a refused statement
    // still releases the cascade's join checkpoint
    val held = persistedRdds
    val e1 = intercept[IllegalStateException] {
      dml.sql("MERGE INTO dml_card t USING dml_card_dup s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e1.getMessage.contains("attempted to modify"), e1.getMessage)
    assert((persistedRdds -- held).isEmpty, "MERGE left an RDD persisted")
    // conditional actions, both for UPDATE and for DELETE
    val e2 = intercept[IllegalStateException] {
      dml.sql("MERGE INTO dml_card t USING dml_card_dup s ON t.k = s.k " +
        "WHEN MATCHED AND s.v > 0 THEN DELETE")
    }
    assert(e2.getMessage.contains("attempted to modify"), e2.getMessage)
    // nothing committed by the refused statements
    assert(Snapshots.latestVersion(spark, tbl) === 1)
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (1L, 10L), (2L, 20L)))
    // a condition that lets only ONE of the duplicates act is
    // unambiguous — allowed, and applies that row
    dml.sql("MERGE INTO dml_card t USING dml_card_dup s ON t.k = s.k " +
      "WHEN MATCHED AND s.v = 200 THEN UPDATE SET v = s.v")
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (1L, 200L), (2L, 20L)))
    // duplicate NOT-MATCHED keys insert BOTH rows (the standard allows
    // duplicate inserts; only matched-row modification is ambiguous)
    dml.sql("CREATE OR REPLACE TEMPORARY VIEW dml_card_ins AS " +
      "SELECT CAST(k AS BIGINT) k, CAST(v AS BIGINT) v FROM VALUES " +
      "(9, 900), (9, 901) AS x(k, v)")
    dml.sql("MERGE INTO dml_card t USING dml_card_ins s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (1L, 200L), (2L, 20L), (9L, 900L), (9L, 901L)))
    // an explicit full-row SET naming the key's own source value is the
    // identity, not a key change — accepted like SET *
    dml.sql("MERGE INTO dml_card t USING (SELECT CAST(2 AS BIGINT) k, " +
      "CAST(222 AS BIGINT) v) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v")
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (1L, 200L), (2L, 222L), (9L, 900L), (9L, 901L)))
    // duplicate source keys under the lone unconditional MATCHED DELETE
    // are idempotent, not ambiguous: accepted, key 1 deleted once, in
    // one commit, and the checkpoint released after the commit
    val vBefore = Snapshots.latestVersion(spark, tbl)
    val heldBefore = persistedRdds
    dml.sql("MERGE INTO dml_card t USING dml_card_dup s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE")
    assert((persistedRdds -- heldBefore).isEmpty,
      "MERGE left an RDD persisted")
    assert(Snapshots.latestVersion(spark, tbl) === vBefore + 1)
    assert(rows(Snapshots.read(spark, tbl)) ===
      Set((0L, 0L), (2L, 222L), (9L, 900L), (9L, 901L)))
  }
}
