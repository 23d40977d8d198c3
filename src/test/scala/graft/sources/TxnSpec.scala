package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Multi-table atomic transactions ([[Snapshots.commitTxn]]): pending
  * manifests + one create-no-overwrite status file as the cross-table
  * commit point; concurrent committers settle in-doubt transactions
  * through the same file (presumed abort).
  */
class TxnSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"))

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a committed transaction lands on every table atomically") {
    val d = tempDir("ok"); val a = s"$d/a"; val b = s"$d/b"
    val lo = orders.filter(col("o_orderkey") < 100)
    val hi = orders.filter(col("o_orderkey") >= 100 &&
      col("o_orderkey") < 200)
    val got = Snapshots.commitTxn(spark, Seq(
      Snapshots.TxnWrite(lo, a, statsCols = Seq("o_orderkey")),
      Snapshots.TxnWrite(hi, b)), s"$d/_txns")
    assert(got.map(_._2) === Seq(1, 1))
    assert(Snapshots.read(spark, a).count() === lo.count())
    assert(Snapshots.read(spark, b).count() === hi.count())
    // second transaction appends to both; versions advance together
    Snapshots.commitTxn(spark, Seq(
      Snapshots.TxnWrite(hi, a), Snapshots.TxnWrite(lo, b)), s"$d/_txns")
    assert(Snapshots.read(spark, a).count() === lo.count() + hi.count())
    assert(Snapshots.read(spark, b).count() === lo.count() + hi.count())
    // ordinary commits interleave fine afterwards
    Snapshots.commit(lo, a)
    assert(Snapshots.latestVersion(spark, a) === 3)
  }

  test("a crash before the status write leaves every table unchanged") {
    val d = tempDir("crash"); val a = s"$d/a"; val b = s"$d/b"
    Snapshots.commit(orders.limit(10), a)
    Snapshots.commit(orders.limit(10), b)
    val boom = intercept[RuntimeException] {
      Snapshots.commitTxn(spark, Seq(
        Snapshots.TxnWrite(orders.limit(5), a),
        Snapshots.TxnWrite(orders.limit(5), b)), s"$d/_txns",
        statusHook = () => sys.error("crash before commit point"))
    }
    assert(boom.getMessage.contains("crash before"))
    // both pendings are in-doubt → invisible
    assert(Snapshots.latestVersion(spark, a) === 1)
    assert(Snapshots.latestVersion(spark, b) === 1)
    assert(Snapshots.read(spark, a).count() === 10)
    assert(Snapshots.read(spark, b).count() === 10)
  }

  test("a later committer force-aborts an in-doubt transaction on ALL tables") {
    val d = tempDir("resolve"); val a = s"$d/a"; val b = s"$d/b"
    Snapshots.commit(orders.limit(10), a)
    Snapshots.commit(orders.limit(10), b)
    intercept[RuntimeException] {
      Snapshots.commitTxn(spark, Seq(
        Snapshots.TxnWrite(orders.limit(5), a),
        Snapshots.TxnWrite(orders.limit(5), b)), s"$d/_txns",
        statusHook = () => sys.error("die"))
    }
    // a plain append on table a settles the txn as aborted...
    Snapshots.commit(orders.limit(3), a)
    // ...and the shared status file kills the pending on table b too:
    // no later commit on b can ever resurrect it
    val statuses = fs(d).listStatus(new Path(s"$d/_txns")).toSeq
    assert(statuses.size === 1)
    val in = fs(d).open(statuses.head.getPath)
    val verdict =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(verdict === "abort")
    Snapshots.commit(orders.limit(3), b)
    assert(Snapshots.read(spark, a).count() === 13)
    assert(Snapshots.read(spark, b).count() === 13)
  }

  test("a racing commit during the in-doubt window wins; the txn throws") {
    val d = tempDir("race"); val a = s"$d/a"; val b = s"$d/b"
    Snapshots.commit(orders.limit(10), a)
    Snapshots.commit(orders.limit(10), b)
    val boom = intercept[RuntimeException] {
      Snapshots.commitTxn(spark, Seq(
        Snapshots.TxnWrite(orders.limit(5), a),
        Snapshots.TxnWrite(orders.limit(5), b)), s"$d/_txns",
        // the racer lands between pending-publish and the status create
        statusHook = () => { Snapshots.commit(orders.limit(2), a); () })
    }
    assert(boom.getMessage.contains("abort"))
    assert(Snapshots.read(spark, a).count() === 12, "racer's rows only")
    assert(Snapshots.read(spark, b).count() === 10, "txn rows on b dead too")
  }

  test("vacuum aborts in-doubt transactions before reclaiming their files") {
    val d = tempDir("vac"); val a = s"$d/a"; val b = s"$d/b"
    Snapshots.commit(orders.limit(10), a)
    Snapshots.commit(orders.limit(10), b)
    intercept[RuntimeException] {
      Snapshots.commitTxn(spark, Seq(
        Snapshots.TxnWrite(orders.limit(5), a),
        Snapshots.TxnWrite(orders.limit(5), b)), s"$d/_txns",
        statusHook = () => sys.error("die"))
    }
    val dead = Snapshots.vacuum(spark, a)
    assert(dead.nonEmpty, "the aborted pending's files are reclaimed")
    // the settled abort makes the pending permanently invisible
    assert(Snapshots.latestVersion(spark, a) === 1)
    assert(Snapshots.read(spark, a).count() === 10)
  }

  test("a failure staging a LATER table settles earlier pendings as aborted") {
    val d = tempDir("midfail"); val a = s"$d/a"; val b = s"$d/b"
    Snapshots.commit(orders.limit(10), a)
    Snapshots.commit(orders.limit(10), b)
    Snapshots.addCheck(spark, b, "pos", "o_totalprice > 0")
    // table a stages and publishes pending FIRST; then b's CHECK
    // violation throws mid-loop. The coordinator must settle its own
    // wreckage — write 'abort' — so a's pending is dead immediately,
    // not in-doubt until some unrelated committer happens along.
    val boom = intercept[IllegalArgumentException] {
      Snapshots.commitTxn(spark, Seq(
        Snapshots.TxnWrite(orders.limit(5), a),
        Snapshots.TxnWrite(orders.limit(5)
          .withColumn("o_totalprice", lit(-1.0)), b)), s"$d/_txns")
    }
    assert(boom.getMessage.contains("CHECK"))
    val statuses = fs(d).listStatus(new Path(s"$d/_txns")).toSeq
    assert(statuses.size === 1)
    val in = fs(d).open(statuses.head.getPath)
    val verdict =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(verdict === "abort", "coordinator settles its own pendings")
    assert(Snapshots.latestVersion(spark, a) === 1)
    assert(Snapshots.read(spark, a).count() === 10)
    // the settled pending does not pin its staged files
    val removed = Snapshots.removeOrphans(spark, a, olderThanMs = -1)
    assert(removed.nonEmpty, "staged files of the aborted txn reclaimed")
    // and ordinary commits proceed with no settlement work left
    Snapshots.commit(orders.limit(3), a)
    assert(Snapshots.read(spark, a).count() === 13)
  }

  test("removeOrphans reclaims an aborted txn's batch dirs, keeps live ones") {
    val d = tempDir("orphan"); val a = s"$d/a"
    Snapshots.commit(orders.limit(10), a)
    intercept[RuntimeException] {
      Snapshots.commitTxn(spark,
        Seq(Snapshots.TxnWrite(orders.limit(5), a)), s"$d/_txns",
        statusHook = () => sys.error("die"))
    }
    // settle the abort (any committer path would); then orphan-clean
    Snapshots.commit(orders.limit(2), a)
    val removed = Snapshots.removeOrphans(spark, a, olderThanMs = -1)
    assert(removed.nonEmpty, "aborted pending's data files removed")
    assert(Snapshots.read(spark, a).count() === 12)
    assert(Snapshots.read(spark, a, Some(1)).count() === 10,
      "live history untouched")
  }
}
