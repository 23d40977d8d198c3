package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Named refs: immutable tags, zero-copy branches, key-conflict-checked
  * merge, and vacuum's ref pinning.
  */
class BranchSpec extends SparkSpec {

  private def fs(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def seed(tbl: String, n: Int = 20): Unit = {
    import spark.implicits._
    Snapshots.commit((0L until n.toLong).map(k => (k, k * 10)).toDF("k", "v"),
      tbl, statsCols = Seq("k"))
  }

  private def keys(tbl: String): Seq[Long] =
    Snapshots.read(spark, tbl).select("k").collect()
      .map(_.getLong(0)).toSeq.sorted

  test("tags: pin, read by name, immutability, drop") {
    import spark.implicits._
    val tbl = freshTable("tag")
    seed(tbl)
    assert(Branches.tag(spark, tbl, "base") === 1)
    Snapshots.commit(Seq((100L, 1L)).toDF("k", "v"), tbl)
    assert(Branches.readTag(spark, tbl, "base").count() === 20)
    assert(Branches.tags(spark, tbl) === Seq(("base", 1)))
    // immutable: re-pointing refuses
    intercept[IllegalArgumentException](Branches.tag(spark, tbl, "base"))
    Branches.dropTag(spark, tbl, "base")
    assert(Branches.tags(spark, tbl).isEmpty)
    intercept[IllegalArgumentException](Branches.tagVersion(spark, tbl, "base"))
  }

  test("branch: zero-copy fork, divergent writes stay isolated, " +
      "disjoint-key merge replays every shape and deletes the ref") {
    import spark.implicits._
    val tbl = freshTable("merge")
    seed(tbl)
    val br = Branches.create(spark, tbl, "dev")
    // zero-copy: the branch dir holds no data files at fork time
    assert(!fs(br).exists(new Path(s"$br/data")))
    // branch: delete evens below 6, append 100..102, upsert k=7
    Snapshots.deleteWhere(spark, br,
      Seq(0L, 2L, 4L).toDF("k"), "k")
    Snapshots.commit((100L to 102L).map(k => (k, k)).toDF("k", "v"), br,
      statsCols = Seq("k"))
    Snapshots.upsertMor(spark, br, Seq((7L, 777L)).toDF("k", "v"), "k")
    // main advances too, touching DIFFERENT keys
    Snapshots.commit(Seq((200L, 1L)).toDF("k", "v"), tbl,
      statsCols = Seq("k"))
    // isolation both ways before the merge
    assert(!keys(tbl).contains(100L) && keys(br).contains(100L))
    assert(keys(tbl).contains(0L) && !keys(br).contains(0L))
    val applied = Branches.merge(spark, tbl, "dev", "k")
    assert(applied === Seq(2, 3, 4))
    val merged = Snapshots.read(spark, tbl)
    assert(merged.filter(col("k") === 7L).select("v").head().getLong(0)
      === 777L)
    assert(keys(tbl) ===
      ((1L until 20L by 2) ++ Seq(6L, 8L, 10L, 12L, 14L, 16L, 18L) ++
        (100L to 102L) :+ 200L :+ 7L).distinct.sorted)
    // ref gone, branch dir still inspectable
    assert(Branches.branches(spark, tbl).isEmpty)
    assert(Snapshots.latestVersion(spark, br) === 4)
    // merge lineage rides the manifests
    val srcs = Snapshots.versions(spark, tbl).flatMap(v =>
      Snapshots.properties(spark, tbl, v).get(Branches.MergeSrcProp))
    assert(srcs === Seq("dev:2", "dev:3", "dev:4"))
  }

  test("merge refuses when main touched an overlapping key since fork " +
      "and leaves main untouched") {
    import spark.implicits._
    val tbl = freshTable("clash")
    seed(tbl)
    Branches.create(spark, tbl, "dev")
    val br = Branches.branchPath(spark, tbl, "dev")
    Snapshots.upsertMor(spark, br, Seq((3L, 1L)).toDF("k", "v"), "k")
    Snapshots.upsertMor(spark, tbl, Seq((3L, 2L)).toDF("k", "v"), "k")
    val before = Snapshots.latestVersion(spark, tbl)
    val e = intercept[IllegalArgumentException](
      Branches.merge(spark, tbl, "dev", "k"))
    assert(e.getMessage.contains("rebase required"))
    assert(Snapshots.latestVersion(spark, tbl) === before)
    // the refused branch is still live and mergeable after a rebase
    assert(Branches.branches(spark, tbl).map(_._1) === Seq("dev"))
  }

  test("fast-forward: empty branch merges as a no-op; foreign clone " +
      "refuses") {
    val tbl = freshTable("ff")
    seed(tbl)
    Branches.create(spark, tbl, "idle")
    assert(Branches.merge(spark, tbl, "idle", "k") === Seq.empty)
    assert(Branches.branches(spark, tbl).isEmpty)
    // a ref hand-pointed at an unrelated table refuses the clone check
    val other = freshTable("other")
    seed(other)
    Branches.create(spark, tbl, "bad", dir = Some(other + "2"))
    // overwrite the ref to point at a dir that is not a clone of tbl
    val refP = new Path(s"$tbl/_refs/branch-bad")
    fs(tbl).delete(refP, false)
    val out = fs(tbl).create(refP, true)
    out.write(s"1\t$other".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException](
      Branches.merge(spark, tbl, "bad", "k"))
    assert(e.getMessage.contains("not a clone"))
  }

  test("vacuum pins tagged versions and live fork points; dropping the " +
      "refs releases them") {
    import spark.implicits._
    val tbl = freshTable("vac")
    seed(tbl) // v1
    Branches.tag(spark, tbl, "keepme", Some(1))
    Snapshots.commit(Seq((50L, 1L)).toDF("k", "v"), tbl) // v2
    Branches.create(spark, tbl, "dev") // forks v2
    Snapshots.commit(Seq((51L, 1L)).toDF("k", "v"), tbl) // v3
    Snapshots.commit(Seq((52L, 1L)).toDF("k", "v"), tbl) // v4
    Snapshots.vacuum(spark, tbl, keepLast = 1)
    // v1 (tag) and v2 (fork) survive; v3 was reclaimed
    assert(Snapshots.versions(spark, tbl) === Seq(1, 2, 4))
    assert(Branches.readTag(spark, tbl, "keepme").count() === 20)
    assert(Snapshots.read(spark, tbl, Some(2)).count() === 21)
    // release the refs: both become reclaimable
    Branches.dropTag(spark, tbl, "keepme")
    val br = Branches.branchPath(spark, tbl, "dev")
    fs(tbl).delete(new Path(s"$tbl/_refs/branch-dev"), false)
    Snapshots.vacuum(spark, tbl, keepLast = 1)
    assert(Snapshots.versions(spark, tbl) === Seq(4))
    assert(br.nonEmpty) // silence unused warning; dir remains on disk
  }
}
