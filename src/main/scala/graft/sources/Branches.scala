package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Named refs over [[Snapshots]] versioned tables — the Git-shaped layer
  * a table format grows once whole PIPELINES (not single batches) need
  * staging: immutable TAGS pin a version under a name ("the snapshot we
  * trained run 417 on"), and BRANCHES fork a zero-copy writable line of
  * development whose accumulated changes merge back atomically, with
  * key-level conflict detection against what main did in the meantime —
  * write-audit-publish at branch granularity instead of
  * [[Snapshots.commitAudited]]'s single-batch granularity.
  *
  * Refs live as one small file each under `<table>/_refs/` (outside the
  * `data/` tree every scan and reclamation path walks):
  *  - `tag-<name>`: the pinned version number. Created with
  *    create-no-overwrite, so a tag is IMMUTABLE — re-pointing a name is
  *    a refused write, never a silent move ([[dropTag]] first, loudly).
  *  - `branch-<name>`: `<forkVersion>\t<branchDir>`. The branch itself
  *    is a full [[Snapshots]] table at `branchDir` whose v1 is a
  *    zero-copy [[Snapshots.cloneTable]] of the fork version (absolute
  *    manifest paths into main's files — nothing is copied at fork
  *    time), so every table operation (appends, MOR upserts, deletes,
  *    constraints, time travel) works on a branch unchanged.
  *
  * [[Snapshots.vacuum]] treats tagged versions and live branches' fork
  * versions as PINNED ([[pinnedVersions]]): their manifests and files
  * survive any `keepLast`, so a ref can never dangle and a live branch's
  * zero-copy v1 stays readable. (Branch dirs own their post-fork files;
  * main's vacuum never walks them.)
  *
  * MERGE replays the branch's change data feed ([[Snapshots.changes]])
  * onto main version-by-version with the write shape that produced each
  * one (the [[Replication.sync]] discipline): inserts-only → append,
  * deletes-only → tombstone, mixed → one atomic MOR upsert. Before any
  * write, the branch's touched keys are intersected with the keys main
  * touched since the fork — any overlap refuses the whole merge (the
  * caller rebases by hand); disjoint-key divergence merges cleanly, and
  * a fast-forward (main unchanged) trivially so. Main's CHECK/UNIQUE
  * constraints run on every replayed commit, so a branch cannot
  * smuggle in rows main would have rejected. Replay commits carry
  * [[MergeSrcProp]] = `<branch>:<branchVersion>`, making merge lineage
  * auditable in [[Snapshots.history]]; the branch ref is deleted on
  * success (the branch table itself is left for inspection).
  */
object Branches {

  /** Manifest property on main commits produced by [[merge]]:
    * `<branchName>:<branchVersion>` — which branch version this commit
    * replays.
    */
  val MergeSrcProp = "graft.merge.src"

  private def refsDir(root: Path): Path = new Path(root, "_refs")

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '.' || c == '_' || c == '-'),
      s"Branches: ref name '$name' — use only letters, digits, . _ -")

  private def fsRoot(spark: SparkSession, table: String): (FileSystem, Path) = {
    val p = new Path(table)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeRef(fs: FileSystem, p: Path, content: String): Boolean = {
    val created =
      try Some(fs.create(p, false))
      catch { case _: java.io.IOException => None }
    created match {
      case Some(out) =>
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      case None => false
    }
  }

  private def readRef(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  private def listRefs(fs: FileSystem, root: Path, prefix: String)
      : Seq[(String, String)] = {
    val dir = refsDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .sorted
      .flatMap(n => readRef(fs, new Path(dir, n))
        .map(c => (n.stripPrefix(prefix), c)))
  }

  // ---- tags -----------------------------------------------------------

  /** Pin `version` (default: latest) of `table` under an immutable name.
    * Returns the pinned version. Re-tagging an existing name refuses —
    * a tag that silently moved would un-reproduce every run recorded
    * against it.
    */
  def tag(spark: SparkSession, table: String, name: String,
      version: Option[Int] = None): Int = {
    requireRefName(name)
    val v = version.getOrElse(Snapshots.latestVersion(spark, table))
    require(Snapshots.versions(spark, table).contains(v),
      s"Branches.tag: version $v of $table does not exist")
    val (fs, root) = fsRoot(spark, table)
    fs.mkdirs(refsDir(root))
    require(writeRef(fs, new Path(refsDir(root), s"tag-$name"), v.toString),
      s"Branches.tag: tag '$name' already exists on $table — tags are " +
        "immutable; dropTag first to re-point")
    v
  }

  /** All tags of `table` as (name, version), name-sorted. */
  def tags(spark: SparkSession, table: String): Seq[(String, Int)] = {
    val (fs, root) = fsRoot(spark, table)
    listRefs(fs, root, "tag-").map { case (n, c) => (n, c.trim.toInt) }
  }

  /** The version a tag pins; loud when the tag does not exist. */
  def tagVersion(spark: SparkSession, table: String, name: String): Int =
    tags(spark, table).collectFirst { case (`name`, v) => v }
      .getOrElse(throw new IllegalArgumentException(
        s"Branches.tagVersion: no tag '$name' on $table"))

  /** Read the table at a tag — time travel by name. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    Snapshots.read(spark, table, Some(tagVersion(spark, table, name)))

  /** Remove a tag (its version becomes vacuum-eligible again). */
  def dropTag(spark: SparkSession, table: String, name: String): Unit = {
    requireRefName(name)
    val (fs, root) = fsRoot(spark, table)
    val p = new Path(refsDir(root), s"tag-$name")
    require(fs.exists(p), s"Branches.dropTag: no tag '$name' on $table")
    fs.delete(p, false)
  }

  // ---- branches -------------------------------------------------------

  /** Fork a writable branch of `table` at `version` (default: latest).
    * The branch is a zero-copy clone at `dir` (default: `<table>@<name>`,
    * a sibling path — NEVER inside the table root, whose orphan scans
    * must not see foreign files); the ref records the fork point, which
    * [[pinnedVersions]] protects from vacuum while the branch lives.
    * A version carrying merge-on-read masks is refused, as
    * [[Snapshots.cloneTable]] refuses it. Returns the branch table path.
    */
  def create(spark: SparkSession, table: String, name: String,
      version: Option[Int] = None, dir: Option[String] = None): String = {
    requireRefName(name)
    val v = version.getOrElse(Snapshots.latestVersion(spark, table))
    val branchDir = dir.getOrElse(s"$table@$name")
    require(!new Path(branchDir).toString
        .startsWith(new Path(table).toString + "/"),
      s"Branches.create: branch dir $branchDir must not live inside the " +
        "table root")
    val (fs, root) = fsRoot(spark, table)
    fs.mkdirs(refsDir(root))
    val ref = new Path(refsDir(root), s"branch-$name")
    require(!fs.exists(ref),
      s"Branches.create: branch '$name' already exists on $table")
    Snapshots.cloneTable(spark, table, branchDir, Some(v))
    require(writeRef(fs, ref, s"$v\t$branchDir"),
      s"Branches.create: branch '$name' raced into existence on $table")
    branchDir
  }

  /** All live branches of `table` as (name, forkVersion, branchDir). */
  def branches(spark: SparkSession, table: String): Seq[(String, Int, String)] = {
    val (fs, root) = fsRoot(spark, table)
    listRefs(fs, root, "branch-").map { case (n, c) =>
      val Array(v, d) = c.split("\t", 2)
      (n, v.trim.toInt, d)
    }
  }

  /** The branch's table path; loud when the branch does not exist. */
  def branchPath(spark: SparkSession, table: String, name: String): String =
    branches(spark, table).collectFirst { case (`name`, _, d) => d }
      .getOrElse(throw new IllegalArgumentException(
        s"Branches.branchPath: no branch '$name' on $table"))

  /** Versions of `table` that refs pin: every tagged version and every
    * live branch's fork version. [[Snapshots.vacuum]] keeps these (and
    * their files) regardless of `keepLast`.
    */
  def pinnedVersions(spark: SparkSession, table: String): Set[Int] =
    (tags(spark, table).map(_._2) ++
      branches(spark, table).map(_._2)).toSet

  /** Merge branch `name` back into `table`: replay every branch commit
    * since the fork onto main with the write shape that produced it,
    * after proving the branch's touched keys (`keyCol`) are DISJOINT
    * from the keys main touched since the fork — overlap refuses the
    * whole merge before any write, so a refused merge leaves main
    * untouched. Schema-evolution commits on either side refuse loudly
    * (via [[Snapshots.changes]]' range guard): mergeable branches are
    * data-only. On success the branch ref is deleted (the branch table
    * remains on disk, unhooked). Returns the branch versions applied.
    */
  def merge(spark: SparkSession, table: String, name: String,
      keyCol: String): Seq[Int] = {
    val (fs, root) = fsRoot(spark, table)
    val bdir = branchPath(spark, table, name)
    val fork = branches(spark, table)
      .collectFirst { case (`name`, v, _) => v }.get
    // guard against a ref pointing at a dir that is not OUR fork: the
    // branch's v1 must be a clone of this table at the fork version
    val v1props = Snapshots.properties(spark, bdir, 1)
    val mainAbs = fs.makeQualified(root).toUri.getPath
    require(v1props.get("graft.clone.source").contains(mainAbs) &&
      v1props.get("graft.clone.sourceVersion").contains(fork.toString),
      s"Branches.merge: $bdir v1 is not a clone of $table@v$fork")
    val branchHead = Snapshots.latestVersion(spark, bdir)
    val mainHead = Snapshots.latestVersion(spark, table)
    val applied =
      if (branchHead <= 1) Seq.empty[Int]
      else {
        val branchFeed = Snapshots.changes(spark, bdir, 1, branchHead)
        if (mainHead > fork) {
          val mainKeys = Snapshots.changes(spark, table, fork, mainHead)
            .select(col(keyCol)).distinct()
          val clash = branchFeed.select(col(keyCol)).distinct()
            .join(mainKeys, Seq(keyCol), "inner")
          require(clash.isEmpty, s"Branches.merge: branch '$name' and " +
            s"$table both touched key(s) ${clash.limit(5).collect()
              .map(_.get(0)).mkString(", ")} since fork v$fork — " +
            "rebase required, merge refused")
        }
        val vs = Snapshots.versions(spark, bdir).filter(_ > 1)
        vs.flatMap { v =>
          val prev = Snapshots.versions(spark, bdir).filter(_ < v).last
          require(!Snapshots.addsPositionDeletes(spark, bdir, v),
            s"Branches.merge: branch version $v commits a position " +
              "delete vector — not key-replayable; compactMor the " +
              "branch first")
          val feed = Snapshots.changes(spark, bdir, prev, v)
          val mark = Map(MergeSrcProp -> s"$name:$v")
          val ins = feed.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val delKeys = feed.filter(col("_change_type") === "delete")
            .select(col(keyCol)).distinct()
          val hasIns = !ins.isEmpty
          val hasDel = !delKeys.isEmpty
          if (hasIns && hasDel) {
            val extra = delKeys.join(ins.select(col(keyCol)).distinct(),
              Seq(keyCol), "left_anti")
            require(extra.isEmpty, s"Branches.merge: branch version $v " +
              "deletes keys it does not re-insert — not replayable as " +
              "one atomic upsert")
            Snapshots.upsertMor(spark, table, ins, keyCol,
              properties = mark)
            Some(v)
          } else if (hasIns) {
            Snapshots.commit(ins, table, statsCols = Seq(keyCol),
              properties = mark)
            Some(v)
          } else if (hasDel) {
            Snapshots.deleteWhere(spark, table, delKeys, keyCol,
              properties = mark)
            Some(v)
          } else None // layout-only branch commit: nothing to replay
        }
      }
    fs.delete(new Path(refsDir(root), s"branch-$name"), false)
    applied
  }
}
