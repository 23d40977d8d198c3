package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Incremental table replication driven by the CHANGE DATA FEED — the
  * downstream-consumer half of [[Snapshots.changes]]: keep a target
  * versioned table equal to a source one by applying only the source's
  * row-level deltas, version by version, never rescanning the source.
  * The cross-region mirror / dev-fork-follow / downstream-warehouse-feed
  * shape: at 100 TB the per-sync cost is the changed rows, full stop.
  *
  * Exactly-once: every applied source version is recorded as a manifest
  * property ([[SyncProp]]) ON THE SAME atomic commit that applies it —
  * the SnapshotStream marker discipline — so a crash mid-sync resumes at
  * the first unapplied version and a replayed sync applies nothing.
  * Each version is applied with the write shape that produced it:
  * inserts-only → append commit; deletes-only → [[Snapshots.deleteWhere]]
  * tombstone; both → [[Snapshots.upsertMor]] (the pair nets to the same
  * atomic last-write-per-key); feed-empty versions (compaction) apply
  * nothing. The target must be sync-owned: interleaving foreign commits
  * breaks the mirror invariant (loudly, at the next read compare, not
  * silently).
  *
  * `hook(v)` is a deterministic crash seam, called after source version
  * `v` has been applied.
  */
object Replication {

  /** Manifest property on target commits: the source version that
    * commit replicated.
    */
  val SyncProp = "graft.sync.src"

  /** Highest source version already applied to `dst` (0 = none). */
  def syncedVersion(spark: SparkSession, dst: String): Int =
    Snapshots.versions(spark, dst).reverse.iterator
      .flatMap(v => Snapshots.properties(spark, dst, v).get(SyncProp))
      .map(_.toInt)
      .nextOption()
      .getOrElse(0)

  /** Apply every source version newer than the target's sync marker.
    * Schema evolution replays structurally: a source rename/drop commit
    * is applied to the target as the SAME metadata-only operation (with
    * the sync marker riding it), and the tracked key column follows a
    * rename — so the mirror's files stay era-mapped exactly like the
    * source's. Returns the source versions applied (possibly empty).
    */
  def sync(spark: SparkSession, src: String, dst: String, keyCol: String,
      hook: Int => Unit = _ => ()): Seq[Int] = {
    val from = syncedVersion(spark, dst)
    // one listing for the whole sync — per-version re-listing would
    // make catching up n versions O(n^2) in manifest reads
    val allVs = Snapshots.versions(spark, src)
    val vs = allVs.filter(_ > from)
    // the key column's CURRENT name at the resume point: replay any
    // renames recorded at or before `from`
    var key = renameEventsOf(
      if (from == 0) Map.empty
      else Snapshots.properties(spark, src, from))
      .foldLeft(keyCol) { case (k, (_, o, n)) => if (o == k) n else k }
    vs.foreach { v =>
      val prev = allVs.filter(_ < v).lastOption.getOrElse(0)
      val prevProps =
        if (prev == 0) Map.empty[String, String]
        else Snapshots.properties(spark, src, prev)
      val props = Snapshots.properties(spark, src, v)
      val mark = Map(SyncProp -> v.toString)
      val newRen = renameEventsOf(props).drop(renameEventsOf(prevProps).size)
      val newDrop = dropEventsOf(props).drop(dropEventsOf(prevProps).size)
      val newDef = Snapshots.defaultEvents(props)
        .drop(Snapshots.defaultEvents(prevProps).size)
      val newWiden = Snapshots.widenEvents(props)
        .drop(Snapshots.widenEvents(prevProps).size)
      if (newRen.nonEmpty || newDrop.nonEmpty || newDef.nonEmpty ||
          newWiden.nonEmpty) {
        newRen.foreach { case (_, o, n) =>
          Snapshots.renameColumn(spark, dst, o, n, properties = mark)
          if (o == key) key = n
        }
        newDrop.foreach { case (_, n) =>
          Snapshots.dropColumn(spark, dst, n, properties = mark)
        }
        // an add-column-with-default replays STRUCTURALLY: the mirror's
        // own pre-event files must read the default exactly like the
        // source's (evolution-by-write would null-fill them instead);
        // the stored string round-trips through the same literal decoder
        newDef.foreach { d =>
          val srcSchema = org.apache.spark.sql.types.DataType.fromJson(
            props(Snapshots.SchemaProp))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          Snapshots.addColumn(spark, dst, d.name,
            srcSchema(d.name).dataType, Some(d.value), properties = mark)
        }
        // a type widening replays STRUCTURALLY for the same reason: the
        // mirror's own narrow files must read cast exactly like the
        // source's
        newWiden.foreach { w =>
          Snapshots.widenColumn(spark, dst, w.name,
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(w.toType), properties = mark)
        }
      } else {
        // a position-DV delete names rows of the SOURCE's physical
        // files; its feed pre-images replay as KEY deletes, which is
        // wrong when a DV removed one of several same-key rows —
        // refuse toward compactMor on the source
        require(!Snapshots.addsPositionDeletes(spark, src, v),
          s"Replication.sync: source version $v commits a position " +
            "delete vector — not key-replayable; compactMor the source " +
            "lineage first")
        val feed = Snapshots.changes(spark, src, prev, v)
        val ins = feed.filter(col("_change_type") === "insert")
          .drop("_change_type", "_commit_version")
        val delKeys = feed.filter(col("_change_type") === "delete")
          .select(col(key)).distinct()
        val hasIns = !ins.isEmpty
        val hasDel = !delKeys.isEmpty
        if (hasIns && hasDel) {
          // a mixed version replays as ONE atomic upsert, which masks
          // exactly the inserted keys — sound only if the version's
          // deletes are covered by its inserts (what upsertMor
          // produces); a hand-built manifest violating that must fail
          // loudly, not half-apply
          val extra = delKeys.join(ins.select(col(key)).distinct(),
            Seq(key), "left_anti")
          require(extra.isEmpty, s"Replication.sync: source version $v " +
            s"deletes keys it does not re-insert — not replayable as " +
            "one atomic upsert")
          Snapshots.upsertMor(spark, dst, ins, key, properties = mark)
        }
        else if (hasIns)
          Snapshots.commit(ins, dst, statsCols = Seq(key),
            properties = mark)
        else if (hasDel)
          Snapshots.deleteWhere(spark, dst, delKeys, key,
            properties = mark)
        // feed-empty version (e.g. compaction): nothing to commit; the
        // marker stays behind, and re-deriving this version's empty
        // feed on the next sync costs manifest reads only
      }
      hook(v)
    }
    vs
  }

  private def renameEventsOf(props: Map[String, String])
      : Seq[(Int, String, String)] =
    props.get(Snapshots.RenamesProp).toSeq.flatMap(_.split(",").toSeq)
      .map { e =>
        val Array(p, names) = e.split(":", 2)
        val Array(o, n) = names.split(">", 2)
        (p.toInt, o, n)
      }

  private def dropEventsOf(props: Map[String, String])
      : Seq[(Int, String)] =
    props.get(Snapshots.DropsProp).toSeq.flatMap(_.split(",").toSeq)
      .map { e =>
        val Array(p, n) = e.split(":", 2)
        (p.toInt, n)
      }
}
