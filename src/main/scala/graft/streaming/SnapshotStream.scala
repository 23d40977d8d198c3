package graft.streaming

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest into a [[graft.sources.Snapshots]] versioned table:
  * each micro-batch becomes one append commit, so the stream's history IS
  * the table's version history — downstream consumers time-travel to any
  * batch boundary and read inter-batch deltas from only the delta files
  * ([[Snapshots.diffAdded]]), with no separate CDC feed.
  *
  * Exactly-once rides the commit protocol itself: the micro-batch id is
  * written as a manifest property (`appliedBatch`), and the manifest
  * create IS the atomic commit point — so "data visible" and "batch
  * recorded" are one event, not two that a crash could split. A replayed
  * batch (at-least-once foreachBatch) sees its id already at-or-below the
  * latest version's marker and skips. Batch ids are monotone only under a
  * `checkpointLocation`; pass one in any deployment that can restart.
  */
object SnapshotStream {

  val batchProp = "appliedBatch"

  /** Start the ingest: every non-empty micro-batch append-commits into
    * `table`, recording per-file stats for `statsCols`. With `audit`
    * set, each batch goes through write-audit-publish
    * ([[Snapshots.commitAudited]]): a rejected batch publishes NO
    * version — it is dropped from the table (and surfaced through
    * `onRejected`, the dead-letter hook), while later batches land
    * normally. The replay marker advances only on PUBLISHED batches, so
    * an immediately-redelivered rejected id re-audits; once a later
    * batch publishes, the rejected id counts as handled (its capture
    * point is the dead-letter hook, not the table).
    *
    * `rebucketEvery = Some(n)`: the rebucket-cadence policy for bucketed
    * tables. Plain streaming appends break [[Snapshots.commitBucketed]]'s
    * one-file-per-bucket single-dir layout, so continuous ingest degrades
    * shuffle-free joins until a rebucket; with the policy set, once `n`
    * commits have landed since the last [[Snapshots.registerBucketed]]-
    * servable layout, the batch lands as a plain append (carrying the
    * replay marker) and the layout is restored by an immediate follow-up
    * [[Snapshots.rebucket]] — a separate `graft.data.change=false`
    * commit, so [[Snapshots.changes]]/[[Snapshots.diffAdded]] stay valid
    * across the whole lineage (an OVERWRITE fold carrying batch data
    * could not be stamped data.change=false and would break the
    * inter-batch CDC contract this module promises). A crash between the
    * two commits leaves the backlog ≥ n, so the next published batch
    * re-fires the rebucket; the replayed-batch marker already advanced,
    * so no data is double-ingested. Tables with no bucketed version ever
    * are unaffected.
    */
  def ingest(
      stream: DataFrame,
      table: String,
      statsCols: Seq[String] = Seq.empty,
      checkpoint: Option[String] = None,
      audit: Option[DataFrame => Option[String]] = None,
      onRejected: (Long, String) => Unit = (_, _) => (),
      rebucketEvery: Option[Int] = None): StreamingQuery = {
    require(rebucketEvery.forall(_ >= 1),
      s"rebucketEvery must be >= 1, got $rebucketEvery")
    val writer = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        commitBatch(batch.toDF(), batchId, table, statsCols, audit,
          onRejected, rebucketEvery)
      }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** Streaming UPSERT ingest (CDC tail → serving table): every
    * micro-batch lands as ONE atomic merge-on-read upsert
    * ([[Snapshots.upsertMor]]) — older copies of the batch's keys are
    * tombstoned and the new rows appended in the same commit, so a
    * reader ([[Snapshots.readMor]]) always sees exactly the last write
    * per key at some batch boundary, never a between-states mix. Cost
    * per batch is O(batch) — no data file rewrite, the constant-time
    * streaming-upsert shape; run [[Snapshots.compactMor]] periodically.
    * Replay protection is the same manifest-marker discipline as
    * [[ingest]].
    */
  def ingestUpsert(
      stream: DataFrame,
      table: String,
      keyCol: String,
      statsCols: Seq[String] = Seq.empty,
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = stream.writeStream.outputMode("update")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        upsertBatch(batch.toDF(), batchId, table, keyCol, statsCols)
      }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** (files read, files skipped) of the most recent [[lookupBatch]]
    * prune — the observable cut counter specs assert on. None = the last
    * batch fell back to the plain read (key set above `maxKeys`).
    */
  @volatile var lastLookupPrune: Option[(Int, Int)] = None

  /** STREAMING LOOKUP JOIN against a large STATIC graft table — the
    * enrichment shape where the STATIC side is the 100 TB one: each
    * micro-batch's bounded distinct key set IS the selective dim, so
    * the automatic prune rule ([[graft.plans.DimFilePruneRule]], the
    * same rule plain batch joins get) cuts the static table's files to
    * the slice that can match the batch (integral/UTF-8 envelopes,
    * widen-aware blooms) and the batch LEFT-joins only that slice —
    * per-batch scan cost follows the batch's key locality, not the
    * table size.
    * Sound for the left join: a static row contributes only when it
    * equals some batch key, which is exactly what the prune keeps; batch
    * rows without a match still emit null-extended. A batch whose key
    * set exceeds `maxKeys` falls back to the plain read (a lookup must
    * not fail because one batch ran hot; [[lastLookupPrune]] reads None).
    * The static table resolves at its LATEST version each batch, so new
    * commits surface at the next micro-batch boundary — the
    * serving-table composition. A version carrying merge-on-read
    * tombstones refuses LOUDLY through the shared read path (a masked
    * row served into a lookup would be silent corruption) — run
    * [[Snapshots.compactMor]] after upserts, the usual MOR serving
    * discipline.
    */
  def lookupJoin(
      stream: DataFrame,
      table: String,
      factCol: String,
      streamCol: String,
      maxKeys: Int = 100000,
      checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    // the lookup's DimFilePrune registration is scoped to THIS stream's
    // lifetime: if the first batch created it (vs a user's own enable(),
    // which is never touched), a termination listener removes it — so
    // unrelated batch queries joining the same table path after the
    // stream stops don't silently inherit plan-time dim executions
    // governed by this stream's maxKeys
    val owned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val qid =
      new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit = {
          val id = qid.get()
          if (id != null && e.id == id) {
            if (owned.get()) graft.plans.DimFilePrune.disable(spark, table)
            spark.streams.removeListener(this)
          }
        }
      }
    spark.streams.addListener(listener)
    val writer = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink(lookupBatch(batch.toDF(), table, factCol, streamCol, maxKeys,
          Some(owned)), batchId)
      }
    val q = checkpoint.fold(writer)(
      writer.option("checkpointLocation", _)).start()
    qid.set(q.id)
    // a query that failed before qid was visible to the listener would
    // leak the registration — close the race by cleaning up directly
    // (disable/removeListener are both idempotent)
    if (!q.isActive) {
      if (owned.get()) graft.plans.DimFilePrune.disable(spark, table)
      spark.streams.removeListener(listener)
    }
    q
  }

  /** One lookup step, factored out so the stream ≡ batch spec and the
    * oracled batch-twin catalog entry (q_lookup_enrich) drive the exact
    * per-batch semantics. Equal column names join `USING`-style (one key
    * column out); distinct names keep both.
    *
    * The cut routes through the AUTOMATIC rule
    * ([[graft.plans.DimFilePruneRule]]): the batch-preserved LEFT join is
    * exactly the rule's outer-join shape (the static side is
    * non-preserved, so pruning it by batch keys is sound), the rule
    * substitutes the batch's plan-time snapshot back as the join input,
    * and a micro-batch frame qualifies through the rule's
    * MATERIALIZED-dim tier (LogicalRDD leaves — no structural row bound
    * needed; an over-`maxKeys` batch aborts the rewrite and the join
    * reads the static side plainly). The registration is
    * if-absent (a user's own enable() on the table wins) and stays
    * installed for the stream's LIFETIME — [[lookupJoin]] passes `owned`
    * so a registration this lookup created (reported through
    * `enableIfAbsent`) is removed when the stream terminates; direct
    * batch callers that omit `owned` keep the registration, their
    * returned frame (and anything composed on top) optimizes lazily
    * after this method returns. ERA-EVOLVED tables (rename/widen/default
    * events with surviving pre-event files) route through the SAME rule
    * via the per-era indexed read ([[Snapshots.readIndexedEvolved]]):
    * the rule's evolved tier prunes each era branch through its own
    * projection, so an evolved lookup table keeps the cut.
    */
  private[graft] def lookupBatch(batch: DataFrame, table: String,
      factCol: String, streamCol: String, maxKeys: Int,
      owned: Option[java.util.concurrent.atomic.AtomicBoolean] = None)
      : DataFrame = {
    val spark = batch.sparkSession
    // flat tables take the single whole-version index; era-evolved
    // tables take the per-era union — BOTH route through the automatic
    // rule. MOR-masked versions refuse LOUDLY either way.
    val (fact, fidx) =
      try { val (f, i) = Snapshots.readIndexed(spark, table); (f, Seq(i)) }
      catch {
        case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("readIndexedEvolved") =>
          Snapshots.readIndexedEvolved(spark, table)
      }
    // registration is if-absent (a user's own enable() choice on
    // this table wins); if THIS call created it, report ownership so
    // lookupJoin's termination listener can remove it — the returned
    // frame, and anything composed on top, optimizes lazily after
    // this method returns
    if (graft.plans.DimFilePrune.enableIfAbsent(spark, table, maxKeys))
      owned.foreach(_.set(true))
    val joined =
      if (factCol == streamCol) batch.join(fact, Seq(streamCol), "left")
      else batch.join(fact, batch(streamCol) === fact(factCol), "left")
    // force optimization NOW: the rule fires (or declines) here,
    // the optimized plan is reused when the sink executes the same
    // frame, and the cut counter is read from THIS plan (the global
    // lastCut would race with concurrent queries). Counted over PRUNED
    // indexes only (!flatForm && !eraSlice): an unpruned era slice is
    // not a cut, and a no-rewrite plan reads None.
    val prunedSizes = joined.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources
          .LogicalRelation => lr.relation match {
        case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h.location match {
          case fi: graft.sources.SnapshotFileIndex
              if fi.table == fidx.head.table && !fi.flatForm &&
                !fi.eraSlice =>
            Some(fi.entries.size)
          case _ => None
        }
        case _ => None
      }
    }.flatten
    val total = fidx.map(_.entries.size).sum
    lastLookupPrune =
      if (prunedSizes.isEmpty) None
      else {
        // unpruned era branches (colAt unprovable) still count as kept
        val prunedTotal = prunedSizes.sum
        val unprunedKept = joined.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources
              .LogicalRelation => lr.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location match {
              case fi: graft.sources.SnapshotFileIndex
                  if fi.table == fidx.head.table && fi.eraSlice =>
                Some(fi.entries.size)
              case _ => None
            }
            case _ => None
          }
        }.flatten.sum
        val kept = prunedTotal + unprunedKept
        Some((kept, total - kept))
      }
    joined
  }

  private[graft] def upsertBatch(batch: DataFrame, batchId: Long,
      table: String, keyCol: String, statsCols: Seq[String]): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val applied = Snapshots.versions(spark, table).flatMap(v =>
      Snapshots.properties(spark, table, v).get(batchProp).map(_.toLong))
    if (applied.nonEmpty && applied.max >= batchId) return // replay: done
    Snapshots.upsertMor(spark, table, batch, keyCol, statsCols = statsCols,
      properties = Map(batchProp -> batchId.toString))
  }

  /** One commit step, factored out so replay/crash tests (and manual
    * backfills) can drive it without a streaming query around it.
    */
  private[graft] def commitBatch(batch: DataFrame, batchId: Long,
      table: String, statsCols: Seq[String],
      audit: Option[DataFrame => Option[String]] = None,
      onRejected: (Long, String) => Unit = (_, _) => (),
      rebucketEvery: Option[Int] = None): Unit = {
    if (batch.isEmpty) return // no version for an empty batch
    val spark = batch.sparkSession
    // scan ALL retained versions for the marker, not just the latest: an
    // interleaved maintenance commit (compaction, rollback) would hide it
    // and a replayed batch would re-ingest
    val applied = Snapshots.versions(spark, table).flatMap(v =>
      Snapshots.properties(spark, table, v).get(batchProp).map(_.toLong))
    if (applied.nonEmpty && applied.max >= batchId) return // replay: done
    val props = Map(batchProp -> batchId.toString)
    val published = audit match {
      case None =>
        // a table with a declared partition spec keeps its layout under
        // CONTINUOUS ingest: every micro-batch lands through the
        // partitioned write path (one tuple per file, auto skip
        // evidence), so partitions()/overwritePartitions never meet a
        // layout-less file — streaming and the hidden-partitioning tier
        // compose instead of requiring a rewriteLayout repair
        if (graft.sources.Partitioning.currentSpec(spark, table).nonEmpty)
          graft.sources.Partitioning.commitPartitioned(batch, table,
            statsCols = statsCols, properties = props)
        else
          Snapshots.commit(batch, table, statsCols = statsCols,
            properties = props)
        true
      case Some(a) =>
        Snapshots.commitAudited(batch, table, a, statsCols = statsCols,
          properties = props) match {
          case Left(reason) => onRejected(batchId, reason); false
          case Right(_) => true
        }
    }
    // the batch lands as an append (so changes()/diffAdded stay valid —
    // an overwrite fold could not be stamped data.change=false); the
    // layout restore follows as its own data.change=false commit, which
    // inherits bloom/strStats specs from the latest manifest. Crash in
    // between: backlog stays >= the cadence, the next batch re-fires.
    // The +1 compensates bucketBacklog's "counting the batch about to
    // commit" convention now that the batch has already committed; the
    // arithmetic is Long so rebucketEvery = Int.MaxValue means "never",
    // not "always".
    if (published &&
        bucketBacklog(spark, table, rebucketEvery.map(_.toLong + 1)).isDefined)
      Snapshots.rebucket(spark, table)
  }

  /** Some((bucketCol, nBuckets)) when the cadence policy is due: the
    * table has EVER recorded a bucket spec (newest recording wins) and at
    * least `every - 1` commits landed after the newest
    * registerBucketed-servable layout — so counting the batch about to
    * commit, the backlog reaches the cadence. None = commit plain.
    */
  private def bucketBacklog(spark: org.apache.spark.sql.SparkSession,
      table: String, every: Option[Long]): Option[(String, Int)] =
    every.flatMap { n =>
      val vs = Snapshots.versions(spark, table)
      if (vs.isEmpty) None
      else {
        val spec = vs.reverse.iterator
          .map(v => Snapshots.bucketSpec(spark, table, Some(v)))
          .collectFirst { case Some(s) => s }
        val base = Snapshots.bucketedLayoutVersion(spark, table).getOrElse(0)
        spec.filter(_ => vs.count(_ > base).toLong + 1L >= n)
      }
    }
}
