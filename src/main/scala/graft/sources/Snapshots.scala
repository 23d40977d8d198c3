package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based versioned parquet tables — the minimal lakehouse commit
  * protocol (Iceberg/Delta shape) the rest of the maintenance tier
  * ([[Maintenance]] compaction, [[graft.operators.IncrementalAgg]] rollup,
  * [[graft.operators.Cdc]]) plugs into:
  *
  *  - data files are IMMUTABLE; every commit writes new files into
  *    `table/data/<batch>/` and then publishes a manifest listing the
  *    complete file set of the new version (append = parent's files +
  *    new; overwrite = new only);
  *  - the COMMIT POINT is creating `_manifests/v<N>.manifest` with
  *    overwrite=false — atomic on HDFS-like stores; a losing concurrent
  *    committer retries at N+1, so versions are a total order;
  *  - a crash mid-write leaves a manifest without its terminator line;
  *    readers treat it as absent (the version simply never happened);
  *  - manifests carry per-file row counts and integral-column [min,max]
  *    envelopes ([[ParquetMeta.fileStats]]), so readers prune whole files
  *    DRIVER-side before any Spark job ([[SnapshotFileIndex]], behind
  *    [[Snapshots.readIndexed]]).
  *
  * Scale note: manifest size grows with FILE count, not data size —
  * [[compactVersion]] keeps file count proportional to bytes, and because
  * compaction is itself just an overwrite commit, old versions stay
  * readable (time travel) until [[vacuum]] reclaims them. At 100 TB the
  * manifest itself would graduate from one text file to parquet manifest
  * lists, but the protocol (immutable files + atomic pointer swap +
  * stats-carrying manifests) is the same.
  */
object Snapshots {

  /** One data file of a version: path relative to the table root, exact
    * footer row count, per-column [min,max] file envelopes for range
    * skip decisions, and per-column bloom filters (1024-bit, 2 probes)
    * for EQUALITY skip decisions — range stats are useless for a
    * hash-distributed column (every file spans the whole domain); the
    * bloom catches exactly that case.
    */
  final case class FileEntry(path: String, rows: Long,
      stats: Map[String, (Long, Long)],
      blooms: Map[String, Array[Long]] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty,
      seq: Int = 0)

  /** Outcome of a [[merge]] commit: the new version plus how many data
    * files the copy-on-write actually rewrote vs carried untouched — the
    * number a 100 TB merge lives or dies by.
    */
  final case class MergeResult(version: Int, filesRewritten: Int,
      filesCarried: Int)

  private val Header = "graft-manifest-v1"
  private val Footer = "end"

  /** Manifest property key holding the committing DataFrame's schema
    * (StructType json). Written by every commit; absent only in manifests
    * created before schema recording existed.
    */
  val SchemaProp = "graft.schema"

  /** Manifest property key holding the commit wall-clock time (epoch
    * millis), stamped by every commit — what [[readAsOf]] resolves a
    * timestamp to a version with. Absent only in pre-stamping manifests.
    */
  val CommitTsProp = "graft.commit.ts"

  /** Manifest property marking a commit that rewrites LAYOUT but not
    * logical content ("false" = no data change): compaction and rebucket
    * stamp it so [[changes]] can skip them, exactly like Delta's
    * `dataChange=false` actions. Absent or any other value = the commit
    * may change data.
    */
  val DataChangeProp = "graft.data.change"

  /** Manifest property holding the table's cumulative COLUMN RENAME
    * history: comma-joined events `P:old>new`, where P is the version
    * whose files still carry `old` (the rename commit's parent) —
    * inherited by every child commit like constraints. [[read]]
    * maps each data file's era names (by its data sequence number) to
    * the current ones, so a rename never rewrites a byte.
    */
  val RenamesProp = "graft.renames"

  /** Manifest property of a MULTI-TABLE TRANSACTION's pending commit:
    * the absolute path of the transaction's status file. A manifest
    * carrying it is committed iff that file exists with content
    * "commit"; content "abort" or no file yet = the version reads as
    * absent. See [[commitTxn]].
    */
  val TxnStatusProp = "graft.txn.status"

  private[sources] def fsOf(spark: SparkSession, table: String): (FileSystem, Path) = {
    val p = new Path(table)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(table: Path, v: Int): Path =
    new Path(new Path(table, "_manifests"), f"v$v%06d.manifest")

  /** All committed (terminator-complete, transaction-resolved) versions,
    * ascending. A pending multi-table transaction's manifest
    * ([[TxnStatusProp]]) counts as committed only once its status file
    * says "commit" — in-doubt and aborted transactions read as absent.
    */
  def versions(spark: SparkSession, table: String): Seq[Int] = {
    val (fs, root) = fsOf(spark, table)
    // the completeness + txn filter needs only header props and the
    // terminator — readPropsOpt, never the per-file body (a versions()
    // call on a long-lived million-file table must not re-parse every
    // manifest ever committed)
    listedSlots(fs, root)
      .filter(v => committedPropsOpt(fs, root, v).isDefined)
  }

  /** Every manifest slot number on disk (complete or not), ascending —
    * the ONE place the manifest filename pattern is parsed, shared by
    * versions()/latestVersion() and [[occupiedSlots]] so the read and
    * commit paths can never disagree on what a slot is.
    */
  private def listedSlots(fs: FileSystem, root: Path): Seq[Int] = {
    val dir = new Path(root, "_manifests")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{6}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
  }

  /** The newest committed version — scanned from the TOP down with an
    * early exit, so the everyday "where is the head" question (the
    * first step of nearly every operation) costs one directory listing
    * plus O(pending tail) props reads, independent of history length.
    */
  def latestVersion(spark: SparkSession, table: String): Int = {
    val (fs, root) = fsOf(spark, table)
    listedSlots(fs, root).reverse
      .find(v => committedPropsOpt(fs, root, v).isDefined)
      .getOrElse(0)
  }

  /** Manifest of `version` (complete commits only). */
  def manifest(spark: SparkSession, table: String, version: Int)
      : Seq[FileEntry] = {
    val (fs, root) = fsOf(spark, table)
    committedManifestOpt(fs, root, version).getOrElse(
      sys.error(s"Snapshots: no committed version $version at $table")).files
  }

  /** Commit-time properties of `version` — the commit-protocol metadata
    * channel (e.g. [[graft.streaming.SnapshotStream]] records the
    * micro-batch id here, making replay detection atomic WITH the data
    * because the manifest is the commit).
    */
  def properties(spark: SparkSession, table: String, version: Int)
      : Map[String, String] = {
    val (fs, root) = fsOf(spark, table)
    // props-only read: the metadata channel must never cost a per-file
    // body parse (constraint/era/spec lookups hit this on every op)
    committedPropsOpt(fs, root, version).getOrElse(
      sys.error(s"Snapshots: no committed version $version at $table"))
  }

  /** Commit `df` as a new version. `overwrite=false` appends to the
    * parent version's file set; `overwrite=true` replaces it (the file
    * BYTES of prior versions are untouched either way — that is what
    * keeps them readable). `statsCols` selects columns whose file
    * envelopes the manifest records for the Catalyst-native skip path
    * ([[SnapshotFileIndex]]): integral
    * columns, plus DATE and TIMESTAMP columns — both are stored
    * physically as ordered integrals (epoch-day INT32 / epoch-micros
    * INT64, see [[withMicrosTs]]) in exactly the domain Catalyst
    * compares their literals in, so `WHERE ts BETWEEN ...` on a plain
    * unpartitioned table file-skips from the same long envelopes.
    * Returns the committed version number.
    */
  def commit(df: DataFrame, table: String, overwrite: Boolean = false,
      statsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty,
      planHook: () => Unit = () => ()): Int = {
    val spark = df.sparkSession
    val enforce = !properties.get(DataChangeProp).contains("false")
    // capture the pin BEFORE the check: a commit landing between check
    // and pin capture would otherwise slip under the pin
    val base = uniquePinnedBase(spark, table, overwrite, enforce)
    if (enforce) enforceUnique(spark, table, df, vsParent = !overwrite)
    // UNIQUE key columns always get file envelopes (integral stats or
    // string stats by type), whatever the caller asked for: the NEXT
    // append's collision check prunes on them, and a key-less envelope
    // would force it to scan every file of this batch forever
    val keyCols = uniqueKeySets(spark, table).flatten.distinct
      .filter(df.columns.contains)
    val (strK, intK) = keyCols.partition(k =>
      df.schema(k).dataType == org.apache.spark.sql.types.StringType)
    planHook()
    commitWith(df, table, (statsCols ++ intK.filter(k =>
        isIntegralType(df.schema(k).dataType))).distinct,
      properties, bloomCols, baseFor = base,
      strStatsCols = (strStatsCols ++ strK).distinct)
  }

  /** The append base rule, PINNED to the parent the UNIQUE collision
    * check ran against when the table declares unique keys: without the
    * pin, two racing appends of the same key each check against the old
    * parent, both pass, and publishManifest's retry quietly rebases the
    * loser on top of the winner — committing the duplicate the
    * constraint exists to prevent. A concurrent commit now aborts
    * loudly instead (the optimistic-concurrency house rule); tables
    * without unique keys keep the lock-free auto-rebase — EXCEPT when a
    * racing [[addUnique]] lands between the planning read and the
    * manifest create: the closure re-reads the constraint set per retry
    * and aborts if one appeared, because this commit's batch was never
    * collision-checked against it (the DDL-vs-append race that would
    * otherwise let a duplicate key land on a table that now declares
    * UNIQUE).
    */
  private[sources] def uniquePinnedBase(spark: SparkSession, table: String,
      overwrite: Boolean, enforce: Boolean): Int => Seq[FileEntry] = {
    val pin =
      if (enforce && !overwrite && uniqueKeySets(spark, table).nonEmpty)
        Some(latestVersion(spark, table))
      else None
    parent => {
      pin.foreach(v0 => require(parent == v0,
        s"Snapshots.commit: concurrent commit on $table during the " +
          s"UNIQUE check (planned against v$v0, parent is now v$parent) " +
          "— retry"))
      if (enforce && !overwrite && pin.isEmpty)
        require(uniqueKeySets(spark, table).isEmpty,
          s"Snapshots.commit: a UNIQUE constraint was added on $table " +
            "after this append planned — retry so the collision check " +
            "runs against the new constraint")
      appendBase(spark, table, overwrite)(parent)
    }
  }

  /** The append/overwrite base-file rule, shared by [[commit]] and
    * [[commitAudited]] so the two paths can never drift.
    */
  private def appendBase(spark: SparkSession, table: String,
      overwrite: Boolean): Int => Seq[FileEntry] = parent =>
    if (overwrite || parent == 0) Seq.empty[FileEntry]
    else manifest(spark, table, parent)

  /** Core commit: write `df` as a new data batch, then publish a manifest
    * whose file set is `baseFor(parent)` + the new files. `baseFor` is
    * re-evaluated inside the retry loop against the CURRENT parent, so a
    * caller with a read-set precondition (e.g. [[merge]]'s carried files)
    * can reject a concurrent commit by throwing there — optimistic
    * concurrency at the manifest-create commit point.
    */
  private def commitWith(df: DataFrame, table: String,
      statsCols: Seq[String], properties: Map[String, String],
      bloomCols: Seq[String], baseFor: Int => Seq[FileEntry],
      strStatsCols: Seq[String] = Seq.empty,
      // batch-write strategy: merge on a partition-spec'd table passes
      // the partitioned writer so its rewritten files keep the
      // tuple-in-name layout instead of knocking the table off the
      // partition tier until a rewriteLayout
      writeVia: Option[(DataFrame, Seq[String], Seq[String], Seq[String])
        => Seq[FileEntry]] = None): Int = {
    // validate BEFORE the data write: a rejected property must not cost a
    // full batch write and leave orphan debris
    requireProps(properties + (SchemaProp -> df.schema.json))
    val spark = df.sparkSession
    // layout-only rewrites (compaction) re-commit rows that already
    // passed; everything else validates its batch first
    if (!properties.get(DataChangeProp).contains("false")) {
      enforceChecks(spark, table, df)
      enforceForeignKeys(spark, table, df)
    }
    val newEntries = writeVia match {
      case Some(w) => w(df, statsCols, bloomCols, strStatsCols)
      case None =>
        writeBatch(df, table, statsCols, bloomCols, strStatsCols)._2
    }
    // the committing schema rides the manifest: readers apply it to every
    // file of the version, so files written before a column was added
    // read as null-filled (per-version schema = time travel keeps each
    // version's own shape)
    publishManifest(spark, table,
      properties + (SchemaProp -> df.schema.json), newEntries, baseFor)
  }

  /** The partitioned batch writer for `table` when it declares a spec —
    * what [[merge]] hands [[commitWith]] so its
    * rewritten files keep the tuple-in-name layout (the partition tier
    * would otherwise refuse the table until a rewriteLayout). None on
    * unspec'd tables = the plain writer.
    */
  private def partitionedWriteVia(spark: SparkSession, table: String)
      : Option[(DataFrame, Seq[String], Seq[String], Seq[String])
        => Seq[FileEntry]] = {
    val spec = Partitioning.currentSpec(spark, table)
    if (spec.isEmpty) None
    else Some((d, st, bl, ss) =>
      Partitioning.writePartitionedBatch(d, table, spec, st, bl, ss)._2)
  }

  /** Stage `df` as an UNPUBLISHED data batch: files + manifest entries,
    * no manifest — invisible to every reader until a later
    * [[publishManifest]] references the entries. The data half of
    * [[commitWith]], factored out so [[commitAudited]] can audit between
    * write and publish.
    */
  private def writeBatch(df: DataFrame, table: String,
      statsCols: Seq[String], bloomCols: Seq[String],
      strStatsCols: Seq[String]): (Path, Seq[FileEntry]) = {
    val spark = df.sparkSession
    val (_, root) = fsOf(spark, table)
    val batch = freshBatchDir(root)
    withMicrosTs(spark) {
      df.write.mode("errorifexists").parquet(batch.toString)
    }
    (batch, entriesFor(spark, table, batch, statsCols, bloomCols,
      strStatsCols))
  }

  /** Run `body` with parquet TimestampType output forced to INT64
    * micros. Spark still defaults to the deprecated INT96 encoding,
    * whose footer statistics are Binary and unordered — a timestamp
    * column could then never earn a manifest envelope, and `WHERE ts
    * BETWEEN ...` (the single most common real prune) would scan every
    * file. INT64 micros is what Iceberg and Delta write, values are
    * unchanged (Spark truncates to micros internally either way), and
    * the footer min/max land in exactly the epoch-micros long domain
    * Catalyst compares timestamp literals in — so every snapshot data
    * write goes through this. Session-conf save/restore because the
    * parquet writer exposes no per-write option for it; the restore
    * races only against a concurrent commit on the SAME session setting
    * the SAME value, which is benign.
    */
  private[sources] def withMicrosTs[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.get(key)
    if (old == "TIMESTAMP_MICROS") body
    else {
      spark.conf.set(key, "TIMESTAMP_MICROS")
      try body finally spark.conf.set(key, old)
    }
  }

  private[sources] def freshBatchDir(root: Path): Path =
    new Path(new Path(root, "data"),
      "b" + java.util.UUID.randomUUID().toString.replace("-", "").take(16))

  /** Manifest entries (footer stats + blooms) for every parquet file of a
    * just-written batch directory — shared by the plain and bucketed
    * write paths so their manifests can never drift in shape.
    */
  private[sources] def entriesFor(spark: SparkSession, table: String, batch: Path,
      statsCols: Seq[String], bloomCols: Seq[String],
      strStatsCols: Seq[String]): Seq[FileEntry] = {
    val (fs, root) = fsOf(spark, table)
    val conf = spark.sessionState.newHadoopConf()
    val blooms = fileBloomBits(spark, batch.toString, bloomCols)
    val rootUri = fs.makeQualified(root).toUri
    val files = listParquet(fs, batch)
    // Footer reads are independent per-file IO — read them on a bounded
    // pool instead of one at a time: a many-cell partitioned commit
    // stages ~one file per cell, and a sequential O(files) footer loop
    // on the driver is the commit path's scaling cliff (at object-store
    // latency each footer is a round trip, not a local ms). Each task
    // opens its own reader; the shared Configuration is only read.
    // Small batches skip the pool — thread spin-up would dominate.
    def entryOf(st: org.apache.hadoop.fs.FileStatus): FileEntry = {
      val (rows, ranges) = ParquetMeta.fileStats(conf, st, statsCols)
      val rel = rootUri.relativize(st.getPath.toUri).getPath
      FileEntry(rel, rows, ranges,
        blooms.getOrElse(st.getPath.toUri.getPath, Map.empty),
        ParquetMeta.fileStrStats(conf, st, strStatsCols))
    }
    val entries =
      if (files.size <= 4) files.map(entryOf)
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(16, files.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(
              files.map(st => new java.util.concurrent.Callable[FileEntry] {
                def call(): FileEntry = entryOf(st)
              }).asJava)
            .asScala.map(f =>
              // surface the reader's own exception, not the pool's
              // ExecutionException wrapper — commit errors must not
              // change type/message with batch size (5 files vs 4)
              try f.get()
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  throw e.getCause
              }).toSeq
        } finally pool.shutdown()
      }
    entries.sortBy(_.path)
  }

  /** Write-audit-publish (the lakehouse governance gate): stage the
    * batch's data files WITHOUT a manifest, run `audit` over exactly the
    * rows those staged files hold, and publish the manifest only on
    * pass — so unaudited data is never visible to ANY reader at any
    * version, unlike audit-after-commit, which leaves a bad version
    * readable for the length of the audit (and in every time travel
    * thereafter). On failure nothing is published: the staged files are
    * ordinary crash-shaped debris — invisible, and reclaimed by
    * [[removeOrphans]] past its age horizon. Returns `Right(version)`
    * on publish, `Left(reason)` on audit failure.
    *
    * `audit` receives the staged batch read back from disk (what
    * consumers would actually read, bytes and all), and returns `None`
    * to approve or `Some(reason)` to reject — compose it from
    * [[graft.operators.DataQuality]] checks or anything else.
    */
  def commitAudited(df: DataFrame, table: String,
      audit: DataFrame => Option[String],
      overwrite: Boolean = false,
      statsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty): Either[String, Int] = {
    requireProps(properties + (SchemaProp -> df.schema.json))
    val spark = df.sparkSession
    enforceChecks(spark, table, df)
    enforceForeignKeys(spark, table, df)
    val pinnedBase = uniquePinnedBase(spark, table, overwrite,
      enforce = true)
    enforceUnique(spark, table, df, vsParent = !overwrite)
    val (batch, newEntries) = writeBatch(df, table, statsCols, bloomCols,
      strStatsCols)
    audit(spark.read.schema(df.schema).parquet(batch.toString)) match {
      case Some(reason) => Left(reason)
      case None => Right(publishManifest(spark, table,
        properties + (SchemaProp -> df.schema.json), newEntries,
        baseFor = pinnedBase))
    }
  }

  // ---- CHECK constraints ----------------------------------------------

  /** Manifest property prefix of a CHECK constraint: key =
    * `graft.check.<name>`, value = the SQL predicate. Constraints are
    * INHERITED by every child commit (publishManifest carries them
    * forward), so they are table-level invariants, not per-version
    * notes; [[dropCheck]] removes one via an empty-value sentinel.
    */
  val CheckPrefix = "graft.check."

  /** The table's current CHECK constraints (name → SQL predicate). */
  def checkConstraints(spark: SparkSession, table: String)
      : Map[String, String] = {
    val v = latestVersion(spark, table)
    if (v == 0) Map.empty
    else properties(spark, table, v).collect {
      case (k, pred) if k.startsWith(CheckPrefix) && pred.nonEmpty =>
        k.stripPrefix(CheckPrefix) -> pred
    }
  }

  /** Add a CHECK constraint: standard SQL semantics — a row violates
    * only when the predicate evaluates FALSE (NULL passes). Existing
    * content is validated FIRST (one scan): a constraint today's rows
    * already break must be rejected loudly, not recorded as a lie.
    * Recording is a metadata-only commit (parent files carried); every
    * later data commit on any write path validates its batch against
    * the inherited constraints before publishing — a violating batch
    * leaves only crash-shaped debris, never a visible version.
    */
  def addCheck(spark: SparkSession, table: String, name: String,
      predicate: String): Int = {
    require(name.nonEmpty && !name.exists(c => c == '\n' || c == '\t' ||
      c == '='), s"bad constraint name '$name'")
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.addCheck: $table has no committed version")
    violationsOf(read(spark, table, Some(v)), Map(name -> predicate))
      .foreach { case (n, p, cnt) =>
        sys.error(s"Snapshots.addCheck: existing rows violate '$n' ($p): " +
          s"$cnt row(s) — clean the data first")
      }
    val props = this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap + (CheckPrefix + name -> predicate)
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.addCheck: concurrent commit on " +
          s"$table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** Remove a CHECK constraint (metadata-only commit). */
  def dropCheck(spark: SparkSession, table: String, name: String): Int = {
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.dropCheck: $table has no committed version")
    require(checkConstraints(spark, table).contains(name),
      s"Snapshots.dropCheck: no constraint '$name' on $table")
    val props = this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap + (CheckPrefix + name -> "")
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.dropCheck: concurrent commit on " +
          s"$table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** (name, predicate, violations) for each failed constraint — ONE
    * combined pass when everything passes (the hot path), per-constraint
    * attribution only on failure.
    */
  private def violationsOf(df: DataFrame,
      checks: Map[String, String]): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    if (checks.isEmpty) return Seq.empty
    def bad(pred: String) = not(coalesce(expr(pred), lit(true)))
    val anyBad = checks.values.map(bad).reduce(_ || _)
    if (df.filter(anyBad).isEmpty) Seq.empty
    else checks.toSeq.sortBy(_._1).flatMap { case (n, p) =>
      val cnt = df.filter(bad(p)).count()
      if (cnt > 0) Seq((n, p, cnt)) else Seq.empty
    }
  }

  /** Enforce the table's inherited CHECK constraints on a batch about
    * to be committed; zero cost when the table has none.
    */
  private def enforceChecks(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val v = latestVersion(spark, table)
    if (v == 0) return
    val props = this.properties(spark, table, v)
    requireNotDropped(props, df.columns.toSeq, table)
    val checks = props.collect {
      case (k, pred) if k.startsWith(CheckPrefix) && pred.nonEmpty =>
        k.stripPrefix(CheckPrefix) -> pred
    }
    val viols = violationsOf(df, checks)
    require(viols.isEmpty, "Snapshots: CHECK constraint(s) violated — " +
      viols.map { case (n, p, c) => s"'$n' ($p): $c row(s)" }
        .mkString("; "))
  }

  /** Manifest property prefix of a UNIQUE (primary-key) constraint:
    * `graft.unique.<col>` (single-column) or
    * `graft.unique.<col1,col2,…>` (composite) = "true", inherited like
    * [[CheckPrefix]]. Key columns must be integral or string — the two
    * types the manifest records file envelopes for, so the append-time
    * collision check can prune driver-side. Rows with ANY null key
    * column do not participate (SQL UNIQUE semantics — multiple NULLs
    * are allowed).
    */
  val UniquePrefix = "graft.unique."

  /** The table's declared UNIQUE key SETS, each in declaration order
    * (the leading column drives envelope pruning).
    */
  def uniqueKeySets(spark: SparkSession, table: String): Seq[Seq[String]] = {
    val v = latestVersion(spark, table)
    if (v == 0) Seq.empty
    else properties(spark, table, v).collect {
      case (k, flag) if k.startsWith(UniquePrefix) && flag.nonEmpty =>
        k.stripPrefix(UniquePrefix).split(",").toSeq
    }.toSeq.sortBy(_.mkString(","))
  }

  /** Every column participating in some UNIQUE key, sorted. */
  def uniqueKeys(spark: SparkSession, table: String): Seq[String] =
    uniqueKeySets(spark, table).flatten.distinct.sorted

  private[sources] def isIntegralType(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case _: org.apache.spark.sql.types.ByteType |
         _: org.apache.spark.sql.types.ShortType |
         _: org.apache.spark.sql.types.IntegerType |
         _: org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Declare `keyCol` UNIQUE (single-column form of [[addUnique]]). */
  def addUnique(spark: SparkSession, table: String, keyCol: String): Int =
    addUnique(spark, table, Seq(keyCol))

  /** Declare the column tuple `keyCols` UNIQUE — the primary-key
    * enforcement no mainstream table format gives you, including the
    * composite (order_id, line_number)-shaped keys retail upserts
    * actually use. Key columns must be integral or string (validated
    * against the recorded schema — other types are refused loudly
    * rather than silently miscompared). Existing content is validated
    * first; thereafter every append's batch is checked for (a) in-batch
    * duplicates and (b) collisions with the CURRENT visible rows, where
    * (b) reads only the parent files whose LEADING-column envelope
    * (integral [min,max] or UTF-8 string envelope) overlaps the
    * batch's — manifest stats prune the rest driver-side, so at 100 TB
    * with clustered keys an append touches a handful of files, and the
    * worst case is one bounded scan, never a cross join. The comparison
    * itself is UNCAST equality on every key column: string keys compare
    * as strings (a numeric-string table with occasional non-numeric
    * keys can never miss a collision). Upserts/merges check only (a):
    * replacing a key is their contract.
    */
  def addUnique(spark: SparkSession, table: String, keyCols: Seq[String])
      : Int = {
    import org.apache.spark.sql.functions.{col => c, count => cnt, lit => l}
    require(keyCols.nonEmpty, "Snapshots.addUnique: empty key column list")
    require(keyCols.distinct == keyCols,
      s"Snapshots.addUnique: duplicate key columns in ${keyCols.mkString(",")}")
    keyCols.foreach(n => require(n.nonEmpty && !n.exists(ch =>
      ch == ',' || ch == '\n' || ch == '\t' || ch == '='),
      s"Snapshots.addUnique: bad key column name '$n'"))
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.addUnique: $table has no committed version")
    val tag = keyCols.mkString(",")
    val schema = SnapshotFileIndex.recordedSchema(table, v,
      this.properties(spark, table, v))
    keyCols.foreach { k =>
      val f = schema.fields.find(_.name == k).getOrElse(sys.error(
        s"Snapshots.addUnique: no column '$k' in $table"))
      require(isIntegralType(f.dataType) ||
        f.dataType == org.apache.spark.sql.types.StringType,
        s"Snapshots.addUnique: UNIQUE keys must be integral or string; " +
          s"'$k' is ${f.dataType.simpleString}")
    }
    val cur = read(spark, table, Some(v))
      .filter(keyCols.map(c(_).isNotNull).reduce(_ && _))
    val dup = cur.groupBy(keyCols.map(c): _*).agg(cnt(l(1)).as("n"))
      .filter(c("n") > 1).limit(1).count()
    require(dup == 0, s"Snapshots.addUnique: existing rows duplicate " +
      s"'$tag' — deduplicate first")
    val props = this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap + (UniquePrefix + tag -> "true")
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.addUnique: concurrent commit on " +
          s"$table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** Remove a single-column UNIQUE constraint (metadata-only commit). */
  def dropUnique(spark: SparkSession, table: String, keyCol: String): Int =
    dropUnique(spark, table, Seq(keyCol))

  /** Remove a UNIQUE constraint (metadata-only commit). */
  def dropUnique(spark: SparkSession, table: String, keyCols: Seq[String])
      : Int = {
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.dropUnique: $table has no committed version")
    val tag = keyCols.mkString(",")
    require(uniqueKeySets(spark, table).contains(keyCols),
      s"Snapshots.dropUnique: no UNIQUE constraint on '$tag'")
    val props = this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap + (UniquePrefix + tag -> "")
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.dropUnique: concurrent commit on " +
          s"$table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  // ---- FOREIGN KEY constraints (cross-table referential integrity) ----

  val FkPrefix = "graft.fk."

  /** Declared foreign keys of `table`: (childCol, parentTable,
    * parentCol), childCol-sorted. Stored as the inherited property
    * `graft.fk.<childCol> = <parentCol>:<parentTablePath>` (first ':'
    * splits — column names cannot contain ':', paths can).
    */
  def foreignKeys(spark: SparkSession, table: String)
      : Seq[(String, String, String)] = {
    val v = latestVersion(spark, table)
    if (v == 0) Seq.empty
    else properties(spark, table, v).collect {
      case (k, spec) if k.startsWith(FkPrefix) && spec.nonEmpty =>
        val i = spec.indexOf(':')
        (k.stripPrefix(FkPrefix), spec.substring(i + 1),
          spec.substring(0, i))
    }.toSeq.sortBy(_._1)
  }

  /** Declare `col` a FOREIGN KEY into `parentTable.parentCol` —
    * referential integrity ENFORCED AT WRITE TIME, which no mainstream
    * table format gives: existing child values are validated now
    * (NULLs exempt, SQL FK semantics), and every later child insert
    * (append, audited commit, bucketed commit, CoW merge, MOR upsert)
    * is checked against the parent's MERGE-ON-READ-visible values,
    * reading only the parent files whose `parentCol` envelope
    * intersects the batch's value range — driver-side manifest pruning,
    * so a bounded batch against a 100 TB parent reads a handful of
    * files. Both columns must be integral or both string (validated
    * against recorded schemas; other pairings refused loudly).
    *
    * Scope, stated loudly: the CHILD side is enforced. Deleting
    * referenced rows from the PARENT is not intercepted (the parent
    * carries no reverse registry); run [[referentialOrphans]] as the
    * audit after parent deletes, or stage parent maintenance through
    * write-audit-publish with that audit.
    */
  def addForeignKey(spark: SparkSession, table: String, col: String,
      parentTable: String, parentCol: String): Int = {
    import org.apache.spark.sql.functions.{col => c}
    require(col.nonEmpty && !col.exists(ch =>
      ch == ',' || ch == ':' || ch == '\n' || ch == '\t' || ch == '='),
      s"Snapshots.addForeignKey: bad column name '$col'")
    require(parentCol.nonEmpty && !parentCol.exists(ch =>
      ch == ',' || ch == ':' || ch == '\n' || ch == '\t' || ch == '='),
      s"Snapshots.addForeignKey: bad column name '$parentCol'")
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.addForeignKey: $table has no committed version")
    val pv = latestVersion(spark, parentTable)
    require(pv > 0,
      s"Snapshots.addForeignKey: parent $parentTable has no committed version")
    def typeOf(t: String, ver: Int, name: String)
        : org.apache.spark.sql.types.DataType = {
      val schema = SnapshotFileIndex.recordedSchema(t, ver,
        properties(spark, t, ver))
      schema.fields.find(_.name == name).getOrElse(sys.error(
        s"Snapshots.addForeignKey: no column '$name' in $t")).dataType
    }
    val cdt = typeOf(table, v, col)
    val pdt = typeOf(parentTable, pv, parentCol)
    require((isIntegralType(cdt) && isIntegralType(pdt)) ||
      (cdt == org.apache.spark.sql.types.StringType &&
        pdt == org.apache.spark.sql.types.StringType),
      s"Snapshots.addForeignKey: '$col' (${cdt.simpleString}) and " +
        s"'$parentCol' (${pdt.simpleString}) must both be integral or " +
        "both string")
    val existing = read(spark, table, Some(v))
      .select(c(col)).filter(c(col).isNotNull).distinct()
    val orphans = missingRefs(spark, existing, col, parentTable, parentCol)
    require(orphans.isEmpty, s"Snapshots.addForeignKey: existing rows " +
      s"reference missing $parentTable.$parentCol value(s) " +
      s"${orphans.mkString(", ")} — repair first")
    val props = this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap +
      (FkPrefix + col -> s"$parentCol:$parentTable")
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.addForeignKey: concurrent commit " +
          s"on $table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** Remove a FOREIGN KEY constraint (metadata-only commit). */
  def dropForeignKey(spark: SparkSession, table: String, col: String): Int = {
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.dropForeignKey: $table has no committed version")
    require(foreignKeys(spark, table).exists(_._1 == col),
      s"Snapshots.dropForeignKey: no FOREIGN KEY on '$col'")
    val props = this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap + (FkPrefix + col -> "")
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.dropForeignKey: concurrent commit " +
          s"on $table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** The referential AUDIT: per declared FK, the child's current
    * non-null values with no parent match — the check to run after
    * deleting from a referenced parent (see [[addForeignKey]]'s scope
    * note). Returns (childCol, sample of orphaned values, up to 5);
    * empty = invariant holds.
    */
  def referentialOrphans(spark: SparkSession, table: String)
      : Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.functions.{col => c}
    foreignKeys(spark, table).flatMap { case (col, pTable, pCol) =>
      val vals = read(spark, table)
        .select(c(col)).filter(c(col).isNotNull).distinct()
      val missing = missingRefs(spark, vals, col, pTable, pCol)
      if (missing.isEmpty) None else Some((col, missing))
    }
  }

  /** Enforce declared FKs on an insert batch: the batch's non-null
    * distinct values must all exist in the parent's MOR-visible rows,
    * checked over only the parent files whose envelope intersects the
    * batch's value bounds. Zero cost when no FK is declared.
    */
  private def enforceForeignKeys(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col => c}
    foreignKeys(spark, table).foreach { case (col, pTable, pCol) =>
      if (df.columns.contains(col)) {
        val vals = df.select(c(col)).filter(c(col).isNotNull).distinct()
        val missing = missingRefs(spark, vals, col, pTable, pCol)
        require(missing.isEmpty, s"Snapshots: FOREIGN KEY '$col' → " +
          s"$pTable.$pCol violated — value(s) ${missing.mkString(", ")} " +
          "have no parent row")
      }
    }
  }

  /** Up to 5 values of `vals` (single column named after the child col)
    * absent from the parent's visible `pCol` — parent files envelope-
    * pruned by the probe's value bounds before any task launches.
    */
  private def missingRefs(spark: SparkSession, vals: DataFrame,
      col: String, pTable: String, pCol: String): Seq[Any] = {
    import org.apache.spark.sql.functions.{col => c, max => mx, min => mn}
    if (vals.isEmpty) return Seq.empty
    val pv = latestVersion(spark, pTable)
    require(pv > 0,
      s"Snapshots: FK parent $pTable has no committed version")
    val integral = isIntegralType(vals.schema.head.dataType)
    val probe =
      if (integral) vals.select(c(col).cast("long").as(col)) else vals
    val bounds = probe.agg(mn(c(col)).as("lo"), mx(c(col)).as("hi")).head()
    val all = manifest(spark, pTable, pv)
    val (del, data) = all.partition(e => isMask(e.path))
    val candidates = data.filter { e =>
      e.rows > 0 && {
        if (integral) e.stats.get(pCol) match {
          case Some((fMin, fMax)) =>
            fMax >= bounds.getLong(0) && fMin <= bounds.getLong(1)
          case None => true // no stats → cannot prove disjoint
        } else e.strStats.get(pCol) match {
          case Some((fMin, fMax)) =>
            !ParquetMeta.u8Less(fMax, bounds.getString(0)) &&
              !ParquetMeta.u8Less(bounds.getString(1), fMin)
          case None => true
        }
      }
    }
    if (candidates.isEmpty) // provably no parent row in the probe's range
      return vals.limit(5).collect().map(_.get(0)).toSeq
    val visible = readEntries(spark, pTable, pv, candidates, del)
      .select((if (integral) c(pCol).cast("long") else c(pCol)).as(col))
    probe.join(visible, Seq(col), "left_anti")
      .limit(5).collect().map(_.get(0)).toSeq
  }

  /** Enforce UNIQUE constraints on a batch: in-batch duplicates always;
    * collisions against the parent's visible rows only for plain
    * appends (`vsParent`) — upsert/merge/overwrite paths replace keys
    * by contract. Collision candidates are pruned by the leading key
    * column's manifest envelope (integral stats or UTF-8 string stats,
    * by the batch column's type); files without a usable envelope are
    * always read (cannot prove disjoint). All key comparisons are
    * UNCAST — Spark's join coercion handles int-vs-long width, and
    * string keys never pass through a numeric cast that could null
    * them out. Zero cost when the table declares no unique keys.
    */
  /** In-batch UNIQUE pre-validation — the DML layer runs this BEFORE
    * committing a MERGE's schema evolution, so the within-batch
    * duplicate refusal (the common one) fires with the table untouched;
    * the merge then re-checks on its own path (cheap: one grouped
    * count + limit(1), and a no-op on tables without the constraint).
    */
  private[graft] def preValidateUniqueBatch(spark: SparkSession,
      table: String, df: DataFrame): Unit =
    enforceUnique(spark, table, df, vsParent = false)

  private def enforceUnique(spark: SparkSession, table: String,
      df: DataFrame, vsParent: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col => c, count => cnt, lit => l,
      max => mx, min => mn}
    val keySets = uniqueKeySets(spark, table)
    if (keySets.isEmpty) return
    keySets.foreach { ks =>
      val tag = ks.mkString(",")
      ks.foreach(k => require(df.columns.contains(k),
        s"Snapshots: batch lacks UNIQUE key column '$k'"))
      val nonNull = df.filter(ks.map(c(_).isNotNull).reduce(_ && _))
      val dup = nonNull.groupBy(ks.map(c): _*).agg(cnt(l(1)).as("n"))
        .filter(c("n") > 1).limit(1).count()
      require(dup == 0,
        s"Snapshots: UNIQUE '$tag' violated — duplicate keys in the batch")
      if (vsParent) {
        val v = latestVersion(spark, table)
        if (v > 0) {
          val lead = ks.head
          val leadIntegral = isIntegralType(df.schema(lead).dataType)
          val bounds = nonNull.agg(
            mn(if (leadIntegral) c(lead).cast("long") else c(lead)).as("lo"),
            mx(if (leadIntegral) c(lead).cast("long") else c(lead)).as("hi"))
            .head()
          if (!bounds.isNullAt(0)) {
            val all = manifest(spark, table, v)
            val (del, data) = all.partition(e => isMask(e.path))
            val candidates = data.filter { e =>
              e.rows > 0 && {
                if (leadIntegral) e.stats.get(lead) match {
                  case Some((fMin, fMax)) =>
                    fMax >= bounds.getLong(0) && fMin <= bounds.getLong(1)
                  case None => true // no stats → cannot prove disjoint
                } else e.strStats.get(lead) match {
                  case Some((fMin, fMax)) =>
                    !ParquetMeta.u8Less(fMax, bounds.getString(0)) &&
                      !ParquetMeta.u8Less(bounds.getString(1), fMin)
                  case None => true
                }
              }
            }
            if (candidates.nonEmpty) {
              val visible = readEntries(spark, table, v, candidates, del)
              val batchKeys = nonNull.select(ks.map(c): _*).distinct()
              val clash = visible.join(batchKeys, ks, "left_semi")
                .limit(1).count()
              require(clash == 0, s"Snapshots: UNIQUE '$tag' violated — " +
                "batch keys already present; use upsertMor/merge to " +
                "replace rows")
            }
          }
        }
      }
    }
  }

  // ---- declared CLUSTERING (table-level sort order) ----------------------

  /** Inherited property declaring the table's CLUSTERING — the sort
    * order maintenance applies automatically: `zorder(c1,c2[,c3...])`
    * (interleaved bits — multi-dimensional locality) or `sort(c1[,...])`
    * (lexicographic). Iceberg's table sort-order metadata: the layout
    * intent lives WITH the table, so every compaction re-establishes
    * tight file envelopes without the operator re-stating (or
    * forgetting) the clustering — the difference between data skipping
    * that decays as the table churns and skipping that holds.
    */
  val ClusterProp = "graft.cluster"

  /** Declare (or replace; empty spec = drop) the table's clustering —
    * metadata-only; the layout changes at the next [[compactVersion]] /
    * [[compactMor]] / [[Partitioning.rewriteLayout]].
    */
  def setClustering(spark: SparkSession, table: String, spec: String)
      : Int = {
    val v = latestVersion(spark, table)
    require(v > 0,
      s"Snapshots.setClustering: $table has no committed version")
    val props = this.properties(spark, table, v)
    if (spec.nonEmpty) {
      val (kind, cols) = parseClustering(spec)
      require(kind == "sort" || cols.size >= 2,
        s"Snapshots.setClustering: zorder needs >= 2 columns, got $spec")
      val schema = props.get(SchemaProp)
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      schema.foreach(st => cols.foreach { c =>
        require(st.fieldNames.contains(c),
          s"Snapshots.setClustering: no column '$c' in $table")
        // zorder columns feed ZOrderExpression (z_value/z_value_n), which
        // accepts ONLY int/long — validate at DECLARATION time, the
        // Partitioning.setSpec discipline, so a bad spec fails here and
        // not inside a compactVersion/compactMor run weeks later
        if (kind == "zorder") {
          val dt = st(c).dataType
          require(dt == org.apache.spark.sql.types.IntegerType ||
            dt == org.apache.spark.sql.types.LongType,
            s"Snapshots.setClustering: zorder needs integral (int/long) " +
              s"columns, '$c' is ${dt.simpleString} — sort(...) handles " +
              "any orderable type")
        }
      })
    }
    publishManifest(spark, table,
      props.get(SchemaProp).map(SchemaProp -> _).toMap
        + (ClusterProp -> spec),
      Seq.empty, baseFor = parent => {
        require(parent == v, s"Snapshots.setClustering: concurrent " +
          s"commit on $table (planned against v$v, parent is v$parent)")
        manifest(spark, table, v)
      })
  }

  private[sources] def parseClustering(spec: String)
      : (String, Seq[String]) = {
    val m = """(zorder|sort)\(([^)]+)\)""".r.findFirstMatchIn(spec.trim)
      .getOrElse(throw new IllegalArgumentException(
        s"Snapshots: cannot parse clustering '$spec' — " +
          "zorder(c1,c2[,...]) or sort(c1[,...])"))
    (m.group(1), m.group(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
  }

  /** The declared clustering of the table head, if any. */
  def clustering(spark: SparkSession, table: String)
      : Option[(String, Seq[String])] = {
    val v = latestVersion(spark, table)
    if (v == 0) return None
    properties(spark, table, v).get(ClusterProp).filter(_.nonEmpty)
      .map(parseClustering)
  }

  /** Apply the declared clustering to a frame about to be compacted:
    * range-partition on the cluster key (files own disjoint key ranges)
    * and sort within partitions (row groups tighten too). No
    * declaration = plain repartition, the old behavior.
    */
  private def clusteredLayout(spark: SparkSession, table: String,
      df: DataFrame, nOut: Int): DataFrame =
    clustering(spark, table) match {
      case None => df.repartition(nOut)
      case Some((kind, cols)) =>
        import org.apache.spark.sql.functions.{col => c}
        val key = kind match {
          case "sort" if cols.size == 1 => c(cols.head)
          case "sort" => c(cols.head) // range key leads; full sort below
          case "zorder" if cols.size == 2 =>
            graft.functions.ZOrderExpression.zValue(c(cols(0)), c(cols(1)))
          case "zorder" =>
            graft.functions.ZOrderExpression.zValueN(cols.map(c): _*)
        }
        val ranged = df.repartitionByRange(nOut, key)
        kind match {
          case "sort" => ranged.sortWithinPartitions(cols.map(c): _*)
          case _ => ranged.sortWithinPartitions(key)
        }
    }

  // ---- metadata-only TYPE WIDENING --------------------------------------

  /** Inherited property holding type-widening events, comma-joined
    * `boundary:name:oldType>newType` — files with data sequence number
    * <= boundary physically store `oldType` and are read in their era's
    * type then CAST (lossless by construction: only integer→long and
    * float→double are accepted); files written after carry the new
    * type natively. The backfill a 100 TB `ALTER COLUMN TYPE` cannot
    * materialize, done without rewriting a byte.
    */
  val WidensProp = "graft.widen"

  private[sources] final case class WidenEvent(boundary: Int, name: String,
      fromType: String, toType: String)

  private[sources] def widenEvents(props: Map[String, String])
      : Seq[WidenEvent] =
    props.get(WidensProp).filter(_.nonEmpty).toSeq.flatMap(_.split(","))
      .map { ev =>
        val Array(b, name, types) = ev.split(":", 3)
        val Array(from, to) = types.split(">", 2)
        WidenEvent(b.toInt, name, from, to)
      }.sortBy(_.boundary)

  private val SafeWidenings = Set(("int", "bigint"), ("float", "double"))

  /** Widen a column's type METADATA-ONLY: the DDL commit carries the
    * parent's files verbatim and records a widen event; readers cast
    * each file from its ERA's physical type, so old and new files union
    * exactly and time travel keeps each version's own width. Only
    * lossless widenings are accepted (integer→long, float→double — a
    * narrowing or cross-family cast could corrupt silently). Columns
    * under constraints, a partition spec, or rename history refuse
    * toward evolving those off first.
    */
  def widenColumn(spark: SparkSession, table: String, name: String,
      newType: org.apache.spark.sql.types.DataType,
      properties: Map[String, String] = Map.empty): Int = {
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.widenColumn: $table has no committed version")
    val props = this.properties(spark, table, v)
    val schema = props.get(SchemaProp)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(throw new IllegalStateException(
        s"Snapshots.widenColumn: $table records no schema"))
    require(schema.fieldNames.contains(name),
      s"Snapshots.widenColumn: no column '$name' in $table")
    val from = schema(name).dataType.catalogString
    val to = newType.catalogString
    require(SafeWidenings.contains((from, to)),
      s"Snapshots.widenColumn: $from -> $to is not a lossless widening " +
        s"(supported: ${SafeWidenings.map(p => s"${p._1}->${p._2}")
          .mkString(", ")})")
    requireNoConstraintOn(props, name, table, "widenColumn")
    require(!(renameEvents(props) ++ dropEvents(props))
        .exists(e => e.from == name || e.to == name),
      s"Snapshots.widenColumn: '$name' of $table has rename/drop " +
        "history — era interactions are not supported; compact first")
    val widened = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == name) f.copy(dataType = newType) else f))
    val event = s"$v:$name:$from>$to"
    val merged = props.get(WidensProp).filter(_.nonEmpty)
      .map(_ + "," + event).getOrElse(event)
    publishManifest(spark, table, properties ++
      Map(SchemaProp -> widened.json, WidensProp -> merged),
      Seq.empty, baseFor = parent => {
        require(parent == v, s"Snapshots.widenColumn: concurrent commit " +
          s"on $table (planned against v$v, parent is v$parent) — retry")
        manifest(spark, table, v)
      })
  }

  /** A recorded (per-era) column name mapped to its CURRENT name —
    * rename events applied in order; None if the name was dropped
    * (retired names must fall out of derived stat-column lists).
    */
  private[sources] def currentColName(props: Map[String, String],
      name: String): Option[String] = {
    val renamed = renameEvents(props).foldLeft(name) { (n, ev) =>
      if (ev.from == n) ev.to else n
    }
    if (dropEvents(props).exists(_.to == renamed) ||
      props.get(DroppedProp).exists(_.split(",").contains(renamed))) None
    else Some(renamed)
  }

  /** UNIQUE collision check for a batch against an EXPLICIT entry
    * subset's visible rows — the partition-granular overwrite's gate:
    * its batch replaces some files (whose keys are fair game) and
    * carries the rest (whose keys must stay unique). Leading-column
    * envelopes prune which carried files are read, like the plain
    * vs-parent check.
    */
  private[sources] def enforceUniqueVsEntries(spark: SparkSession,
      table: String, df: DataFrame, carried: Seq[FileEntry]): Unit = {
    import org.apache.spark.sql.functions.{col => c, max => mx, min => mn}
    val keySets = uniqueKeySets(spark, table)
    if (keySets.isEmpty || carried.isEmpty) return
    val v = latestVersion(spark, table)
    keySets.foreach { ks =>
      val lead = ks.head
      val leadIntegral = isIntegralType(df.schema(lead).dataType)
      val nonNull = df.filter(ks.map(c(_).isNotNull).reduce(_ && _))
      val bounds = nonNull.agg(
        mn(if (leadIntegral) c(lead).cast("long") else c(lead)).as("lo"),
        mx(if (leadIntegral) c(lead).cast("long") else c(lead)).as("hi"))
        .head()
      if (!bounds.isNullAt(0)) {
        val candidates = carried.filter { e =>
          e.rows > 0 && !isMask(e.path) && {
            if (leadIntegral) e.stats.get(lead) match {
              case Some((fMin, fMax)) =>
                fMax >= bounds.getLong(0) && fMin <= bounds.getLong(1)
              case None => true
            } else e.strStats.get(lead) match {
              case Some((fMin, fMax)) =>
                !ParquetMeta.u8Less(fMax, bounds.getString(0)) &&
                  !ParquetMeta.u8Less(bounds.getString(1), fMin)
              case None => true
            }
          }
        }
        if (candidates.nonEmpty) {
          val visible = readEntries(spark, table, v, candidates,
            Seq.empty)
          val clash = visible.join(nonNull.select(ks.map(c): _*).distinct(),
            ks, "left_semi").limit(1).count()
          require(clash == 0, s"Snapshots: UNIQUE '${ks.mkString(",")}' " +
            "violated — batch keys already present in partitions the " +
            "overwrite does not replace")
        }
      }
    }
  }

  // ---- add-column with an initial DEFAULT (metadata-only) --------------

  /** Inherited property holding add-column default events, comma-joined
    * `boundary:name:typeName:hex(value)` — a file whose data sequence
    * number is <= boundary was written before the column existed, so its
    * null-fill reads as the DEFAULT; files written after carry real
    * values (their NULLs stay NULL). Iceberg's "initial default"
    * semantics, without rewriting a byte.
    */
  val DefaultsProp = "graft.defaults"

  private[sources] final case class DefaultEvent(boundary: Int,
      name: String, typeName: String, value: String)

  /** The constraint gates every append/overwrite write path runs,
    * shared with [[Partitioning]]'s commit shapes.
    */
  private[sources] def enforceForCommit(spark: SparkSession, table: String,
      df: DataFrame, overwrite: Boolean): Unit = {
    enforceChecks(spark, table, df)
    enforceForeignKeys(spark, table, df)
    enforceUnique(spark, table, df, vsParent = !overwrite)
  }

  private[sources] def defaultEvents(props: Map[String, String])
      : Seq[DefaultEvent] =
    props.get(DefaultsProp).toSeq.flatMap(_.split(",").toSeq).map { e =>
      val Array(b, n, t, h) = e.split(":", 4)
      DefaultEvent(b.toInt, n, t, unhexStr(h))
    }

  private def defaultLit(ev: DefaultEvent)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    ev.typeName match {
      case "long" => lit(ev.value.toLong)
      case "integer" => lit(ev.value.toInt)
      case "short" => lit(ev.value.toShort)
      case "byte" => lit(ev.value.toByte)
      case "double" => lit(ev.value.toDouble)
      case "float" => lit(ev.value.toFloat)
      case "boolean" => lit(ev.value.toBoolean)
      case "string" => lit(ev.value)
      case other => sys.error(
        s"Snapshots: unsupported default type '$other' in manifest")
    }
  }

  /** Add a column WITHOUT rewriting a byte — the explicit DDL form of
    * schema evolution (evolution-by-write already widens on commit).
    * With `default` set, files from BEFORE this commit read the default
    * where a plain add-column would read NULL (the backfill a 100 TB
    * table cannot afford to materialize), while files written after
    * carry their real values — NULLs written post-evolution stay NULL,
    * exactly Iceberg's initial-default contract. Defaults are decided
    * per FILE by data sequence number, so append/evolve interleavings
    * and time travel all resolve correctly; compaction materializes
    * them physically. Supported default types: integral, string,
    * double/float, boolean. Renaming a defaulted column refuses (the
    * event is name-keyed); dropping it retires both column and event.
    */
  def addColumn(spark: SparkSession, table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: Option[Any] = None,
      properties: Map[String, String] = Map.empty): Int = {
    require(name.nonEmpty && !name.exists(ch =>
      ch == ',' || ch == ':' || ch == '>' || ch == '\n' || ch == '\t' ||
        ch == '='),
      s"Snapshots.addColumn: bad column name '$name'")
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.addColumn: $table has no committed version")
    val props = this.properties(spark, table, v)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(props.getOrElse(SchemaProp, sys.error(
        s"Snapshots.addColumn: $table v$v records no schema")))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(!schema.fieldNames.contains(name),
      s"Snapshots.addColumn: column '$name' already exists in $table")
    requireNotDropped(props, Seq(name), table)
    val widened = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true))
    val defaultProp = default.map { d =>
      val typeName = dataType.typeName
      require(Set("long", "integer", "short", "byte", "double", "float",
        "boolean", "string").contains(typeName),
        s"Snapshots.addColumn: default unsupported for type $typeName")
      // round-trip through the literal decoder now: a default that
      // cannot decode must refuse at DDL time, not at first read
      val ev = DefaultEvent(v, name, typeName, d.toString)
      defaultLit(ev)
      val event = s"$v:$name:$typeName:${hexStr(d.toString)}"
      DefaultsProp -> props.get(DefaultsProp).fold(event)(_ + "," + event)
    }
    publishManifest(spark, table,
      properties ++ Map(SchemaProp -> widened.json) ++ defaultProp,
      Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.addColumn: concurrent commit on " +
          s"$table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  // ---- column rename (metadata-only, era-mapped reads) ----------------

  private[sources] final case class RenameEvent(boundary: Int, from: String,
      to: String)

  private[sources] def renameEvents(props: Map[String, String]): Seq[RenameEvent] =
    props.get(RenamesProp).toSeq.flatMap(_.split(",").toSeq).map { e =>
      val Array(p, names) = e.split(":", 2)
      val Array(o, n) = names.split(">", 2)
      RenameEvent(p.toInt, o, n)
    }

  /** Rename a column WITHOUT rewriting any data file — the schema
    * evolution move a 100 TB table cannot afford to do by rewrite
    * (name-based parquet readers would silently null-fill every
    * pre-rename file instead). The commit is metadata-only: it carries
    * the parent's files, records the renamed schema, and appends a
    * rename EVENT (`parentVersion:old>new`) to the inherited
    * [[RenamesProp]]; [[read]] reads each file with its ERA's
    * names (decided by the file's data sequence number vs the event
    * boundary) and aliases to the current ones, so old and new files
    * union correctly at any version, and time travel to a pre-rename
    * version still shows the old name. Chains (a→b→c) replay in order.
    *
    * Caveats, enforced loudly: the latest version must carry no
    * merge-on-read tombstones (their key column is matched by name —
    * `compactMor` first), and [[changes]] refuses ranges that cross a
    * rename (an insert frame under the new name would silently
    * null-fill against a pre-rename delete frame). Manifest stats and
    * blooms of pre-rename files stay keyed by the old name, so pruned
    * scans on the new name simply read those files (sound, unpruned)
    * until the next compaction re-stats them.
    */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
      newName: String, properties: Map[String, String] = Map.empty): Int = {
    require(Seq(oldName, newName).forall(n => n.nonEmpty &&
      !n.exists(c => c == ',' || c == ':' || c == '>' || c == '\n' ||
        c == '\t' || c == '=')),
      s"Snapshots.renameColumn: bad column name '$oldName'/'$newName'")
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.renameColumn: $table has no committed version")
    val props = this.properties(spark, table, v)
    requireNoConstraintOn(props, oldName, table, "renameColumn")
    require(!defaultEvents(props).exists(_.name == oldName),
      s"Snapshots.renameColumn: '$oldName' carries an add-column default " +
        s"(name-keyed event) — compact to materialize it first")
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(props.getOrElse(SchemaProp, sys.error(
        s"Snapshots.renameColumn: $table v$v records no schema")))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(schema.fieldNames.contains(oldName),
      s"Snapshots.renameColumn: no column '$oldName' in $table")
    require(!schema.fieldNames.contains(newName),
      s"Snapshots.renameColumn: column '$newName' already exists in $table")
    require(!widenEvents(props).exists(_.name == oldName),
      s"Snapshots.renameColumn: '$oldName' of $table carries widen " +
        "history (name-keyed events drive era-aware bloom probes — a " +
        "rename would orphan them and reinstate silent false pruning); " +
        "compact to materialize the widening first")
    requireNotDropped(props, Seq(newName), table)
    require(!manifest(spark, table, v).exists(e => isMask(e.path)),
      s"Snapshots.renameColumn: $table carries merge-on-read deletes " +
        "(name-matched at read time) — compactMor first")
    val renamed = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val event = s"$v:$oldName>$newName"
    val cumulative = props.get(RenamesProp).fold(event)(_ + "," + event)
    publishManifest(spark, table,
      properties ++
        Map(SchemaProp -> renamed.json, RenamesProp -> cumulative), Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.renameColumn: concurrent commit " +
          s"on $table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** Manifest property listing every column name ever DROPPED
    * (comma-joined, inherited): re-adding a dropped name would
    * RESURRECT the old files' values through name-based null-fill (the
    * classic parquet name-mapping bug Iceberg needs field-ids for), so
    * commits and renames refuse those names forever.
    */
  val DroppedProp = "graft.dropped"

  /** Comma-joined `P:name` DROP EVENTS (P = the drop's parent version),
    * inherited like [[RenamesProp]] — what [[changes]] needs to refuse
    * feed ranges whose frames straddle the drop (post-drop inserts
    * would silently null-fill the dropped column in the union).
    */
  val DropsProp = "graft.drops"

  private[sources] def dropEvents(props: Map[String, String]): Seq[RenameEvent] =
    props.get(DropsProp).toSeq.flatMap(_.split(",").toSeq).map { e =>
      val Array(p, n) = e.split(":", 2)
      RenameEvent(p.toInt, n, n)
    }

  /** Drop a column WITHOUT rewriting any data file: a metadata-only
    * commit whose schema simply omits the field — name-based parquet
    * projection ignores the extra column in old files, so reads,
    * stats and time travel (which keeps each version's own shape) all
    * compose. The dropped name is retired permanently ([[DroppedProp]]).
    * Refused while merge-on-read tombstones exist (the tombstone key
    * column is resolved by name at read time — dropping it would break
    * every later read; same rule as [[renameColumn]]) and while a
    * CHECK or UNIQUE constraint references the column (the inherited
    * constraint would poison every future write).
    */
  def dropColumn(spark: SparkSession, table: String, name: String,
      properties: Map[String, String] = Map.empty): Int = {
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.dropColumn: $table has no committed version")
    val props = this.properties(spark, table, v)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(props.getOrElse(SchemaProp, sys.error(
        s"Snapshots.dropColumn: $table v$v records no schema")))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(schema.fieldNames.contains(name),
      s"Snapshots.dropColumn: no column '$name' in $table")
    require(schema.fields.length > 1,
      s"Snapshots.dropColumn: cannot drop the only column of $table")
    require(!manifest(spark, table, v).exists(e => isMask(e.path)),
      s"Snapshots.dropColumn: $table carries merge-on-read deletes " +
        "(key column name-matched at read time) — compactMor first")
    requireNoConstraintOn(props, name, table, "dropColumn")
    val narrowed = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    // retire EVERY era name the column ever carried, not just the current
    // one: after rename(a->b) + drop(b), re-adding a column named 'a'
    // would otherwise pass the retired-name check while read's era
    // mapping resurrects pre-rename files' physical 'a' values into it —
    // exactly the value-resurrection DroppedProp exists to prevent.
    // Walk the rename history newest-first, chasing the name backwards.
    val eraNames = renameEvents(props).reverse
      .foldLeft(List(name)) { (acc, ev) =>
        if (ev.to == acc.head) ev.from :: acc else acc
      }
    val retired = eraNames.mkString(",")
    val dropped = props.get(DroppedProp).fold(retired)(_ + "," + retired)
    val event = s"$v:$name"
    val drops = props.get(DropsProp).fold(event)(_ + "," + event)
    publishManifest(spark, table,
      properties ++ Map(SchemaProp -> narrowed.json, DroppedProp -> dropped,
        DropsProp -> drops), Seq.empty,
      baseFor = parent => {
        require(parent == v, s"Snapshots.dropColumn: concurrent commit " +
          s"on $table (planned against v$v, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** Refuse schema changes to a column an inherited constraint
    * references: a CHECK predicate naming it (word-boundary match on
    * the SQL text — conservative but loud) or a UNIQUE key on it would
    * otherwise poison every future write with unresolvable-column
    * failures.
    */
  private def requireNoConstraintOn(props: Map[String, String], col: String,
      table: String, op: String): Unit = {
    val word = ("\\b" + java.util.regex.Pattern.quote(col) + "\\b").r
    val checks = props.collect {
      case (k, pred) if k.startsWith(CheckPrefix) && pred.nonEmpty &&
        word.findFirstIn(pred).isDefined => k.stripPrefix(CheckPrefix)
    }
    require(checks.isEmpty, s"Snapshots.$op: CHECK constraint(s) " +
      s"${checks.mkString(", ")} reference '$col' on $table — drop the " +
      "constraint(s) first")
    val uniqueHit = props.exists { case (k, flag) =>
      k.startsWith(UniquePrefix) && flag.nonEmpty &&
        k.stripPrefix(UniquePrefix).split(",").contains(col)
    }
    require(!uniqueHit,
      s"Snapshots.$op: UNIQUE constraint on '$col' of $table — drop it " +
        "first, evolve, then re-declare on the new shape")
    val fkHit = props.exists { case (k, spec) =>
      k.startsWith(FkPrefix) && spec.nonEmpty &&
        k.stripPrefix(FkPrefix) == col
    }
    require(!fkHit,
      s"Snapshots.$op: FOREIGN KEY on '$col' of $table — drop it first, " +
        "evolve, then re-declare on the new shape")
    val specHit = Partitioning.specEvents(props)
      .exists(_._2.exists(_.col == col))
    require(!specHit,
      s"Snapshots.$op: partition spec transforms '$col' of $table — " +
        "evolve the spec off the column first (setSpec), then rename/drop")
    if (op == "renameColumn") {
      val widenHit = widenEvents(props).exists(_.name == col)
      require(!widenHit,
        s"Snapshots.$op: '$col' of $table has type-widening history " +
          "(name-keyed events) — compact first")
    }
  }

  private def requireNotDropped(props: Map[String, String],
      names: Seq[String], table: String): Unit = {
    val retired = props.get(DroppedProp).toSeq
      .flatMap(_.split(",").toSeq).toSet
    val clash = names.filter(retired)
    require(clash.isEmpty, s"Snapshots: column(s) ${clash.mkString(", ")} " +
      s"of $table were DROPPED — reusing the name would resurrect old " +
      "files' values through name-based null-fill; pick a fresh name")
  }

  // ---- hash-bucketed layout (shuffle-free co-partitioned joins) -------

  /** Manifest property keys of a bucketed version: bucket column, bucket
    * count, and the hash function ("spark-murmur3" — Spark's
    * `pmod(murmur3, n)`, the only value this writer produces; recorded so
    * a reader can REFUSE a spec it does not understand instead of
    * silently mis-aligning buckets).
    */
  val BucketColProp = "graft.bucket.col"
  val BucketNProp = "graft.bucket.n"
  val BucketHashProp = "graft.bucket.hash"
  private val BucketHashId = "spark-murmur3"

  /** The (column, nBuckets) bucket spec `version` was committed with, or
    * None for an unbucketed version. Throws on a recorded hash function
    * this reader does not implement — a wrong silent answer would
    * mis-align every bucket join.
    */
  def bucketSpec(spark: SparkSession, table: String,
      version: Option[Int] = None): Option[(String, Int)] = {
    val v = version.getOrElse(latestVersion(spark, table))
    if (v == 0) return None
    val props = properties(spark, table, v)
    props.get(BucketColProp).map { c =>
      val h = props.getOrElse(BucketHashProp, BucketHashId)
      require(h == BucketHashId,
        s"Snapshots.bucketSpec: $table v$v uses bucket hash '$h'; this " +
          s"reader only understands '$BucketHashId'")
      (c, props(BucketNProp).toInt)
    }
  }

  /** The newest version [[registerBucketed]] can serve — bucket spec
    * present and every file in ONE batch dir (plain appends and
    * [[mergeBucketed]] span dirs and break the claim) — or None. The
    * streaming rebucket-cadence policy ([[graft.streaming.SnapshotStream]])
    * keys on how many commits landed after it; cost is O(versions)
    * manifest reads, the same driver-side bound as the stream's replay
    *-marker scan.
    */
  def bucketedLayoutVersion(spark: SparkSession, table: String): Option[Int] =
    versions(spark, table).reverse.find { v =>
      bucketSpec(spark, table, Some(v)).isDefined &&
        manifest(spark, table, v)
          .map(e => e.path.substring(0, math.max(e.path.lastIndexOf('/'), 0)))
          .distinct.size == 1
    }

  /** Commit `df` as a new OVERWRITE version laid out in `nBuckets` hash
    * buckets on `bucketCol` — the storage layout that lets two tables
    * bucketed identically on their join key equi-join with NO Exchange on
    * either side ([[registerBucketed]]): at 100 TB the dominant shuffle
    * is fact-fact joins, and co-bucketed storage removes it entirely.
    *
    * The batch is written through Spark's native bucketed writer (each
    * file name carries its bucket id — the contract the bucket-aware
    * reader keys on), pre-repartitioned by the SAME `pmod(murmur3, n)`
    * function bucketing uses so each bucket lands in exactly one file.
    * The bucket spec rides the manifest as properties; the version is an
    * overwrite because a bucketed-layout claim covers the whole file set
    * (a later plain append would break it — [[registerBucketed]] rejects
    * multi-batch versions loudly).
    */
  def commitBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, statsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty): Int = {
    require(nBuckets >= 1 && nBuckets <= 4096,
      s"nBuckets must be in [1,4096], got $nBuckets")
    require(df.columns.contains(bucketCol),
      s"Snapshots.commitBucketed: no column '$bucketCol' in " +
        df.columns.mkString(", "))
    val spark = df.sparkSession
    val bucketProps = properties ++ Map(
      BucketColProp -> bucketCol, BucketNProp -> nBuckets.toString,
      BucketHashProp -> BucketHashId)
    requireProps(bucketProps + (SchemaProp -> df.schema.json))
    if (!properties.get(DataChangeProp).contains("false")) {
      enforceChecks(spark, table, df)
      enforceUnique(spark, table, df, vsParent = false)
      enforceForeignKeys(spark, table, df)
    }
    val newEntries = writeBucketedBatch(df, table, bucketCol, nBuckets,
      statsCols, bloomCols, strStatsCols)
    publishManifest(spark, table,
      bucketProps + (SchemaProp -> df.schema.json), newEntries,
      baseFor = _ => Seq.empty)
  }

  /** Stage `df` as an UNPUBLISHED bucket-named batch (the bucketed twin
    * of [[writeBatch]]): files land in a fresh batch dir carrying
    * Spark's `_NNNNN` bucket-id file tag, no manifest is published.
    *
    * DataFrameWriter.bucketBy only writes through saveAsTable, so stage
    * through a throwaway EXTERNAL catalog entry at the batch dir: the
    * drop removes only the catalog row, the bucket-named data files
    * stay — they are ordinary immutable snapshot files from here on.
    * repartition by the bucket expression first: Spark's HashPartitioning
    * is the same pmod(murmur3, n) bucketing uses, so each writer task
    * holds exactly one bucket → one file per (non-empty) bucket.
    */
  private def writeBucketedBatch(df: DataFrame, table: String,
      bucketCol: String, nBuckets: Int, statsCols: Seq[String],
      bloomCols: Seq[String], strStatsCols: Seq[String])
      : Seq[FileEntry] = {
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, table)
    val batch = freshBatchDir(root)
    val tmpName = "graft_tmp_bucketed_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    import org.apache.spark.sql.functions.{col => c}
    withMicrosTs(spark) {
      df.repartition(nBuckets, c(bucketCol))
        .write.format("parquet")
        .option("path", fs.makeQualified(batch).toString)
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .mode("errorifexists")
        .saveAsTable(tmpName)
    }
    spark.sql(s"DROP TABLE `$tmpName`")
    entriesFor(spark, table, batch, statsCols, bloomCols, strStatsCols)
  }

  /** The bucket id a file of a bucketed batch belongs to, parsed from
    * Spark's `part-NNNNN-<uuid>_BBBBB[.c000].<codec>.parquet` bucket
    * file tag — the same contract the bucket-aware reader keys on.
    */
  private[sources] def bucketIdOf(path: String): Option[Int] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    "_([0-9]{5})\\.".r.findFirstMatchIn(name).map(_.group(1).toInt)
  }

  /** Restore the bucketed layout after maintenance broke it: re-commit
    * the LATEST version's content through [[commitBucketed]], inheriting
    * the bucket spec from the most recent version that recorded one
    * (override via `bucketCol`/`nBuckets`) and the stats/bloom columns
    * from the latest manifest. This is the maintenance story for
    * bucketed tables — [[merge]] and plain appends deliberately do NOT
    * try to preserve bucket files in place (their rewrites span batch
    * dirs, which the catalog registration cannot express), so the cycle
    * is: merge/append freely, then `rebucket` before the next
    * [[registerBucketed]]-served join. Cost = one full rewrite, same as
    * [[compactVersion]]; prior versions stay readable as always.
    */
  def rebucket(spark: SparkSession, table: String,
      bucketCol: Option[String] = None, nBuckets: Option[Int] = None)
      : Int = {
    val cur = latestVersion(spark, table)
    require(cur > 0, s"Snapshots.rebucket: $table has no committed version")
    val inherited = versions(spark, table).reverse.iterator
      .map(v => bucketSpec(spark, table, Some(v)))
      .collectFirst { case Some(s) => s }
    val c = bucketCol.orElse(inherited.map(_._1)).getOrElse(sys.error(
      s"Snapshots.rebucket: no version of $table records a bucket spec — " +
        "pass bucketCol/nBuckets explicitly"))
    val n = nBuckets.orElse(inherited.map(_._2)).getOrElse(16)
    val entries = manifest(spark, table, cur)
    commitBucketed(read(spark, table, Some(cur)), table, c, n,
      statsCols = entries.flatMap(_.stats.keys).distinct.sorted,
      properties = Map(DataChangeProp -> "false"),
      bloomCols = entries.flatMap(_.blooms.keys).distinct.sorted,
      strStatsCols = entries.flatMap(_.strStats.keys).distinct.sorted)
  }

  /** MERGE into a bucketed table while PRESERVING the bucketed layout —
    * the maintenance path that keeps joins shuffle-free across upserts
    * without [[rebucket]]'s full rewrite. The merge key must BE the
    * bucket column: every affected key then lives in a known bucket, so
    * copy-on-write granularity is the BUCKET, not the file-envelope —
    * only buckets holding an upserted/deleted/inserted key are
    * rewritten (through the bucketed writer, so the new files carry
    * correct bucket tags); every other bucket's file is carried
    * byte-untouched. Cost = touched_buckets/N of the table per merge,
    * the bound a 100 TB hot-key upsert stream needs.
    *
    * The resulting version SPANS batch dirs (carried buckets in old
    * dirs, rewritten buckets in the new one) — read it with
    * [[readBucketed]] (file-granular, manifest-exact) and the join
    * stays Exchange-free: the scan still reports the bucket hash
    * partitioning, grouping each bucket's files into one join task.
    * Sort-elision is the only casualty (a merged bucket spans files),
    * restored by the next [[rebucket]].
    *
    * Keys must be integral and NON-NULL on both sides (unlike [[merge]],
    * a null-keyed insert has no well-defined bucket). Concurrency: any
    * commit racing this merge aborts it loudly — rebase would have to
    * re-prove the racer respected bucket boundaries; callers retry.
    */
  def mergeBucketed(spark: SparkSession, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, keyCol: String,
      properties: Map[String, String] = Map.empty,
      planHook: () => Unit = () => ()): MergeResult = {
    import org.apache.spark.sql.functions.{col => c, hash, pmod, lit}
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.mergeBucketed: $table has no committed version")
    val (bcol, n) = bucketSpec(spark, table, Some(v)).getOrElse(sys.error(
      s"Snapshots.mergeBucketed: $table v$v has no bucket spec — use " +
        "merge, or commit with commitBucketed first"))
    require(bcol == keyCol,
      s"Snapshots.mergeBucketed: $table is bucketed on '$bcol' but the " +
        s"merge key is '$keyCol' — bucket-aligned copy-on-write needs " +
        "them equal (use merge for other keys)")
    val entries = manifest(spark, table, v)
    require(!entries.exists(e => isMask(e.path)),
      s"Snapshots.mergeBucketed: version $v of $table carries " +
        "merge-on-read masks — run compactMor first")
    val tableCols = read(spark, table, Some(v)).columns
    require(upserts.columns.sorted.sameElements(tableCols.sorted),
      s"Snapshots.mergeBucketed: upserts columns " +
        s"[${upserts.columns.sorted.mkString(",")}] must match table " +
        s"columns [${tableCols.sorted.mkString(",")}]")
    val keysDf = upserts.select(c(keyCol).cast("long").as("_merge_key"))
      .unionByName(deleteKeys.select(c(keyCol).cast("long").as("_merge_key")))
    // hash(key) is the SAME murmur3(seed 42) HashPartitioning and the
    // bucketed writer use, so this computes each key's bucket id exactly;
    // ≤ n distinct ids, so the collect is bounded by the bucket count
    val touchedBuckets = keysDf
      .select(pmod(hash(c("_merge_key")), lit(n)).as("_b"),
        c("_merge_key"))
      .groupBy(c("_b"))
      .agg(org.apache.spark.sql.functions.sum(
        c("_merge_key").isNull.cast("int")).as("_nulls"))
      .collect()
      .map { r =>
        require(r.getLong(1) == 0L,
          s"Snapshots.mergeBucketed: null merge keys are not allowed " +
            "(a null-keyed row has no well-defined bucket)")
        r.getInt(0) }
      .toSet
    val withIds = entries.map(e => e -> bucketIdOf(e.path).getOrElse(
      sys.error(s"Snapshots.mergeBucketed: ${e.path} carries no bucket " +
        s"file tag — $table v$v was not fully written by the bucketed " +
        "writer; rebucket first")))
    val (touchedE, carriedE) = withIds.partition {
      case (_, b) => touchedBuckets.contains(b) }
    val touched = touchedE.map(_._1); val carried = carriedE.map(_._1)
    val base =
      if (touched.isEmpty) read(spark, table, Some(v)).limit(0)
      else readEntries(spark, table, v, touched, Nil)
    val survivors = base.join(keysDf.distinct(),
      c(keyCol) === c("_merge_key"), "left_anti")
    enforceChecks(spark, table, upserts)
    enforceUnique(spark, table, upserts, vsParent = false)
    enforceForeignKeys(spark, table, upserts)
    val newData = survivors.unionByName(upserts.select(tableCols.map(c): _*))
    val statsCols = entries.flatMap(_.stats.keys).distinct.sorted
    val bloomCols = entries.flatMap(_.blooms.keys).distinct.sorted
    val strCols = entries.flatMap(_.strStats.keys).distinct.sorted
    planHook()
    val newEntries = writeBucketedBatch(newData, table, bcol, n, statsCols,
      bloomCols, strCols)
    val props = properties ++ Map(
      BucketColProp -> bcol, BucketNProp -> n.toString,
      BucketHashProp -> BucketHashId,
      SchemaProp -> Snapshots.properties(spark, table, v)
        .getOrElse(SchemaProp, base.schema.json))
    val next = publishManifest(spark, table, props, newEntries,
      baseFor = parent => {
        require(parent == v, s"Snapshots.mergeBucketed: concurrent " +
          s"commit on $table (planned against v$v, parent is now " +
          s"v$parent) — retry the merge")
        carried
      })
    MergeResult(next, touched.size, carried.size)
  }

  /** Expose a bucketed version (default: latest) as catalog table `name`
    * so Catalyst plans bucket-aware scans over the snapshot's files: an
    * equi-join of two tables registered this way with the SAME (column
    * role, bucket count) runs with ZERO Exchange nodes — each of the N
    * join tasks reads bucket i of both sides, the storage-co-partitioned
    * plan shape. Mismatched bucket counts are still correct: Catalyst
    * simply falls back to shuffling (that fallback is spec-pinned).
    *
    * The registration is metadata-only (an EXTERNAL table at the
    * version's batch directory — no data is read or copied) and replaces
    * any previous `name`. Requires a version written by
    * [[commitBucketed]]: single batch dir, bucket properties present —
    * directory-granular catalog registration cannot express a
    * [[mergeBucketed]] version (its old dirs hold superseded bucket
    * files that must NOT be read); use [[readBucketed]] for those.
    * Returns the registered version.
    */
  def registerBucketed(spark: SparkSession, table: String, name: String,
      version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, table))
    val (bcol, n) = bucketSpec(spark, table, Some(v)).getOrElse(
      sys.error(s"Snapshots.registerBucketed: $table v$v has no bucket " +
        "spec — commit it with commitBucketed"))
    val entries = manifest(spark, table, v)
    require(entries.nonEmpty,
      s"Snapshots.registerBucketed: $table v$v is empty")
    val dirs = entries.map { e =>
      val i = e.path.lastIndexOf('/')
      require(i > 0, s"unexpected manifest path shape: ${e.path}")
      e.path.substring(0, i)
    }.distinct
    require(dirs.size == 1,
      s"Snapshots.registerBucketed: $table v$v spans ${dirs.size} batch " +
        "dirs — catalog registration is directory-granular and a merged " +
        "bucketed version's old dirs hold superseded files; read it " +
        "with readBucketed, or rebucket to restore a single-batch layout")
    val (fs, root) = fsOf(spark, table)
    val loc = fs.makeQualified(new Path(root, dirs.head)).toString
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(properties(spark, table, v)(SchemaProp))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"""CREATE TABLE `$name` (${schema.toDDL})
         |USING PARQUET
         |CLUSTERED BY (`$bcol`) SORTED BY (`$bcol`) INTO $n BUCKETS
         |LOCATION '$loc'""".stripMargin)
    v
  }

  /** Read a bucketed version (default: latest) BUCKET-AWARE without the
    * catalog: a relation over EXACTLY the manifest's file list carrying
    * the version's bucket spec, so Catalyst plans the same
    * Exchange-free co-bucketed joins as [[registerBucketed]] — but
    * file-granular, which is what a [[mergeBucketed]] version needs
    * (carried dirs hold superseded bucket files a directory-rooted
    * catalog table would wrongly read; the manifest is the only sound
    * file-set authority). Sort-elision is claimed only when every
    * bucket has at most one file (always true for commitBucketed
    * versions, lost after a merge until [[rebucket]]); Spark
    * additionally gates acting on the claim behind
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` — sound
    * here because the claim is only ever made for one-file buckets
    * written through sortBy (BucketedMergeSpec pins the Sort-free
    * plan under that conf).
    */
  def readBucketed(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    val v = version.getOrElse(latestVersion(spark, table))
    val (bcol, n) = bucketSpec(spark, table, Some(v)).getOrElse(sys.error(
      s"Snapshots.readBucketed: $table v$v has no bucket spec — commit " +
        "it with commitBucketed"))
    val entries = manifest(spark, table, v)
    require(entries.nonEmpty, s"Snapshots.readBucketed: $table v$v is empty")
    val ids = entries.map(e => bucketIdOf(e.path).getOrElse(sys.error(
      s"Snapshots.readBucketed: ${e.path} carries no bucket file tag — " +
        s"$table v$v was not written by the bucketed writer")))
    val oneFilePerBucket = ids.distinct.size == ids.size
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(properties(spark, table, v)(SchemaProp))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // the manifest's exact file list, so pushed filters skip files from
    // manifest evidence here too; the scan groups the kept files into
    // buckets by the id in their names, as for any bucketed relation
    val index = new SnapshotFileIndex(spark, table, v, Some(entries),
      Some(schema))
    val rel = HadoopFsRelation(index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = schema,
      bucketSpec = Some(BucketSpec(n, Seq(bcol),
        if (oneFilePerBucket) Seq(bcol) else Nil)),
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** The manifest-publish retry loop — the commit point itself, shared by
    * data commits ([[commitWith]]) and metadata-only commits
    * ([[rollback]]).
    */
  private def requireProps(props: Map[String, String]): Unit =
    require(props.forall { case (k, v) =>
      !(k + v).exists(c => c == '\n' || c == '\t') && !k.contains("=") },
      "property keys/values must be single-line, tab-free; keys '='-free")

  private[sources] def publishManifest(spark: SparkSession, table: String,
      properties: Map[String, String], newEntries: Seq[FileEntry],
      baseFor: Int => Seq[FileEntry]): Int = {
    requireProps(properties)
    val (fs, root) = fsOf(spark, table)
    fs.mkdirs(new Path(root, "_manifests"))
    var attempts = 0
    while (true) {
      // settle any IN-DOUBT transaction pending above the committed head
      // before choosing a parent: committing at N+1 with parent N-1 while
      // a pending N could still commit would silently drop N's rows from
      // every later version (the lost-update race). resolveInDoubt either
      // force-aborts the pending (presumed abort — the standard 2PC
      // resolution for a blocked coordinator) or observes it committed;
      // either way the next latestVersion() sees the settled truth.
      // Bounded to slots ABOVE the committed head: an in-doubt pending
      // below it cannot exist (every committer above settled it first),
      // so the scan cost is the in-flight tail, not the table history.
      resolveInDoubtTxns(fs, root, latestVersion(spark, table))
      val parent = latestVersion(spark, table)
      // next slot must clear every EXISTING manifest file, complete or
      // not: a crashed writer's terminator-less manifest occupies its
      // number forever (we cannot tell it from a racer mid-write, so we
      // never reuse the slot) — version numbering may gap, versions()
      // only ever lists complete commits
      val next = (occupiedSlots(fs, root) :+ parent).max + 1
      val base = baseFor(parent)
      val target = manifestPath(root, next)
      // overwrite=false create IS the atomic commit point; a concurrent
      // winner makes this throw and we retry against the new parent
      val created =
        try { Some(fs.create(target, false)) }
        catch { case _: java.io.IOException => None }
      created match {
        case Some(out) =>
          try {
            // CHECK constraints are table-level invariants: inherit the
            // parent's unless this commit explicitly overrides (add) or
            // blanks (drop) a key; empty values are elided after merge
            def isConstraint(k: String) =
              k.startsWith(CheckPrefix) || k.startsWith(UniquePrefix) ||
                k.startsWith(FkPrefix) ||
                k == RenamesProp || k == DroppedProp || k == DropsProp ||
                k == DefaultsProp || k == WidensProp ||
                k == ClusterProp || k == Partitioning.SpecProp
            val inherited =
              if (parent == 0) Map.empty[String, String]
              else committedManifestOpt(fs, root, parent)
                .map(_.props.filter(p => isConstraint(p._1)))
                .getOrElse(Map.empty)
            val stamped = ((inherited ++ properties).filterNot {
              case (k, v2) => isConstraint(k) && v2.isEmpty
            }) + (CommitTsProp -> System.currentTimeMillis().toString)
            val propLines = stamped.toSeq.sortBy(_._1)
              .map { case (k, v) => s"#$k=$v" }
            // stamp NEW entries with the version that introduces them —
            // the data sequence number merge-on-read deletes order by;
            // carried base entries keep the seq of their own commit
            val lines = Seq(Header) ++ propLines ++
              (base ++ newEntries.map(_.copy(seq = next))).map(fmt) :+ Footer
            out.write(lines.mkString("\n").getBytes("UTF-8"))
          } finally out.close()
          return next
        case None =>
          attempts += 1
          require(attempts < 50, s"Snapshots.commit: $attempts collisions at $table")
      }
    }
    sys.error("unreachable")
  }

  /** Read the table at `version` (default: latest) — the ONE reader of
    * a versioned table. Every data file scans through a
    * [[SnapshotFileIndex]], so any `.filter`/`WHERE` downstream skips
    * files from manifest evidence. The version's RECORDED schema applies
    * to every file: after an add-column commit, files written before the
    * column existed read null-filled (or as the column's default), and
    * time travel to a pre-evolution version reads that version's own
    * schema. A version one flat relation reads exactly plans as the
    * single whole-version index ([[readIndexed]]'s plan); any other
    * version — rename/widen/default eras with surviving pre-event files,
    * or merge-on-read masks — plans through [[readEntries]]: one index
    * slice per (schema era, applicable masks) group, masks subtracted by
    * anti-joins above each slice. A schema-less (legacy) manifest is
    * refused.
    */
  def read(spark: SparkSession, table: String, version: Option[Int] = None)
      : DataFrame = {
    val v = version.getOrElse(latestVersion(spark, table))
    flatIndexOr(spark, table, v) match {
      case Left(index) => frameOf(spark, index)
      case Right(entries) =>
        val (masks, data) = entries.partition(e => isMask(e.path))
        readEntries(spark, table, v, data, masks)
    }
  }

  /** The single whole-version [[SnapshotFileIndex]] of `v` when ONE flat
    * relation reads it exactly (Left) — a segment-plannable header
    * proves mask- and era-freedom without opening the flat manifest —
    * else the parsed manifest entries [[readEntries]] groups (Right).
    * Shared by [[read]] and [[GraftSource]]'s relation routing, so the
    * two can never disagree on which versions take the flat plan.
    */
  private[sources] def flatIndexOr(spark: SparkSession, table: String,
      v: Int): Either[SnapshotFileIndex, Seq[FileEntry]] =
    if (segmentIndexFor(spark, table, v)
        .exists(SnapshotFileIndex.segmentPlannable))
      Left(new SnapshotFileIndex(spark, table, v))
    else {
      val (fs, root) = fsOf(spark, table)
      val m = committedManifestOpt(fs, root, v).getOrElse(
        sys.error(s"Snapshots: no committed version $v at $table"))
      require(m.files.exists(e => !isMask(e.path)),
        s"Snapshots: version $v of $table is empty")
      // the already-parsed entries pass through: the routing decision
      // and the index must not each pay an O(files) parse
      if (SnapshotFileIndex.refusalOf(table, v, m.files, m.props).isEmpty)
        Left(new SnapshotFileIndex(spark, table, v, Some(m.files), None,
          wholeVersion = true))
      else Right(m.files)
    }

  /** Read through the single whole-version [[SnapshotFileIndex]],
    * returned alongside the frame so callers can observe `lastPrune`.
    * Refuses what one flat relation cannot read exactly (masks,
    * renamed/dropped/defaulted/widened eras — see the class doc);
    * [[read]] reads every version.
    */
  def readIndexed(spark: SparkSession, table: String,
      version: Option[Int] = None): (DataFrame, SnapshotFileIndex) = {
    val v = version.getOrElse(latestVersion(spark, table))
    val index = new SnapshotFileIndex(spark, table, v)
    (frameOf(spark, index), index)
  }

  /** A frame scanning `index` as a plain (unbucketed) parquet relation. */
  private def frameOf(spark: SparkSession, index: SnapshotFileIndex)
      : DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val rel = HadoopFsRelation(index, new org.apache.spark.sql.types.StructType(),
      index.dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
    org.apache.spark.sql.GraftBridge.dataFrame(spark,
      LogicalRelation(rel, isStreaming = false))
  }

  /** One schema ERA of a version's file set: files whose physical
    * (name, type) shape derives from the current recorded schema by
    * reverse-applying the rename/widen events at or after their data
    * sequence, with the add-column defaults that postdate them attached
    * for coalescing. `eraNameOf` maps CURRENT name → physical name.
    */
  private[sources] final case class EraGroup(entries: Seq[FileEntry],
      eraSchema: org.apache.spark.sql.types.StructType,
      eraNameOf: Map[String, String],
      defaults: Seq[DefaultEvent])

  /** Partition `entries` into schema eras (see [[EraGroup]]), oldest
    * first. A file written at data sequence s carries the names of its
    * era: every rename whose boundary (the rename's parent version) is
    * >= s happened after the file and must be reverse-applied to the
    * current schema before reading it; a widen whose boundary is >= s
    * means the file physically stores the OLD type (the FIRST event's
    * old type, if widened twice) and reads in it, cast to current by the
    * caller; every DEFAULT whose boundary is >= s was declared after the
    * file, whose null-fill therefore reads as the default.
    */
  private[sources] def eraGroupsOf(st: org.apache.spark.sql.types.StructType,
      props: Map[String, String], entries: Seq[FileEntry]): Seq[EraGroup] = {
    val events = renameEvents(props)
    val defaults = defaultEvents(props)
      .filter(d => st.fieldNames.contains(d.name)) // dropped: dead event
    val widens = widenEvents(props)
      .filter(w => st.fieldNames.contains(w.name))
    entries.groupBy(e => (events.filter(_.boundary >= e.seq),
        defaults.filter(_.boundary >= e.seq),
        widens.filter(_.boundary >= e.seq)))
      .toSeq.sortBy(_._2.map(_.seq).min)
      .map { case ((applicable, applicableDefs, applicWidens), es) =>
        val eraName = scala.collection.mutable.LinkedHashMap(
          st.fieldNames.map(n => n -> n): _*)
        applicable.sortBy(-_.boundary).foreach { ev =>
          eraName.find(_._2 == ev.to)
            .foreach { case (cur, _) => eraName(cur) = ev.from }
        }
        def eraType(f: org.apache.spark.sql.types.StructField) =
          applicWidens.filter(_.name == f.name).headOption
            .map(w => org.apache.spark.sql.catalyst.parser
              .CatalystSqlParser.parseDataType(w.fromType))
            .getOrElse(f.dataType)
        val eraSchema = org.apache.spark.sql.types.StructType(
          st.fields.map(f =>
            f.copy(name = eraName(f.name), dataType = eraType(f))))
        EraGroup(es, eraSchema, eraName.toMap, applicableDefs)
      }
  }

  /** Read the table AS OF a wall-clock instant: the newest version whose
    * recorded commit time ([[CommitTsProp]]) is at or before `tsMillis`
    * — the "what did the dashboard show yesterday 09:00" form of time
    * travel, resolved entirely from manifest metadata. Versions from
    * before commit-time stamping existed are treated as older than any
    * instant. Throws if no version is old enough.
    */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long)
      : DataFrame =
    read(spark, table, Some(versionAsOf(spark, table, tsMillis)))

  /** The version [[readAsOf]] reads at `tsMillis` (see there) — shared
    * with `format("graft")`'s `timestampAsOf` option.
    */
  private[graft] def versionAsOf(spark: SparkSession, table: String,
      tsMillis: Long): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"Snapshots.readAsOf: $table has no committed version")
    val eligible = vs.filter { v =>
      properties(spark, table, v).get(CommitTsProp)
        .forall(_.toLong <= tsMillis)
    }
    require(eligible.nonEmpty,
      s"Snapshots.readAsOf: no version of $table at or before $tsMillis " +
        s"(earliest commit: ${properties(spark, table, vs.head).get(CommitTsProp).getOrElse("unstamped")})")
    eligible.max
  }

  /** Rows added between two versions of an APPEND-ONLY lineage, read from
    * ONLY the delta files — the scan cost is proportional to the change,
    * not the table (the 100 TB CDC-read shape). Throws if `from`'s file
    * set is not a subset of `to`'s (an overwrite happened in between;
    * file identity no longer tracks row identity, so a delta read would
    * be wrong — diff such lineages with EXCEPT ALL on content instead).
    */
  def diffAdded(spark: SparkSession, table: String, from: Int, to: Int)
      : DataFrame = {
    val a = manifest(spark, table, from).map(_.path).toSet
    val b = manifest(spark, table, to)
    val missing = a -- b.map(_.path).toSet
    require(missing.isEmpty,
      s"Snapshots.diffAdded: versions $from→$to are not append-only " +
        s"(${missing.size} file(s) dropped); use a content diff")
    val added = b.filterNot(e => a.contains(e.path))
    require(!added.exists(e => isMask(e.path)),
      s"Snapshots.diffAdded: versions $from→$to of $table add merge-on-" +
        "read deletes — file-level diff cannot express them; use changes")
    if (added.isEmpty) readEntries(spark, table, to, Seq(b.head), Nil).limit(0)
    else readEntries(spark, table, to, added, Nil)
  }

  // --- two-level manifests: the segment-index (manifest-list) tier --------

  private def segDir(root: Path, v: Int): Path =
    new Path(new Path(root, "_manifests"), f"v$v%06d.segments")

  /** Index-header property recording the segment size an index was built
    * with — incremental builds reuse a prior index only at the same size.
    */
  val SegSizeProp = "graft.segix.segSize"

  /** Index-header property: comma-joined total BYTES per segment,
    * aligned with the segment entry order — so a planner can answer
    * `sizeInBytes` from the index header instead of one getFileStatus
    * per data file (the O(files) RPC the segment tier exists to kill).
    */
  val SegBytesProp = "graft.segix.bytes"

  /** Index-header property: how many MASK entries (tombstones/DVs) the
    * indexed version carries — the flat-relation refusal evidence,
    * answerable without parsing any per-file segment.
    */
  val SegMasksProp = "graft.segix.masks"

  /** Build the SEGMENT INDEX of a version — the manifest-list tier this
    * format's own scaladoc promises at 100 TB: planning over a
    * million-file table must not parse a million per-file entries per
    * query. The version's file list is split into `segSize`-file segment
    * files (same line codec as the manifest), and a small `index` file
    * records, per segment, the file count, total rows, and ROLLED-UP
    * pruning evidence: [min,max] envelopes (a column participates only
    * when EVERY file in the segment recorded it — a stat-less file must
    * keep its segment readable), UTF-8 string envelopes under the same
    * completeness rule, and the bitwise OR of per-file blooms (sound for
    * skipping: a value absent from the union is absent from every file).
    * Segments keep manifest file ORDER, so a z-/hilbert-clustered
    * commit's key locality carries up: each segment is itself a small
    * box in key space and box probes skip whole segments.
    *
    * The index header carries the version's manifest properties, so the
    * segmented scan path never opens the full manifest. Derivation of an
    * immutable manifest: building is idempotent (an existing complete
    * index is returned as-is), segment files are deterministic and may
    * be rewritten by a crashed builder's retry, and the `index` file is
    * created create-no-overwrite LAST with the manifest's own
    * header/terminator discipline — a half-written index reads as
    * absent. Returns the segment count.
    */
  def buildSegmentIndex(spark: SparkSession, table: String,
      version: Option[Int] = None, segSize: Int = 128): Int = {
    require(segSize > 0, s"segSize must be positive, got $segSize")
    val (fs, root) = fsOf(spark, table)
    val v = version.getOrElse(latestVersion(spark, table))
    val dir = segDir(root, v)
    val indexPath = new Path(dir, "index")
    readEntriesFileOpt(fs, indexPath) match {
      case Some(existing) => return existing.files.size
      case None =>
    }
    val files = manifest(spark, table, v)
    require(files.nonEmpty, s"Snapshots: version $v of $table is empty")
    val props = properties(spark, table, v)
    fs.mkdirs(dir)
    // INCREMENTAL MAINTENANCE: an append commit keeps its parent's file
    // list as a byte-identical prefix, so every FULL segment of the
    // newest prior index (same segSize) is reused by reference — its
    // stored path already resolves under _manifests — and only the tail
    // (the prior partial segment's files plus the new commit's) is
    // re-segmented. Per-commit index cost follows the DELTA, not the
    // table: a million-file table ingesting a 100-file batch rolls two
    // segment files, not eight thousand. Non-append lineage (compaction,
    // rebucket, rollback, CoW merge) fails the prefix compare and
    // rebuilds in full — reuse is proven, never assumed.
    val (reused: Seq[FileEntry], reusedBytes: Seq[Long]) =
      versions(spark, table).filter(_ < v)
        .reverse.iterator
        .map(w => (w, readEntriesFileOpt(fs, new Path(segDir(root, w), "index"))))
        .collectFirst { case (w, Some(ix)) => (w, ix) }
        .filter { case (_, ix) =>
          // same segSize AND recorded byte totals: a pre-bytes index
          // cannot be reused (its segments' sizes are unknowable without
          // the O(table) stat pass this reuse exists to avoid) — one
          // full rebuild re-records them, reuse resumes after
          ix.props.get(SegSizeProp).contains(segSize.toString) &&
            ix.props.contains(SegBytesProp) }
        .map { case (w, ix) =>
          val pFiles = manifest(spark, table, w)
          val isPrefix = pFiles.size <= files.size &&
            pFiles.iterator.zip(files.iterator).forall {
              case (a, b) => fmt(a) == fmt(b) }
          if (!isPrefix) (Seq.empty[FileEntry], Seq.empty[Long])
          else {
            val segs = ix.files.takeWhile(_.seq == segSize)
            val bytes = ix.props(SegBytesProp).split(",")
              .filter(_.nonEmpty).map(_.toLong).toSeq
            (segs, bytes.take(segs.size))
          }
        }
        .getOrElse((Seq.empty[FileEntry], Seq.empty[Long]))
    val offset = reused.size * segSize
    // byte totals are recorded at BUILD time (one getFileStatus per
    // DELTA file — reused segments carry theirs forward), so planners
    // never pay the per-file stat pass at query time
    def fileLen(e: FileEntry): Long = {
      val p = if (new Path(e.path).isAbsolute) new Path(e.path)
        else new Path(fs.makeQualified(root), e.path)
      fs.getFileStatus(p).getLen
    }
    def writeEntries(p: Path, overwrite: Boolean,
        header: Seq[String], entries: Seq[FileEntry]): Boolean = {
      val created =
        try Some(fs.create(p, overwrite))
        catch { case _: java.io.IOException => None }
      created match {
        case Some(out) =>
          try out.write(((Seq(Header) ++ header ++ entries.map(fmt)) :+ Footer)
            .mkString("\n").getBytes("UTF-8"))
          finally out.close()
          true
        case None => false
      }
    }
    val tailGroups = files.drop(offset).grouped(segSize).toSeq
    val tailBytes = tailGroups.map(_.map(fileLen).sum)
    val tailEntries = tailGroups.zipWithIndex
      .map { case (g, i0) =>
        val i = reused.size + i0
        val name = f"seg-$i%05d"
        require(writeEntries(new Path(dir, name), overwrite = true, Nil, g),
          s"Snapshots.buildSegmentIndex: cannot write $name for $table v$v")
        val statCols = g.map(_.stats.keySet).reduce(_ intersect _)
        val stats = statCols.map { c =>
          val es = g.map(_.stats(c))
          c -> (es.map(_._1).min, es.map(_._2).max)
        }.toMap
        val strCols = g.map(_.strStats.keySet).reduce(_ intersect _)
        val strStats = strCols.map { c =>
          val es = g.map(_.strStats(c))
          c -> (es.map(_._1).reduceLeft((a, b) =>
                  if (ParquetMeta.u8Less(a, b)) a else b),
                es.map(_._2).reduceLeft((a, b) =>
                  if (ParquetMeta.u8Less(a, b)) b else a))
        }.toMap
        val bloomCols = g.map(_.blooms.keySet).reduce(_ intersect _)
        val blooms = bloomCols.iterator.flatMap { c =>
          val bs = g.map(_.blooms(c))
          if (bs.map(_.length).distinct.size != 1) None
          else Some(c -> bs.reduceLeft((a, b) =>
            a.zip(b).map { case (x, y) => x | y }))
        }.toMap
        FileEntry(s"${dir.getName}/$name", g.map(_.rows).sum, stats, blooms,
          strStats, seq = g.size)
    }
    val segEntries = reused ++ tailEntries
    val segBytes = reusedBytes ++ tailBytes
    val propLines = (props
        + (SegSizeProp -> segSize.toString)
        + (SegBytesProp -> segBytes.mkString(","))
        + (SegMasksProp -> files.count(e => isMask(e.path)).toString)).toSeq
      .sortBy(_._1).map { case (k, v2) => s"#$k=$v2" }
    if (!writeEntries(indexPath, overwrite = false, propLines, segEntries)) {
      // create-no-overwrite lost: either a racing builder finished (its
      // index derives from the same immutable manifest — adopt it) or a
      // crashed builder left terminator-less debris. Debris is safe to
      // overwrite: every builder of this version writes a complete,
      // sound index (racers may differ only in which prior index they
      // reused — both describe the same manifest), and the
      // header/terminator discipline hides any in-flight state from
      // readers.
      readEntriesFileOpt(fs, indexPath) match {
        case Some(existing) => return existing.files.size
        case None =>
          require(writeEntries(indexPath, overwrite = true, propLines, segEntries),
            s"Snapshots.buildSegmentIndex: cannot repair half-written " +
              s"index of $table v$v")
      }
    }
    segEntries.size
  }

  /** A version's segment index as a planner sees it: header props,
    * segment rollup entries, per-segment byte totals (when the index
    * recorded them), and the recorded mask count. `bytes`/`maskCount`
    * are None for indexes built before those header fields existed —
    * consumers fall back to the eager path.
    */
  private[sources] final case class SegIndex(props: Map[String, String],
      segments: Seq[FileEntry], bytes: Option[Seq[Long]],
      maskCount: Option[Int])

  /** The segment index of (table, version), if one was built. */
  private[sources] def segmentIndexFor(spark: SparkSession, table: String,
      version: Int): Option[SegIndex] = {
    val (fs, root) = fsOf(spark, table)
    readEntriesFileOpt(fs, new Path(segDir(root, version), "index"))
      .map { ix =>
        SegIndex(ix.props, ix.files,
          ix.props.get(SegBytesProp)
            .map(_.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
            .filter(_.size == ix.files.size),
          ix.props.get(SegMasksProp).map(_.toInt))
      }
  }

  /** Parse ONE segment's per-file entries (segment paths are relative
    * to `_manifests` — incremental builds reuse ancestor versions'
    * segment files by reference; bare legacy names resolve into the
    * version's own dir).
    */
  private[sources] def segmentEntries(spark: SparkSession, table: String,
      version: Int, seg: FileEntry): Seq[FileEntry] = {
    val (fs, root) = fsOf(spark, table)
    val p = if (seg.path.contains("/"))
        new Path(new Path(root, "_manifests"), seg.path)
      else new Path(segDir(root, version), seg.path)
    readEntriesFileOpt(fs, p).getOrElse(throw new IllegalStateException(
      s"Snapshots.segmentEntries: segment ${seg.path} of $table " +
        s"v$version missing or corrupt")).files
  }

  /** Copy-on-write MERGE into the latest version on the key tuple
    * `keyCols`: one column (`order_id`) or the `(order_id, line_number)`-
    * shaped tuples real CDC feeds carry (order lines, sensor (device,
    * ts-bucket), account (region, id)). Each `upserts` row replaces the
    * stored row with the same key tuple (insert when the tuple is
    * absent), and tuples present in `deleteKeys` are removed; a tuple in
    * both is delete-then-insert, i.e. the upsert row wins. Only data
    * files whose manifest envelope on the LEADING key column may contain
    * an affected lead value are rewritten — a file that can hold no
    * affected lead value holds no affected tuple, the same leading-column
    * soundness [[addUnique]]'s parent check uses. Every other file is
    * CARRIED into the new manifest byte-identical — stats and blooms
    * included, so later skip decisions keep working. Rewrite cost is
    * therefore proportional to the TOUCHED file set, not the table: with
    * a layout clustered on the lead column (range-partitioned or
    * Z-ordered commits) a bounded CDC batch touches a bounded number of
    * files at any table size — the shape that makes row-level merge
    * viable at 100 TB.
    *
    * Key columns must be integral or string (validated against the
    * table's schema — other types refuse loudly). A tuple with ANY null
    * component inserts (upserts) or is ignored (deletes) — null keys
    * match nothing, exactly the join's semantics. The anti-join compares
    * ALL key columns: integral components as longs (width-free
    * equality), string components UNCAST end-to-end so '1'/'01' stay
    * distinct keys and non-numeric keys are first-class. An integral
    * lead prunes files through the manifest [min,max] stats, a string
    * lead through the UTF-8 string envelopes ([[ParquetMeta.fileStrStats]]).
    * Affected tuples are collected driver-side when ≤ `maxCollectedKeys`
    * (exact per-file test by binary search over the distinct lead
    * values, and the anti-join side is broadcast); above that the
    * per-file test falls back to the batch's overall lead [min,max]
    * envelope (strings: min/max of the UTF-8 encoding, so the envelope
    * order matches the footer stats') and the anti-join shuffles. Both
    * are SOUND: a file is only carried when its envelope proves no
    * affected key is inside; files without a recorded lead envelope are
    * always rewritten.
    *
    * Concurrency: the merge plans against the current latest version; if
    * another commit lands before the manifest create, the retry loop
    * re-reads the parent and AUTO-REBASES when that is provably safe —
    * the racer left every file this merge rewrites untouched, and no file
    * the racer added may contain any of this merge's keys (the same
    * lead-envelope / collected-key test the pruning uses, so the proof is
    * sound, not heuristic). Then the merge re-commits carrying the NEW
    * parent's other files — two writers on disjoint key ranges both land,
    * the contention path a multi-pipeline warehouse hits daily. A racer
    * that touched an overlapping file set or key range still ABORTS
    * loudly: its effect on this merge's row set cannot be reconstructed
    * from metadata alone, so the caller must re-plan.
    *
    * `planHook` is a deterministic-concurrency test seam: invoked once
    * after the merge has planned its file set against the current latest
    * version, before the commit — a spec races a conflicting commit
    * inside it.
    */
  def merge(spark: SparkSession, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, keyCols: Seq[String],
      maxCollectedKeys: Int = 100000,
      properties: Map[String, String] = Map.empty,
      planHook: () => Unit = () => ()): MergeResult = {
    import org.apache.spark.sql.functions.{broadcast, col => c}
    require(keyCols.nonEmpty, "Snapshots.merge: empty key list")
    require(keyCols.distinct == keyCols,
      "Snapshots.merge: duplicate key columns in " + keyCols.mkString(","))
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.merge: $table has no committed version")
    keyCols.foreach(k => require(
      deleteKeys.columns.exists(_.equalsIgnoreCase(k)),
      s"Snapshots.merge: deleteKeys needs a '$k' column"))
    val entries = manifest(spark, table, v)
    // a carried mask would stop covering the rewritten rows (they get a
    // higher sequence number), so the rewrite needs a mask-free version
    require(!entries.exists(e => isMask(e.path)),
      s"Snapshots.merge: version $v of $table carries merge-on-read " +
        "masks — run compactMor first")
    val tableDf = read(spark, table, Some(v))
    val tableCols = tableDf.columns
    require(upserts.columns.sorted.sameElements(tableCols.sorted),
      s"Snapshots.merge: upserts columns [${upserts.columns.sorted.mkString(",")}] " +
        s"must match table columns [${tableCols.sorted.mkString(",")}]")
    val strType = org.apache.spark.sql.types.StringType
    // resolve CASE-INSENSITIVELY (matching col()/SQL resolution — a
    // caller passing 'ID' for column 'id' must not hit a misleading
    // no-column or type-refusal path) and use the CANONICAL names
    // downstream: footer stats maps and recorded envelopes are keyed by
    // the table's own spelling
    val keyFields = keyCols.map { k =>
      val f = tableDf.schema.fields.find(_.name.equalsIgnoreCase(k))
        .getOrElse(sys.error(s"Snapshots.merge: no column '$k' in $table"))
      require(f.dataType == strType || isIntegralType(f.dataType),
        s"Snapshots.merge: merge keys must be integral or string; " +
          s"'${f.name}' is ${f.dataType.simpleString}")
      f
    }
    val keyCanon = keyFields.map(_.name)
    val keyIsStr: Seq[Boolean] = keyFields.map(_.dataType == strType)
    val leadIsStr = keyIsStr.head
    val lead = keyCanon.head
    // tuple frame for the anti join: integral components collect as
    // longs (the manifest stats' width); string components UNCAST —
    // casting would collapse '1'/'01' and null out non-numeric keys,
    // i.e. corrupt, not error
    val mk = keyCols.indices.map(i => s"_merge_key_$i")
    def tupleOf(df: DataFrame): DataFrame =
      df.select(keyCols.zip(mk).zip(keyIsStr).map { case ((k, a), isStr) =>
        c(k).cast(if (isStr) "string" else "long").as(a)
      }: _*)
    val keysDf = tupleOf(upserts).unionByName(tupleOf(deleteKeys))
      .filter(mk.map(c(_).isNotNull).reduce(_ && _))
      .distinct()
    val collected0 = keysDf.limit(maxCollectedKeys + 1).collect()
    val overCap = collected0.length > maxCollectedKeys
    // lead-value set for the per-file envelope test (distinct leads of
    // the collected tuples, sorted for binary search). String leads sort
    // under UTF-8 BYTE order (u8Less) — the order the footer envelopes
    // fold under; JVM String ordering would disagree on supplementary
    // characters and break the binary search
    val leadSorted: Option[Array[Long]] =
      if (leadIsStr || overCap) None
      else Some(collected0.map(_.getLong(0)).distinct.sorted)
    val leadSortedStr: Option[Array[String]] =
      if (!leadIsStr || overCap) None
      else Some(collected0.map(_.getString(0)).distinct
        .sorted(Ordering.fromLessThan(ParquetMeta.u8Less)))
    lazy val (rangeLo, rangeHi) = {
      val r = keysDf.agg(org.apache.spark.sql.functions.min(mk.head),
        org.apache.spark.sql.functions.max(mk.head)).head()
      (r.getLong(0), r.getLong(1))
    }
    // over-cap string fallback: min/max of the UTF-8 ENCODING (Spark
    // orders binary bytewise-unsigned), decoded back — a plain string
    // min/max would use UTF-16 order and could under-cover the batch
    lazy val (rangeLoS, rangeHiS) = {
      import org.apache.spark.sql.functions.{encode, max => mxf, min => mnf}
      val r = keysDf.agg(mnf(encode(c(mk.head), "UTF-8")),
        mxf(encode(c(mk.head), "UTF-8"))).head()
      (new String(r.getAs[Array[Byte]](0), "UTF-8"),
        new String(r.getAs[Array[Byte]](1), "UTF-8"))
    }
    def mayContain(mn: Long, mx: Long): Boolean = leadSorted match {
      case Some(a) => // first collected lead >= mn; inside iff also <= mx
        val i = java.util.Arrays.binarySearch(a, mn)
        val from = if (i >= 0) i else -i - 1
        from < a.length && a(from) <= mx
      case None => mx >= rangeLo && mn <= rangeHi
    }
    def mayContainStr(mn: String, mx: String): Boolean =
      leadSortedStr match {
        case Some(a) => // first collected lead >= mn (u8); inside iff <= mx
          var lo = 0; var hi = a.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (ParquetMeta.u8Less(a(mid), mn)) lo = mid + 1 else hi = mid
          }
          lo < a.length && !ParquetMeta.u8Less(mx, a(lo))
        case None =>
          !ParquetMeta.u8Less(mx, rangeLoS) &&
            !ParquetMeta.u8Less(rangeHiS, mn)
      }
    // the envelope test the planning partition AND the rebase conflict
    // check share: a file is carried only when its recorded lead
    // envelope proves no affected key can be inside
    def fileMayHoldKeys(e: FileEntry): Boolean =
      if (leadIsStr) e.strStats.get(lead) match {
        case Some((mn, mx)) => mayContainStr(mn, mx)
        case None => true // no envelope: cannot prove absence → rewrite
      } else e.stats.get(lead) match {
        case Some((mn, mx)) => mayContain(mn, mx)
        case None => true
      }
    val (touched, carried) = entries.partition(e =>
      e.rows > 0 && fileMayHoldKeys(e))
    val base =
      if (touched.isEmpty) read(spark, table, Some(v)).limit(0)
      else readEntries(spark, table, v, touched, Nil)
    val antiSide = if (!overCap) broadcast(keysDf) else keysDf
    val antiCond = keyCanon.zip(mk).map { case (k, a) => c(k) === c(a) }
      .reduce(_ && _)
    val survivors = base.join(antiSide, antiCond, "left_anti")
      .select(tableCols.map(c): _*)
    enforceUnique(spark, table, upserts, vsParent = false)
    val newData = survivors.unionByName(upserts.select(tableCols.map(c): _*))
    // union across ALL entries: a stats-less head entry (e.g. a 0-row
    // file) must not silently drop envelopes from the rewritten files.
    // The lead column's envelope is RECORDED on the files it writes even
    // when the table never had one — without it every later merge
    // rewrites everything it rewrote, forever
    val statsCols = (entries.flatMap(_.stats.keys) ++
      (if (leadIsStr) Nil else Seq(lead))).distinct.sorted
    val bloomCols = entries.flatMap(_.blooms.keys).distinct.sorted
    val strCols = (entries.flatMap(_.strStats.keys) ++
      (if (leadIsStr) Seq(lead) else Nil)).distinct.sorted
    planHook()
    val touchedPaths = touched.map(_.path).toSet
    val priorPaths = entries.map(_.path).toSet
    // how many files the final commit actually carried (rebase may carry
    // the racer's files too) — recorded from inside the retry loop
    val carriedCount = new java.util.concurrent.atomic.AtomicInteger(
      carried.size)
    val next = commitWith(newData, table, statsCols, properties, bloomCols,
      baseFor = parent => {
        val base =
          if (parent == v) carried
          else {
            // AUTO-REBASE against the drifted parent. Sound iff (1) every
            // file this merge rewrote is still in the new parent — its
            // rows were fully re-derived into newData, so the racer must
            // not have changed them under us; (2) no file the racer
            // added may contain one of our keys — a carried racer file
            // holding key k while newData also holds k would duplicate k;
            // (3) the racer did not evolve the schema — the new commit
            // republishes THIS merge's (stale) schema, and because
            // readers apply the version's recorded schema to every file,
            // carrying an evolved racer's files under the stale schema
            // would silently hide its new columns at latest.
            require(Snapshots.properties(spark, table, parent)
              .get(SchemaProp) ==
              Snapshots.properties(spark, table, v).get(SchemaProp),
              s"Snapshots.merge: concurrent commit on $table changed the " +
                s"schema (planned against v$v, parent is now v$parent) — " +
                "retry the merge")
            val cur = manifest(spark, table, parent)
            val curPaths = cur.map(_.path).toSet
            val lost = touchedPaths -- curPaths
            require(lost.isEmpty, s"Snapshots.merge: concurrent commit on " +
              s"$table rewrote ${lost.size} file(s) this merge also " +
              s"touches (planned against v$v, parent is now v$parent) — " +
              "retry the merge")
            val added = cur.filterNot(e => priorPaths.contains(e.path))
            val conflicting = added.filter(e =>
              e.rows > 0 && fileMayHoldKeys(e))
            require(conflicting.isEmpty, s"Snapshots.merge: concurrent " +
              s"commit on $table added ${conflicting.size} file(s) that " +
              s"may hold this merge's keys (planned against v$v, parent " +
              s"is now v$parent) — retry the merge")
            cur.filterNot(e => touchedPaths.contains(e.path))
          }
        carriedCount.set(base.size)
        base
      }, strStatsCols = strCols,
      writeVia = partitionedWriteVia(spark, table))
    MergeResult(next, touched.size, carriedCount.get)
  }

  /** [[merge]] on the single key column `keyCol`. */
  def merge(spark: SparkSession, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, keyCol: String): MergeResult =
    merge(spark, table, upserts, deleteKeys, Seq(keyCol))

  /** Compact the latest version's layout into ~`targetBytes` files as a
    * NEW overwrite commit — same row content (the q_versioned_compact
    * oracle pins it), fewer files, and prior versions remain readable
    * because their bytes were never touched. Returns the new version.
    */
  def compactVersion(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val (fs, root) = fsOf(spark, table)
    val cur = latestVersion(spark, table)
    val entries = manifest(spark, table, cur)
    val bytes = entries.map(e =>
      fs.getFileStatus(new Path(root, e.path)).getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // union across ALL entries: a stats-less head entry (e.g. a 0-row
    // file) must not silently drop envelopes from the rewritten files.
    // Recorded stat column names are PER-ERA — map them through the
    // rename history to current names (and drop retired ones), or the
    // rewrite would compute evidence for columns that no longer exist
    val curProps = properties(spark, table, cur)
    val statsCols = entries.flatMap(_.stats.keys).distinct
      .flatMap(n => currentColName(curProps, n)).distinct.sorted
    val bloomCols = entries.flatMap(_.blooms.keys).distinct
      .flatMap(n => currentColName(curProps, n)).distinct.sorted
    val strCols = entries.flatMap(_.strStats.keys).distinct
      .flatMap(n => currentColName(curProps, n)).distinct.sorted
    // a table with a declared partition spec compacts THROUGH the
    // partitioned writer, so maintenance restores the layout instead of
    // replacing it with plain files the partition tier would refuse
    if (Partitioning.currentSpec(spark, table).nonEmpty)
      return Partitioning.rewriteLayout(spark, table,
        statsCols = statsCols, bloomCols = bloomCols,
        strStatsCols = strCols)
    val clusterCols = clustering(spark, table).map(_._2).getOrElse(Seq.empty)
    commit(clusteredLayout(spark, table, read(spark, table, Some(cur)), nOut),
      table,
      overwrite = true, statsCols = (statsCols ++ clusterCols).distinct,
      bloomCols = bloomCols,
      strStatsCols = strCols,
      properties = Map(DataChangeProp -> "false"))
  }

  /** PREDICATE-SCOPED compaction (the Iceberg/Delta `OPTIMIZE ...
    * WHERE` shape): compact ONLY the files whose manifest envelope
    * evidence says they may hold a row matching `predicate`; every
    * other file is carried BYTE-IDENTICAL into the new version — same
    * entry, same path, same data sequence number, no read and no write
    * — so an operator can re-cluster one hot key range of a 100 TB
    * table at a cost proportional to that range, not the table. The
    * evidence split is [[SnapshotFileIndex]]'s conservative
    * three-valued rule: a file is carried only when provably row-free
    * for the predicate, and an unprovable predicate shape lands files
    * on the REWRITE side (sound — rewriting extra files never changes
    * content). Declared clustering (X121) is honored on the rewritten
    * subset; a partition-spec'd table rewrites through the partitioned
    * writer so the tuple-in-name layout survives. Merge-on-read masks
    * refuse toward [[compactMor]] (a scoped rewrite under masks would
    * have to split vectors per file); era-evolved versions refuse
    * through the index's own gate. Zero matching files = no-op (no
    * empty commit). Returns (version, filesRewritten, filesCarried).
    */
  def compactWhere(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      targetBytes: Long = 128L << 20): MergeResult = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val (fs, root) = fsOf(spark, table)
    val cur = latestVersion(spark, table)
    require(cur > 0, s"Snapshots.compactWhere: $table has no committed version")
    val all = manifest(spark, table, cur)
    require(!all.exists(e => isMask(e.path)),
      s"Snapshots.compactWhere: version $cur of $table carries " +
        "merge-on-read masks — run compactMor first")
    // resolve the predicate against the version's schema, then split
    // the file set on manifest evidence; the filter must be a plain
    // row-level predicate (no subqueries, deterministic)
    val df = read(spark, table, Some(cur))
    val cond0 = df.filter(predicate).queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
    }.getOrElse(sys.error("Snapshots.compactWhere: no filter resolved"))
    // fold foldable subtrees to literals — the analyzer leaves type
    // promotion as `cast(50 as bigint)` around literals, which the
    // evidence matcher (built for post-optimizer pushed filters) only
    // reads in folded form
    val cond = cond0.transformUp {
      case e if e.foldable &&
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(e.eval(), e.dataType)
    }
    require(cond.deterministic && !cond.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
      "Snapshots.compactWhere: the predicate must be a deterministic " +
        "row-level expression without subqueries")
    val ix = new SnapshotFileIndex(spark, table, cur)
    val (touched, carried) = ix.evidenceSplit(cond)
    if (touched.isEmpty) return MergeResult(cur, 0, carried.size)
    val bytes = touched.map(e =>
      fs.getFileStatus(new Path(root, e.path)).getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // evidence-column union across ALL entries (carried included) mapped
    // through the rename history — the rewritten files must keep every
    // envelope the version records, same discipline as compactVersion
    val curProps = properties(spark, table, cur)
    val statsCols = all.flatMap(_.stats.keys).distinct
      .flatMap(n => currentColName(curProps, n)).distinct.sorted
    val bloomCols = all.flatMap(_.blooms.keys).distinct
      .flatMap(n => currentColName(curProps, n)).distinct.sorted
    val strCols = all.flatMap(_.strStats.keys).distinct
      .flatMap(n => currentColName(curProps, n)).distinct.sorted
    val clusterCols = clustering(spark, table).map(_._2).getOrElse(Seq.empty)
    val subset = readEntries(spark, table, cur, touched, Seq.empty)
    val shaped = clusteredLayout(spark, table, subset, nOut)
    val v2 = commitWith(shaped, table,
      statsCols = (statsCols ++ clusterCols).distinct,
      properties = Map(DataChangeProp -> "false"),
      bloomCols = bloomCols, strStatsCols = strCols,
      baseFor = parent => {
        require(parent == cur, s"Snapshots.compactWhere: concurrent " +
          s"commit on $table (planned against v$cur, parent is now " +
          s"v$parent) — retry")
        carried
      },
      writeVia = partitionedWriteVia(spark, table))
    MergeResult(v2, touched.size, carried.size)
  }

  /** Roll the table back to `toVersion` as a NEW commit whose file set is
    * that version's manifest, carried verbatim (stats, blooms and schema
    * included) — a metadata-only operation: no data file is read,
    * written, or deleted, so it is instant at any table size and the
    * mis-commit being undone remains readable for forensics until
    * [[vacuum]]. The standard recovery move after a bad merge/overwrite.
    */
  def rollback(spark: SparkSession, table: String, toVersion: Int): Int = {
    val cur = latestVersion(spark, table)
    require(cur > 0, s"Snapshots.rollback: $table has no committed version")
    require(versions(spark, table).contains(toVersion),
      s"Snapshots.rollback: version $toVersion of $table does not exist")
    val target = manifest(spark, table, toVersion)
    // republish the target's EXACT file list and properties (schema
    // included) under a new version number — no batch write at all
    val props = properties(spark, table, toVersion) +
      ("rolledBackTo" -> toVersion.toString)
    publishManifest(spark, table, props, Seq.empty,
      baseFor = parent => {
        require(parent == cur, s"Snapshots.rollback: concurrent commit on " +
          s"$table (planned against v$cur, parent is now v$parent) — retry")
        target
      })
  }

  // ---- merge-on-read deletes (equality tombstones) -------------------

  /** Tombstone files are marked by NAME so the classification rides the
    * file itself through append carries, with no property flow needed.
    */
  private val DelPrefix = "del-"
  private[sources] def isTombstone(p: String): Boolean =
    new Path(p).getName.startsWith(DelPrefix)

  /** Position-delete vectors (the Delta deletion-vector / Iceberg
    * positional-delete shape): a `dv-` file holds (file name, row index)
    * pairs naming EXACT ROWS of earlier data files. Where equality
    * tombstones need a key column, a DV deletes by arbitrary predicate —
    * including one of two bit-identical rows.
    */
  private val DvPrefix = "dv-"
  private[graft] def isDv(p: String): Boolean =
    new Path(p).getName.startsWith(DvPrefix)

  /** Any merge-on-read mask file: equality tombstone or position DV. */
  private[sources] def isMask(p: String): Boolean =
    isTombstone(p) || isDv(p)

  /** DV parquet schema: the target data file's NAME and the row's
    * position within it (`_metadata.row_index`). Names, not paths:
    * Spark part-file names carry the write job's UUID so they are
    * unique per table in practice, and unlike `_metadata.file_path`
    * they survive table relocation and need no URI-encoding care —
    * [[requireUniqueNames]] still proves uniqueness before every use
    * rather than assuming it.
    */
  private[sources] val DvFileCol = "file"
  private[sources] val DvPosCol = "pos"
  private val MetaFile = "_graft_file"
  private val MetaPos = "_graft_pos"

  private def requireUniqueNames(data: Seq[FileEntry], table: String,
      v: Int): Unit = {
    val names = data.map(e => new Path(e.path).getName)
    require(names.distinct.size == names.size,
      s"Snapshots: version $v of $table has data files sharing a name — " +
        "position deletes key on file names; compact before deleteVector")
  }

  /** Whether version `v` ADDS a position-delete vector over its parent —
    * the commits change-feed REPLAY must refuse: positions name rows of
    * the SOURCE table's physical files and mean nothing in a mirror.
    */
  private[sources] def addsPositionDeletes(spark: SparkSession,
      table: String, v: Int): Boolean = {
    val parent = versions(spark, table).filter(_ < v).lastOption
    val parentPaths = parent.map(p => manifest(spark, table, p)
      .map(_.path).toSet).getOrElse(Set.empty[String])
    manifest(spark, table, v)
      .exists(e => !parentPaths(e.path) && isDv(e.path))
  }

  /** MERGE-ON-READ delete: commit an equality TOMBSTONE (the distinct
    * delete keys as one small parquet file) instead of rewriting any
    * data file — the fast-delete write path. Where [[merge]] pays
    * copy-on-write (rewrite every file that may hold an affected key —
    * at 100 TB, possibly terabytes for a thousand keys), deleteWhere
    * writes kilobytes and commits; readers ([[read]]) subtract the
    * keys at scan time, and [[compactMor]] later materializes the
    * deletes back into a pure-data representation.
    *
    * Ordering is by DATA SEQUENCE NUMBER (every manifest entry records
    * the version that introduced it): a tombstone masks only entries
    * with a LOWER seq, so a plain append AFTER the delete re-inserts
    * its keys correctly — same-key rows in newer files are not masked.
    * Null keys cannot be deleted (they never equal; same rule as
    * [[merge]]). Deleting a key not present is a no-op.
    */
  def deleteWhere(spark: SparkSession, table: String,
      deleteKeys: DataFrame, keyCol: String,
      properties: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{col => c}
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.deleteWhere: $table has no committed version")
    require(deleteKeys.columns.contains(keyCol),
      s"Snapshots.deleteWhere: deleteKeys needs a '$keyCol' column")
    val keys = deleteKeys.select(c(keyCol).cast("long").as(keyCol))
      .filter(c(keyCol).isNotNull).distinct()
    val (fs, root) = fsOf(spark, table)
    val batch = freshBatchDir(root)
    keys.coalesce(1).write.mode("errorifexists").parquet(batch.toString)
    listParquet(fs, batch).foreach { st =>
      require(fs.rename(st.getPath,
        new Path(st.getPath.getParent, DelPrefix + st.getPath.getName)),
        s"Snapshots.deleteWhere: rename failed for ${st.getPath}")
    }
    // the tombstone entry records the key envelope, so a future reader
    // can prove whole data files untouched by any delete
    val delEntries = entriesFor(spark, table, batch, Seq(keyCol),
      Seq.empty, Seq.empty)
    // the version must keep describing the DATA schema (readers apply
    // it to the data files), not the tombstone's single column
    val props = properties ++ this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap
    publishManifest(spark, table, props, delEntries,
      baseFor = parent => manifest(spark, table, parent))
  }

  /** Atomic MERGE-ON-READ upsert: ONE commit whose batch holds both the
    * new rows and a tombstone of their keys — because both carry the
    * SAME data sequence number and a tombstone masks only LOWER
    * sequences, older copies of the keys disappear while the batch's own
    * rows survive, in a single atomic manifest create (no intermediate
    * "deleted but not yet re-inserted" state can ever be observed).
    * Cost is O(batch): no data file is rewritten — the constant-time
    * upsert path where [[merge]] pays copy-on-write and
    * [[mergeBucketed]] pays a bucket rewrite. Read with [[read]];
    * [[compactMor]] materializes. Upserting a key twice in one batch
    * keeps both rows (same contract as [[merge]] upserts).
    */
  def upsertMor(spark: SparkSession, table: String, batch: DataFrame,
      keyCol: String, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{col => c}
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.upsertMor: $table has no committed version")
    require(batch.columns.contains(keyCol),
      s"Snapshots.upsertMor: batch needs a '$keyCol' column")
    val tableCols = SnapshotFileIndex.recordedSchema(table, v,
      this.properties(spark, table, v)).fieldNames.toSeq
    require(batch.columns.sorted.sameElements(tableCols.sorted),
      s"Snapshots.upsertMor: batch columns [${batch.columns.sorted.mkString(",")}] " +
        s"must match table columns [${tableCols.sorted.mkString(",")}]")
    enforceChecks(spark, table, batch)
    enforceUnique(spark, table, batch, vsParent = false)
    enforceForeignKeys(spark, table, batch)
    val keys = batch.select(c(keyCol).cast("long").as(keyCol))
      .filter(c(keyCol).isNotNull).distinct()
    val (fs, root) = fsOf(spark, table)
    val batchDir = freshBatchDir(root)
    withMicrosTs(spark) {
      batch.select(tableCols.map(c): _*)
        .write.mode("errorifexists").parquet(batchDir.toString)
    }
    val tmpDel = new Path(batchDir, "_del_tmp")
    keys.coalesce(1).write.parquet(tmpDel.toString)
    listParquet(fs, tmpDel).foreach { st =>
      require(fs.rename(st.getPath,
        new Path(batchDir, DelPrefix + st.getPath.getName)),
        s"Snapshots.upsertMor: rename failed for ${st.getPath}")
    }
    fs.delete(tmpDel, true)
    val entries = entriesFor(spark, table, batchDir,
      (statsCols :+ keyCol).distinct, bloomCols, strStatsCols)
    publishManifest(spark, table,
      properties + (SchemaProp -> batch.select(tableCols.map(c): _*).schema.json),
      entries, baseFor = parent => manifest(spark, table, parent))
  }

  /** MERGE-ON-READ delete by ARBITRARY PREDICATE: commit a position
    * DELETE VECTOR — one small parquet of (file name, row index) pairs
    * naming exactly the visible rows matching `condition` — instead of
    * rewriting any data file. This is the delete shape equality
    * tombstones cannot express: no key column needed, non-key
    * predicates, and deleting ONE of two bit-identical rows all work,
    * at the same kilobytes-per-commit cost (Delta's deletion vectors /
    * Iceberg's positional deletes). Ordering is by data sequence number
    * exactly like [[deleteWhere]]: the DV masks only files that existed
    * when it was computed, so later appends are never affected.
    *
    * The position scan reads only what the predicate needs (Catalyst
    * prunes columns; at scale, recorded `statsCols` envelopes let file
    * pruning bound it further). A concurrent commit that
    * REWRITES a referenced file (compaction/merge) would silently
    * strand the positions — the publish re-validates that every
    * referenced file name is still live in the final parent manifest
    * and refuses otherwise, closing that race.
    */
  def deleteVector(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      properties: Map[String, String] = Map.empty,
      planHook: () => Unit = () => ()): Int = {
    import org.apache.spark.sql.functions.{col => c}
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.deleteVector: $table has no committed version")
    val all = manifest(spark, table, v)
    val (masks, data) = all.partition(e => isMask(e.path))
    require(data.nonEmpty, s"Snapshots: version $v of $table is empty")
    requireUniqueNames(data, table, v)
    val visible = readEntries(spark, table, v, data, masks,
      withPosMeta = true)
    // a zero-match delete is a NO-OP, not a commit: an empty dv- file
    // would knock the table off every metadata fast path (MetaAgg,
    // the flat index, partition listings) until a compactMor, for
    // nothing — return the unchanged head instead (idempotent cleanups
    // re-fire freely)
    val matched = visible.filter(condition)
      .select(c(MetaFile).as(DvFileCol), c(MetaPos).as(DvPosCol))
      .localCheckpoint()
    if (matched.isEmpty) return v
    planHook() // test seam: positions planned, commit not yet published
    val props = properties ++ this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap
    publishDv(spark, table, matched, Seq.empty, props, "deleteVector",
      plannedParent = v)
  }

  /** Write a position vector (optionally alongside already-staged data
    * entries in `withEntries`' batch) and publish, PINNED to the version
    * the positions were computed against (`plannedParent`) — the same
    * optimistic-concurrency discipline as every other row-level commit
    * shape (uniquePinnedBase, setSpec, widenColumn). A mere liveness
    * check on the referenced file NAMES is not enough: two concurrent
    * updateWhere calls matching the same row never remove each other's
    * files, so both would pass a liveness check and publish — each adds
    * its own rewritten copy while both DVs mask only the ORIGINAL
    * positions, silently duplicating the row (and an updateWhere's
    * rewritten rows would escape a concurrent deleteVector's
    * predicate). Pinning parent == plannedParent makes any concurrent
    * commit — mask or data — abort this publish loudly for a retry that
    * recomputes positions against the new head.
    */
  private def publishDv(spark: SparkSession, table: String,
      positions: DataFrame, withEntries: Seq[FileEntry],
      props: Map[String, String], op: String, plannedParent: Int,
      batchDir: Option[Path] = None): Int = {
    val (fs, root) = fsOf(spark, table)
    val batch = batchDir.getOrElse(freshBatchDir(root))
    val tmp = new Path(batch, "_dv_tmp")
    positions.repartition(1).sortWithinPartitions(DvFileCol, DvPosCol)
      .write.parquet(tmp.toString)
    listParquet(fs, tmp).foreach { st =>
      require(fs.rename(st.getPath,
        new Path(batch, DvPrefix + st.getPath.getName)),
        s"Snapshots.$op: rename failed for ${st.getPath}")
    }
    fs.delete(tmp, true)
    val dvEntries = entriesFor(spark, table, batch, Seq(DvPosCol),
      Seq.empty, Seq(DvFileCol)).filter(e => isDv(e.path))
    publishManifest(spark, table, props, withEntries ++ dvEntries,
      baseFor = parent => {
        require(parent == plannedParent, s"Snapshots.$op: concurrent " +
          s"commit on $table (positions computed against " +
          s"v$plannedParent, parent is now v$parent) — retry")
        manifest(spark, table, parent)
      })
  }

  /** MERGE-ON-READ UPDATE: ONE atomic commit holding a position DV of
    * the rows matching `condition` plus data files carrying those rows
    * re-written with `set` applied — because both ride the same data
    * sequence number and a mask applies only to LOWER sequences, the
    * old copies disappear while the updated rows survive, with no
    * intermediate state ever observable (the [[upsertMor]] discipline,
    * keyed by position instead of key). Cost is O(matched rows); no
    * data file is rewritten. CHECK and FK constraints run on the
    * updated rows; updating a UNIQUE key column is refused (the
    * replaced rows' keys are the only ones provably safe — key-changing
    * updates are [[merge]]'s job).
    */
  def updateWhere(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      statsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      planHook: () => Unit = () => (),
      enrich: Option[DataFrame => DataFrame] = None): Int = {
    import org.apache.spark.sql.functions.{col => c}
    val v = latestVersion(spark, table)
    require(v > 0, s"Snapshots.updateWhere: $table has no committed version")
    require(set.nonEmpty, "Snapshots.updateWhere: empty SET")
    val recorded = SnapshotFileIndex.recordedSchema(table, v,
      this.properties(spark, table, v))
    val tableCols = recorded.fieldNames.toSeq
    set.foreach { case (k, _) => require(tableCols.contains(k),
      s"Snapshots.updateWhere: no column '$k' in $table") }
    uniqueKeySets(spark, table).foreach { ks =>
      val hit = ks.filter(k => set.exists(_._1 == k))
      require(hit.isEmpty, s"Snapshots.updateWhere: SET touches UNIQUE " +
        s"key column(s) ${hit.mkString(",")} — key-changing updates must " +
        "go through merge, which proves the new keys free")
    }
    val all = manifest(spark, table, v)
    val (masks, data) = all.partition(e => isMask(e.path))
    require(data.nonEmpty, s"Snapshots: version $v of $table is empty")
    requireUniqueNames(data, table, v)
    val matched = readEntries(spark, table, v, data, masks,
      withPosMeta = true).filter(condition)
      .localCheckpoint() // one scan feeds both the DV and the new rows
    if (matched.isEmpty) return v // zero matches: no-op, not a mask commit
    planHook() // test seam: positions planned, commit not yet published
    // optional lookup enrichment (decorrelated scalar-subquery SET
    // values join per-key aggregates in): it must be ROW-PRESERVING —
    // the DV positions come from `matched`, the rewritten rows from the
    // enriched frame, and they must stay 1:1. A left join can only
    // preserve or duplicate, never drop, so count-equality proves
    // exactly one match per row.
    val enriched = enrich match {
      case None => matched
      case Some(f) =>
        val e = f(matched)
        require(e.count() == matched.count(),
          s"Snapshots.updateWhere: enrichment changed the matched row " +
            "count — lookup joins must be per-key-unique")
        e
    }
    val updated0 = set.foldLeft(enriched) { case (df, (k, col)) =>
      df.withColumn(k, col) }
    // the rewritten rows must keep the RECORDED types: a type-changing
    // SET (long / 2 is a double) would otherwise write files the
    // recorded schema can no longer read — every later read of every
    // later version would fail after a successful commit
    val updated = updated0.select(recorded.fields.toSeq.map(f =>
      c(f.name).cast(f.dataType).as(f.name)): _*)
    enforceChecks(spark, table, updated)
    enforceForeignKeys(spark, table, updated)
    val (fs, root) = fsOf(spark, table)
    val batchDir = freshBatchDir(root)
    withMicrosTs(spark) {
      updated.write.mode("errorifexists").parquet(batchDir.toString)
    }
    val dataEntries = entriesFor(spark, table, batchDir,
      statsCols.distinct, Seq.empty, Seq.empty)
    val props = properties ++ this.properties(spark, table, v).get(SchemaProp)
      .map(SchemaProp -> _).toMap
    publishDv(spark, table,
      matched.select(c(MetaFile).as(DvFileCol), c(MetaPos).as(DvPosCol)),
      dataEntries, props, "updateWhere", plannedParent = v,
      batchDir = Some(batchDir))
  }

  /** The grouped body of [[read]] over an explicit entry subset of
    * version `v` — also what the internal readers scan (merge's touched
    * files, [[diffAdded]], [[compactSmall]], [[changes]], the position
    * scans of [[deleteVector]]/[[updateWhere]]). `data` is grouped by
    * schema era ([[eraGroupsOf]]) and, within an era, by the `masks`
    * committed AFTER it (a mask applies only to data with a LOWER
    * sequence number; the group count stays ≤ the commits since the last
    * compaction). Each group scans through its own [[SnapshotFileIndex]]
    * slice — so pushed filters skip files from manifest evidence on a
    * masked or evolved version too — is re-aliased/cast/defaulted to the
    * version's CURRENT schema, and has its position deletes and equality
    * tombstones subtracted by anti-joins on the scan's
    * `_metadata.file_name`/`_metadata.row_index` and the tombstone key.
    * Mask sets are kilobytes by construction (AQE broadcasts the anti
    * side); deletes-of-deletes union before the join, so re-deleting is
    * idempotent. `withPosMeta = true` keeps the (file name, row index)
    * columns on the result. A mask listed in `data` is refused: the
    * rewriting callers pass no masks and cannot carry one.
    */
  private def readEntries(spark: SparkSession, table: String, v: Int,
      data: Seq[FileEntry], masks: Seq[FileEntry],
      withPosMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col => c}
    import org.apache.spark.sql.types.StructType
    require(data.forall(e => !isMask(e.path)),
      s"Snapshots: version $v of $table carries merge-on-read deletes " +
        "this operation cannot rewrite — materialize them with compactMor")
    require(data.nonEmpty, s"Snapshots: version $v of $table is empty")
    val (del, dvs) = masks.partition(e => isTombstone(e.path))
    if (dvs.nonEmpty) requireUniqueNames(data, table, v)
    val props = properties(spark, table, v)
    val st = SnapshotFileIndex.recordedSchema(table, v, props)
    require(!withPosMeta || !st.fieldNames.exists(n =>
      n == MetaFile || n == MetaPos),
      s"Snapshots: table $table has a column shadowing the reserved " +
        s"position-metadata names $MetaFile/$MetaPos")
    lazy val keyCol =
      spark.read.parquet(tombPaths(table, del): _*).schema.head.name
    val groups = eraGroupsOf(st, props, data).flatMap(g =>
      g.entries.groupBy(e => masks.filter(_.seq > e.seq)).toSeq
        .sortBy(_._2.map(_.seq).min).map { case (m, es) => (g, es, m) })
    groups.map { case (g, es, applic) =>
      val (applicDel, applicDv) = applic.partition(e => isTombstone(e.path))
      val needMeta = withPosMeta || applicDv.nonEmpty
      val index = new SnapshotFileIndex(spark, table, v, Some(es),
        Some(StructType(g.eraSchema.fields.map(_.copy(nullable = true)))),
        eraSlice = true)
      // the position columns hang directly off the scan, before the era
      // projection — unions do not propagate metadata columns
      val metaCols =
        if (!needMeta) Nil
        else Seq(c("_metadata.file_name").as(MetaFile),
          c("_metadata.row_index").as(MetaPos))
      val base = frameOf(spark, index).select(st.fields.toSeq.map(f =>
        c(g.eraNameOf(f.name)).cast(f.dataType).as(f.name)) ++ metaCols: _*)
      var df = g.defaults.foldLeft(base) { (d2, d) =>
        d2.withColumn(d.name,
          coalesce(c(d.name), defaultLit(d).cast(st(d.name).dataType)))
      }
      if (applicDv.nonEmpty) {
        val dv = broadcast(
          spark.read.parquet(tombPaths(table, applicDv): _*).distinct())
        df = df.join(dv, df(MetaFile) === dv(DvFileCol) &&
          df(MetaPos) === dv(DvPosCol), "left_anti")
      }
      if (applicDel.nonEmpty) {
        val keys = spark.read.parquet(tombPaths(table, applicDel): _*)
          .distinct()
        df = df.join(keys, df(keyCol).cast("long") === keys(keyCol),
          "left_anti")
      }
      if (needMeta && !withPosMeta) df.drop(MetaFile, MetaPos) else df
    }.reduce(_.unionByName(_))
  }

  private def tombPaths(table: String, es: Seq[FileEntry]): Seq[String] =
    es.map(e =>
      if (new Path(e.path).isAbsolute) e.path else s"$table/${e.path}")

  /** CHANGE DATA FEED: the row-level changes committed in versions
    * `(from, to]`, as the table's columns plus `_change_type`
    * ('insert' | 'delete') and `_commit_version`. `from = 0` means
    * "since before the first commit" (the full history). An upsert
    * ([[upsertMor]]) surfaces as the delete of the prior row plus the
    * insert of the new one at the same version.
    *
    * Derivation is manifest-delta-scaled, never a full-table diff:
    *  - files ADDED at a version are its inserts, read directly;
    *  - tombstones added at a version delete the PARENT version's
    *    visible rows matching their keys — computed over only the parent
    *    files whose key envelope intersects the tombstone's (manifest
    *    stats prune the rest driver-side), so a 10-key delete against a
    *    100 TB table reads the few files that could hold those keys;
    *  - commits stamped [[DataChangeProp]]=false (compaction, rebucket)
    *    rewrite layout, not content, and are skipped;
    *  - any OTHER commit that drops files from its parent (merge
    *    copy-on-write, overwrite, rollback) is refused loudly: rewritten
    *    files do not say which of their rows changed, so a manifest-level
    *    feed would be wrong — diff those lineages by content instead.
    */
  def changes(spark: SparkSession, table: String, from: Int, to: Int)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val vs = versions(spark, table)
    require(from >= 0 && to >= from,
      s"Snapshots.changes: need 0 <= from <= to, got [$from, $to]")
    require(from == 0 || vs.contains(from),
      s"Snapshots.changes: version $from of $table does not exist")
    require(vs.contains(to),
      s"Snapshots.changes: version $to of $table does not exist")
    // a rename (or drop) inside the range would union pre-event frames
    // and post-event frames under DIFFERENT shapes — allowMissingColumns
    // would null-fill both silently; refuse and let the caller split
    // the range. An event's boundary P is the latest committed version
    // BEFORE it, so pre-event frames exist in the range only when
    // from < P (strict: from == P means the range starts exactly at the
    // boundary — the single-step range over the event commit itself is
    // empty and safe, which is what keeps Replication.sync advancing
    // across schema evolution one version at a time)
    val toProps = properties(spark, table, to)
    val crossing = (renameEvents(toProps) ++ dropEvents(toProps))
      .filter(_.boundary > from)
    require(crossing.isEmpty,
      s"Snapshots.changes: range ($from, $to] of $table crosses schema " +
        s"evolution ${crossing.map(e => s"${e.from}>${e.to}").mkString(", ")}" +
        " — split the range at the evolution commit")
    // same refusal for add-column DEFAULTS: allowMissingColumns would
    // null-fill pre-event insert frames where the table reads the default
    val defCrossing = defaultEvents(toProps).filter(_.boundary > from)
    require(defCrossing.isEmpty,
      s"Snapshots.changes: range ($from, $to] of $table crosses " +
        s"add-column default(s) ${defCrossing.map(_.name).mkString(", ")}" +
        " — split the range at the evolution commit")
    // ... and type widenings: pre-event frames carry the narrow type and
    // a silent union coercion would hide which version changed the shape
    val widenCrossing = widenEvents(toProps).filter(_.boundary > from)
    require(widenCrossing.isEmpty,
      s"Snapshots.changes: range ($from, $to] of $table crosses type " +
        s"widening(s) ${widenCrossing.map(_.name).mkString(", ")} — " +
        "split the range at the evolution commit")
    val frames = vs.filter(v => v > from && v <= to).flatMap { v =>
      if (properties(spark, table, v).get(DataChangeProp).contains("false"))
        Seq.empty
      else {
        val parentV = vs.filter(_ < v).lastOption.getOrElse(0)
        val parent =
          if (parentV == 0) Seq.empty else manifest(spark, table, parentV)
        val cur = manifest(spark, table, v)
        val curPaths = cur.map(_.path).toSet
        val removed = parent.filterNot(e => curPaths(e.path))
        require(removed.isEmpty,
          s"Snapshots.changes: version $v of $table drops ${removed.size} " +
            "file(s) from its parent (merge/overwrite/rollback) — row-level " +
            "changes are not derivable from such a commit; layout-only " +
            s"rewrites must carry $DataChangeProp=false")
        val parentPaths = parent.map(_.path).toSet
        val added = cur.filterNot(e => parentPaths(e.path))
        val (tomb, rest) = added.partition(e => isTombstone(e.path))
        val (dvAdds, data) = rest.partition(e => isDv(e.path))
        val ins =
          if (data.isEmpty) None
          else Some(readEntries(spark, table, v, data, Nil)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        // position-DV deletes: pre-images are the parent's visible rows
        // at exactly the named (file, position) pairs — the file-name
        // set prunes the parent scan to only the touched files, tighter
        // than any envelope
        val dvDel =
          if (dvAdds.isEmpty) None
          else {
            val dv = spark.read.parquet(tombPaths(table, dvAdds): _*)
              .distinct()
            val names = dv.select(DvFileCol).distinct().collect()
              .map(_.getString(0)).toSet
            val (pd, pmask) = parent.partition(e => !isMask(e.path))
            val candidates =
              pd.filter(e => names.contains(new Path(e.path).getName))
            if (candidates.isEmpty) None
            else {
              val visible = readEntries(spark, table, parentV,
                candidates, pmask, withPosMeta = true)
              Some(visible.join(
                  org.apache.spark.sql.functions.broadcast(dv),
                  visible(MetaFile) === dv(DvFileCol) &&
                    visible(MetaPos) === dv(DvPosCol), "left_semi")
                .drop(MetaFile, MetaPos)
                .withColumn("_change_type", lit("delete"))
                .withColumn("_commit_version", lit(v)))
            }
          }
        val del =
          if (tomb.isEmpty) None
          else {
            val keyCol =
              spark.read.parquet(tombPaths(table, tomb): _*).schema.head.name
            // combined tombstone key envelope → prove parent files
            // untouched driver-side (rows==0 entries have no stats and
            // can contribute no pre-image either way)
            val envs = tomb.flatMap(_.stats.get(keyCol))
            val env = if (envs.size == tomb.count(_.rows > 0) && envs.nonEmpty)
              Some((envs.map(_._1).min, envs.map(_._2).max)) else None
            val (pd, pdel) = parent.partition(e => !isMask(e.path))
            val candidates = pd.filter { e =>
              e.rows > 0 && (env match {
                case Some((lo, hi)) => e.stats.get(keyCol) match {
                  case Some((mn, mx)) => mx >= lo && mn <= hi
                  case None => true // no stats → cannot prove untouched
                }
                case None => true
              })
            }
            if (candidates.isEmpty) None
            else {
              val visible =
                readEntries(spark, table, parentV, candidates, pdel)
              val keys = spark.read.parquet(tombPaths(table, tomb): _*)
                .distinct()
              Some(visible.join(keys,
                  visible(keyCol).cast("long") === keys(keyCol), "left_semi")
                .withColumn("_change_type", lit("delete"))
                .withColumn("_commit_version", lit(v)))
            }
          }
        ins.toSeq ++ dvDel.toSeq ++ del.toSeq
      }
    }
    if (frames.isEmpty) {
      val schema = org.apache.spark.sql.types.StructType(
        read(spark, table, Some(to)).schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Materialize merge-on-read deletes: overwrite-commit the subtracted
    * content, returning the table to a pure-data representation every
    * reader (pruned scans, copy-on-write merge, bucketing) understands.
    * Stats/bloom/string-envelope columns are carried from the DATA
    * entries. The delete-heavy table's OPTIMIZE step.
    */
  def compactMor(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val (fs, root) = fsOf(spark, table)
    val cur = latestVersion(spark, table)
    val data = manifest(spark, table, cur).filterNot(e => isMask(e.path))
    val bytes = data.map(e =>
      fs.getFileStatus(new Path(root, e.path)).getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val statsCols = data.flatMap(_.stats.keys).distinct.sorted
    val bloomCols = data.flatMap(_.blooms.keys).distinct.sorted
    val strCols = data.flatMap(_.strStats.keys).distinct.sorted
    val curProps2 = properties(spark, table, cur)
    val statsColsM = statsCols
      .flatMap(n => currentColName(curProps2, n)).distinct.sorted
    val bloomColsM = bloomCols
      .flatMap(n => currentColName(curProps2, n)).distinct.sorted
    val strColsM = strCols
      .flatMap(n => currentColName(curProps2, n)).distinct.sorted
    // same partition-spec routing as compactVersion: materializing
    // masks must not strip a declared layout
    if (Partitioning.currentSpec(spark, table).nonEmpty)
      return Partitioning.rewriteLayout(spark, table,
        statsCols = statsColsM, bloomCols = bloomColsM,
        strStatsCols = strColsM)
    val clusterCols = clustering(spark, table).map(_._2).getOrElse(Seq.empty)
    commit(clusteredLayout(spark, table, read(spark, table, Some(cur)),
        nOut), table,
      overwrite = true, statsCols = (statsColsM ++ clusterCols).distinct,
      bloomCols = bloomColsM,
      strStatsCols = strColsM,
      properties = Map(DataChangeProp -> "false"))
  }

  /** Zero-copy clone: publish `target`'s version 1 as a manifest whose
    * entries POINT INTO `source`'s data files (absolute paths; stats,
    * blooms and schema carried verbatim) — no data byte is read or
    * copied, so cloning a 100 TB table costs one manifest write. The
    * clone then evolves independently: appends, merges and compactions
    * write NEW files under the clone's own root and progressively
    * replace the shared entries (copy-on-write at file granularity),
    * while the source never sees any of it — the dev/test-against-prod
    * and table-fork primitive.
    *
    * Ownership caveat (the Delta/Iceberg shallow-clone contract): the
    * clone BORROWS the source's files. [[vacuum]] / [[removeOrphans]] on
    * the SOURCE judge liveness from the source's own manifests only and
    * can delete files a clone still references — run them on a cloned
    * source only after the clones are dropped or fully rewritten.
    * Maintenance on the CLONE is safe in both directions: its vacuum
    * only ever deletes files under its own root.
    *
    * The target must not exist yet (no versions); clone-into-existing
    * would silently orphan the target's history. A version carrying
    * merge-on-read masks is refused: the clone stamps every entry it
    * publishes with its own first sequence number, and a mask covers
    * only files of a lower one, so the source's deletes would come back.
    */
  def cloneTable(spark: SparkSession, source: String, target: String,
      version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, source))
    val entries = manifest(spark, source, v)
    require(!entries.exists(e => isMask(e.path)),
      s"Snapshots.cloneTable: version $v of $source carries merge-on-read " +
        "masks — run compactMor first")
    val (sfs, sroot) = fsOf(spark, source)
    val srcAbs = sfs.makeQualified(sroot).toUri.getPath
    val abs = entries.map(e =>
      if (new Path(e.path).isAbsolute) e
      else e.copy(path = s"$srcAbs/${e.path}"))
    val props = properties(spark, source, v) ++ Map(
      "graft.clone.source" -> srcAbs,
      "graft.clone.sourceVersion" -> v.toString)
    publishManifest(spark, target, props, abs, baseFor = parent => {
      require(parent == 0 && versions(spark, target).isEmpty,
        s"Snapshots.cloneTable: target $target already has versions — " +
          "clone only into a fresh table")
      Seq.empty
    })
  }

  /** Delete data files that NO manifest (complete or half-written)
    * references — debris from crashed or aborted writers: a commit writes
    * its data batch BEFORE the manifest create, so a crash in between, a
    * lost commit race that gave up, or an aborted [[merge]] all leave an
    * unreferenced batch directory behind. Distinct from [[vacuum]], which
    * retires files of SUPERSEDED versions; this removes files that never
    * became part of any version. `olderThanMs` guards the race with an
    * in-flight writer that has written its batch but not yet published
    * (default 1 h — files younger than that are kept). Returns deleted
    * relative paths.
    */
  def removeOrphans(spark: SparkSession, table: String,
      olderThanMs: Long = 3600L * 1000): Seq[String] = {
    val (fs, root) = fsOf(spark, table)
    val dir = new Path(root, "_manifests")
    // reference set from EVERY manifest file, including terminator-less
    // ones: a half-written manifest's files may belong to a writer that
    // is still alive and about to finish
    val referenced: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).toSeq.flatMap { st =>
        val in = fs.open(st.getPath)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = text.split("\n", -1).toSeq
        // a transaction manifest whose status resolved to "abort" can
        // never be read again — its references do not pin files (shared
        // files stay pinned by the live manifests that also list them).
        // In-doubt pendings DO pin: they may still commit.
        val aborted = lines
          .find(_.startsWith(s"#$TxnStatusProp="))
          .map(_.split("=", 2)(1))
          .exists { p =>
            val sp = new Path(p)
            readStatusOpt(sp.getFileSystem(fs.getConf), sp).contains("abort")
          }
        if (aborted) Seq.empty
        else lines
          .filterNot(l => l.isEmpty || l == Header || l == Footer ||
            l.startsWith("#"))
          .flatMap(l => scala.util.Try(parse(l).path).toOption)
      }.toSet
    val rootUri = fs.makeQualified(root).toUri
    val cutoff = System.currentTimeMillis() - olderThanMs
    def rel(st: FileStatus): String =
      rootUri.relativize(st.getPath.toUri).getPath
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return Seq.empty
    // whole-batch-dir granularity: a batch dir with NO referenced parquet
    // file and nothing younger than the horizon is deleted recursively,
    // so _SUCCESS markers and the directory itself are reclaimed too (a
    // per-file delete would accumulate empty dirs forever); a dir holding
    // any referenced or fresh file keeps ALL its bytes
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
      val all = {
        val it = fs.listFiles(d.getPath, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
        while (it.hasNext) buf += it.next()
        buf.toSeq
      }
      val keep = all.exists(st =>
        st.getModificationTime >= cutoff ||
          (st.getPath.getName.endsWith(".parquet") && referenced.contains(rel(st))))
      if (!keep && all.nonEmpty) {
        deleted ++= all.filter(_.getPath.getName.endsWith(".parquet")).map(rel)
        fs.delete(d.getPath, true)
      }
    }
    deleted.toSeq
  }

  /** Incremental compaction: rewrite ONLY the latest version's files
    * smaller than `minBytes` into ~`targetBytes` outputs; files already
    * big enough are CARRIED into the new manifest untouched (stats and
    * blooms included). Rewrite cost is proportional to the small-file
    * bytes — the OPTIMIZE loop a streaming-ingest table runs
    * continuously, where [[compactVersion]]'s full rewrite would pay for
    * the whole table every cycle. No-op (returns the current version)
    * when fewer than two small files exist.
    */
  def compactSmall(spark: SparkSession, table: String, minBytes: Long,
      targetBytes: Long = 128L << 20): Int = {
    require(minBytes > 0 && targetBytes > 0,
      s"minBytes/targetBytes must be positive, got $minBytes/$targetBytes")
    val (fs, root) = fsOf(spark, table)
    val cur = latestVersion(spark, table)
    require(cur > 0, s"Snapshots.compactSmall: $table has no committed version")
    val entries = manifest(spark, table, cur)
    val (small, big) = entries.partition(e =>
      fs.getFileStatus(new Path(root, e.path)).getLen < minBytes)
    if (small.size <= 1) return cur
    require(!entries.exists(e => isMask(e.path)),
      s"Snapshots.compactSmall: version $cur of $table carries " +
        "merge-on-read masks — run compactMor first")
    val bytes = small.map(e =>
      fs.getFileStatus(new Path(root, e.path)).getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // union across ALL entries: a stats-less head entry (e.g. a 0-row
    // file) must not silently drop envelopes from the rewritten files
    val statsCols = entries.flatMap(_.stats.keys).distinct.sorted
    val bloomCols = entries.flatMap(_.blooms.keys).distinct.sorted
    val strCols = entries.flatMap(_.strStats.keys).distinct.sorted
    commitWith(readEntries(spark, table, cur, small, Nil).repartition(nOut),
      table, statsCols, Map(DataChangeProp -> "false"), bloomCols,
      baseFor = parent => {
        require(parent == cur, s"Snapshots.compactSmall: concurrent commit " +
          s"on $table (planned against v$cur, parent is now v$parent) — retry")
        big
      }, strStatsCols = strCols)
  }

  /** Commit history as a DataFrame: one row per committed version with
    * its file count, exact manifest row count, and commit properties
    * (sorted `k=v` pairs, schema property elided — it is layout, not
    * provenance). Driver-side manifest reads only; the DESCRIBE HISTORY
    * surface of the table format.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    val rows = versions(spark, table).map { v =>
      val m = manifest(spark, table, v)
      val props = properties(spark, table, v).toSeq
        .filterNot(p => p._1 == SchemaProp || p._1 == CommitTsProp)
        .sortBy(_._1)
        .map { case (k, x) => s"$k=$x" }.mkString(";")
      (v, m.size, m.map(_.rows).sum, props)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_rows", "commit_props")
  }

  /** Drop all but the last `keepLast` versions and delete every data file
    * no retained manifest references. Files shared between dropped and
    * retained versions (append lineage) survive, as do versions a ref
    * pins ([[Branches.pinnedVersions]] — tags and live branches' fork
    * points), so a named snapshot can never dangle. Returns the deleted
    * data file paths (relative).
    */
  def vacuum(spark: SparkSession, table: String, keepLast: Int = 1)
      : Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (fs, root) = fsOf(spark, table)
    // settle in-doubt transactions first: vacuum judges liveness from
    // committed versions, so a pending that could still flip to
    // "commit" AFTER its files were reclaimed must be aborted NOW (the
    // same single-file arbiter the commit path uses)
    resolveInDoubtTxns(fs, root, latestVersion(spark, table))
    val all = versions(spark, table)
    val pinned = Branches.pinnedVersions(spark, table)
    val (drop, keep) = {
      val (d, k) = all.splitAt(math.max(0, all.size - keepLast))
      (d.filterNot(pinned), d.filter(pinned) ++ k)
    }
    val referenced = keep.flatMap(v => manifest(spark, table, v))
      .map(_.path).toSet
    val rootUri = fs.makeQualified(root).toUri
    val dead = listParquet(fs, new Path(root, "data"))
      .map(st => rootUri.relativize(st.getPath.toUri).getPath)
      .filterNot(referenced.contains)
    dead.foreach(p => fs.delete(new Path(root, p), false))
    drop.foreach(v => fs.delete(manifestPath(root, v), false))
    dead
  }

  // ---- multi-table atomic transactions --------------------------------

  /** One table's write inside a [[commitTxn]] transaction. */
  final case class TxnWrite(df: DataFrame, table: String,
      overwrite: Boolean = false, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty)

  /** Commit several tables ATOMICALLY: either every write becomes
    * visible or none does — the cross-table consistency a fact table and
    * its rollup (or a data table and its index) need, which single-table
    * commit protocols (Delta, Iceberg v2) cannot give.
    *
    * Protocol (two-phase with a single-file decision point):
    *  1. each table's batch is staged and its manifest published
    *     PENDING — complete (terminator and all) but carrying
    *     [[TxnStatusProp]] = the path of one shared status file; every
    *     reader treats such a manifest as absent until that file says
    *     "commit";
    *  2. the COMMIT POINT is one create-no-overwrite of the status file
    *     with content "commit". All pending manifests point at the same
    *     file, so all tables flip committed in one atomic event.
    *
    * Concurrency: a plain commit that finds an in-doubt pending manifest
    * above its table's committed head must settle it before parenting
    * (else the lost-update race) — it attempts to create the SAME status
    * file with content "abort". Create-no-overwrite on one path is the
    * arbiter: exactly one of {coordinator-commit, resolver-abort} wins.
    * A lost coordinator throws; its pending manifests are dead (occupied
    * slots, invisible), its staged files crash-shaped debris for
    * [[removeOrphans]].
    *
    * Crash anatomy: before any manifest — plain debris; between
    * manifests — every published pending is in-doubt, first later
    * committer on ANY of the tables aborts them all through the shared
    * status file; after "commit" — durable everywhere.
    *
    * `statusHook` is a deterministic-concurrency test seam: runs after
    * all pendings are published, before the status create. Returns
    * (table → committed version), in input order.
    */
  def commitTxn(spark: SparkSession, writes: Seq[TxnWrite], txnDir: String,
      statusHook: () => Unit = () => ()): Seq[(String, Int)] = {
    require(writes.nonEmpty, "Snapshots.commitTxn: no writes")
    require(writes.map(w => new Path(w.table).toUri.getPath).distinct.size ==
      writes.size, "Snapshots.commitTxn: one write per table")
    val txnId = java.util.UUID.randomUUID().toString.replace("-", "")
    val sp = new Path(new Path(txnDir), s"txn-$txnId.status")
    val sfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sfs.mkdirs(sp.getParent)
    val statusStr = sfs.makeQualified(sp).toString
    // a failure while staging a LATER table (constraint violation, bad
    // batch) must not leave the earlier tables' already-published
    // pending manifests in doubt — they would occupy version slots and
    // pin staged files until some unrelated committer happens to race
    // an abort in (possibly never, on low-write tables). The
    // coordinator settles its own wreckage: write 'abort' into the
    // status file (create-no-overwrite, same single-file arbiter as
    // everywhere) before rethrowing, so every pending reads as dead
    // immediately and removeOrphans can reclaim the staged bytes.
    val pending =
      try writes.map { w =>
        enforceChecks(spark, w.table, w.df)
        val pinnedBase = uniquePinnedBase(spark, w.table, w.overwrite,
          enforce = true)
        enforceUnique(spark, w.table, w.df, vsParent = !w.overwrite)
        val (_, entries) = writeBatch(w.df, w.table, w.statsCols,
          w.bloomCols, w.strStatsCols)
        val v = publishManifest(spark, w.table,
          w.properties + (SchemaProp -> w.df.schema.json) +
            (TxnStatusProp -> statusStr),
          entries, baseFor = pinnedBase)
        w.table -> v
      } catch {
        case e: Throwable =>
          val created =
            try { Some(sfs.create(sp, false)) }
            catch { case _: java.io.IOException => None }
          created.foreach { out =>
            try out.write("abort".getBytes("UTF-8")) finally out.close()
          }
          throw e
      }
    statusHook()
    val created =
      try { Some(sfs.create(sp, false)) }
      catch { case _: java.io.IOException => None }
    created match {
      case Some(out) =>
        try out.write("commit".getBytes("UTF-8")) finally out.close()
      case None =>
        val verdict = readStatusOpt(sfs, sp).getOrElse("<unreadable>")
        sys.error(s"Snapshots.commitTxn: transaction $txnId was resolved " +
          s"'$verdict' by a concurrent committer — its pending versions " +
          "are dead on every table; retry the whole transaction")
    }
    pending
  }

  private def readStatusOpt(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  /** Is this manifest's version visible? Non-transactional manifests
    * always are; a pending-transaction manifest is visible only once its
    * status file resolved to "commit".
    */
  private def txnCommittedProps(fs: FileSystem,
      props: Map[String, String]): Boolean =
    props.get(TxnStatusProp) match {
      case None => true
      case Some(p) =>
        val sp = new Path(p)
        readStatusOpt(sp.getFileSystem(fs.getConf), sp).contains("commit")
    }

  private def txnCommitted(fs: FileSystem, m: ManifestData): Boolean =
    txnCommittedProps(fs, m.props)

  private def committedManifestOpt(fs: FileSystem, root: Path, v: Int)
      : Option[ManifestData] =
    readManifestOpt(fs, root, v).filter(m => txnCommitted(fs, m))

  /** PROPS-ONLY manifest read with the full completeness check, never
    * parsing the per-file body: the header line and the leading
    * `#k=v` props stream in (our writers emit props FIRST), and the
    * terminator is verified by ONE positioned tail read (the writer's
    * `mkString("\n")` layout puts `"\nend"` in the last four bytes, no
    * trailing newline). Deciding commit-ness and reading the metadata
    * channel — `versions()`, `latestVersion()`, `properties()`, every
    * constraint/era/spec lookup — therefore costs O(props) + two small
    * reads, not O(files): on a million-file manifest that is the
    * difference between microseconds and re-parsing tens of MBs on
    * EVERY metadata touch. A half-written manifest still reads as
    * absent (missing/garbled tail).
    */
  private def readPropsOpt(fs: FileSystem, p: Path)
      : Option[Map[String, String]] = {
    val len =
      try fs.getFileStatus(p).getLen
      catch { case _: java.io.FileNotFoundException => return None }
    if (len < Header.length + Footer.length + 2) return None
    val in = fs.open(p)
    try {
      val tail = new Array[Byte](Footer.length + 1)
      in.readFully(len - tail.length, tail)
      if (new String(tail, "UTF-8") != "\n" + Footer) return None
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      if (br.readLine() != Header) return None
      val props = Map.newBuilder[String, String]
      var line = br.readLine()
      while (line != null && line.startsWith("#")) {
        val Array(k, v2) = line.stripPrefix("#").split("=", 2)
        props += (k -> v2)
        line = br.readLine()
      }
      Some(props.result())
    } finally in.close()
  }

  private def committedPropsOpt(fs: FileSystem, root: Path, v: Int)
      : Option[Map[String, String]] =
    readPropsOpt(fs, manifestPath(root, v))
      .filter(ps => txnCommittedProps(fs, ps))

  /** Settle every IN-DOUBT transactional manifest of this table by
    * racing an "abort" into its status file (create-no-overwrite — the
    * coordinator's "commit" and this abort cannot both win). After this
    * returns, no manifest of the table is in limbo: each is committed,
    * aborted, or a plain non-transactional commit.
    */
  private def resolveInDoubtTxns(fs: FileSystem, root: Path,
      above: Int): Unit = {
    occupiedSlots(fs, root).filter(_ > above).foreach { s =>
      readPropsOpt(fs, manifestPath(root, s)).foreach { props =>
        props.get(TxnStatusProp).foreach { p =>
          val sp = new Path(p)
          val sfs = sp.getFileSystem(fs.getConf)
          if (readStatusOpt(sfs, sp).isEmpty) {
            val created =
              try { Some(sfs.create(sp, false)) }
              catch { case _: java.io.IOException => None }
            created.foreach { out =>
              try out.write("abort".getBytes("UTF-8")) finally out.close()
            }
          }
        }
      }
    }
  }

  /** Every manifest file number present on disk, complete or not
    * ([[listedSlots]] with the commit path's 0-sentinel for an empty
    * table).
    */
  private def occupiedSlots(fs: FileSystem, root: Path): Seq[Int] = {
    val ns = listedSlots(fs, root)
    if (ns.isEmpty) Seq(0) else ns
  }

  // ---- bloom filters (1024 bits, 2 probes from one xxhash64) ----------

  private val BloomBits = 1024
  private val BloomWords = BloomBits / 64

  /** Per-file bloom bitsets for `cols`, computed in ONE pass over the
    * just-written batch directory (files × cols × ≤2048 distinct probe
    * positions — bounded driver collect regardless of row count).
    */
  private def fileBloomBits(spark: SparkSession, batchDir: String,
      cols: Seq[String]): Map[String, Map[String, Array[Long]]] = {
    if (cols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions._
    val probes = cols.map { cn =>
      val h = xxhash64(col(cn))
      struct(lit(cn).as("c"),
        pmod(h, lit(BloomBits)).cast("int").as("b1"),
        pmod(shiftrightunsigned(h, 10), lit(BloomBits)).cast("int").as("b2"))
    }
    val rows = spark.read.parquet(batchDir)
      .select(input_file_name().as("_f"), explode(array(probes: _*)).as("s"))
      .select(col("_f"), col("s.c").as("_c"), col("s.b1"), col("s.b2"))
      .distinct()
      .collect()
    rows.groupBy(r => new java.net.URI(r.getString(0)).getPath)
      .map { case (file, rs) =>
        file -> rs.groupBy(_.getString(1)).map { case (c, cr) =>
          val bits = new Array[Long](BloomWords)
          cr.foreach { r =>
            Seq(r.getInt(2), r.getInt(3)).foreach { b =>
              bits(b >> 6) |= (1L << (b & 63))
            }
          }
          c -> bits
        }
      }
  }

  /** Driver-side twin of the write path's probe computation: same
    * xxhash64 (Catalyst expression, same seed), same two positions.
    */
  private[sources] def bloomHash(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal.create(value)), 42L).eval(null).asInstanceOf[Long]
  }

  /** Evidence probe for [[SnapshotFileIndex]]: may `value` be present in
    * a file whose bloom bits are `bits`? Same hash discipline as the
    * write path.
    */
  private[sources] def bloomMightContain(bits: Array[Long], value: Any)
      : Boolean = mightContain(bits, bloomHash(value))

  /** Every physical representation `value` may have been BLOOM-HASHED at
    * in a file that stores a NARROWER era type (int→bigint /
    * float→double widens): XxHash64 hashes int 5 and long 5 differently,
    * so a widened probe must also try the lossless narrowing. A value
    * outside the narrow range keeps only its own representation — a
    * narrow-era file cannot contain it, and its recorded envelope
    * rejects it independently.
    */
  private[sources] def narrowReps(value: Any): Seq[Any] = value match {
    case l: java.lang.Long if l.longValue() == l.intValue().toLong =>
      Seq(l, Int.box(l.intValue()))
    // NaN: the round-trip equality below is FALSE for NaN (NaN != NaN in
    // Java) yet Spark SQL equality MATCHES NaN, so a double-NaN probe of
    // a float-era bloom must still try the float representation
    case d: java.lang.Double if d.isNaN =>
      Seq(d, Float.box(Float.NaN))
    case d: java.lang.Double if d.doubleValue() == d.floatValue().toDouble =>
      Seq(d, Float.box(d.floatValue()))
    case x => Seq(x)
  }

  private[sources] def mightContain(bits: Array[Long], h: Long): Boolean = {
    val b1 = (((h % BloomBits) + BloomBits) % BloomBits).toInt
    val b2 = ((h >>> 10) % BloomBits).toInt
    def set(b: Int) = (bits(b >> 6) & (1L << (b & 63))) != 0
    set(b1) && set(b2)
  }

  // ---- manifest text format (one file per version, driver-side IO) ----

  private def hexStr(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString

  private def unhexStr(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      "UTF-8")

  private def fmt(e: FileEntry): String = {
    val stats = e.stats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"$c=$mn:$mx" }.mkString(";")
    val bloomF = e.blooms.toSeq.sortBy(_._1)
      .map { case (c, bits) => s"$c=${bits.map(l => f"$l%016x").mkString}" }
      .mkString(";")
    // string envelopes hex-encode their values: arbitrary text can hold
    // the separators (and tabs/newlines) the manifest format reserves
    val strF = e.strStats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"$c=${hexStr(mn)}:${hexStr(mx)}" }
      .mkString(";")
    val base = s"${e.path}\t${e.rows}\t$stats"
    if (e.seq > 0) s"$base\t$bloomF\t$strF\t${e.seq}"
    else if (e.strStats.nonEmpty) s"$base\t$bloomF\t$strF"
    else if (e.blooms.nonEmpty) s"$base\t$bloomF"
    else base
  }

  private def parse(line: String): FileEntry = {
    val parts = line.split("\t", -1)
    require(parts.length >= 3 && parts.length <= 6,
      s"bad manifest line: $line")
    val stats = parts(2).split(";").filter(_.nonEmpty).map { kv =>
      val Array(c, range) = kv.split("=", 2)
      val Array(mn, mx) = range.split(":", 2)
      c -> (mn.toLong, mx.toLong)
    }.toMap
    val blooms =
      if (parts.length < 4) Map.empty[String, Array[Long]]
      else parts(3).split(";").filter(_.nonEmpty).map { kv =>
        val Array(c, hex) = kv.split("=", 2)
        c -> hex.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16)).toArray
      }.toMap
    val strStats =
      if (parts.length < 5) Map.empty[String, (String, String)]
      else parts(4).split(";").filter(_.nonEmpty).map { kv =>
        val Array(c, range) = kv.split("=", 2)
        val Array(mn, mx) = range.split(":", 2)
        c -> (unhexStr(mn), unhexStr(mx))
      }.toMap
    FileEntry(parts(0), parts(1).toLong, stats, blooms, strStats,
      seq = if (parts.length >= 6 && parts(5).nonEmpty) parts(5).toInt else 0)
  }

  private final case class ManifestData(props: Map[String, String],
      files: Seq[FileEntry])

  /** None when the manifest is absent OR lacks its terminator (a crashed
    * half-written commit) — both read as "this version never happened".
    */
  private def readManifestOpt(fs: FileSystem, root: Path, v: Int)
      : Option[ManifestData] = readEntriesFileOpt(fs, manifestPath(root, v))

  /** Parse any Header/Footer-disciplined entry file (a manifest or a
    * segment-index artifact): None when absent OR terminator-less (a
    * crashed half-written file reads as never written).
    */
  private def readEntriesFileOpt(fs: FileSystem, p: Path)
      : Option[ManifestData] = {
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n", -1).toSeq
    if (lines.headOption.contains(Header) && lines.lastOption.contains(Footer)) {
      val body = lines.slice(1, lines.length - 1)
      val (propLines, fileLines) = body.partition(_.startsWith("#"))
      val props = propLines.map { l =>
        val Array(k, v2) = l.stripPrefix("#").split("=", 2)
        k -> v2
      }.toMap
      Some(ManifestData(props, fileLines.map(parse)))
    } else None
  }

  private[sources] def listParquet(fs: FileSystem, p: Path): Seq[FileStatus] = {
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) buf += s
    }
    buf.toSeq.sortBy(_.getPath.toString)
  }
}
