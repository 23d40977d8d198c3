package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** HIDDEN PARTITIONING with partition evolution — Iceberg's headline
  * layout feature over [[Snapshots]] tables: the table DECLARES a
  * partition spec of TRANSFORMS over raw columns
  * (`year/month/day(dateCol)`, `truncate[W](col)`, `bucket[N](col)`,
  * `identity(col)`), writers lay data out by the transform tuple
  * automatically ([[commitPartitioned]]), and queries on the RAW
  * columns prune files without ever referencing the layout — no
  * `WHERE event_month = ...` double-predicate bugs, the classic Hive
  * partitioning failure this design exists to kill.
  *
  * Implementation is Spark-first and rides the existing manifest
  * machinery rather than inventing a parallel one:
  *  - [[commitPartitioned]] shuffles by the transform tuple
  *    (`repartition(tupleExprs)` — each tuple lands wholly in one task),
  *    writes via `partitionBy` on COPIES of the transform values so
  *    every data file holds exactly ONE partition tuple and all raw
  *    columns, then flattens the hive-style dirs away by renaming each
  *    file to `pt-<tuple>-<name>.parquet` — the tuple rides the FILE
  *    NAME through every later manifest carry, and no `k=v` directory
  *    survives to confuse Spark's partition inference;
  *  - skip evidence is recorded automatically per transform: raw-column
  *    [min,max] envelopes for the MONOTONIC transforms (identity,
  *    truncate, year/month/day — `transform(min)..transform(max)` is
  *    then the exact tuple range) and bloom filters for `bucket`
  *    (equality pruning is exactly what a hash bucket can serve) — so a
  *    plain `WHERE` through [[Snapshots.readIndexed]] /
  *    `format("graft")` data-skips with no partition-aware code at all;
  *  - [[partitions]] lists partition tuples with file/row counts from
  *    the MANIFEST ONLY (names + footer row counts; zero data IO);
  *  - [[overwritePartitions]] is the dynamic-overwrite write shape:
  *    ONE atomic commit that replaces exactly the partition tuples
  *    present in the batch and carries every other file untouched;
  *  - PARTITION EVOLUTION: [[setSpec]] again records a new era
  *    (boundary = the DDL's parent version, the [[Snapshots.renameColumn]]
  *    discipline); old files keep their own era's spec — [[partitions]]
  *    reports per-era, and [[rewriteLayout]] migrates everything to the
  *    current spec as one `data.change=false` commit when wanted.
  *
  * Refusal discipline (loud, never approximate): metadata listings and
  * partition-granular overwrites refuse tombstoned/DV'd versions
  * (compactMor first), files committed into a spec'd era WITHOUT the
  * partition layout (plain `commit`), and old-era files whose
  * membership in an overwrite's tuple set is unprovable
  * ([[rewriteLayout]] first).
  */
object Partitioning {

  /** Inherited manifest property holding the spec-evolution events:
    * comma-joined `boundary=spec`, where files with data sequence
    * number > boundary were written under `spec` (transforms joined by
    * `+`). The [[Snapshots.RenamesProp]] era discipline.
    */
  val SpecProp = "graft.partition"

  sealed trait Transform {
    def col: String
    /** Spec-string form, e.g. `month(o_orderdate)`. */
    def render: String
    /** The partition value as a LONG column over the raw column. */
    def expr: Column
    /** Monotonic in the raw value → file envelopes on the raw column
      * are exact tuple ranges (and get recorded as statsCols).
      */
    def monotonic: Boolean
  }
  final case class Identity(col: String) extends Transform {
    def render = s"identity($col)"
    def expr: Column = column(col).cast("long")
    def monotonic = true
  }
  final case class Truncate(width: Long, col: String) extends Transform {
    require(width > 0, s"truncate width must be positive, got $width")
    def render = s"truncate[$width]($col)"
    // Iceberg integer truncate: v - (((v % W) + W) % W) — floors toward
    // -inf so negatives bucket correctly
    def expr: Column = {
      val v = column(col).cast("long")
      v - (((v % width) + width) % width)
    }
    def monotonic = true
  }
  final case class Bucket(n: Int, col: String) extends Transform {
    require(n > 1, s"bucket count must be > 1, got $n")
    def render = s"bucket[$n]($col)"
    def expr: Column = pmod(xxhash64(column(col)), lit(n.toLong))
    def monotonic = false
  }
  final case class Year(col: String) extends Transform {
    def render = s"year($col)"
    def expr: Column = (year(column(col)) - 1970).cast("long")
    def monotonic = true
  }
  final case class Month(col: String) extends Transform {
    def render = s"month($col)"
    def expr: Column =
      ((year(column(col)) - 1970) * 12 + month(column(col)) - 1).cast("long")
    def monotonic = true
  }
  final case class Day(col: String) extends Transform {
    def render = s"day($col)"
    def expr: Column =
      datediff(column(col).cast("date"), lit("1970-01-01")).cast("long")
    def monotonic = true
  }

  private def column(c: String) = col(s"`$c`")

  private val TransformRe =
    """(identity|truncate|bucket|year|month|day)(?:\[(\d+)\])?\(([^)]+)\)""".r

  def parseTransform(s: String): Transform = s.trim match {
    case TransformRe("identity", null, c) => Identity(c)
    case TransformRe("truncate", w, c) => Truncate(w.toLong, c)
    case TransformRe("bucket", n, c) => Bucket(n.toInt, c)
    case TransformRe("year", null, c) => Year(c)
    case TransformRe("month", null, c) => Month(c)
    case TransformRe("day", null, c) => Day(c)
    case other => throw new IllegalArgumentException(
      s"Partitioning: cannot parse transform '$other'")
  }

  /** All spec events of a version, oldest first: (boundary, transforms).
    * Files with seq > boundary (up to the next event) use that spec.
    */
  def specEvents(props: Map[String, String]): Seq[(Int, Seq[Transform])] =
    props.get(SpecProp).filter(_.nonEmpty).toSeq.flatMap(_.split(","))
      .map { ev =>
        val Array(b, spec) = ev.split("=", 2)
        (b.toInt, spec.split("\\+").toSeq.map(parseTransform))
      }.sortBy(_._1)

  /** The spec governing files written at data sequence `seq`, if any. */
  def specFor(events: Seq[(Int, Seq[Transform])], seq: Int)
      : Option[Seq[Transform]] =
    events.filter(_._1 < seq).lastOption.map(_._2)

  /** The current spec (what the NEXT commit writes under). */
  def currentSpec(spark: SparkSession, table: String): Seq[Transform] = {
    val v = Snapshots.latestVersion(spark, table)
    if (v == 0) return Seq.empty
    specEvents(Snapshots.properties(spark, table, v))
      .lastOption.map(_._2).getOrElse(Seq.empty)
  }

  /** Declare (or EVOLVE) the partition spec — a metadata-only DDL
    * commit carrying the parent's files verbatim; only files written
    * AFTER are laid out under the new spec. Transform columns are
    * validated against the recorded schema (date transforms need a
    * date column, truncate/bucket/identity an integral or — bucket
    * only — string column).
    */
  def setSpec(spark: SparkSession, table: String,
      transforms: Seq[Transform]): Int = {
    require(transforms.nonEmpty, "Partitioning.setSpec: empty spec")
    val v = Snapshots.latestVersion(spark, table)
    require(v > 0, s"Partitioning.setSpec: $table has no committed version")
    val props = Snapshots.properties(spark, table, v)
    val schema = props.get(Snapshots.SchemaProp)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"Partitioning.setSpec: $table records no schema"))
    transforms.foreach { t =>
      require(schema.fieldNames.contains(t.col),
        s"Partitioning.setSpec: no column '${t.col}' in $table")
      val dt = schema(t.col).dataType
      t match {
        case _: Year | _: Month | _: Day => require(
          dt == DateType || dt == TimestampType || dt == TimestampNTZType,
          s"Partitioning.setSpec: ${t.render} needs a DATE or TIMESTAMP " +
            s"column, '${t.col}' is $dt")
        case _: Bucket => require(
          dt == LongType || dt == IntegerType || dt == StringType,
          s"Partitioning.setSpec: ${t.render} needs an integral or " +
            s"string column, '${t.col}' is $dt")
        case _ => require(dt == LongType || dt == IntegerType,
          s"Partitioning.setSpec: ${t.render} needs an integral " +
            s"column, '${t.col}' is $dt")
      }
    }
    val event = s"$v=${transforms.map(_.render).mkString("+")}"
    val merged = props.get(SpecProp).filter(_.nonEmpty)
      .map(_ + "," + event).getOrElse(event)
    // pass only what this DDL asserts: blanket-copying parent props
    // would re-stamp one-shot markers (txn status, stream batch ids)
    // onto an unrelated commit; constraints/eras inherit on their own
    Snapshots.publishManifest(spark, table,
      Map(Snapshots.SchemaProp -> props(Snapshots.SchemaProp),
        SpecProp -> merged),
      Seq.empty, baseFor = parent => {
        require(parent == v, s"Partitioning.setSpec: concurrent commit " +
          s"on $table (planned against v$v, parent is v$parent) — retry")
        Snapshots.manifest(spark, table, v)
      })
  }

  // ---- the partitioned write path ---------------------------------------

  private def enc(v: Long): String = if (v < 0) "m" + (-v) else v.toString
  private def dec(s: String): Long =
    if (s.startsWith("m")) -s.substring(1).toLong else s.toLong

  /** The partition tuple a data file holds, parsed from its name
    * (`pt-<v1>_<v2>...-name.parquet`), or None for files not written by
    * the partitioned path.
    */
  def tupleOf(path: String): Option[Seq[Long]] = {
    val name = new Path(path).getName
    if (!name.startsWith("pt-")) None
    else Some(name.stripPrefix("pt-").split("-", 2)(0)
      .split("_").toSeq.map(dec))
  }

  /** Write `df` under the CURRENT spec: one shuffle by the transform
    * tuple, `partitionBy` on transform-value copies (so each file holds
    * one tuple and every raw column), then a flatten-rename that moves
    * the tuple into the file name. Returns (batchDir, entries) — the
    * commit paths share it.
    */
  private[sources] def writePartitionedBatch(df: DataFrame, table: String,
      spec: Seq[Transform], statsCols: Seq[String],
      bloomCols: Seq[String], strStatsCols: Seq[String])
      : (Path, Seq[Snapshots.FileEntry]) = {
    val spark = df.sparkSession
    val (fs, root) = Snapshots.fsOf(spark, table)
    spec.foreach { t =>
      require(df.columns.contains(t.col),
        s"Partitioning: batch lacks spec column '${t.col}'")
    }
    val nullTuple = df.filter(spec.map(t => column(t.col).isNull)
      .reduce(_ || _)).limit(1).count()
    require(nullTuple == 0, "Partitioning: NULL in a partition-transform " +
      "source column — null partitions are refused (filter or fill first)")
    val ptCols = spec.indices.map(i => s"_pt_$i")
    val staged = spec.zipWithIndex.foldLeft(df) { case (d, (t, i)) =>
      d.withColumn(s"_pt_$i", t.expr)
    }
    val batch = Snapshots.freshBatchDir(root)
    Snapshots.withMicrosTs(df.sparkSession) {
      staged.repartition(ptCols.map(col): _*)
        .write.mode("errorifexists").partitionBy(ptCols: _*)
        .parquet(batch.toString)
    }
    // flatten: data/<batch>/_pt_0=12/_pt_1=3/part-x.parquet →
    // data/<batch>/pt-12_3-part-x.parquet — the tuple must ride the
    // file NAME (manifest carries survive), and no k=v directory may
    // survive to trip Spark's partition-column inference on later reads
    val batchUri = fs.makeQualified(batch).toUri
    Snapshots.listParquet(fs, batch).foreach { st =>
      val rel = batchUri.relativize(st.getPath.toUri).getPath
      val segs = rel.split("/")
      val tuple = segs.dropRight(1).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        require(k.startsWith("_pt_"), s"Partitioning: unexpected " +
          s"partition dir '$seg' under $batch")
        enc(v.toLong)
      }
      require(tuple.length == spec.length,
        s"Partitioning: file $rel has ${tuple.length} partition levels, " +
          s"spec has ${spec.length}")
      require(fs.rename(st.getPath, new Path(batch,
        s"pt-${tuple.mkString("_")}-${st.getPath.getName}")),
        s"Partitioning: flatten rename failed for ${st.getPath}")
    }
    // drop the emptied k=v dirs so nothing hive-shaped remains
    fs.listStatus(batch).filter(_.isDirectory)
      .foreach(d => fs.delete(d.getPath, true))
    // skip evidence per transform: envelopes for monotonic sources,
    // blooms for bucket sources — ON TOP of whatever the caller asked
    val autoStats = spec.filter(_.monotonic).map(_.col)
    val autoBlooms = spec.collect { case b: Bucket => b.col }
    val entries = Snapshots.entriesFor(spark, table, batch,
      (statsCols ++ autoStats).distinct, (bloomCols ++ autoBlooms).distinct,
      strStatsCols)
    (batch, entries)
  }

  /** Commit `df` laid out under the current spec (append, or
    * `overwrite = true` for a full replace). The everyday write path of
    * a spec'd table — constraints enforce exactly like
    * [[Snapshots.commit]], INCLUDING the uniquePinnedBase discipline:
    * the UNIQUE collision check runs against a planning-time head, so
    * the publish pins parent to that head (a concurrent commit aborts
    * loudly for a re-checked retry) instead of silently rebasing the
    * never-collision-checked batch. UNIQUE key columns also get file
    * envelopes recorded whatever the caller asked for — a key-less
    * envelope would force every later append's collision check to scan
    * this batch's files forever (the [[Snapshots.commit]] rule).
    */
  def commitPartitioned(df: DataFrame, table: String,
      overwrite: Boolean = false, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      planHook: () => Unit = () => ()): Int = {
    val spark = df.sparkSession
    val spec = currentSpec(spark, table)
    require(spec.nonEmpty,
      s"Partitioning.commitPartitioned: $table declares no spec — " +
        "setSpec first (or use Snapshots.commit)")
    val enforce =
      !properties.get(Snapshots.DataChangeProp).contains("false")
    // capture the pin BEFORE the check (the Snapshots.commit ordering):
    // a commit landing between check and pin capture would otherwise
    // slip under the pin
    val base = Snapshots.uniquePinnedBase(spark, table, overwrite, enforce)
    // the same constraint gates as Snapshots.commit, pre-write
    if (enforce) Snapshots.enforceForCommit(spark, table, df, overwrite)
    planHook() // test seam: collision check done, commit not yet published
    val keyCols = Snapshots.uniqueKeySets(spark, table).flatten.distinct
      .filter(df.columns.contains)
    val (strK, intK) = keyCols.partition(k =>
      df.schema(k).dataType == StringType)
    val (_, entries) = writePartitionedBatch(df, table, spec,
      (statsCols ++ intK.filter(k =>
        Snapshots.isIntegralType(df.schema(k).dataType))).distinct,
      bloomCols, (strStatsCols ++ strK).distinct)
    val props = properties + (Snapshots.SchemaProp -> df.schema.json)
    Snapshots.publishManifest(spark, table, props, entries, baseFor = base)
  }

  /** Partition listing from MANIFEST METADATA ONLY (file names + footer
    * row counts — zero data IO, constant cost in data size): one row
    * per (spec, partition tuple) with file and row counts; files from
    * before any spec report as spec "unpartitioned". Refuses masked
    * versions (metadata cannot subtract) and spec'd-era files that were
    * not written by the partitioned path (their tuple is unknowable
    * without reading them).
    */
  def partitions(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(Snapshots.latestVersion(spark, table))
    val entries = Snapshots.manifest(spark, table, v)
    require(!entries.exists(e => Snapshots.isMask(e.path)),
      s"Partitioning.partitions: version $v of $table carries merge-on-" +
        "read deletes — compactMor first (metadata counts cannot subtract)")
    val events = specEvents(Snapshots.properties(spark, table, v))
    // 0-row files (schema-bearing seeds, empty writes) hold no tuples —
    // they belong to no partition and are excluded
    val rows = entries.filter(_.rows > 0).groupBy { e =>
      specFor(events, e.seq) match {
        case None => ("unpartitioned", "")
        case Some(spec) =>
          val t = tupleOf(e.path).getOrElse(throw new IllegalArgumentException(
            s"Partitioning.partitions: ${e.path} was committed into a " +
              "spec'd era without the partitioned layout — write via " +
              "commitPartitioned (or rewriteLayout)"))
          require(t.length == spec.length,
            s"Partitioning.partitions: ${e.path} has ${t.length} " +
              s"partition levels, its era's spec has ${spec.length}")
          (spec.map(_.render).mkString("+"), t.mkString("/"))
      }
    }.toSeq.map { case ((spec, tuple), es) =>
      Row(spec, tuple, es.size, es.map(_.rows).sum)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("spec", StringType, false),
        org.apache.spark.sql.types.StructField("partition", StringType, false),
        org.apache.spark.sql.types.StructField("n_files", IntegerType, false),
        org.apache.spark.sql.types.StructField("n_rows", LongType, false))))
  }

  /** DYNAMIC PARTITION OVERWRITE at transform granularity: one atomic
    * commit that replaces exactly the partition tuples PRESENT IN the
    * batch and carries every other data file untouched — the idempotent
    * re-load shape ("recompute March and swap it in") that plain
    * overwrite (drops everything) and append (duplicates March) both
    * get wrong. Old-era or layout-less files cannot prove tuple
    * disjointness from their name and refuse toward [[rewriteLayout]];
    * masked versions refuse toward compactMor.
    */
  def overwritePartitions(df: DataFrame, table: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Int = {
    val spark = df.sparkSession
    val spec = currentSpec(spark, table)
    require(spec.nonEmpty,
      s"Partitioning.overwritePartitions: $table declares no spec")
    val v = Snapshots.latestVersion(spark, table)
    val entries = Snapshots.manifest(spark, table, v)
    require(!entries.exists(e => Snapshots.isMask(e.path)),
      s"Partitioning.overwritePartitions: version $v of $table carries " +
        "merge-on-read deletes — compactMor first")
    val events = specEvents(Snapshots.properties(spark, table, v))
    val touched = df.select(spec.map(_.expr): _*).distinct()
      .limit(100001).collect()
    require(touched.length <= 100000,
      "Partitioning.overwritePartitions: batch touches >100k partitions " +
        "— that is a full overwrite, use commitPartitioned(overwrite)")
    val touchedSet = touched.map(_.toSeq.map(_.asInstanceOf[Long])).toSet
    val currentEvents = events.lastOption.map(_._1).getOrElse(-1)
    val (dropped, carried) = entries.partition { e =>
      e.rows > 0 && (specFor(events, e.seq) match {
        case Some(s) if s.map(_.render) == spec.map(_.render) =>
          val t = tupleOf(e.path).getOrElse(throw new IllegalArgumentException(
            s"Partitioning.overwritePartitions: ${e.path} lacks the " +
              "partitioned layout — rewriteLayout first"))
          touchedSet.contains(t)
        case _ => throw new IllegalArgumentException(
          s"Partitioning.overwritePartitions: ${e.path} predates the " +
            s"current spec (era boundary $currentEvents) — its tuple " +
            "membership is unprovable; rewriteLayout first")
      })
    }
    Snapshots.enforceForCommit(spark, table, df, overwrite = true)
    // overwrite=true skipped the vs-parent UNIQUE check, but this is
    // NOT a full overwrite: the batch's keys must not collide with the
    // CARRIED files' visible rows (the dropped partitions' keys are
    // legitimately replaceable, so the plain vs-parent check would
    // false-reject an idempotent re-load)
    Snapshots.enforceUniqueVsEntries(spark, table, df, carried)
    val (_, newEntries) = writePartitionedBatch(df, table, spec, statsCols,
      bloomCols, strStatsCols)
    val props = properties + (Snapshots.SchemaProp -> df.schema.json)
    val _ = dropped
    Snapshots.publishManifest(spark, table, props, newEntries,
      baseFor = parent => {
        require(parent == v, "Partitioning.overwritePartitions: " +
          s"concurrent commit on $table (planned against v$v, parent is " +
          s"v$parent) — retry")
        carried
      })
  }

  /** Rewrite EVERY visible row under the current spec as one
    * `data.change = false` commit — the migration step after an
    * evolution (old-era files keep their own spec until this runs), and
    * the repair for layout-less files in a spec'd era.
    */
  def rewriteLayout(spark: SparkSession, table: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      strStatsCols: Seq[String] = Seq.empty): Int = {
    val spec = currentSpec(spark, table)
    require(spec.nonEmpty,
      s"Partitioning.rewriteLayout: $table declares no spec")
    val df = Snapshots.read(spark, table)
    val (_, entries) = writePartitionedBatch(df, table, spec, statsCols,
      bloomCols, strStatsCols)
    val v = Snapshots.latestVersion(spark, table)
    val props = Map(
      Snapshots.SchemaProp ->
        Snapshots.properties(spark, table, v)(Snapshots.SchemaProp),
      Snapshots.DataChangeProp -> "false")
    Snapshots.publishManifest(spark, table, props, entries,
      baseFor = parent => {
        require(parent == v, "Partitioning.rewriteLayout: concurrent " +
          s"commit on $table (planned against v$v, parent is v$parent) " +
          "— retry")
        Seq.empty
      })
  }
}
