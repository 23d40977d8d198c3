package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** CATALYST-NATIVE data skipping for [[Snapshots]] tables: a
  * [[FileIndex]] over the version's manifest, so the ordinary Spark scan
  * path decides which files to read — the one file-skipping path for
  * user filters and optimizer rules alike. `FileSourceStrategy` pushes
  * the query's data filters into [[listFiles]], where each file's
  * manifest evidence ([min,max] envelopes, UTF-8 string envelopes, bloom
  * filters) proves files row-free and drops them BEFORE the scan is
  * planned. Every `.filter`/`WHERE` on a [[Snapshots.readIndexed]]
  * frame prunes automatically, composed filters
  * (`AND`/`OR`/`IN`/`BETWEEN`/prefix) prune too, and the file cut shows
  * up in the scan's own `numFiles` metric — at 100 TB the planner reads
  * manifest evidence (KBs) instead of footers (TBs).
  *
  * Soundness rule: a file is dropped only when the evidence PROVES no
  * row can match (`mayMatch` returns false); any unrecognized predicate
  * shape, stat-less column, or non-literal comparison keeps the file.
  * Listing is driver-side manifest parsing plus one `getFileStatus` per
  * file at construction (cached — re-listing per query would be the
  * planning bottleneck the manifest exists to avoid).
  *
  * Two forms:
  *  - the public `(spark, table, version)` constructor indexes the WHOLE
  *    version and refuses states a single flat relation cannot read
  *    exactly: tombstoned versions (a tombstone read as data null-fills
  *    the schema — use [[Snapshots.readMor]]) and rename/drop/default/
  *    widen events with surviving pre-boundary files ([[refusalOf]] is
  *    the shared precise test — inert events, e.g. after a compaction
  *    rewrote every old file, do NOT refuse);
  *  - the `private[sources]` era form takes one [[Snapshots.EraGroup]]'s
  *    entries plus that era's physical schema, and skips the era
  *    refusals — [[Snapshots.readIndexedEvolved]] builds one per era and
  *    unions, so an evolved 100 TB table KEEPS Catalyst data skipping.
  *    The era projection re-shapes pushed predicates into widening casts
  *    (`cast(old as long) > 5`) and default coalesces
  *    (`coalesce(c, lit) = 7`); [[mayMatch]] understands both, so
  *    pruning survives the projection.
  */
final class SnapshotFileIndex private[sources] (spark: SparkSession,
    val table: String, val version: Int,
    entriesOverride: Option[Seq[Snapshots.FileEntry]],
    schemaOverride: Option[StructType],
    wholeVersion: Boolean = false,
    private[graft] val eraSlice: Boolean = false) extends FileIndex {

  def this(spark: SparkSession, table: String, version: Int) =
    this(spark, table, version, None, None, wholeVersion = true)

  /** SEGMENT-PLANNING mode: when [[Snapshots.buildSegmentIndex]] ran
    * for this version and its header carries everything planning needs
    * — the version props, per-segment byte totals, and a recorded ZERO
    * mask count — the index never opens the full per-file manifest.
    * [[listFiles]] prunes SEGMENTS from their rollup envelopes first
    * and parses only the survivors' entry files, so planning cost
    * follows the surviving fraction, not the table's file count (at a
    * million files: O(segments) + O(kept), not O(files)).
    * Evolution-event-bearing versions stay on the eager path: the era
    * refusals need per-file sequence numbers the segment rollups don't
    * carry (and the evolved read path takes over anyway).
    */
  private val segPlan: Option[Snapshots.SegIndex] =
    if (entriesOverride.nonEmpty) None
    else Snapshots.segmentIndexFor(spark, table, version)
      .filter(SnapshotFileIndex.segmentPlannable)

  /** True only for whole-version forms — shapes whose `entries` are
    * exactly the version's manifest: the public constructor and
    * [[GraftSource]]'s flat routing (which pre-parses the manifest and
    * passes it through as an override, so `entriesOverride.isEmpty` is
    * NOT the test). The era form and [[SnapshotFileIndex.prunedCopy]]
    * slices answer false; optimizer rules that reason from "entries =
    * the whole version" (the dim-prune rule gates on it — doubling as
    * its fixed-point idempotence guard) must check this. Era slices
    * additionally answer `eraSlice = true` — the dim-prune rule's
    * evolved tier prunes THOSE through their era projection, and the
    * pruned copies answer false again, preserving the fixed point.
    */
  private[graft] def flatForm: Boolean = wholeVersion

  /** The indexed manifest entries — the evidence surface optimizer
    * rules ([[graft.plans.MetaAggRule]]) compute from. The whole
    * version for the flat form; one era's slice for the era form.
    * LAZY in segment-planning mode: forcing it (a metadata-aggregate
    * rewrite, `inputFiles`) parses every segment, which is still never
    * the full-manifest reparse.
    */
  private[graft] lazy val entries: Seq[Snapshots.FileEntry] =
    entriesOverride.getOrElse(segPlan match {
      case Some(ix) => ix.segments.flatMap(parsedSegment)
      case None => Snapshots.manifest(spark, table, version)
    })

  // segment-planning mode reads props from the INDEX HEADER — reading
  // them from the manifest would parse the O(files) artifact this mode
  // exists to avoid
  private val props = segPlan.map(_.props)
    .getOrElse(Snapshots.properties(spark, table, version))

  // flat EAGER form only: refuse what one relation cannot read exactly
  // (the era form's caller already grouped entries into a uniform era;
  // segment mode proved mask-freedom and event-freedom from the header)
  if (entriesOverride.isEmpty && segPlan.isEmpty)
    SnapshotFileIndex.refusalOf(table, version, entries, props)
      .foreach(msg => throw new IllegalArgumentException(msg))

  /** The version's recorded schema — the committing writer's truth;
    * footer inference would silently widen types. NULLABILITY is
    * normalized to nullable, Spark's own file-table convention: file
    * scans always produce nullable output, and a copy-on-write merge
    * re-records its scan's schema — a catalog table pinned to a NOT
    * NULL creation-time schema would refuse to re-resolve after the
    * first merge flipped it. The era form reads in its era's physical
    * (name, type) shape instead.
    */
  val dataSchema: StructType = schemaOverride.getOrElse(
    props.get(Snapshots.SchemaProp) match {
      case Some(json) =>
        val st = DataType.fromJson(json).asInstanceOf[StructType]
        StructType(st.fields.map(_.copy(nullable = true)))
      case None => throw new IllegalStateException(
        s"SnapshotFileIndex: version $version of $table records no schema " +
          "(legacy manifest) — recommit or use Snapshots.read")
    })

  private val rootPath = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p)
  }

  private val fs =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def resolved(e: Snapshots.FileEntry): Path =
    if (new Path(e.path).isAbsolute) new Path(e.path)
    else new Path(rootPath, e.path)

  // one getFileStatus per file, paid ONCE per file and — in segment
  // mode — only for files that survive pruning
  private val statusCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]
  private def statusOf(e: Snapshots.FileEntry): FileStatus =
    statusCache.computeIfAbsent(e.path, _ => fs.getFileStatus(resolved(e)))

  // segment entry files parse at most once each; the counter is the
  // spec-observable probe ("how many segments were ever opened")
  private val segCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Snapshots.FileEntry]]
  val segmentParses = new java.util.concurrent.atomic.AtomicInteger(0)
  private def parsedSegment(se: Snapshots.FileEntry)
      : Seq[Snapshots.FileEntry] =
    segCache.computeIfAbsent(se.path, _ => {
      segmentParses.incrementAndGet()
      Snapshots.segmentEntries(spark, table, version, se)
    })

  private lazy val statuses: Seq[(Snapshots.FileEntry, FileStatus)] =
    entries.map(e => (e, statusOf(e)))

  private def totalFiles: Int = segPlan match {
    case Some(ix) => ix.segments.map(_.seq).sum // seq = segment file count
    case None => entries.size
  }

  /** (files kept, files total) of the most recent [[listFiles]] — the
    * observable skip counter specs and operators report on.
    */
  @volatile var lastPrune: (Int, Int) = (totalFiles, totalFiles)

  /** (segments kept, segments total) of the most recent [[listFiles]]
    * in segment-planning mode.
    */
  @volatile var lastSegPrune: (Int, Int) =
    (segPlan.map(_.segments.size).getOrElse(0),
      segPlan.map(_.segments.size).getOrElse(0))

  /** Total recorded rows — answered from the segment ROLLUPS in
    * segment-planning mode (each rollup records its members' row total),
    * per-file entries otherwise. The dim-side bound probe of the
    * automatic prune rule reads this; forcing `entries` there would
    * parse every segment of a million-file dim at plan time.
    */
  private[graft] def rowBound: Long = segPlan match {
    case Some(ix) => ix.segments.map(_.rows).sum
    case None => entries.map(_.rows).sum
  }

  import SnapshotFileIndex.prunedEntriesInOver

  /** The (kept entries, skipped file count) under an IN-set key probe —
    * the evidence surface the automatic dim-prune rule
    * ([[graft.plans.DimFilePruneRule]]) computes from. Segment-planning
    * mode probes the SEGMENT ROLLUPS first and parses only surviving
    * segments' entries, so the cut costs O(segments + kept files), not
    * O(files) — the rule must not defeat the planning economics this
    * index exists for on a million-file table. `values` must already be
    * in the column's recorded type (bloom hashes are width-sensitive);
    * an empty set skips everything without parsing a single segment.
    */
  private[graft] def pruneByKeys(col: String, values: Seq[Any])
      : (Seq[Snapshots.FileEntry], Int) = segPlan match {
    case Some(ix) =>
      // segment-plannable ⇒ no evolution events ⇒ no widen eras
      val (keptSegs, skippedSegs) =
        prunedEntriesInOver(ix.segments, Seq.empty, col, values)
      val (kept, skippedFiles) = prunedEntriesInOver(
        keptSegs.flatMap(parsedSegment), Seq.empty, col, values)
      // a segment entry's `seq` field carries its file count
      (kept, skippedFiles.size + skippedSegs.map(_.seq).sum)
    case None =>
      val widens = Snapshots.widenEvents(props).filter(_.name == col)
      val (kept, skipped) =
        prunedEntriesInOver(entries, widens, col, values)
      (kept, skipped.size)
  }

  /** Table root FIRST (rules key on it), then the data dir. The
    * two-path shape is deliberate: Spark's `INSERT INTO` planning for
    * file relations (`InsertIntoHadoopFsRelationCommand`) requires
    * exactly one root path, so a catalog/SQL insert against this
    * relation fails loudly instead of silently writing parquet files
    * no manifest references — commits must go through the snapshot
    * protocol. Reads are unaffected (scans list through [[listFiles]]).
    */
  override def rootPaths: Seq[Path] = Seq(rootPath, new Path(rootPath, "data"))

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] =
    entries.map(e => resolved(e).toString).toArray

  /** Segment mode answers from the index header's recorded byte totals
    * (the planner asks this for every query — join-size estimation);
    * otherwise one cached getFileStatus per file.
    */
  override def sizeInBytes: Long = segPlan.flatMap(_.bytes).map(_.sum)
    .getOrElse(statuses.map(_._2.getLen).sum)

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = segPlan match {
      case Some(ix) =>
        // tier 1: segment rollup envelopes (the SAME mayMatch — rollups
        // are sound by construction: a column participates only when
        // every member file recorded it, blooms are OR'd)
        val keptSegs = ix.segments.filter(se =>
          dataFilters.forall(f => mayMatch(se, f)))
        lastSegPrune = (keptSegs.size, ix.segments.size)
        // tier 2: per-file entries of SURVIVING segments only
        keptSegs.flatMap(parsedSegment)
          .filter(e => dataFilters.forall(f => mayMatch(e, f)))
      case None =>
        statuses.collect { case (e, _)
            if dataFilters.forall(f => mayMatch(e, f)) => e }
    }
    lastPrune = (kept.size, totalFiles)
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(e => FileStatusWithMetadata(statusOf(e), Map.empty))))
  }

  // ---- evidence evaluation -------------------------------------------

  private def longOf(v: Any): Option[Long] = v match {
    case _: org.apache.spark.sql.types.Decimal => None // see decUnscaled
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  /** A Decimal literal probing column `name`, rescaled to the COLUMN's
    * recorded scale and returned as the unscaled long the manifest
    * envelope is recorded in (INT32/INT64-backed decimals, precision ≤
    * 18, store unscaled integers — the stats reader records exactly
    * that domain). None — keep the file — when the column is not a
    * ≤18-precision decimal, or the literal needs rounding to reach the
    * column's scale (a finer-scale literal can never be proven absent
    * from envelope evidence alone), or the unscaled value leaves the
    * long domain.
    */
  private def decUnscaled(name: String, v: Any): Option[Long] = v match {
    case d: org.apache.spark.sql.types.Decimal =>
      dataSchema.fields.find(_.name.equalsIgnoreCase(name))
        .map(_.dataType).flatMap {
          case dt: DecimalType if dt.precision <= 18 =>
            try Some(d.toJavaBigDecimal.setScale(dt.scale)
              .unscaledValue().longValueExact())
            catch { case _: ArithmeticException => None }
          case _ => None
        }
    case _ => None
  }

  private def strOf(v: Any): Option[String] = v match {
    case u: UTF8String => Some(u.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** What a pushed comparison side ultimately probes, seen through the
    * ERA projection shapes Catalyst substitutes on pushdown:
    * attribute name, the add-column default the file's null-fill reads
    * as (if any), and whether an INTEGRAL WIDENING cast was traversed.
    * Widening casts are order-isomorphic and manifest envelopes are
    * recorded in the long domain, so ENVELOPE checks stay exact through
    * them — but BLOOM probes are hash-of-bytes, and Spark's XxHash64
    * hashes int 5 and long 5 differently, so [[cmpMay]] must know a
    * cast sat between the literal and the file's physical column.
    * Anything else — narrowing or cross-family casts, expressions —
    * returns None and the file is kept.
    */
  import SnapshotFileIndex.Probe

  private def probeOf(e: Expression): Option[Probe] =
    e match {
      case a: AttributeReference => Some(Probe(a.name, None, widened = false))
      case c: Cast if integralWidening(c.child.dataType, c.dataType) =>
        probeOf(c.child).map(_.copy(widened = true))
      // decimal comparison coercion: SAME-SCALE precision widening is
      // order-isomorphic and keeps the unscaled domain the envelope is
      // recorded in (the literal rescales to the COLUMN's own scale in
      // decUnscaled either way); cross-scale casts stay opaque — keep
      case c: Cast => (c.child.dataType, c.dataType) match {
        case (f: DecimalType, t: DecimalType)
            if f.scale == t.scale && t.precision >= f.precision =>
          probeOf(c.child).map(_.copy(widened = true))
        case _ => None
      }
      case Coalesce(Seq(inner, Literal(d, _))) =>
        probeOf(inner).map(_.copy(default = Some(d)))
      case _ => None
    }

  private def integralRank(dt: DataType): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    case _ => 0
  }

  private def integralWidening(from: DataType, to: DataType): Boolean = {
    val (f, t) = (integralRank(from), integralRank(to))
    f > 0 && t >= f
  }

  /** Does the literal `d` (a column's era default) satisfy `<d> op v`?
    * Used for files that may hold null-stored rows READING AS the
    * default; unknown type pairings answer true (keep).
    */
  private def litCmp(d: Any, v: Any, op: String): Boolean =
    (longOf(d), longOf(v)) match {
      case (Some(a), Some(b)) => op match {
        case "eq" => a == b
        case "gt" => a > b
        case "ge" => a >= b
        case "lt" => a < b
        case "le" => a <= b
      }
      case _ => (strOf(d), strOf(v)) match {
        case (Some(a), Some(b)) => op match {
          case "eq" => a == b
          case "gt" => ParquetMeta.u8Less(b, a)
          case "ge" => !ParquetMeta.u8Less(a, b)
          case "lt" => ParquetMeta.u8Less(a, b)
          case "le" => !ParquetMeta.u8Less(b, a)
        }
        case _ => true // no comparable evidence — keep
      }
    }

  /** May `e` contain a row matching a single literal comparison on
    * `name`? Uses the integral envelope, the string envelope, and (for
    * equality) the bloom filter; a column with no recorded evidence
    * keeps the file.
    */
  private def cmpMay(e: Snapshots.FileEntry, name: String, v: Any,
      op: String, widened: Boolean = false): Boolean = {
    val long = longOf(v).orElse(decUnscaled(name, v))
    val str = strOf(v)
    val envOk: Boolean = (long, str) match {
      case (Some(l), _) => e.stats.get(name).forall { case (mn, mx) =>
        op match {
          case "eq" => mn <= l && l <= mx
          case "gt" => mx > l
          case "ge" => mx >= l
          case "lt" => mn < l
          case "le" => mn <= l
        }
      }
      case (_, Some(s)) => e.strStats.get(name).forall { case (mn, mx) =>
        op match {
          case "eq" => !ParquetMeta.u8Less(s, mn) && !ParquetMeta.u8Less(mx, s)
          case "gt" => ParquetMeta.u8Less(s, mx)
          case "ge" => !ParquetMeta.u8Less(mx, s)
          case "lt" => ParquetMeta.u8Less(mn, s)
          case "le" => !ParquetMeta.u8Less(s, mn)
        }
      }
      case _ => true // unsupported literal type: no evidence, keep
    }
    // decimal literals stay envelope-only: a decimal column's bloom
    // hashes the runtime Decimal representation, which this probe does
    // not reconstruct — conservative keep
    val bloomOk: Boolean =
      v.isInstanceOf[org.apache.spark.sql.types.Decimal] ||
        (op != "eq" || (e.blooms.get(name) match {
      case Some(bits) =>
        val jvm = v match { case u: UTF8String => u.toString; case x => x }
        if (!widened) Snapshots.bloomMightContain(bits, jvm)
        else
          // The literal arrived WIDENED (e.g. long 5) but this file may
          // store the column at the pre-widen physical type, whose bloom
          // was built hashing the NARROW representation (XxHash64 hashes
          // byte/short/int through hashInt, long through hashLong — the
          // two disagree on the same numeric value). Probe every
          // physical representation the value could have been written
          // at ([[Snapshots.narrowReps]]); reject only if none is
          // present. A long outside int range cannot sit in a pre-widen
          // file at all, so the long-only probe stays exact for the
          // post-widen era and conservative envelopes already rejected
          // the old era.
          Snapshots.narrowReps(jvm)
            .exists(r => Snapshots.bloomMightContain(bits, r))
      case None => true
    }))
    envOk && bloomOk
  }

  /** [[cmpMay]] through a [[probeOf]] probe: a file with an era default
    * may also match when a NULL-stored row's read-as-default value
    * satisfies the comparison — we cannot know the file holds no nulls,
    * so the default branch ORs in.
    */
  private def cmpMayP(e: Snapshots.FileEntry, probe: Probe,
      v: Any, op: String): Boolean = probe match {
    case Probe(name, None, w) => cmpMay(e, name, v, op, w)
    case Probe(name, Some(d), w) =>
      cmpMay(e, name, v, op, w) || litCmp(d, v, op)
  }

  /** Prefix match: values with prefix `p` lie in [p, successor(p)), so
    * the file may match iff its string envelope intersects that range.
    * No successor exists when the prefix is all 0xFF bytes — keep.
    */
  private def prefixMay(e: Snapshots.FileEntry, name: String, p: String)
      : Boolean =
    e.strStats.get(name).forall { case (mn, mx) =>
      val bytes = p.getBytes("UTF-8")
      val i = bytes.lastIndexWhere(b => (b & 0xff) != 0xff)
      val succ =
        if (i < 0) None
        else {
          val s = bytes.take(i + 1)
          s(i) = (s(i) + 1).toByte
          Some(new String(s, java.nio.charset.StandardCharsets.ISO_8859_1))
        }
      // mx >= p  AND  mn < successor(p)  (successor compared bytewise;
      // ISO_8859_1 keeps raw bytes so u8Less sees the incremented byte)
      !ParquetMeta.u8Less(mx, p) && succ.forall(su => u8LessRaw(mn, su))
    }

  // u8Less over the ISO_8859_1-roundtripped successor: compare the raw
  // byte sequences, not UTF-8 re-encodings (the successor may not be
  // valid UTF-8)
  private def u8LessRaw(utf8Val: String, isoSucc: String): Boolean = {
    val a = utf8Val.getBytes("UTF-8")
    val b = isoSucc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Split this version's entries by [[mayMatch]] evidence:
    * (may-hold-a-matching-row, provably-row-free). The maintenance
    * tier's predicate-scoped compaction uses this to bound a rewrite to
    * the files a literal predicate can touch — same conservative
    * three-valued rule as query-time pruning, so an unprovable
    * predicate shape lands files on the REWRITE side (sound: rewriting
    * an extra file never changes content).
    */
  private[graft] def evidenceSplit(filter: Expression)
      : (Seq[Snapshots.FileEntry], Seq[Snapshots.FileEntry]) =
    entries.partition(e => mayMatch(e, filter))

  /** Conservative three-valued pruning: false ONLY when the manifest
    * evidence proves no row of the file can satisfy `expr`. Comparison
    * sides resolve through [[probeOf]], so widening casts and default
    * coalesces (the era projection's pushdown shapes) prune too.
    */
  private def mayMatch(e: Snapshots.FileEntry, expr: Expression): Boolean =
    expr match {
      case And(l, r) => mayMatch(e, l) && mayMatch(e, r)
      case Or(l, r) => mayMatch(e, l) || mayMatch(e, r)
      case EqualTo(l, Literal(v, _)) =>
        probeOf(l).forall(p => cmpMayP(e, p, v, "eq"))
      case EqualTo(Literal(v, _), r) =>
        probeOf(r).forall(p => cmpMayP(e, p, v, "eq"))
      case GreaterThan(l, Literal(v, _)) =>
        probeOf(l).forall(p => cmpMayP(e, p, v, "gt"))
      case GreaterThan(Literal(v, _), r) =>
        probeOf(r).forall(p => cmpMayP(e, p, v, "lt"))
      case GreaterThanOrEqual(l, Literal(v, _)) =>
        probeOf(l).forall(p => cmpMayP(e, p, v, "ge"))
      case GreaterThanOrEqual(Literal(v, _), r) =>
        probeOf(r).forall(p => cmpMayP(e, p, v, "le"))
      case LessThan(l, Literal(v, _)) =>
        probeOf(l).forall(p => cmpMayP(e, p, v, "lt"))
      case LessThan(Literal(v, _), r) =>
        probeOf(r).forall(p => cmpMayP(e, p, v, "gt"))
      case LessThanOrEqual(l, Literal(v, _)) =>
        probeOf(l).forall(p => cmpMayP(e, p, v, "le"))
      case LessThanOrEqual(Literal(v, _), r) =>
        probeOf(r).forall(p => cmpMayP(e, p, v, "ge"))
      case In(l, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        probeOf(l).forall(p => vs.collect { case Literal(v, _) => v }
          .exists(v => cmpMayP(e, p, v, "eq")))
      case InSet(l, hset) =>
        probeOf(l).forall(p => hset.exists(v => cmpMayP(e, p, v, "eq")))
      case StartsWith(l, Literal(v, StringType)) =>
        probeOf(l).forall { case Probe(name, defOpt, _) =>
          strOf(v).forall(pfx => prefixMay(e, name, pfx) ||
            defOpt.exists(d => strOf(d).forall(_.startsWith(pfx))))
        }
      case EqualNullSafe(l, Literal(v, _)) if v != null =>
        probeOf(l).forall(p => cmpMayP(e, p, v, "eq"))
      case EqualNullSafe(Literal(v, _), r) if v != null =>
        probeOf(r).forall(p => cmpMayP(e, p, v, "eq"))
      case _ => true // IsNotNull, opaque casts, UDFs, non-literal sides: keep
    }
}

object SnapshotFileIndex {

  /** A file-pruned copy of a FLAT index — the rewrite target of the
    * automatic dim-driven prune rule ([[graft.plans.DimFilePruneRule]]):
    * same table/version/schema, entries restricted to `kept`. Built
    * through the era-form constructor, which skips the flat refusals —
    * sound here because `kept` is a subset of a flat index that already
    * passed them — and whose `flatForm = false` marker doubles as the
    * rule's idempotence guard (a pruned index is never re-pruned).
    */
  private[graft] def prunedCopy(spark: SparkSession, fi: SnapshotFileIndex,
      kept: Seq[Snapshots.FileEntry]): SnapshotFileIndex =
    new SnapshotFileIndex(spark, fi.table, fi.version, Some(kept),
      Some(fi.dataSchema))

  /** The (kept, skipped) partition of `files` under an IN-set probe of
    * `col` — the evidence core of [[SnapshotFileIndex.pruneByKeys]]. A
    * file is kept iff SOME value might be in it: the integral [min,max]
    * envelope contains it (numeric values), the UTF-8 string envelope
    * contains it (string values), and the bloom says maybe (when
    * recorded; widen-era-aware — see [[Snapshots.narrowReps]]). Files
    * with no evidence are always kept. Segment-rollup entries are
    * [[Snapshots.FileEntry]]-shaped with sound evidence (a rollup
    * envelope contains every member file's, blooms are OR'd), so the
    * same probe prunes whole segments before any per-file entry is
    * parsed. `widens` must be the column's widen events — callers on the
    * segment path pass none (segment planning requires event-freedom).
    */
  private def prunedEntriesInOver(files: Seq[Snapshots.FileEntry],
      widens: Seq[Snapshots.WidenEvent], col: String, values: Seq[Any])
      : (Seq[Snapshots.FileEntry], Seq[Snapshots.FileEntry]) = {
    import Snapshots.{FileEntry, bloomHash, mightContain, narrowReps}
    // IndexedSeq: the partition loop below indexes per (file, value)
    val hashes = values.map(bloomHash).toIndexedSeq
    def strOk(e: FileEntry, value: Any): Boolean =
      (value, e.strStats.get(col)) match {
        case (s: String, Some((mn, mx))) =>
          !ParquetMeta.u8Less(s, mn) && !ParquetMeta.u8Less(mx, s)
        case _ => true
      }
    // integral values prune from the [min,max] envelope too — on a
    // range-clustered key the envelope alone cuts most files before the
    // bloom is even consulted (and tables with stats but no bloom still
    // prune)
    def intOk(e: FileEntry, value: Any): Boolean =
      (value, e.stats.get(col)) match {
        case (n: java.lang.Number, Some((mn, mx))) =>
          mn <= n.longValue() && n.longValue() <= mx
        case _ => true
      }
    // narrow-representation hashes hoisted ONCE per value (not per
    // file × value — the probe loop runs files × values times and
    // bloomHash constructs a Catalyst expression per call)
    val narrowHashes: IndexedSeq[Seq[Long]] =
      if (widens.isEmpty) IndexedSeq.empty
      else values.map(v => narrowReps(v).map(bloomHash)).toIndexedSeq
    def bloomOk(e: FileEntry, i: Int, h: Long): Boolean =
      e.blooms.get(col) match {
        case Some(bits) =>
          // pre-widen era files store (and hashed) the NARROW physical
          // type — probe the lossless narrowing too, or a correctly
          // long-typed probe false-rejects an int-era file
          if (widens.exists(_.boundary >= e.seq))
            narrowHashes(i).exists(nh => mightContain(bits, nh))
          else mightContain(bits, h)
        case None => true
      }
    files.partition(e =>
      values.iterator.zipWithIndex.exists { case (value, i) =>
        strOk(e, value) && intOk(e, value) && bloomOk(e, i, hashes(i)) })
  }

  /** A pushed comparison side resolved to manifest evidence: column
    * name, era default (if the pushdown shape was a null-fill
    * coalesce), and whether an integral-widening cast sat between the
    * literal and the physical column (bloom probes must then try the
    * narrow representation too).
    */
  private final case class Probe(name: String, default: Option[Any],
      widened: Boolean)

  /** Can the index PLAN from this segment tier alone? Requires the
    * header to carry everything the flat refusals and the planner need
    * without parsing per-file entries: a recorded ZERO mask count,
    * per-segment byte totals, the schema, and NO evolution events (era
    * refusals need per-file sequence numbers the rollups don't carry).
    * Shared with [[GraftSource]]'s relation routing, which must make
    * the same call without opening the flat manifest.
    */
  private[sources] def segmentPlannable(ix: Snapshots.SegIndex): Boolean =
    ix.maskCount.contains(0) && ix.bytes.nonEmpty &&
      ix.props.contains(Snapshots.SchemaProp) &&
      Snapshots.renameEvents(ix.props).isEmpty &&
      Snapshots.dropEvents(ix.props).isEmpty &&
      Snapshots.defaultEvents(ix.props).isEmpty &&
      Snapshots.widenEvents(ix.props).isEmpty

  /** Why a single FLAT relation cannot read this version exactly, or
    * None when it can — the PRECISE refusal test shared by the class
    * constructor and [[GraftSource]]'s relation routing (which must
    * decide MOR/evolved/flat without exception-driven control flow).
    * Evolution events are inherited forever, but once compaction
    * rewrites every pre-event file the events are inert and the flat
    * fast path is exact again.
    */
  private[sources] def refusalOf(table: String, version: Int,
      entries: Seq[Snapshots.FileEntry],
      props: Map[String, String]): Option[String] = {
    def anyPreEventFile(boundaries: Seq[Int]): Boolean =
      boundaries.exists(b => entries.exists(_.seq <= b))
    if (entries.exists(e => Snapshots.isMask(e.path)))
      Some(s"SnapshotFileIndex: version $version of $table carries " +
        "merge-on-read deletes — use Snapshots.readMor (or compactMor " +
        "first)")
    else if (anyPreEventFile(
        (Snapshots.renameEvents(props) ++ Snapshots.dropEvents(props))
          .map(_.boundary)))
      Some(s"SnapshotFileIndex: $table has files from before a " +
        "rename/drop — era-mapped reads need Snapshots.read / " +
        "readIndexedEvolved (or compact to materialize)")
    else if (anyPreEventFile(Snapshots.defaultEvents(props).map(_.boundary)))
      Some(s"SnapshotFileIndex: $table has files from before an " +
        "add-column default — a flat relation would read them as NULL; " +
        "use Snapshots.read / readIndexedEvolved (or compact to " +
        "materialize)")
    else if (Snapshots.widenEvents(props)
        .exists(w => entries.exists(e => e.seq <= w.boundary)))
      Some(s"SnapshotFileIndex: $table has files narrower than a type " +
        "widening — use Snapshots.read / readIndexedEvolved (or compact " +
        "to materialize)")
    else None
  }
}
