package perfbench

import java.io.File
import java.time.LocalDate
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.analytics.Dashboard
import graft.etl.RetailWarehouse
import graft.ingest.Ingest
import graft.operators.{CorpusPipeline, Similarity}
import graft.plans.DimFilePrune
import graft.sources.Snapshots

/** An output check failed: the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One closed-loop workload. Per op [[Main]] calls [[prepare]]
  * (untimed input generation), [[op]] (timed) and [[check]] (untimed).
  */
abstract class Workload(val spark: SparkSession, val tr: Tracer,
    val seed: Long, val sf: Double) {
  /** Builds fresh state under `dir`, which holds nothing yet. */
  def setUp(dir: File): Unit
  /** Untimed ops after set-up, so the timed ops find the op's code paths
    * compiled.
    */
  def warmUpOps: Int
  /** Seconds per op that size a run, fixed per workload: the run's op
    * count is `--seconds` over it, never a measured time.
    */
  def sizingOpS: Double
  def prepare(i: Int): Unit
  def op(i: Int): Unit
  def check(i: Int): Unit
  /** Input rows one op processes. */
  def rowsPerOp: Long
  /** Every generated input so far. */
  def inputs: Seq[InputRecord]
  /** Workload-specific metrics: (name, value, unit), over the ops since
    * the last [[resetMetrics]].
    */
  def metrics: Seq[(String, Double, String)]
  def resetMetrics(): Unit

  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  protected def dec4(c: org.apache.spark.sql.Column) = c.cast("decimal(27,4)")
}

object Workload {
  def apply(name: String, spark: SparkSession, tr: Tracer, seed: Long, sf: Double): Workload =
    name match {
      case "warehouse_etl" => new WarehouseEtl(spark, tr, seed, sf)
      case "dashboard_reads" => new DashboardReads(spark, tr, seed, sf)
      case "corpus_ann" => new CorpusAnn(spark, tr, seed, sf)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  val names: Seq[String] = Seq("warehouse_etl", "dashboard_reads", "corpus_ann")

  val customerDim = "dim_customer"
  val productDim = "dim_product"

  /** Files under `dir` as path -> (size, mtime). */
  def listing(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists) Map.empty
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .map(_.toFile).filter(_.isFile)
      .map(f => f.getPath -> ((f.length, f.lastModified))).toMap
}

/** The paper's pipeline on an incremental batch: CSV extract, set-based
  * SCD2 dimensions swapped into place, and the fact merged into a
  * versioned table keyed on `order_id`.
  */
final class WarehouseEtl(spark: SparkSession, tr: Tracer, seed: Long, sf: Double)
    extends Workload(spark, tr, seed, sf) {
  private var gen: RetailGen = _
  private var dir: File = _
  private def wh = new File(dir, "wh").getPath
  private def fact = new File(dir, "fact").getPath
  private var base: InputRecord = _
  private val batchRecs = scala.collection.mutable.ArrayBuffer.empty[InputRecord]
  private var batchFile: File = _
  private var batchLines = 0
  private var opsDone = 0
  private var bytesWritten = 0L
  private var bytesIn = 0L
  private var rewritten = 0L
  private var touchedBase = 0L
  private var closedRows = 0L
  private var versioned = 0L

  private val keySchema = StructType(Seq(StructField("order_id", StringType)))
  private val day0 = LocalDate.of(1998, 8, 3)
  private def asOf(i: Int) = java.sql.Date.valueOf(day0.plusDays(i + 1L))

  def rowsPerOp: Long = batchLines
  def warmUpOps: Int = 1
  def sizingOpS: Double = 3.5

  def resetMetrics(): Unit = {
    opsDone = 0; bytesWritten = 0L; bytesIn = 0L; rewritten = 0L; touchedBase = 0L
    versioned = 0L
  }

  def setUp(d: File): Unit = {
    dir = d
    gen = new RetailGen(seed, sf)
    batchRecs.clear()
    batchFile = null
    val csv = new File(dir, "base.csv")
    base = gen.writeBase(csv)
    batchLines = gen.lines / 20
    val res = RetailWarehouse.run(Ingest.loadSuperstore(spark, csv.getPath), asOf(-1))
    res.dims.foreach { case (n, df) => RetailWarehouse.writeSwap(df, s"$wh/$n") }
    // the fact's natural layout: Order IDs grow with time, so a range
    // split on them gives each file a tight key envelope for the merge
    Snapshots.commit(res.fact.repartitionByRange(8, col("order_id")), fact,
      statsCols = Seq("order_date"), strStatsCols = Seq("order_id"))
    csv.delete()
    closedRows = 0L
  }

  def prepare(i: Int): Unit = {
    if (batchFile != null) batchFile.delete()
    batchFile = new File(dir, f"batch-$i%04d.csv")
    batchRecs += gen.writeBatch(batchFile, batchLines)
    before = files()
  }

  private var before = Map.empty[String, (Long, Long)]
  private var mr: Snapshots.MergeResult = _
  private def files() = Workload.listing(new File(wh)) ++ Workload.listing(new File(fact))

  def op(i: Int): Unit = {
    val staging = tr.construct("ingest", "loadSuperstore")(
      Ingest.loadSuperstore(spark, batchFile.getPath))
    val prior = tr.construct("etl", "readPriorDims")(RetailWarehouse.readPriorDims(spark, wh))
    val res = tr.construct("etl", "run")(RetailWarehouse.run(staging, asOf(i), prior))
    res.dims.toSeq.sortBy(_._1).foreach { case (n, df) =>
      tr.call("etl", "writeSwap")(RetailWarehouse.writeSwap(df, s"$wh/$n"))
    }
    val noKeys = spark.createDataFrame(java.util.List.of[Row](), keySchema)
    mr = tr.call("sources", "merge")(
      Snapshots.merge(spark, fact, res.fact, noKeys, "order_id"))
  }

  def check(i: Int): Unit = {
    // bytes the commits and swaps wrote: every file new or changed
    bytesWritten += files().collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
    bytesIn += batchFile.length
    rewritten += mr.filesRewritten
    touchedBase += mr.filesRewritten + mr.filesCarried
    var closed = 0L
    Seq(Workload.customerDim -> "customer_id", Workload.productDim -> "product_id").foreach {
      case (name, nk) =>
        // per natural key: its row count and its current-row count
        val r = spark.read.parquet(s"$wh/$name").groupBy(col(nk))
          .agg(count(lit(1)).as("n"), sum(when(col("is_current") === 1, 1).otherwise(0)).as("c"))
          .agg(sum(col("n")), sum(when(col("c") =!= 1, 1).otherwise(0)), count(lit(1))).head()
        expect(r.getLong(1) == 0,
          s"$name: ${r.getLong(1)} natural keys without exactly one current row")
        closed += r.getLong(0) - r.getLong(2)
    }
    versioned += closed - closedRows
    closedRows = closed
    val f = Snapshots.read(spark, fact).agg(count(lit(1)),
      countDistinct(col("order_id")), sum(dec4(col("sales")))).head()
    expect(f.getLong(0) == gen.lines,
      s"fact rows ${f.getLong(0)} != generated order ids ${gen.lines}")
    expect(f.getLong(1) == f.getLong(0), "fact holds duplicate order ids")
    val expected = java.math.BigDecimal.valueOf(gen.salesCents, 2)
    expect(f.getDecimal(2).compareTo(expected) == 0,
      s"fact sum(sales) ${f.getDecimal(2)} != generated $expected")
    opsDone += 1
  }

  def inputs: Seq[InputRecord] = base +: batchRecs.toSeq

  def metrics: Seq[(String, Double, String)] = Seq(
    ("bytes_written_per_input_byte", bytesWritten.toDouble / math.max(1L, bytesIn), "ratio"),
    ("sources.merge_rewrite_ratio", rewritten.toDouble / math.max(1L, touchedBase), "ratio"),
    ("etl.dim_rows_versioned", versioned.toDouble / math.max(1, opsDone), "count"))
}

/** The dashboard's read side: one chart per request over the star join
  * of a versioned fact, range-clustered by order date, and the current
  * dimension rows.
  */
final class DashboardReads(spark: SparkSession, tr: Tracer, seed: Long, sf: Double)
    extends Workload(spark, tr, seed, sf) {
  private var base: InputRecord = _
  private var fact: String = _
  private var dimC: DataFrame = _
  private var dimP: DataFrame = _
  private var factRows = 0L
  private val rnd = new SplittableRandom(seed ^ 0x5eedL)
  private var filesRead = 0L
  private var filesTotal = 0L

  /** One fact cell of the check cube: (epoch day, segment, category). */
  private final case class Cell(day: Int, seg: String, cat: String,
      n: Long, sales: java.math.BigDecimal, profit: java.math.BigDecimal)
  private var cube: Array[Cell] = _

  private final case class Request(chart: String, seg: Option[String],
      cat: Option[String], window: Option[(Int, Int)], pick: String)
  private var req: Request = _
  private var result: Array[Row] = _

  private val charts = Seq("kpis", "salesByDate", "profitByCategory", "salesBySegment",
    "categoryVsRest", "revenueShareByCategory", "options")
  /** Timed requests cycle through every chart in a seeded order, so each
    * run's mix holds every chart about equally often.
    */
  private val order = new scala.util.Random(seed).shuffle(charts)
  import RetailGen.{categories, firstDay, lastDay, segments}

  def rowsPerOp: Long = factRows
  /** The first requests plan and compile cold; `kpis`, `salesByDate` and
    * `profitByCategory` (a global aggregate and two sorted group-bys) warm
    * the code the other charts share.
    */
  def warmUpOps: Int = 3
  /** With `--seconds 7` this gives 14 timed requests, two full cycles of
    * the seven charts, so every run's median is over the same chart mix.
    */
  def sizingOpS: Double = 0.5
  def resetMetrics(): Unit = { filesRead = 0L; filesTotal = 0L }

  def setUp(dir: File): Unit = {
    val gen = new RetailGen(seed, sf)
    val csv = new File(dir, "base.csv")
    base = gen.writeBase(csv)
    val wh = new File(dir, "wh").getPath
    fact = new File(dir, "fact").getPath
    val res = RetailWarehouse.run(Ingest.loadSuperstore(spark, csv.getPath),
      java.sql.Date.valueOf("1998-08-03"))
    res.dims.foreach { case (n, df) => RetailWarehouse.writeSwap(df, s"$wh/$n") }
    Snapshots.commit(
      res.fact.repartitionByRange(16, col("order_date")).sortWithinPartitions("order_date"),
      fact, statsCols = Seq("order_date", "customer_key", "product_key"))
    csv.delete()
    dimC = spark.read.parquet(s"$wh/${Workload.customerDim}")
    dimP = spark.read.parquet(s"$wh/${Workload.productDim}")
    // the check cube, aggregated from the generator's ledger: every
    // fact row joins a current dimension row, as nothing has changed yet
    cube = gen.ledger.toSeq.groupBy { case (d, seg, cat, _, _) => (d, seg, cat) }
      .map { case ((d, seg, cat), ls) =>
        Cell(d, seg, cat, ls.size.toLong, java.math.BigDecimal.valueOf(ls.map(_._4).sum, 2),
          java.math.BigDecimal.valueOf(ls.map(_._5).sum, 2))
      }.toArray
    factRows = gen.lines
    DimFilePrune.enable(spark, fact)
  }

  def prepare(i: Int): Unit = {
    val chart = if (i < warmUpOps) charts(i) else order((i - warmUpOps) % charts.size)
    val seg = if (rnd.nextInt(3) == 0) Some(segments(rnd.nextInt(3))) else None
    val cat = if (rnd.nextInt(4) == 0) Some(categories(rnd.nextInt(3))) else None
    val window = if (rnd.nextInt(5) < 2) {
      val len = 30 + rnd.nextInt(700)
      val start = firstDay + rnd.nextInt(lastDay - firstDay - len)
      Some((start, start + len))
    } else None
    val pick =
      if (chart == "options") Seq("segment", "category")(rnd.nextInt(2))
      else categories(rnd.nextInt(3))
    req = Request(chart, seg, cat, window, pick)
  }

  def op(i: Int): Unit = {
    val (factDf, index) = tr.construct("sources", "readIndexed")(Snapshots.readIndexed(spark, fact))
    var star = tr.construct("analytics", "starJoin")(Dashboard.starJoin(factDf, dimC, dimP))
    val filters = req.seg.map("segment" -> _).toMap ++ req.cat.map("category" -> _)
    if (filters.nonEmpty) star = tr.construct("analytics", "slice")(Dashboard.slice(star, filters))
    req.window.foreach { case (a, b) =>
      star = star.filter(col("order_date").between(
        java.sql.Date.valueOf(LocalDate.ofEpochDay(a)), java.sql.Date.valueOf(LocalDate.ofEpochDay(b))))
    }
    val chart = tr.construct("analytics", req.chart)(req.chart match {
      case "kpis" => Dashboard.kpis(star)
      case "salesByDate" => Dashboard.salesByDate(star)
      case "profitByCategory" => Dashboard.profitByCategory(star)
      case "salesBySegment" => Dashboard.salesBySegment(star)
      case "categoryVsRest" => Dashboard.categoryVsRest(star, req.pick)
      case "revenueShareByCategory" => Dashboard.revenueShareByCategory(star)
      case "options" => Dashboard.options(star, req.pick)
    })
    result = tr.collect("analytics", req.chart, chart)
    val (kept, total) = index.lastPrune
    filesRead += kept
    filesTotal += total
  }

  private def same(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def agree(got: Option[Double], want: Option[Double]): Boolean =
    (got, want) match {
      case (Some(a), Some(b)) => same(a, b)
      case (None, None) => true
      case _ => false
    }

  private def dbl(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Σ of `f` per group key over the cells the request selects. */
  private def byKey(cells: Seq[Cell], key: Cell => String, f: Cell => java.math.BigDecimal)
      : Map[String, Double] =
    cells.groupBy(key).map { case (k, cs) =>
      k -> cs.map(f).reduce(_ add _).doubleValue }

  def check(i: Int): Unit = {
    val cells = cube.filter(c =>
      req.seg.forall(s => s == c.seg) && req.cat.forall(s => s == c.cat) &&
        req.window.forall { case (a, b) => c.day >= a && c.day <= b }).toSeq
    val n = cells.map(_.n).sum
    def total(f: Cell => java.math.BigDecimal): Option[Double] =
      if (cells.isEmpty) None else Some(cells.map(f).reduce(_ add _).doubleValue)
    def asMap(rows: Array[Row]): Map[String, Double] =
      rows.map(r => String.valueOf(r.get(0)) -> r.getDouble(1)).toMap
    def sameMap(got: Map[String, Double], want: Map[String, Double]): Boolean =
      got.keySet == want.keySet && got.forall { case (k, v) => same(v, want(k)) }
    req.chart match {
      case "kpis" =>
        val r = result.head
        expect(r.getLong(2) == n, s"kpis n ${r.getLong(2)} != $n")
        expect(agree(dbl(r, 0), total(_.sales)), "kpis total_sales differs")
        expect(agree(dbl(r, 1), total(_.profit)), "kpis total_profit differs")
      case "salesByDate" =>
        val want = byKey(cells, c => LocalDate.ofEpochDay(c.day).toString, _.sales)
        expect(sameMap(asMap(result), want), "salesByDate differs")
      case "profitByCategory" =>
        expect(sameMap(asMap(result), byKey(cells, c => String.valueOf(c.cat), _.profit)),
          "profitByCategory differs")
      case "salesBySegment" =>
        expect(sameMap(asMap(result), byKey(cells, c => String.valueOf(c.seg), _.sales)),
          "salesBySegment differs")
      case "categoryVsRest" =>
        val sales = result.map(_.getDouble(1)).sum
        val profit = result.map(_.getDouble(2)).sum
        expect(total(_.sales).forall(t => math.abs(sales - t) <= 1e-6 * math.max(1.0, t)),
          "categoryVsRest sales sides do not sum to the KPI total")
        expect(total(_.profit).forall(t => math.abs(profit - t) <= 1e-6 * math.max(1.0, math.abs(t))),
          "categoryVsRest profit sides do not sum to the KPI total")
      case "revenueShareByCategory" =>
        expect(sameMap(result.map(r => String.valueOf(r.get(0)) -> r.getDouble(1)).toMap,
          byKey(cells, c => String.valueOf(c.cat), _.sales)), "revenue by category differs")
        val share = result.map(_.getDouble(2)).sum
        expect(cells.isEmpty || math.abs(share - 100.0) < 1e-4, s"share_pct sums to $share")
      case "options" =>
        val want = cells.map(c => if (req.pick == "segment") c.seg else c.cat).distinct
        expect(result.map(r => r.getString(0)).toSet == want.toSet, "options differ")
    }
  }

  def inputs: Seq[InputRecord] = Seq(base)

  def metrics: Seq[(String, Double, String)] = Seq(
    ("sources.files_read_ratio", filesRead.toDouble / math.max(1L, filesTotal), "ratio"))
}

/** Corpus preparation and ANN probing: text dedup over a document batch,
  * then a batch of 32 queries against a stored IVF-PQ index.
  */
final class CorpusAnn(spark: SparkSession, tr: Tracer, seed: Long, sf: Double)
    extends Workload(spark, tr, seed, sf) {
  import spark.implicits._

  private val batchDocs = math.max(200, (50000 * sf).toInt)
  private val nQueries = 32
  private val k = 10
  private var gen: CorpusGen = _
  private var index: String = _
  private val recs = scala.collection.mutable.ArrayBuffer.empty[InputRecord]
  private var docs: Array[(Long, String)] = _
  private var docsDf: DataFrame = _
  private var queries: Array[(Long, Array[Float])] = _
  private var queriesDf: DataFrame = _
  private var prepared: DataFrame = _
  private var survivors = 0L
  private var probe: Array[Row] = _
  private var survivorSum = 0L
  private var docSum = 0L
  private var recallSum = 0.0
  private var checked = 0
  /** Recall over every batch of the run, warm-up included, for the check. */
  private var runRecallSum = 0.0
  private var runBatches = 0

  def rowsPerOp: Long = batchDocs
  def warmUpOps: Int = 1
  def sizingOpS: Double = 3.5
  def resetMetrics(): Unit = { survivorSum = 0L; docSum = 0L; recallSum = 0.0; checked = 0 }

  def setUp(dir: File): Unit = {
    gen = new CorpusGen(seed, poolDocs = batchDocs, nVectors = math.max(500, (20000 * sf).toInt))
    recs.clear()
    recs += gen.record("documents", gen.pool.iterator)
    recs += gen.record("embeddings", gen.vectors.iterator.map(_.mkString(",")))
    val emb = gen.vectors.zip(gen.labels).zipWithIndex
      .map { case ((v, l), i) => (i.toLong, v, l) }.toSeq
      .toDF("vec_id", "embedding", "label")
    index = new File(dir, "pq").getPath
    Similarity.writePqIndex(emb, index)
  }

  /** Exact top-k by cosine, rounded to 6 places with ties broken by id,
    * the ordering of `Similarity.bruteForceTopK`, computed on the driver
    * so the reference does not share code with the probe it checks.
    */
  private def exactTopK(q: Array[Float]): Set[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = norm(q)
    gen.vectors.indices.map { i =>
      val v = gen.vectors(i)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j).toDouble * q(j); j += 1 }
      val sim = BigDecimal(dot / (norm(v) * qn)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      (sim, i.toLong)
    }.sortBy { case (sim, id) => (-sim, id) }.take(k).map(_._2).toSet
  }

  /** Mean share of each query's exact top-k that the probe returned. */
  private def recall(q: Array[(Long, Array[Float])], got: Array[Row]): Double = {
    val approx = got.groupBy(_.getAs[Long]("query_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("corpus_id")).toSet }
    q.map { case (id, v) =>
      val e = exactTopK(v)
      (e intersect approx.getOrElse(id, Set.empty[Long])).size.toDouble / e.size
    }.sum / q.length
  }

  def prepare(i: Int): Unit = {
    docs = gen.docBatch(batchDocs, 1000000L * (i + 1))
    queries = gen.queries(nQueries, 10000000L + 1000L * (i + 1))
    recs += gen.record(s"docs-$i", docs.iterator.map { case (id, t) => s"$id\t$t" })
    recs += gen.record(s"queries-$i", queries.iterator.map { case (id, v) => s"$id\t${v.mkString(",")}" })
    docsDf = docs.toSeq.toDF("doc_id", "text")
    queriesDf = queries.toSeq.toDF("vec_id", "embedding")
  }

  def op(i: Int): Unit = {
    prepared = tr.construct("operators", "CorpusPipeline.prepare")(CorpusPipeline.prepare(docsDf))
    survivors = tr.count("operators", "CorpusPipeline.prepare", prepared)
    val p = tr.construct("operators", "Similarity.probePqIndex")(
      Similarity.probePqIndex(spark, index, queriesDf, k))
    probe = tr.collect("operators", "Similarity.probePqIndex", p)
  }

  def check(i: Int): Unit = {
    val rows = prepared.select("doc_id", "text").collect()
    expect(rows.length == survivors, s"survivors ${rows.length} != counted $survivors")
    val batch = docs.toMap
    expect(rows.forall(r => batch.get(r.getLong(0)).contains(r.getString(1))),
      "a survivor is not a document of the batch")
    expect(rows.map(_.getString(1)).distinct.length == rows.length,
      "survivors hold duplicate texts")
    val r = recall(queries, probe)
    expect(r >= CorpusAnn.RecallFloor, f"recall@$k $r%.3f below the floor ${CorpusAnn.RecallFloor}%.3f")
    runRecallSum += r
    runBatches += 1
    val mean = runRecallSum / runBatches
    expect(runBatches < 3 || mean >= CorpusAnn.MeanFloor,
      f"recall@$k over $runBatches batches $mean%.3f below the floor ${CorpusAnn.MeanFloor}%.3f")
    survivorSum += survivors
    docSum += docs.length
    recallSum += r
    checked += 1
  }

  def inputs: Seq[InputRecord] = recs.toSeq

  def metrics: Seq[(String, Double, String)] = Seq(
    ("operators.dedup_survivor_ratio", survivorSum.toDouble / math.max(1L, docSum), "ratio"),
    ("operators.ann_recall_at_10", recallSum / math.max(1, checked), "ratio"))
}

object CorpusAnn {
  /** Recall@10 every 32-query batch must reach: half the lowest batch
    * recall, 0.275, of 33 batches measured over seeds 101-110 at sf 0.01 and
    * seed 7 at sf 0.001 (mean 0.36). A probe that returns unrelated
    * vectors scores about k / vectors = 0.02.
    */
  val RecallFloor = 0.1375

  /** Recall@10 the mean over a run's batches must reach from the third
    * batch on. Over the same seeds, the lowest three-batch mean of a correct
    * probe was 0.305; with the sign of the PQ residual flipped in the
    * decode, the highest over seeds 101, 103 and 107 was 0.183. Both floors
    * are constants, so a probe broken from the start cannot set its own
    * floor.
    */
  val MeanFloor = 0.24
}
