package graft.etl

import graft.ingest.Ingest
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dimension configuration — the engine's `DIMENSIONS` registry
  * (reference /root/reference/etl/load_to_query.py:16-37, re-expressed).
  */
final case class DimSpec(
    name: String,
    naturalKey: Seq[String],
    tracked: Seq[String],
    surrogateKey: String) {
  def cols: Seq[String] = naturalKey ++ tracked
}

/** The full retail star-schema warehouse build — the reference's
  * `load_to_bigquery` flow (/root/reference/etl/load_to_query.py:47-204)
  * as one declarative Spark job graph:
  *
  *   staging → (per dim: project ∩ available-columns → SCD2 merge →
  *   sink) → dim_date derivation → fact assembly via broadcast
  *   key-mapping joins → marts.
  *
  * Differences by design, not accident:
  *  - SCD2 is set-based (see [[Scd2]]), not a row loop;
  *  - the fact sink is partitioned by order year, so a 100 TB fact prunes
  *    partitions on every date-sliced query;
  *  - dims broadcast into the fact build — the fact never shuffles on the
  *    dimension key;
  *  - `asOf` is injected (reference uses `datetime.today()`), making runs
  *    reproducible and testable.
  */
object RetailWarehouse {

  /** Dim registry: store dim is configured but absent from Superstore —
    * the column-exists guard (reference P9) skips it at runtime.
    */
  val dimensions: Seq[DimSpec] = Seq(
    DimSpec("dim_customer", Seq("customer_id"), Seq("customer_name", "segment"), "customer_key"),
    DimSpec("dim_product", Seq("product_id"), Seq("product_name", "category"), "product_key"),
    DimSpec("dim_store", Seq("store_id"), Seq("store_name", "city", "region"), "store_key"),
  )

  /** Columns of `spec` present in `staging` (the reference's defensive
    * intersect, load_to_query.py:88-91). A dim builds only if its full
    * natural key survives.
    */
  def availableCols(staging: DataFrame, spec: DimSpec): Seq[String] =
    spec.cols.filter(staging.columns.contains)

  /** Build (or incrementally merge) every eligible dimension. `prior` maps
    * dim name → existing dimension state for incremental runs (reference
    * E2 entry point).
    */
  def buildDims(
      staging: DataFrame,
      prior: Map[String, DataFrame],
      asOf: java.sql.Date): Map[String, DataFrame] =
    dimensions.flatMap { spec =>
      val avail = availableCols(staging, spec)
      if (!spec.naturalKey.forall(avail.contains)) None
      else {
        val tracked = spec.tracked.filter(avail.contains)
        val cfg = Scd2Config(spec.naturalKey, tracked, spec.surrogateKey)
        // duplicate rows need no distinct(): the SCD2 dedup's min_by
        // group-by collapses them without a shuffle of its own
        val incoming = staging.select(avail.map(col): _*)
        val dim = prior.get(spec.name) match {
          case Some(cur) => Scd2.merge(cur, incoming, cfg, asOf)
          case None      => Scd2.initialLoad(incoming, cfg, asOf)
        }
        Some(spec.name -> dim)
      }
    }.toMap

  /** Assemble the fact: map each dim's natural key to its current
    * surrogate key via broadcast left joins, drop the natural key
    * (reference load_to_query.py:181-202). Measures and degenerate
    * dimensions pass through.
    */
  def buildFact(
      staging: DataFrame,
      dims: Map[String, DataFrame],
      factCols: Seq[String]): DataFrame = {
    val present = factCols.filter(staging.columns.contains)
    val base = staging.select(present.map(col): _*)
    dimensions.filter(d => dims.contains(d.name)).foldLeft(base) { (acc, spec) =>
      if (!spec.naturalKey.forall(acc.columns.contains)) acc
      else {
        val keyMap = dims(spec.name)
          .filter(col(Scd2.CurrentCol) === 1)
          .select((spec.naturalKey :+ spec.surrogateKey).map(col): _*)
        acc.join(broadcast(keyMap), spec.naturalKey, "left")
          .drop(spec.naturalKey: _*)
      }
    }
  }

  /** Pre-aggregated marts (README-declared mart_sales_performance and
    * mart_category_analysis, README.md:82-85) over the assembled star.
    */
  def martSalesPerformance(fact: DataFrame, dimCustomer: DataFrame): DataFrame =
    fact.join(broadcast(dimCustomer.filter(col("is_current") === 1)
        .select(col("customer_key"), col("segment"))), Seq("customer_key"), "left")
      .groupBy(year(col("order_date")).as("order_year"),
        month(col("order_date")).as("order_month"), col("segment"))
      .agg(sum(col("sales").cast("decimal(27,4)")).cast("double").as("total_sales"),
        sum(col("profit").cast("decimal(27,4)")).cast("double").as("total_profit"),
        count(lit(1)).as("n_rows"))

  def martCategoryAnalysis(fact: DataFrame, dimProduct: DataFrame): DataFrame =
    fact.join(broadcast(dimProduct.filter(col("is_current") === 1)
        .select(col("product_key"), col("category"))), Seq("product_key"), "left")
      .groupBy(col("category"))
      .agg(sum(col("sales").cast("decimal(27,4)")).cast("double").as("total_sales"),
        sum(col("profit").cast("decimal(27,4)")).cast("double").as("total_profit"),
        count(lit(1)).as("n_rows"))

  /** ETL run log entry (README-declared `etl_run_log`): append-only audit
    * frame for a completed stage.
    */
  def runLogEntry(spark: SparkSession, stage: String, rows: Long,
      asOf: java.sql.Date): DataFrame = {
    import spark.implicits._
    Seq((stage, rows, asOf.toString, "success")).toDF(
      "stage", "rows_processed", "as_of", "status")
  }

  final case class WarehouseResult(
      staging: DataFrame,
      dims: Map[String, DataFrame],
      dimDate: DataFrame,
      fact: DataFrame)

  /** Full batch flow from a Superstore-shaped CSV (reference E1), in
    * memory. Callers persist with [[writeWarehouse]].
    */
  def runFromCsv(spark: SparkSession, csvPath: String, asOf: java.sql.Date,
      prior: Map[String, DataFrame] = Map.empty): WarehouseResult = {
    val staging = Ingest.loadSuperstore(spark, csvPath)
    run(staging, asOf, prior)
  }

  def run(staging: DataFrame, asOf: java.sql.Date,
      prior: Map[String, DataFrame] = Map.empty): WarehouseResult = {
    // Materialize merged dims eagerly (localCheckpoint severs lineage):
    // an incremental run's dim plan READS the prior warehouse files, and
    // every downstream consumer — fact join, marts, the overwrite swap —
    // must not re-execute that read after the files are replaced. On a
    // real cluster use a reliable checkpoint dir or versioned dim paths;
    // dims are the small side of a star schema either way.
    val dims = materializeConcurrently(buildDims(staging, prior, asOf))
    val dimDate = DimDate.fromColumn(staging, "order_date")
    val fact = buildFact(staging, dims,
      Seq("order_id", "order_date", "customer_id", "product_id", "store_id",
        "sales", "profit"))
    WarehouseResult(staging, dims, dimDate, fact)
  }

  /** `localCheckpoint(true)` every dim, one thread per dim. Each dim's
    * merge is a few small jobs whose tasks leave most cores idle, so
    * running the dims side by side overlaps their scheduling gaps instead
    * of queueing them. Each thread runs through
    * `SQLExecution.withThreadLocalCaptured`, which carries the caller's
    * local properties (job group, description, any tag a profiler set)
    * and its active session onto the pool thread, so every job still
    * reads as the caller's. All dims finish before this returns; the
    * first failing dim (in registry order) rethrows its own cause.
    */
  private def materializeConcurrently(
      dims: Map[String, DataFrame]): Map[String, DataFrame] = {
    import java.util.concurrent.{ExecutionException, Executors}
    import org.apache.spark.sql.execution.SQLExecution
    if (dims.isEmpty) dims
    else {
      val session = dims.head._2.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val pool = Executors.newFixedThreadPool(dims.size, (r: Runnable) => {
        val t = new Thread(r, "graft-dim-pool")
        t.setDaemon(true)
        t
      })
      try {
        val pending = dimensions.map(_.name).filter(dims.contains).map { n =>
          n -> SQLExecution.withThreadLocalCaptured(session, pool)(dims(n).localCheckpoint(true))
        }
        val done = pending.map { case (n, f) => n -> scala.util.Try(f.get()) }
        done.collectFirst { case (_, scala.util.Failure(e: ExecutionException)) => throw e.getCause }
        done.map { case (n, t) => n -> t.get }.toMap
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      }
    }
  }

  /** Persist the star schema: dims overwrite (tiny, full-state tables);
    * the fact partitions by order year for partition-pruned scans at
    * scale.
    *
    * Dims use a staged write + swap: an incremental run's merged dim
    * still lazily READS the prior state from the very path being
    * overwritten — a direct `mode("overwrite")` would delete its own
    * input before the plan runs (the Spark-laziness trap hiding in the
    * reference's read-back-then-replace pattern).
    */
  def writeWarehouse(res: WarehouseResult, dir: String): Unit = {
    res.dims.foreach { case (name, df) => writeSwap(df, s"$dir/$name") }
    res.dimDate.write.mode("overwrite").parquet(s"$dir/dim_date")
    res.fact
      .withColumn("order_year", year(col("order_date")))
      .write.mode("overwrite").partitionBy("order_year").parquet(s"$dir/fact_sales")
  }

  /** Write `df` to a staging path, then atomically swap it into `target`.
    * Safe when `df`'s lineage reads `target` itself. Uses the Hadoop
    * FileSystem API so the same code works on HDFS/object stores.
    */
  def writeSwap(df: DataFrame, target: String): Unit = {
    recoverSwap(df.sparkSession, target)
    val staged = new Path(target + "._staged")
    val tgt = new Path(target)
    val fs = tgt.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(staged.toString)
    swapIn(fs, staged, tgt)
  }

  /** Replace `tgt` by the complete `staged` copy. Hadoop's `rename`
    * reports failure by returning false, not by throwing; a silent false
    * would leave the target deleted while the swap "succeeds".
    */
  private[etl] def swapIn(fs: FileSystem, staged: Path, tgt: Path): Unit = {
    if (fs.exists(tgt)) fs.delete(tgt, true)
    renameOrThrow(fs, staged, tgt)
  }

  private def renameOrThrow(fs: FileSystem, staged: Path, tgt: Path): Unit =
    if (!fs.rename(staged, tgt))
      throw new java.io.IOException(s"could not rename staged copy $staged to $tgt")

  /** Finish an interrupted [[writeSwap]]: a crash between its delete and
    * rename leaves the target missing with a COMPLETE staged copy beside
    * it (the staged write finished before the delete started). Readers
    * that would otherwise see "no dimension" — and wrongly restart SCD2
    * history as an initial load — must call this first; writeSwap itself
    * also starts with it. A leftover staged dir NEXT TO an existing
    * target is a half-written abandoned stage and is simply ignored
    * (writeSwap overwrites it).
    */
  def recoverSwap(spark: SparkSession, target: String): Unit = {
    val tgt = new Path(target)
    recoverSwap(tgt.getFileSystem(spark.sparkContext.hadoopConfiguration), tgt)
  }

  private[etl] def recoverSwap(fs: FileSystem, tgt: Path): Unit = {
    val staged = new Path(tgt.toString + "._staged")
    if (!fs.exists(tgt) && fs.exists(staged)) renameOrThrow(fs, staged, tgt)
  }

  /** Re-read prior dimension state for an incremental run (reference
    * load_to_query.py:99-103); absent path → empty prior. Existence goes
    * through the Hadoop FileSystem API — a java.io.File check is always
    * false on HDFS/object stores and would silently restart all SCD2
    * history as an initial load.
    */
  def readPriorDims(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    dimensions.flatMap { spec =>
      val p = new Path(s"$dir/${spec.name}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spec.name -> spark.read.parquet(p.toString))
      else None
    }.toMap
  }
}
