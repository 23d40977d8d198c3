package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One catalog entry: a Spark query plus (optionally) the ANSI-SQL oracle
  * the driver runs in DuckDB over the same parquet tables. Queries without
  * an oracle get the driver's weaker rows-only check (approx sketches,
  * hash functions DuckDB lacks).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDsl {
  /** Exact, order-independent sum of a money-like double: per-row cast to
    * decimal(27,4), exact decimal sum, back to double. Bit-identical
    * between Spark and DuckDB regardless of partitioning/accumulation
    * order — the float-parity workhorse for the oracle hash-compare.
    * Scale 4 (not 2) so that products of two 2-decimal values — e.g.
    * `price * (1-discount)` — cast with NO rounding at all; at scale 2 the
    * frequent exact .xx5 boundary would split on Spark's HALF_UP vs
    * DuckDB's HALF_EVEN.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(27,4)")).cast("double")

  /** SQL twin of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(27,4))) AS DOUBLE)"

  /** Row-level revenue expression (TPC-H style). */
  def revenue(price: Column, discount: Column): Column = price * (lit(1) - discount)
  val revenueSql = "l_extendedprice*(1-l_discount)"
}

/** Session-scoped FIXTURE MEMO shared by the catalog files — the
  * `SqlDml.enable` memo discipline applied to bench fixtures: an
  * entry's table construction (commits, mutations, maintenance — all
  * deterministic in the dataset dir) runs ONCE per (application,
  * dataset, tag); later invocations reuse the built table. Sound because
  * each memoized build ends in the FINAL state its entry's query reads,
  * and entries never touch each other's tags. Bench's min-of-3 then
  * measures the query against a warm fixture instead of re-paying the
  * commit protocol per iteration; the correctness dump (one invocation
  * per JVM) is unaffected, and FixtureMemoSpec pins that a SECOND
  * invocation still returns hash-identical results.
  *
  * Every path lives under the application's scratch root
  * ([[graft.Session.scratch]]), which is deleted when the session stops.
  */
object Fixtures {
  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9.]", "_")

  def tablePath(s: SparkSession, d: String, tag: String): String =
    s"${graft.Session.scratch(s)}/${tag}_${sanitize(d)}"

  def freshTable(s: SparkSession, d: String, tag: String): String = {
    val path = tablePath(s, d, tag)
    graft.Session.deleteRecursively(java.nio.file.Paths.get(path))
    path
  }

  private val built = scala.collection.mutable.Set.empty[String]

  /** `tag`'s path after `build(path)` completed once in this application.
    * Completion is recorded in memory under one JVM-wide reentrant lock:
    * builds never race a half-visible store, a build may memo another
    * tag (a nested memo), and a build that throws records nothing, so
    * the next call empties the directory and builds again. The path
    * carries the applicationId, so no other application sees it.
    */
  def memo(s: SparkSession, d: String, tag: String)(
      build: String => Unit): String = built.synchronized {
    val tbl = tablePath(s, d, tag)
    if (!built(tbl)) {
      build(freshTable(s, d, tag))
      built += tbl
    }
    tbl
  }
}
