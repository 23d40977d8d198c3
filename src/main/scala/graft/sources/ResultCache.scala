package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query result cache — the BI serving layer's answer to "the same
  * dashboard aggregate runs every few seconds against data that changes
  * once an hour". A result is stored as parquet under a key derived from
  * (canonicalized plan, scan paths, result schema, dependency
  * signatures), so a repeat of the SAME computation against the SAME
  * table versions is served by a metadata probe + a rollup-sized scan,
  * and ANY change — different query, different dependency version —
  * changes the key and recomputes. Staleness is structurally impossible:
  * there is no TTL to tune, the key IS the freshness proof.
  *
  * Dependency signatures: a versioned table ([[Snapshots]]) signs as its
  * latest version number (exact); a plain parquet directory signs as a
  * hash of its file listing (name/length/mtime — the same heuristic
  * Spark's own file index caches by).
  *
  * The key hashes the canonicalized LOGICAL plan's full JSON — no string
  * truncation, so two wide-but-different aggregates cannot collide the
  * way a truncated treeString would; exprIds are canonicalized away, so
  * the same query re-built in a new session hits. Plans embedding
  * session-local state (localCheckpoint RDD ids) key unstably and so
  * always MISS — the safe direction (a collision would serve wrong
  * results; a miss just recomputes).
  *
  * Concurrency: results write to a temp dir and rename into place; a
  * lost race deletes its temp and serves the winner's files. Entries are
  * immutable once published; [[prune]] reclaims by age.
  */
object ResultCache {

  /** Serve `df`'s result from the cache at `cacheRoot`, computing and
    * publishing it on miss. `deps` lists every table path the query
    * reads — understating them risks stale hits, so pass all of them.
    */
  def cached(df: DataFrame, cacheRoot: String, deps: Seq[String])
      : DataFrame = {
    require(deps.nonEmpty, "ResultCache.cached: list the query's source tables")
    val spark = df.sparkSession
    val key = cacheKey(spark, df, deps)
    val root = new Path(cacheRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(root, s"k$key")
    val done = new Path(dir, "_SUCCESS")
    if (!fs.exists(done)) {
      val tmp = new Path(root,
        s"_tmp_${java.util.UUID.randomUUID().toString.take(12)}")
      df.write.mode("errorifexists").parquet(tmp.toString)
      fs.mkdirs(root)
      val won = !fs.exists(dir) && fs.rename(tmp, dir)
      if (!won) fs.delete(tmp, true) // racer published first; serve theirs
    }
    require(fs.exists(done), s"ResultCache: publish failed at $dir")
    spark.read.schema(df.schema).parquet(dir.toString)
  }

  /** True if `df` would be served from cache right now (observability +
    * spec hook; subject to the usual check-then-act race).
    */
  def isCached(df: DataFrame, cacheRoot: String, deps: Seq[String]): Boolean = {
    val spark = df.sparkSession
    val p = new Path(new Path(cacheRoot),
      s"k${cacheKey(spark, df, deps)}/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def cacheKey(spark: SparkSession, df: DataFrame,
      deps: Seq[String]): String = {
    val plan = df.queryExecution.optimizedPlan
    // the scan paths ride the key explicitly as well: TreeNode.toJSON
    // elides non-serializable relation internals, and the key must never
    // collide across two tables with the same query shape
    val scanPaths = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location match {
              case fi: SnapshotFileIndex => fi.scanIdentity
              case loc => loc.rootPaths.map(_.toString).mkString(",")
            }
          case _ => ""
        }
    }.mkString(";")
    val sig = deps.map(d => s"$d=${depSignature(spark, d)}").sorted
      .mkString("|")
    md5(plan.canonicalized.toJSON + "\n" + scanPaths + "\n" +
      df.schema.json + "\n" + sig)
  }

  /** Freshness signature of one dependency (see class doc). */
  def depSignature(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(p, "_manifests")))
      s"v${Snapshots.latestVersion(spark, path)}"
    else if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          buf += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      }
      md5(buf.sorted.mkString("\n")).take(16)
    }
  }

  /** Delete cache entries older than `olderThanMs` (published-time
    * mtime). Returns the deleted entry names.
    */
  def prune(spark: SparkSession, cacheRoot: String,
      olderThanMs: Long): Seq[String] = {
    val root = new Path(cacheRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("k") ||
          st.getPath.getName.startsWith("_tmp_")) &&
        st.getModificationTime < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
