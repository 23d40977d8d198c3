package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe data generator: replicates the driver's testdata tables
  * `factor`× with key-space shifts, so sf0.1 → sf1-shaped inputs exist
  * for the scaling measurements NOTES records (the designs claim 100×
  * headroom; this measures one decade of it).
  *
  * Replication discipline per table:
  *  - entity/fact keys shift by `replica × (maxKey + 1)` so joins keep
  *    their selectivity (every replica is a self-contained key space;
  *    dimension tables nation/region stay fixed — their cardinality is
  *    scale-free in TPC-H too);
  *  - `documents.text` prefixes every word with a replica tag — a
  *    word-BIJECTIVE transform, so similarity structure WITHIN a
  *    replica is preserved exactly (shingle Jaccard is invariant under
  *    an injective word map) while replicas share zero shingles with
  *    each other: dedup candidate counts scale linearly instead of
  *    exploding on artificial duplicates (a constant separator token
  *    would instead INFLATE intra-replica similarity — every doc pair
  *    sharing any word gains shared shingles — which measured 70×
  *    super-linear on the component resolve);
  *  - `embeddings.embedding` rotates by `replica` positions — norms
  *    keep, directions change, so replicas are not cosine duplicates;
  *  - `events` shifts user/event ids, keeping the time axis (windows
  *    see factor× densities, the realistic growth shape).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> [factor]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()

    def rd(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0)

    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_.unionByName(_))

    val ordKeyOff = maxOf(rd("orders"), "o_orderkey") + 1
    val custOff = maxOf(rd("customer"), "c_custkey") + 1
    val suppOff = maxOf(rd("supplier"), "s_suppkey") + 1
    val partOff = maxOf(rd("part"), "p_partkey") + 1

    wr(replicate(rd("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custOff))
    }, "customer")
    wr(replicate(rd("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppOff))
    }, "supplier")
    wr(replicate(rd("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partOff))
    }, "part")
    wr(replicate(rd("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordKeyOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))
    }, "orders")
    wr(replicate(rd("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordKeyOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppOff))
    }, "lineitem")
    // nation/region: scale-free dimensions, copied as-is
    wr(rd("nation"), "nation")
    wr(rd("region"), "region")

    val evtOff = maxOf(rd("events"), "event_id") + 1
    val userOff = maxOf(rd("events"), "user_id") + 1
    wr(replicate(rd("events")) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * evtOff))
        .withColumn("user_id", col("user_id") + lit(i * userOff))
    }, "events")

    val docOff = maxOf(rd("documents"), "doc_id") + 1
    wr(replicate(rd("documents")) { (df, i) =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), lit("(\\w+)"), lit(s"q$i$$1"))
      df.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", text)
        .withColumn("n_chars", length(text).cast("long"))
    }, "documents")

    val vecOff = maxOf(rd("embeddings"), "vec_id") + 1
    val dim = rd("embeddings")
      .selectExpr("size(embedding) d").head().getInt(0)
    wr(replicate(rd("embeddings")) { (df, i) =>
      // Rotate by i MOD dim (a plain rotate-by-i is the IDENTITY once
      // i reaches the vector length — factor>dim replicas would be
      // exact cross-replica cosine duplicates, the same generator-
      // artifact class as the shingle-separator lesson above), and
      // reverse on odd i/dim blocks so replicas a full period apart
      // (same rotation) still differ in direction. Both transforms
      // are norm-preserving permutations.
      val r = i % dim
      val rot =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      val emb = if ((i / dim) % 2 == 1) reverse(rot) else rot
      df.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding", emb)
    }, "embeddings")

    println(s"""{"scaled":"$outDir","factor":$factor}""")
    spark.stop()
  }
}
