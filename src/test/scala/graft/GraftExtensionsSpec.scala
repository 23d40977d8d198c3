package graft

import org.apache.spark.sql.SparkSession

/** The SQL surface: native expressions callable from pure SQL, via either
  * `spark.sql.extensions=graft.GraftExtensions` at session build or
  * `GraftExtensions.register(spark)` on a live session (used here — the
  * test JVM shares one session across suites).
  */
class GraftExtensionsSpec extends SparkSpec {
  /** The shared session, with the functions registered on first use. */
  private lazy val session: SparkSession = {
    GraftExtensions.register(spark)
    spark
  }

  test("cosine_similarity callable from SQL") {
    val r = session.sql(
      """SELECT cosine_similarity(
           CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
           CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c""")
      .collect()(0).getDouble(0)
    assert(r === 1.0)
  }

  test("hilbert_d callable from SQL, matching the Scala reference") {
    val r = session.sql("SELECT hilbert_d(3, 5) AS h").collect()(0).getLong(0)
    assert(r === graft.functions.HilbertExpression.hilbertD(3L, 5L, 16))
    val r8 = session.sql("SELECT hilbert_d(3, 5, 8) AS h").collect()(0).getLong(0)
    assert(r8 === graft.functions.HilbertExpression.hilbertD(3L, 5L, 8))
  }

  test("z_value callable from SQL at 2 and 3 columns, matching the Scala API") {
    // 2 args dispatch to the fixed-stride binary interleave, 3+ to the
    // variadic curve — same values the Scala zValue/zValueN produce
    val r2 = session.sql("SELECT z_value(3, 5) AS z").collect()(0).getLong(0)
    assert(r2 === graft.functions.ZOrderExpression.interleave(3L, 5L))
    val r3 = session.sql("SELECT z_value(1, 2, 4) AS z").collect()(0).getLong(0)
    assert(r3 === graft.functions.ZOrderExpression.interleaveN(
      Array(1L, 2L, 4L), 20))
  }

  test("sign_bucket callable from SQL with literal plane parameters") {
    session.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    val rows = session.sql(
      "SELECT vec_id, sign_bucket(embedding, 8, 64, 42) AS b FROM emb LIMIT 5")
      .collect()
    assert(rows.forall(_.getString(1).length == 8))
    assert(rows.forall(_.getString(1).forall(c => c == '0' || c == '1')))
  }
}
