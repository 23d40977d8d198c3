package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Source abstraction specs, incl. the declared REST→JSON shape: Fake
  * Store products with a nested `rating {rate, count}` struct, flattened
  * (reference README.md:108-112, :54-56).
  */
class SourcesSpec extends SparkSpec {

  test("JsonSource parses nested structs and flattens rating.*") {
    val dir = tempDir("json")
    Files.writeString(Paths.get(dir, "products.json"),
      """{"id": 1, "title": "Fjallraven Backpack", "price": 109.95, "rating": {"rate": 3.9, "count": 120}}
        |{"id": 2, "title": "Mens Casual T-Shirt", "price": 22.3, "rating": {"rate": 4.1, "count": 259}}
        |{"id": 3, "title": "No rating product", "price": 55.99, "rating": null}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("title", StringType),
      StructField("price", DoubleType),
      StructField("rating", StructType(Seq(
        StructField("rate", DoubleType), StructField("count", LongType))))))
    val flat = JsonSource(dir, schema).read(spark)
      .select(col("id"), col("title"), col("price"),
        col("rating.rate").as("rating_rate"),
        col("rating.count").as("rating_count"))
      .orderBy("id")
    val rows = flat.collect()
    assert(rows.length === 3)
    assert(rows(0).getDouble(3) === 3.9 && rows(0).getLong(4) === 120L)
    assert(rows(2).isNullAt(3) && rows(2).isNullAt(4))
  }

  test("HttpSource fetches file:// URLs through the limiter and flattens rating.*") {
    // the reference's API shape: one endpoint returning a JSON ARRAY of
    // products (not json-lines) — each array element must become a row
    val dir = tempDir("http")
    Files.writeString(Paths.get(dir, "products.json"),
      """[{"id": 1, "title": "Fjallraven Backpack", "price": 109.95, "rating": {"rate": 3.9, "count": 120}},
        | {"id": 2, "title": "Mens Casual T-Shirt", "price": 22.3, "rating": {"rate": 4.1, "count": 259}}]""".stripMargin)
    Files.writeString(Paths.get(dir, "more.json"),
      """[{"id": 3, "title": "No rating product", "price": 55.99, "rating": null}]""")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("title", StringType),
      StructField("price", DoubleType),
      StructField("rating", StructType(Seq(
        StructField("rate", DoubleType), StructField("count", LongType))))))
    var acquires = 0
    val countingLimiter = new RateLimiter(1000.0,
      clock = () => { acquires += 1; 0L }, sleep = _ => ())
    val flat = HttpSource(
        Seq(s"file://$dir/products.json", s"file://$dir/more.json"), schema,
        limiter = Some(countingLimiter)).read(spark)
      .select(col("id"), col("title"), col("price"),
        col("rating.rate").as("rating_rate"),
        col("rating.count").as("rating_count"))
      .orderBy("id")
    val rows = flat.collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(1).getDouble(3) === 4.1 && rows(1).getLong(4) === 259L)
    assert(rows(2).isNullAt(3) && rows(2).isNullAt(4))
    assert(acquires === 2, "one limiter acquire per URL")
  }

  test("RateLimiter paces acquires one interval apart on an injected clock") {
    var now = 0L
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    // 2 rps → 500 ms interval; fake clock advances only when we say so
    val rl = new RateLimiter(2.0, clock = () => now,
      sleep = ms => { slept += ms; now += ms * 1000000L })
    assert(rl.acquire() === 0L)           // first request is free
    assert(rl.acquire() === 500L)         // immediate retry waits 500 ms
    assert(slept.toSeq === Seq(500L))
    now += 2000L * 1000000L               // idle past several intervals
    assert(rl.acquire() === 0L)           // idle time is not banked...
    assert(rl.acquire() === 500L)         // ...next one paces again
    intercept[IllegalArgumentException] { new RateLimiter(0.0) }
  }

  test("CsvSource honors schema and encoding end to end") {
    val dir = tempDir("srccsv")
    Files.writeString(Paths.get(dir, "d.csv"), "k,v\n1,x\n2,y\n")
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    assert(CsvSource(dir, schema).read(spark).count() === 2)
  }

  test("JdbcSink appends and JdbcSource reads back (embedded Derby)") {
    // Keep Derby's log out of the working directory, under the scratch
    // root the session deletes when it stops.
    System.setProperty("derby.stream.error.file",
      tempDir("derby") + "/derby.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val driver = Some("org.apache.derby.jdbc.EmbeddedDriver")
    val df = graft.Tables.nation(spark, sf001)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    JdbcSink(url, "staging_nation", "", "", driver).write(df)
    // append twice: the reference's if_exists="append" staging pattern
    JdbcSink(url, "staging_nation", "", "", driver).write(df)
    val back = JdbcSource(url, "staging_nation", "", "", driver = driver).read(spark)
    assert(back.count() === df.count() * 2)
    assert(back.select("n_name").distinct().count() === df.count())
    // parallel range read: one connection per key-range partition
    val ranged = JdbcSource(url, "staging_nation", "", "",
      partitionColumn = Some("n_nationkey"), lowerBound = 0, upperBound = 25,
      numPartitions = 4, driver = driver).read(spark)
    assert(ranged.rdd.getNumPartitions === 4)
    assert(ranged.count() === df.count() * 2)
    assert(ranged.agg(sum(col("n_nationkey"))).head().getLong(0) ===
      df.agg(sum(col("n_nationkey"))).head().getLong(0) * 2)
  }

  // ---- S7 over a REAL socket: an in-process localhost HTTP server ----
  // (JDK built-in, zero egress). file:// exercises parsing; these pin the
  // actual network path — connection handling, per-request rate limiting,
  // HTTP error propagation, and the read timeout against a stalled
  // endpoint.

  private def withHttpServer(
      handlers: (String, com.sun.net.httpserver.HttpExchange => Unit)*)(
      body: Int => Unit): Unit = {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      handlers.foreach { case (path, h) =>
        server.createContext(path, exchange => try h(exchange)
          finally exchange.close())
      }
      server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
      server.start()
      body(server.getAddress.getPort)
    } finally server.stop(0)
  }

  private def replyJson(ex: com.sun.net.httpserver.HttpExchange,
      status: Int, bodyStr: String): Unit = {
    val bytes = bodyStr.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  test("HttpSource over a real localhost socket: one rate-limited " +
      "request per URL, array flattened to rows") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("title", StringType)))
    withHttpServer(
      "/products" -> { ex =>
        hits.incrementAndGet()
        replyJson(ex, 200,
          """[{"id": 1, "title": "Backpack"}, {"id": 2, "title": "Shirt"}]""")
      },
      "/more" -> { ex =>
        hits.incrementAndGet()
        replyJson(ex, 200, """[{"id": 3, "title": "Socks"}]""")
      }) { port =>
      var acquires = 0
      val limiter = new RateLimiter(1000.0,
        clock = () => { acquires += 1; 0L }, sleep = _ => ())
      val rows = HttpSource(
          Seq(s"http://127.0.0.1:$port/products",
            s"http://127.0.0.1:$port/more"),
          schema, limiter = Some(limiter)).read(spark)
        .orderBy("id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "Backpack"), (2L, "Shirt"), (3L, "Socks")))
      assert(hits.get() === 2, "exactly one HTTP request per URL")
      assert(acquires === 2, "one limiter acquire per request")
    }
  }

  test("HttpSource fails loudly on an HTTP error status and on a " +
      "stalled endpoint (read timeout)") {
    val schema = StructType(Seq(StructField("id", LongType)))
    withHttpServer(
      "/boom" -> { ex => replyJson(ex, 500, """{"error": "down"}""") },
      "/stall" -> { ex =>
        Thread.sleep(3000)
        replyJson(ex, 200, """[{"id": 1}]""")
      }) { port =>
      val noWait = Some(new RateLimiter(1000.0, clock = () => 0L,
        sleep = _ => ()))
      // a 5xx must throw, not yield an empty/garbage DataFrame
      intercept[java.io.IOException] {
        HttpSource(Seq(s"http://127.0.0.1:$port/boom"), schema,
          limiter = noWait).read(spark)
      }
      // a stalled endpoint must trip the bounded read timeout, not wedge
      val t0 = System.nanoTime()
      intercept[java.net.SocketTimeoutException] {
        HttpSource(Seq(s"http://127.0.0.1:$port/stall"), schema,
          limiter = noWait, readTimeoutMs = 250).read(spark)
      }
      assert((System.nanoTime() - t0) / 1e9 < 2.5,
        "timeout fired well before the stalled response completed")
    }
  }

  test("ParquetSink/ParquetSource roundtrip with partitioning") {
    val dir = freshTable("sink")
    val df = graft.Tables.orders(spark, sf001)
      .withColumn("y", year(col("o_orderdate")))
    ParquetSink(dir, partitionBy = Seq("y")).write(df)
    val back = ParquetSource(dir).read(spark)
    assert(back.count() === df.count())
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("y=")))
  }
}
