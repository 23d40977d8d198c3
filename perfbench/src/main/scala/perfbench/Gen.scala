package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.security.{DigestOutputStream, MessageDigest}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Row count, byte count and SHA-256 of one generated input: equal
  * records mean equal inputs, across runs and across commits.
  */
final case class InputRecord(name: String, rows: Long, bytes: Long, sha256: String) {
  def json: String =
    s"""{"name":"$name","rows":$rows,"bytes":$bytes,"sha256":"$sha256"}"""
}

/** A text file written line by line while its rows, bytes and digest are
  * counted; the header line is not a row.
  */
final class RecordingWriter(file: File, name: String, header: Option[String]) {
  private val md = MessageDigest.getInstance("SHA-256")
  private val fos = new FileOutputStream(file)
  private val out = new BufferedWriter(new OutputStreamWriter(
    new DigestOutputStream(fos, md), StandardCharsets.ISO_8859_1), 1 << 16)
  private var rows = 0L
  header.foreach { h => out.write(h); out.write('\n') }

  def line(s: CharSequence): Unit = {
    out.append(s); out.write('\n'); rows += 1
  }

  def close(): InputRecord = {
    out.close()
    InputRecord(name, rows, file.length(), md.digest().map("%02x".format(_)).mkString)
  }
}

/** Growable primitive columns for the generator's per-line ledger. */
final class IntCol {
  private var a = new Array[Int](1024)
  var size = 0
  def +=(v: Int): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def apply(i: Int): Int = a(i)
}

final class LongCol {
  private var a = new Array[Long](1024)
  var size = 0
  def +=(v: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def apply(i: Int): Long = a(i)
  def update(i: Int, v: Long): Unit = a(i) = v
}

/** Seeded retail universe with the shape of the TPC-H testdata at scale
  * factor `sf` (sf 0.1: 15,000 customers, 20,000 parts, 150,000 orders of
  * 1-7 lines, about 600,000 lines), written as Superstore-schema CSV
  * (`Ingest.superstoreSchema`) and kept as a ledger, so every expected
  * output is known without asking the program under test.
  *
  * Each line has a unique Order ID. An incremental batch holds re-sent
  * recent lines with corrected sales, new lines, and a share of the
  * batch's customers and products whose tracked attributes changed.
  */
final class RetailGen(seed: Long, sf: Double) {
  private val rnd = new SplittableRandom(seed)

  import RetailGen._

  private val shipModes = Array("Standard Class", "Second Class", "First Class", "Same Day")
  private val regions = Array("Central", "East", "South", "West")
  private val adjectives = Array("large", "small", "hot", "cold", "bright",
    "dark", "light", "heavy", "smooth", "rough", "soft", "hard")
  private val nouns = Array("ring", "bolt", "chair", "table", "lamp", "desk",
    "phone", "binder", "paper", "label", "shelf", "cable")

  private val baseCustomers = math.max(50, (150000 * sf).toInt)
  private val baseProducts = math.max(50, (200000 * sf).toInt)
  private val baseOrders = math.max(200, (1500000 * sf).toInt)

  // tracked attribute state: the CURRENT values each new line carries
  private val custName = ArrayBuffer.tabulate(baseCustomers)(i => f"Customer#$i%09d")
  private val custSeg = ArrayBuffer.fill(baseCustomers)(rnd.nextInt(segments.length))
  private val custCity = ArrayBuffer.fill(baseCustomers)(rnd.nextInt(400))
  private val prodName = ArrayBuffer.fill(baseProducts)(
    adjectives(rnd.nextInt(adjectives.length)) + " " + nouns(rnd.nextInt(nouns.length)))
  private val prodCat = ArrayBuffer.fill(baseProducts)(rnd.nextInt(categories.length))
  private val prodSub = ArrayBuffer.fill(baseProducts)(rnd.nextInt(17))

  // per-line ledger, indexed by line sequence number (= Row ID)
  private val lineCust = new IntCol
  private val lineProd = new IntCol
  private val lineDay = new IntCol
  private val lineSales = new LongCol // cents
  private var salesTotal = 0L
  private var batches = 0

  /** Distinct Order IDs generated so far = rows the fact must hold. */
  def lines: Int = lineCust.size

  /** Σ sales in cents over the latest value of every line. */
  def salesCents: Long = salesTotal

  def orderId(seq: Int): String = f"US-$seq%09d"

  private def fmtDate(day: Int): String = {
    val d = LocalDate.ofEpochDay(day)
    s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
  }

  private def cents(c: Long): String = {
    val a = math.abs(c)
    (if (c < 0) "-" else "") + (a / 100) + "." + f"${a % 100}%02d"
  }

  private def newSales(): Long = 100L + rnd.nextLong(500000L)

  private def profitOf(seq: Int): Long = lineSales(seq) * (((seq * 7919L) % 60) - 20) / 100

  /** Every line as (epoch day, segment, category, sales cents, profit
    * cents), with the customer's and product's current attributes.
    */
  def ledger: Iterator[(Int, String, String, Long, Long)] =
    Iterator.range(0, lines).map { seq =>
      (lineDay(seq), segments(custSeg(lineCust(seq))), categories(prodCat(lineProd(seq))),
        lineSales(seq), profitOf(seq))
    }

  private def appendLine(w: RecordingWriter, seq: Int, sb: java.lang.StringBuilder): Unit = {
    val c = lineCust(seq); val p = lineProd(seq); val day = lineDay(seq)
    val sales = lineSales(seq)
    val qty = 1 + (seq % 9)
    val discount = (seq % 5) * 5
    val profit = profitOf(seq)
    sb.setLength(0)
    sb.append(seq).append(',').append(orderId(seq)).append(',')
      .append(fmtDate(day)).append(',').append(fmtDate(day + 1 + seq % 6)).append(',')
      .append(shipModes(seq % shipModes.length)).append(',')
      .append(f"C-$c%07d").append(',').append(custName(c)).append(',')
      .append(segments(custSeg(c))).append(",United States,")
      .append("City").append(custCity(c)).append(',')
      .append("State").append(custCity(c) % 50).append(',')
      .append(f"${10000 + custCity(c)}%05d").append(',')
      .append(regions(custCity(c) % regions.length)).append(',')
      .append(f"P-$p%07d").append(',').append(categories(prodCat(p))).append(',')
      .append("Sub").append(prodSub(p)).append(',').append(prodName(p)).append(',')
      .append(cents(sales)).append(',').append(qty).append(",0.")
      .append(f"$discount%02d").append(',').append(cents(profit))
    w.line(sb)
  }

  private def newLine(cust: Int, prod: Int, day: Int): Int = {
    val seq = lineCust.size
    val s = newSales()
    lineCust += cust; lineProd += prod; lineDay += day; lineSales += s
    salesTotal += s
    seq
  }

  /** The base extract: every base order, 1-7 lines each. */
  def writeBase(file: File): InputRecord = {
    val w = new RecordingWriter(file, file.getName, Some(RetailGen.header))
    val sb = new java.lang.StringBuilder(256)
    var o = 0
    while (o < baseOrders) {
      val cust = rnd.nextInt(baseCustomers)
      val day = firstDay + rnd.nextInt(lastDay - firstDay + 1)
      val n = 1 + rnd.nextInt(7)
      var l = 0
      while (l < n) {
        appendLine(w, newLine(cust, rnd.nextInt(baseProducts), day), sb)
        l += 1
      }
      o += 1
    }
    w.close()
  }

  /** One incremental batch of `batchLines` lines: 10% re-sent lines drawn
    * from the most recent fifth of all lines with corrected sales, 90% new
    * lines dated after everything before them (0.5% of them for brand-new
    * customers and products), and tracked-attribute changes for 2% of the
    * batch's customers and products.
    */
  def writeBatch(file: File, batchLines: Int): InputRecord = {
    batches += 1
    val resent = batchLines / 10
    val fresh = batchLines - resent
    val startDay = lastDay + batches * 3
    val seqs = new IntCol
    // re-sent lines: distinct seqs among the most recent fifth
    val window = math.max(resent, lines / 5)
    val picked = scala.collection.mutable.HashSet.empty[Int]
    while (picked.size < resent) picked += lines - 1 - rnd.nextInt(window)
    picked.toArray.sorted.foreach { seq =>
      val s = newSales()
      salesTotal += s - lineSales(seq)
      lineSales(seq) = s
      seqs += seq
    }
    var i = 0
    while (i < fresh) {
      val cust =
        if (rnd.nextInt(200) == 0) { addCustomer(); custName.size - 1 }
        else rnd.nextInt(custName.size)
      val prod =
        if (rnd.nextInt(200) == 0) { addProduct(); prodName.size - 1 }
        else rnd.nextInt(prodName.size)
      seqs += newLine(cust, prod, startDay + rnd.nextInt(3))
      i += 1
    }
    // attribute changes, applied before the batch is written so every
    // line of a customer or product in this batch carries the same values
    val changedCust = scala.collection.mutable.HashSet.empty[Int]
    val changedProd = scala.collection.mutable.HashSet.empty[Int]
    var k = 0
    while (k < seqs.size) {
      val seq = seqs(k)
      if (rnd.nextInt(50) == 0 && changedCust.add(lineCust(seq))) {
        val c = lineCust(seq)
        if (rnd.nextBoolean()) custSeg(c) = (custSeg(c) + 1) % segments.length
        else custName(c) = custName(c) + "+"
      }
      if (rnd.nextInt(50) == 0 && changedProd.add(lineProd(seq))) {
        val p = lineProd(seq)
        if (rnd.nextBoolean()) prodCat(p) = (prodCat(p) + 1) % categories.length
        else prodName(p) = prodName(p) + " v2"
      }
      k += 1
    }
    val w = new RecordingWriter(file, file.getName, Some(RetailGen.header))
    val sb = new java.lang.StringBuilder(256)
    k = 0
    while (k < seqs.size) { appendLine(w, seqs(k), sb); k += 1 }
    w.close()
  }

  private def addCustomer(): Unit = {
    custName += f"Customer#${custName.size}%09d"
    custSeg += rnd.nextInt(segments.length)
    custCity += rnd.nextInt(400)
  }

  private def addProduct(): Unit = {
    prodName += adjectives(rnd.nextInt(adjectives.length)) + " " + nouns(rnd.nextInt(nouns.length))
    prodCat += rnd.nextInt(categories.length)
    prodSub += rnd.nextInt(17)
  }
}

object RetailGen {
  val header: String = graft.ingest.Ingest.superstoreSchema.fieldNames.mkString(",")
  val segments: Seq[String] = Seq("Consumer", "Corporate", "Home Office")
  val categories: Seq[String] = Seq("Furniture", "Office Supplies", "Technology")
  /** Base orders span 1992-01-01 .. 1998-08-02, as in TPC-H. */
  val firstDay: Int = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  val lastDay: Int = LocalDate.of(1998, 8, 2).toEpochDay.toInt
}

/** Seeded documents and embeddings with the shape of the testdata's
  * `documents` (word-salad text over a small vocabulary) and `embeddings`
  * (64-d unit vectors around labelled cluster centres).
  */
final class CorpusGen(seed: Long, poolDocs: Int, nVectors: Int) {
  private val rnd = new SplittableRandom(seed)
  private val vocab = Array("the", "and", "of", "a", "is", "batch", "part",
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "vector", "join",
    "plan", "index", "file", "cache", "shuffle", "task", "stage", "job")
  val dim = 64
  private val nLabels = 16

  val pool: Array[String] = Array.fill(poolDocs) {
    val n = 12 + rnd.nextInt(60)
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  private def gaussVec(scale: Double): Array[Double] =
    Array.fill(dim)(gauss() * scale)

  private def gauss(): Double = {
    // Box-Muller on the seeded stream
    val u = 1.0 - rnd.nextDouble()
    val v = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private val centres = Array.fill(nLabels)(gaussVec(1.0))
  val labels: Array[Int] = Array.fill(nVectors)(rnd.nextInt(nLabels))
  val vectors: Array[Array[Float]] = labels.map { l =>
    unit(centres(l).zip(gaussVec(0.6)).map { case (a, b) => a + b })
  }

  /** A document batch: `n` documents, 75% drawn from the pool (so exact
    * duplicates occur), 25% near-duplicate copies of pool documents with
    * about one word in twelve replaced. Doc ids start at `firstId`.
    */
  def docBatch(n: Int, firstId: Long): Array[(Long, String)] =
    Array.tabulate(n) { i =>
      val base = pool(rnd.nextInt(pool.length))
      val text =
        if (rnd.nextInt(4) > 0) base
        else base.split(' ').map(w =>
          if (rnd.nextInt(12) == 0) vocab(rnd.nextInt(vocab.length)) else w).mkString(" ")
      (firstId + i, text)
    }

  /** `n` query vectors: sampled corpus vectors plus small seeded noise. */
  def queries(n: Int, firstId: Long): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val v = vectors(rnd.nextInt(vectors.length))
      (firstId + i, unit(v.indices.map(j => v(j) + gauss() * 0.05).toArray))
    }

  def record(name: String, rows: Iterator[String]): InputRecord = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L; var bytes = 0L
    rows.foreach { r =>
      val b = (r + "\n").getBytes(StandardCharsets.UTF_8)
      md.update(b); n += 1; bytes += b.length
    }
    InputRecord(name, n, bytes, md.digest().map("%02x".format(_)).mkString)
  }
}
