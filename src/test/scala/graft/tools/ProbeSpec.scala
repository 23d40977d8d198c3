package graft.tools

import java.nio.file.{Files, Path, Paths}

import graft.{SparkEntry, SparkSpec}

/** Each `Probe` command on one cheap catalog entry at sf0.001: the files
  * and summary lines it promises exist. The full-catalog `survey` is too
  * slow for the suite; its per-query shape line is checked instead.
  */
class ProbeSpec extends SparkSpec {
  private val q = "q_anti_join"

  private def probe(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Probe.run(spark, sf001, args))
    out.toString("UTF-8")
  }

  private def tmp(): Path = Paths.get(tempDir("probe-spec"))

  test("explain writes one headed plan file per query") {
    val dir = tmp()
    val log = probe("explain", dir.toString, "t", q)
    val text = new String(Files.readAllBytes(dir.resolve(s"${q}_t.txt")), "UTF-8")
    assert(text.startsWith(s"== $q (t) sf=$sf001 cpus=4 exchanges="))
    assert(text.contains("== Physical Plan =="))
    assert(log.contains(s"[explain] $q -> "))
  }

  test("fp writes three normalized constructions with their fingerprints") {
    val out = tmp().resolve("fp").toString
    val log = probe("fp", q, out, "q_anti_join")
    val plans = (1 to 3).map(i =>
      new String(Files.readAllBytes(Paths.get(s"$out.$i")), "UTF-8"))
    assert(plans.forall(_.nonEmpty))
    assert(plans.distinct.size === 1, "a simple query must not flap")
    val fps = "\\[fp\\] q_anti_join \\((\\d)\\) fp=([0-9a-f]{8})".r
      .findAllMatchIn(log).map(m => m.group(1) -> m.group(2)).toList
    assert(fps.map(_._1) === List("1", "2", "3"))
    assert(fps.map(_._2).distinct ===
      List(graft.PlanFingerprint.of(SparkEntry.queries(q)(spark, sf001)).take(8)))
    // the prefix runs between constructions 1 and 2
    assert(log.indexOf("[fp] ran q_anti_join") > log.indexOf(s"$q (1)"))
    assert(log.indexOf("[fp] ran q_anti_join") < log.indexOf(s"$q (2)"))
  }

  test("stages prints a stage table and a summary line") {
    val log = probe("stages", q)
    assert(log.contains(s"=== $q build="))
    assert(log.contains("scan_MB"))
    val summary = (s"\\[profile\\] $q sum_stage_wall=\\d+ms n_stages=(\\d+) " +
      "n_jobs=(\\d+) scan_bytes=(\\d+)").r.findFirstMatchIn(log)
    assert(summary.isDefined, log)
    assert(summary.get.group(1).toInt > 0)
    assert(summary.get.group(2).toInt > 0)
    // at least the bytes of the two parquet inputs, counted from the
    // scan nodes' SQL metrics (a vectorized parquet scan reports no task
    // input bytes); more where a stage runs a scan again, as the sort's
    // range-partition sampling job does
    val files = SparkEntry.queries(q)(spark, sf001).inputFiles
    val bytes = files.map(f => new java.io.File(new java.net.URI(f)).length).sum
    assert(files.length === 2 && bytes > 0)
    assert(summary.get.group(3).toLong >= bytes, log)
  }

  test("survey line has one integer per header column, cartesian included") {
    val header = Probe.surveyHeader.split("\t")
    assert(header.contains("cartesian"))
    val line = Probe.surveyLine(q, SparkEntry.queries(q)(spark, sf001)).split("\t")
    assert(line.length === header.length)
    assert(line.head === q)
    val counts = header.tail.zip(line.tail.map(_.toInt)).toMap
    assert(counts("scans") > 0)
    assert(counts("cartesian") === 0)
  }

  test("an unknown command fails with the usage line") {
    val e = intercept[IllegalArgumentException](probe("nope"))
    assert(e.getMessage.startsWith("usage: Probe"))
  }
}
