package graft

/** Full-catalog plan-fingerprint baseline: persistence + drift diff.
  *
  * The bench artifact's tail-capture window (~2 KB) cannot carry one
  * fingerprint per query for a 200+-query catalog, so full-catalog plan
  * regression detection inverts the encoding: every bench run writes the
  * COMPLETE name→fingerprint map to `target/bench_plans.json` and diffs
  * it against the committed `PLAN_BASELINE_sf01.json`; the artifact then
  * reports only the DRIFT — normally empty, so it always fits, and any
  * regression (lost broadcast, new Exchange, changed join strategy)
  * anywhere in the catalog surfaces by name in-artifact.
  *
  * Baseline maintenance: after an intentional plan change (new query,
  * optimizer work, Spark upgrade, driver testdata regeneration), re-run
  * Bench at sf0.1 and copy `target/bench_plans.json` over
  * `PLAN_BASELINE_sf01.json`; the diff printed per run shows exactly
  * which queries moved.
  */
object PlanBaseline {

  /** Serialize a name→fp8 map as one sorted JSON object line. Keys and
    * values must be quote/backslash/control-free — [[parse]] is a flat
    * regex codec that cannot round-trip escapes, so rather than write
    * JSON the codec would misread back, refuse loudly. Catalog query
    * names are plain identifiers and fingerprints are hex, so this
    * never fires in practice; it keeps the codec's round-trip honest.
    */
  def render(plans: Map[String, String]): String = {
    plans.foreach { case (k, v) =>
      require(!k.exists(c => c == '"' || c == '\\' || c < ' '),
        s"PlanBaseline.render: key ${k.take(40)} contains a quote, " +
          "backslash, or control char — the flat codec cannot escape it")
      require(!v.exists(c => c == '"' || c == '\\' || c < ' '),
        s"PlanBaseline.render: value for $k contains a quote, " +
          "backslash, or control char — the flat codec cannot escape it")
    }
    plans.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
  }

  /** Parse the flat string→string JSON object [[render]] writes. Only
    * that shape is supported — this is a baseline-file codec, not a JSON
    * library.
    */
  def parse(json: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2))
      .toMap

  /** Queries whose fingerprint differs from the baseline (name → current
    * fp). Names absent from the baseline are NOT drift — they are new
    * queries, counted separately by the caller — and names only in the
    * baseline are retired queries, also not drift.
    */
  def drift(current: Map[String, String],
      baseline: Map[String, String]): Map[String, String] =
    current.filter { case (name, fp) =>
      baseline.get(name).exists(_ != fp)
    }

  /** Queries whose iterations planned DIFFERENT fingerprints (name →
    * the distinct fps, first-seen order): a plan token that depends on
    * allocation history (a JVM-global counter in an alias, say) would
    * otherwise surface only when the iteration count changes, as a
    * drift against a baseline taken at another count.
    */
  def unstable(perIter: Map[String, Seq[String]]): Map[String, Seq[String]] =
    perIter.map { case (name, fps) => name -> fps.distinct }
      .filter(_._2.size > 1)

  def load(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else parse(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  def write(path: String, plans: Map[String, String]): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath,
      (render(plans) + "\n").getBytes("UTF-8"))
  }
}
