package graft

import org.apache.spark.sql.DataFrame

/** Canonical fingerprint of a query's physical plan: md5 of the
  * statically planned physical tree with volatile tokens (expression
  * ids, shuffle/codegen ids, temp paths, object addresses) normalized
  * away.
  *
  * Bench emits one per query (`"plans":{...}`) so a plan regression — a
  * lost broadcast, a new shuffle, a filter that stopped pushing down —
  * shows up as a fingerprint diff between round artifacts even when
  * timing noise hides the slowdown. Stability across sessions is pinned
  * in PlanFingerprintSpec (two independent `newSession()`s must agree).
  *
  * Deliberately the PRE-execution plan: join strategies, exchange
  * structure, pushed filters, and partitioning are all statically
  * decided and deterministic, while the post-AQE tree carries runtime
  * artifacts (query-stage reuse order, coalesced-partition counts) that
  * vary with scheduling and would make equal plans hash unequal.
  */
object PlanFingerprint {

  /** SESSION REQUIREMENT: fingerprinting sessions must set
    * `spark.sql.maxMetadataStringLength` high ([[graft.Session]] sets
    * 100000) so scan metadata prints UNTRUNCATED. The default
    * 100-char abbreviation cuts at a position set by the RAW exprId
    * digit widths — a JVM-GLOBAL counter — so which COMPLETE filter
    * elements survive the cut depends on how many expressions every
    * EARLIER query in the session allocated (localized r18 with a
    * prefix run, now `Probe fp`: running the ann family first grew
    * q_auto_skip_evolved's exprIds by a digit, the DataFilters cut
    * moved one element left, and the fingerprint flipped — the fifth
    * drift class, and in hindsight the r17 one-off q_containment_dedup
    * flap). foldScanTails folds the partial fragment at a cut but
    * cannot restore whole dropped elements; only rendering untruncated
    * removes the class. The conf is captured at plan CONSTRUCTION, so
    * it must be set on the session before queries are built — a
    * fingerprint-time override here would be too late.
    */
  def of(df: DataFrame): String = md5hex(normalize(
    df.queryExecution.executedPlan.toString))

  /** Strip per-session volatility, keep structure: every operator name,
    * join strategy, pushed filter, and partition key survives; ids and
    * locations don't.
    */
  private[graft] def normalize(s: String): String = foldRuntimeReads(foldScanTails(s
    .replaceAll("#\\d+", "#x")                       // expression ids
    // higher-order-function lambda variables print as `lambda x_33#x`:
    // the NAME suffix is a JVM-global counter (fresh per lambda ever
    // analyzed in the session), so a query using zip_with/transform/...
    // hashes differently depending on how many lambdas EARLIER queries
    // allocated — the r17 drift class the fixture memo exposed. The
    // suffix is allocation history, not plan shape.
    .replaceAll("\\blambda ([A-Za-z]+)_\\d+", "lambda $1_n")
    // the aliases Spark gives the shared subexpressions of a rewritten
    // `With` expression (count_if, for one) print as `_common_expr_7`:
    // the suffix is another JVM-global counter, so the same query hashed
    // differently on its first and third construction in one session
    // (q_conditional_agg, found through `Probe fp`). Allocation history,
    // not plan shape.
    .replaceAll("\\b_common_expr_\\d+", "_common_expr_n")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("\\[id=[^\\]]*\\]", "[id=x]")        // exchange/stage ids
    .replaceAll("(file|hdfs|s3a?):[^\\s,\\)\\]]+", "<path>")
    .replaceAll("/[^\\s,\\)\\]]*tmp[^\\s,\\)\\]]*", "<path>")
    // with untruncated metadata (see [[of]]) a multi-file table prints
    // its WHOLE path list; the file count is write-parallelism runtime
    // noise (same reason as the "(N paths)" rule), so collapse runs of
    // normalized paths to one token
    .replaceAll("<path>(,\\s*<path>)+", "<path>")
    // object identities — e.g. a literal plane matrix prints as [[D@1a2b,
    // and scan-node truncation can cut the hash to ANY length ([[D@40...),
    // so match one-or-more hex chars, not a minimum width
    .replaceAll("@[0-9a-fA-F]+", "@x")
    // JVM lambda encodings (SerializeFromObject / mapPartitions closures
    // print as pkg.Cls$$Lambda$1234/0x00007f...) differ per JVM launch
    .replaceAll("\\$\\$Lambda\\$?[0-9/x$.]*[0-9a-fA-F]*", "\\$\\$Lambda\\$x")
    // file-index path COUNTS vary with AQE-coalesced write parallelism
    // (a fresh table's file count is runtime-sized, not plan-shaped)
    .replaceAll("\\(\\d+ paths?\\)", "(N paths)")
    // shuffle partition counts under ENSURE_REQUIREMENTS /
    // REPARTITION_BY_COL / REBALANCE_* are spark.sql.shuffle.partitions
    // — an ENVIRONMENT knob (the cpu count in Bench), not a plan shape;
    // a baseline refreshed on an N-core box must match a driver run on
    // an M-core one. An explicit repartition(N) (REPARTITION_BY_NUM)
    // keeps its count: that N IS the plan.
    .replaceAll(", \\d+\\), (ENSURE_REQUIREMENTS|REPARTITION_BY_COL|" +
      "REBALANCE_PARTITIONS_BY_NONE|REBALANCE_PARTITIONS_BY_COL)",
      ", NP), $1")
    // a query whose CONSTRUCTION executes jobs (count-adaptive
    // broadcasts, localCheckpoint materializations) embeds REUSED
    // runtime query stages in its "static" plan — their stage numbers
    // and whole-stage-codegen ids are scheduling artifacts, not plan
    // shape (the tree structure carries the shape)
    .replaceAll("(Broadcast|Shuffle)QueryStage \\d+", "$1QueryStage N")
    .replaceAll("\\*\\(\\d+\\)", "*(N)")
    // IN-list literal values in scan metadata (DataFilters INSET / the
    // PushedFilters In(col,[...])) print TRUNCATED at a fixed string
    // width — and the cut position shifts with the WIDTH of the
    // normalized-away exprIds ("#12L" vs "#4567L"), so the same plan
    // hashes differently across sessions. The predicate's presence,
    // column, and shape are plan structure; the literal list is data.
    // consume through the closing "])", a truncation ellipsis, or the
    // line end, and emit ONE fixed tail — a list cut exactly at the
    // metadata width must hash identically to a fully-printed one; the
    // value class is open (string IN-lists truncate the same way)
    // an INSET list holds bare values (no brackets of its own). THREE
    // print shapes, all normalized to a fixed tail so the literal list
    // (data, not plan shape) never reaches the hash: scan metadata ends
    // the list at DataFilters' closing "]" or truncates with "...";
    // a Filter tree node prints the condition in full, ending at ")";
    // a list at line end gets the scan tail. Lazy matches — a greedy
    // [^)]* would eat the rest of the line including PushedFilters.
    .replaceAll("INSET [^\\])\\n]*?(\\]|\\.\\.\\.)", "INSET <vals>]")
    .replaceAll("INSET [^\\])\\n]*?\\)", "INSET <vals>)")
    .replaceAll("(?m)INSET [^\\])\\n]*$", "INSET <vals>]")
    // lazy value match to the earliest terminator — "])" (full print)
    // or "..." (truncation, which Spark always appends at the cut) — so
    // a truncated list never swallows the fields after it
    .replaceAll("(?m)\\bIn\\(([^,()\\[\\]]+), \\[[^\\]\\n]*?(\\]\\)|\\.\\.\\.)",
      "In($1, [<vals>])")
    ))

  /** AQE runtime shuffle reads are ENVIRONMENT, not plan shape: a query
    * whose construction executes jobs embeds REUSED materialized stages,
    * and whether the finalized read above such a stage is coalesced (and
    * so whether an `AQEShuffleRead coalesced` level exists AT ALL)
    * depends on the shuffle-partition count vs the data — i.e. on the
    * core count of the box (r18: q_containment_dedup hashed differently
    * at local[32] vs local[4] through exactly this node; the bench's
    * core-count sweep must keep one fingerprint, the same contract as
    * the ENSURE_REQUIREMENTS partition-count fold). Dropping the node
    * removes one tree LEVEL, so the subtree under it prints at different
    * indentation — canonicalize by stripping the leading tree art from
    * every line; operator order plus per-line content still pins the
    * shape for drift-alarm purposes.
    */
  private def foldRuntimeReads(s: String): String =
    s.linesIterator
      .filterNot(_.replaceAll("^[\\s:+-]*", "").startsWith("AQEShuffleRead"))
      .map(_.replaceAll("^[\\s:+-]*", ""))
      .mkString("\n")

  /** ANY remaining truncated metadata tail (runs AFTER the INSET/In
    * rules, which consume their own ellipses): the 100-char metadata
    * abbreviation cuts at a position set by the RAW exprId digit widths
    * — pre-normalization — so the final, PARTIALLY-printed list element
    * differs between equal plans (r15: a timestamp literal cut at
    * '1996-02' vs '1996-02-01' flipped q_lookup_enrich's hash between
    * sessions). The fragment is width noise, not plan shape — fold it
    * to a fixed tail; complete elements before the cut are kept.
    *
    * SCOPED to scan-metadata lines: only the scan's metadata map is
    * char-width-abbreviated; field-list truncation elsewhere prints
    * "... N more fields" with a COUNT-based (session-stable) cut, and a
    * string literal containing '...' in an ordinary predicate must keep
    * its surrounding token or two genuinely different plans could hash
    * identically.
    */
  private def foldScanTails(s: String): String = {
    val keys = Seq("DataFilters:", "PushedFilters:", "ReadSchema:",
      "PartitionFilters:", "Location:")
    s.linesIterator.map { line =>
      if (keys.exists(line.contains))
        line.replaceAll("[^,\\[\\]\\n]*\\.\\.\\.", "<cut>...")
      else line
    }.mkString("\n")
  }

  /** Shared by [[Bench]]'s table-schema fingerprints so the two
    * fingerprint encodings in one artifact stay identical by
    * construction, not coincidence.
    */
  private[graft] def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
