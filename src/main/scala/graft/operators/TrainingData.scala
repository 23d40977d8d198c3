package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the near-dup tier: benchmark
  * decontamination, repetition-based quality rules, boilerplate n-gram
  * mining, deterministic domain-mixture sampling, stratified sampling,
  * vocabulary statistics, and identifier masking.
  *
  * All of these are pure declarative plans over codegen'd built-ins —
  * shuffles only on aggregation/join keys, no UDFs, no driver-side
  * loops — so each one scales to a 1000-executor corpus the same way a
  * groupBy does. Determinism matters as much as scale here: every
  * sampling decision keys off a content hash (never `rand()`), so
  * re-processing a 100 TB corpus reproduces byte-identical splits,
  * samples, and mixtures.
  */
object TrainingData {

  /** All word n-gram shingle occurrences per document: `(doc_id, shingle)`
    * rows, built as a `lead()` window over exploded tokens (the same trick
    * [[Dedup.shingleHashRows]] uses). The `transform`-lambda alternative
    * is interpreted and re-splits the text once per element access —
    * measured 5× slower on this exact shape — while the window form stays
    * in codegen'd expressions and its only cost is one doc-keyed shuffle,
    * which the downstream per-doc aggregation then reuses for free
    * (hash-partitioning on doc_id already satisfies any (doc_id, …)
    * clustering requirement).
    */
  def shingleRows(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    spanRows(docs, textCol, idCol, n).select(col("doc_id"), col("shingle"))

  /** [[shingleRows]] keeping the window's starting token offset:
    * `(doc_id, pos, shingle)` rows, `pos` 0-based over whitespace tokens.
    * The position column is what span-level operators (repeated-span
    * detection, chunk alignment) consume; plain shingle consumers project
    * it away before the first aggregation so it never rides a shuffle.
    */
  def spanRows(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = (0 until n).map(k =>
      if (k == 0) col("tok") else lead(col("tok"), k).over(w))
    val full = if (n == 1) lit(true) else lead(col("tok"), n - 1).over(w).isNotNull
    toks.select(col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", parts: _*).as("shingle"), full.as("_full"))
      .filter(col("_full")).drop("_full")
  }

  /** Cross-document repeated-span detection with interval merge — the
    * span-level form of exact-substring dedup (the reference's corpus
    * tooling stops at whole-document and n-gram granularity; this is the
    * operator a pretraining pipeline adds on top): every `n`-token window
    * whose text occurs in >= `minDocs` distinct documents is flagged, and
    * per document the flagged windows are merged into maximal spans
    * (gaps-and-islands over window starts — two flagged windows fuse when
    * their starts are within `n` tokens, i.e. they overlap or touch).
    * Output: one row per maximal duplicated span with its token extent.
    *
    * Scale shape: window formation is the posexplode+lead shuffle
    * [[spanRows]] already pays; the duplicated-window set aggregates on
    * the 16-byte md5 of the window text (the text itself never rides the
    * shuffle); the flagged positions semi-join back on the same hash; and
    * the merge window partitions by doc_id, bounded by document length.
    * Nothing is quadratic — the all-pairs substring compare becomes one
    * hash aggregation plus one semi join.
    */
  def repeatedSpans(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 8, minDocs: Long = 2L): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    // `rows` feeds both the duplicated-window set and the semi-join
    // probe. Persisting it was MEASURED AND REJECTED (r18): the cache
    // write + decompress of the corpus-sized md5 rows cost more than
    // recomputing the posexplode+lead window on otherwise-idle cores
    // (+27% on q_repeated_spans) — the dual subtree recompute stays.
    val rows = spanRows(docs, textCol, idCol, n)
      .select(col("doc_id"), col("pos"), md5(col("shingle")).as("h"))
    val dup = rows.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val hits = rows.join(dup, Seq("h"), "left_semi").select("doc_id", "pos")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // lag is null on the first window of a doc: null <= n is null → new island
    val brk = when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0L))
      .otherwise(lit(1L))
    hits.select(col("doc_id"), col("pos"), brk.as("brk"))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** Distinct word n-gram shingles per document: `(doc_id, shingle)` rows.
    * The dedup aggregation runs on the shuffle [[shingleRows]] already
    * paid for — no second exchange.
    */
  def docShingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleRows(docs, textCol, idCol, n).dropDuplicates("doc_id", "shingle")

  // --- benchmark decontamination -----------------------------------------

  /** Train/test contamination report: for each test-split document, how
    * many of its distinct word n-grams also occur anywhere in the train
    * split. The split is the content-hash bucketing of
    * [[TF.splitBucket]] (train = bucket<80, test = bucket>=90), so the
    * report is stable across runs and engines.
    *
    * Plan shape: one distinct-project of train grams, one hash join on
    * the gram string, two key-partitioned aggregations. At 100 TB the
    * train-gram set is written bucketed by gram so repeated benchmark
    * sweeps skip its shuffle; a bloom filter on the (much smaller) test
    * gram set can pre-prune the train scan — Spark injects exactly that
    * via runtime-filter rewrite when thresholds allow.
    */
  def decontaminate(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 5): DataFrame = {
    val bucket = TF.splitBucket(col(textCol), 100)
    val train = docs.filter(bucket < 80)
    val test = docs.filter(bucket >= 90)
    val trainGrams = docShingles(train, textCol, idCol, n)
      .select(col("shingle")).distinct()
    val testGrams = docShingles(test, textCol, idCol, n)
    val totals = testGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = testGrams.join(trainGrams, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    totals.join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("contamination"))
  }

  // --- repetition quality rules (Gopher-style) ----------------------------

  /** Per-document repetition statistics in the style of published
    * pretraining quality filters: the fraction of tokens taken by the
    * single most frequent token, and by the most frequent word 2-gram.
    * Heavily repetitive documents (boilerplate, tag soup, degenerate
    * generations) score high and are gated out.
    *
    * Two token-level aggregations keyed by (doc, gram) — the per-doc
    * top-count is a max over the counted groups, never a sort — then a
    * doc-keyed join. Every stage is map-side combinable.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxTopWordFrac: Double = 0.12,
      maxTop2GramFrac: Double = 0.10): DataFrame = {
    def topFrac(grams: DataFrame, fracName: String): DataFrame =
      grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("total"), max(col("c")).as("top"))
        .select(col("doc_id"),
          col("total"),
          round(col("top").cast("double") / col("total"), 6).as(fracName))

    // One tokenize/explode feeds both granularities: the 1-gram counts
    // and the lead()-formed 2-grams ride the same exploded frame (and
    // the same doc-keyed shuffle), instead of scanning the corpus twice.
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val words = topFrac(toks.select(col("doc_id"), col("tok").as("gram")),
        "top_word_frac")
      .withColumnRenamed("total", "n_tokens")
    val wNext = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val nextTok = lead(col("tok"), 1).over(wNext)
    val grams2 = toks
      .select(col("doc_id"), concat_ws(" ", col("tok"), nextTok).as("gram"),
        nextTok.isNotNull.as("_full"))
      .filter(col("_full")).drop("_full")
    val two = topFrac(grams2, "top_2gram_frac").drop("total")

    words.join(two, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("top_2gram_frac"))
      .select(col("doc_id"), col("n_tokens"), col("top_word_frac"),
        col("top_2gram_frac"),
        (col("top_word_frac") <= maxTopWordFrac &&
          col("top_2gram_frac") <= maxTop2GramFrac).as("pass"))
  }

  // --- boilerplate n-gram mining ------------------------------------------

  /** Word n-grams occurring in at least `minDocs` distinct documents —
    * the corpus-wide boilerplate a line-dedup pass would strip. One
    * distinct-(doc,gram) aggregation then a gram-keyed count; the output
    * is bounded by the boilerplate vocabulary, not the corpus.
    */
  def boilerplateNgrams(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 5, minDocs: Long = 5L): DataFrame =
    docShingles(docs, textCol, idCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  // --- deterministic sampling ---------------------------------------------

  /** Content-hash keep-decision: true iff the md5-derived bucket of
    * `saltCol:textCol` falls under `ratePct` (an integer percentage
    * column). Salting the hash with the group key decorrelates the
    * decision from any other content-hash use (e.g. the train/val/test
    * split buckets).
    */
  def hashKeep(salt: Column, text: Column, ratePct: Column): Column =
    TF.splitBucket(concat(salt, lit(":"), text), 100) < ratePct

  /** Domain-mixture downsampling: each source keeps a deterministic
    * content-hash fraction given by `ratePctOf(source)`, and the report
    * compares realized vs target rates with kept-token accounting.
    * This is the mixture-weighting step of a pretraining pipeline
    * (e.g. upweight curated sources, downweight crawl) — expressed as a
    * narrow filter (no shuffle at all until the final small report
    * aggregation), which is the only shape that survives 100 TB.
    */
  def domainMixReport(docs: DataFrame, ratePctOf: Column => Column,
      textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val rate = ratePctOf(col(sourceCol))
    val kept = hashKeep(col(sourceCol), col(textCol), rate)
    docs.select(col(sourceCol), rate.as("target_pct"),
        kept.cast("int").as("keep"),
        TF.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
      .groupBy(col(sourceCol), col("target_pct"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("bigint").as("n_kept"),
        sum(col("keep") * col("n_tokens")).cast("bigint").as("tokens_kept"))
      .select(col(sourceCol), col("target_pct"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("realized_rate"),
        col("tokens_kept"))
  }

  /** TEMPERATURE-FLATTENED domain mixture (τ = 2, i.e. square-root
    * flattening — the multilingual/pretraining re-balancing that keeps
    * small domains from drowning): target mixture q_d ∝ sqrt(p_d), met
    * by pure DOWNSAMPLING with per-domain keep rate sqrt(n_min/n_d) —
    * the smallest domain keeps everything, larger domains keep
    * proportionally less, never upsampling. Per-doc selection is the
    * Knuth multiplicative hash of the id against a per-domain threshold
    * — deterministic on any partitioning, and every float op in the
    * pipeline (integer→double divide, sqrt, one multiply, floor) is
    * IEEE correctly-rounded, so the thresholds and therefore the kept
    * SET replay bit-identically in any engine. τ is fixed at 2 because
    * sqrt is correctly rounded where pow(x, 1/τ) is not — a general-τ
    * variant would not be cross-engine exact.
    *
    * Plan shape: one tiny per-domain aggregate broadcast back onto the
    * corpus, then a narrow filter — no corpus shuffle, the only shape
    * that survives 100 TB.
    */
  def temperatureMixReport(docs: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .withColumn("threshold",
        floor(sqrt(col("n_min").cast("double") / col("n_docs")
          .cast("double")) * lit(4294967296.0)).cast("long"))
      .drop("n_min")
    docs.select(col(sourceCol), col(idCol))
      .join(broadcast(rates), Seq(sourceCol))
      .withColumn("keep",
        (pmod(col(idCol).cast("long") * lit(2654435761L),
          lit(4294967296L)) < col("threshold")).cast("int"))
      .groupBy(col(sourceCol), col("n_docs"), col("threshold"))
      .agg(sum(col("keep")).cast("bigint").as("n_kept"))
      .select(col(sourceCol), col("n_docs"), col("threshold"),
        col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("realized_rate"),
        round(col("threshold").cast("double") / 4294967296.0, 6)
          .as("target_rate"))
  }

  /** Token-budget mixture plan — the upsampling half of mixture weighting
    * ([[domainMixReport]] is the downsampling half): given a per-source
    * token budget, how many full passes (epochs) over the source fit, and
    * what deterministic fraction of a final partial pass tops the budget
    * up. All integer arithmetic (`div`, not floating division), so the
    * plan replays bit-identically in any engine and across re-runs.
    *
    * One narrow projection + one small per-source aggregation; output
    * cardinality is the source count.
    */
  def tokenBudgetPlan(docs: DataFrame, budgetOf: Column => Column,
      textCol: String = "text", sourceCol: String = "source"): DataFrame =
    docs.select(col(sourceCol).as("source"),
        TF.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("corpus_tokens"))
      .withColumn("budget_tokens", budgetOf(col("source")).cast("bigint"))
      // all-blank sources have corpus_tokens = 0: report zero epochs
      // instead of an ANSI divide-by-zero failing the whole plan
      .withColumn("full_epochs",
        expr("if(corpus_tokens = 0, 0L, budget_tokens div corpus_tokens)"))
      .withColumn("rem_tokens",
        col("budget_tokens") - col("full_epochs") * col("corpus_tokens"))
      .withColumn("last_epoch_pct",
        expr("if(corpus_tokens = 0, 0L, (rem_tokens * 100) div corpus_tokens)"))
      .select(col("source"), col("n_docs"), col("corpus_tokens"),
        col("budget_tokens"), col("full_epochs"), col("rem_tokens"),
        col("last_epoch_pct"))

  /** Materialized epoch assignment for [[tokenBudgetPlan]]: each document
    * appears once per full epoch, plus once in the final partial epoch iff
    * its content hash — salted with the source AND the epoch ordinal, so
    * the partial-epoch sample is decorrelated from every other hash
    * decision — falls under the plan's partial-epoch rate. The per-source
    * plan rides a broadcast; the explode fans each doc out to its epoch
    * count map-side, so the operator is shuffle-free after the plan's own
    * small aggregation.
    */
  def epochExpand(docs: DataFrame, budgetOf: Column => Column,
      textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val plan = tokenBudgetPlan(docs, budgetOf, textCol, sourceCol)
      .select(col("source"), col("full_epochs"), col("last_epoch_pct"))
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        col(textCol).as("_text"))
      .join(broadcast(plan), Seq("source"))
      // clamp: a negative budget yields negative full_epochs, and
      // sequence(0, -1) would DESCEND and emit phantom negative epochs
      .withColumn("epoch",
        explode(sequence(lit(0L), greatest(col("full_epochs"), lit(0L)))))
      .filter(col("epoch") < col("full_epochs") ||
        TF.splitBucket(concat_ws(":", col("source"),
          col("epoch").cast("string"), col("_text")), 100) <
          col("last_epoch_pct"))
      .select(col("doc_id"), col("source"), col("epoch"))
  }

  /** Blocklist audit (the C4-style badword gate): per document, how many
    * distinct blocklist words occur in it. Entirely map-side — the token
    * array never explodes and the blocklist rides as an array literal into
    * codegen'd `array_intersect`, so the operator adds zero shuffles to
    * whatever consumes it.
    */
  def blocklistAudit(docs: DataFrame, blocklist: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        size(array_intersect(split(trim(col(textCol)), "\\s+"),
          lit(blocklist.toArray))).cast("bigint").as("n_bad"))
      .withColumn("flagged", col("n_bad") > 0)
  }

  /** Deterministic stratified sample: the `perStratum` documents with the
    * smallest (md5(text), id) per stratum. The window partitions by the
    * stratum key, so parallelism is the stratum count and Spark's
    * WindowGroupLimit pushes the rank filter below the sort — each
    * partition only ever materializes `perStratum` rows.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
      perStratum: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(textCol)), col(idCol))
    docs.select(col(stratumCol), col(idCol),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= perStratum)
  }

  /** Deterministic WEIGHTED sample of k rows without replacement —
    * inclusion odds proportional-ish to an integer weight — via
    * integer-exact min-hash priorities: row r with weight w gets
    * `priority(r) = min over i in 1..w of hash32(text ':' i)`, and the
    * k smallest (priority, id) win. This is the A-min scheme (min of w
    * uniforms ≡ the u^(1/w) exponential-race key) discretized onto
    * 32-bit content hashes, so there is NO floating point anywhere:
    * the sample is bit-stable across runs, partitionings, and engines,
    * and replays in ANSI SQL (md5 first-8-hex, the [[TF.splitBucket]]
    * family).
    *
    * Plan shape: the replica "explosion" is a per-row `transform` over a
    * ≤ maxWeight sequence inside codegen — zero extra rows, zero
    * shuffle — and the global top-k is TakeOrderedAndProject. At 100 TB
    * this is one narrow map over the corpus plus a k-row reduction.
    */
  def weightedSample(docs: DataFrame, weight: Column, k: Int,
      textCol: String = "text", idCol: String = "doc_id",
      maxWeight: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxWeight >= 1 && maxWeight <= 1024,
      s"maxWeight must be in [1,1024], got $maxWeight")
    // null-safe: a NULL weight means "no signal", clamped to 1 like any
    // sub-1 weight — otherwise it would cascade to a NULL priority and
    // resurrect the NULLS FIRST/LAST cross-engine divergence below
    val w = least(greatest(coalesce(weight.cast("int"), lit(1)), lit(1)),
      lit(maxWeight))
    val priority = array_min(transform(sequence(lit(1), w), i =>
      conv(substring(md5(concat(col(textCol), lit(":"),
        i.cast("string"))), 1, 8), 16, 10).cast("long")))
    // A NULL text (or id) would yield a NULL priority, and Spark's
    // ascending sort puts NULLS FIRST while DuckDB defaults to NULLS
    // LAST — a null row would silently crowd out the top-k here but not
    // in the oracle, and a priority-less row is a nonsensical sample
    // member anyway. Drop them before racing.
    docs.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol), w.cast("bigint").as("weight"),
        priority.as("priority"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("priority"), col(idCol))))
  }

  // --- vocabulary statistics ----------------------------------------------

  /** Corpus token vocabulary: occurrence count, document frequency, and
    * row_number over (count desc, token) — a total order. The heavy
    * stage is the (token)- and (doc,token)-keyed aggregations; the rank
    * window runs over the aggregated vocabulary, whose cardinality is
    * bounded by the token inventory, not the corpus.
    */
  def vocabStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", topK: Int = 30): DataFrame = {
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
    // Distributed top-k (TakeOrderedAndProject) FIRST; the rank window
    // then orders only the topK survivors — an unpartitioned window over
    // the full vocabulary would single-partition-sort the entire token
    // inventory (huge at corpus scale: ids, typos, hashes).
    val top = counts.orderBy(col("n_occurrences").desc, col("token")).limit(topK)
    val w = Window.orderBy(col("n_occurrences").desc, col("token"))
    top.select(col("token"), col("n_occurrences"), col("n_docs"),
      row_number().over(w).as("rank"))
  }

  /** Deterministic token dictionary: every token occurring in >= `minCount`
    * rows gets a dense id by (count desc, token) rank — the vocabulary
    * build before corpus encoding. Ids start at 0.
    *
    * The rank is assigned WITHOUT a global single-partition window — a
    * >=k-occurrence vocabulary of a web crawl grows with the corpus, not
    * the tokenizer. Two passes instead: the thresholded counts are
    * range-partitioned along the rank order and PINNED with one
    * localCheckpoint (so both passes see identical partitions), pass one
    * collects the per-partition row counts (P rows) into cumulative
    * offsets, pass two ranks each partition locally and adds its offset.
    * Range partitions are disjoint and ordered and the sort key
    * (count desc, token) is unique per row, so offset + local rank IS
    * the global rank — ids are bit-identical to the single-window form.
    */
  def buildVocab(docs: DataFrame, minCount: Long = 2L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val counts = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = counts
      .repartitionByRange(parts, col("n_occurrences").desc, col("token"))
      .localCheckpoint()
    val sizes = sorted.select(spark_partition_id().as("_pid"))
      .groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offRows = sizes.map { case (pid, n) =>
      val o = acc; acc += n
      org.apache.spark.sql.Row(pid, o)
    }
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_off",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val w = Window.partitionBy(col("_pid"))
      .orderBy(col("n_occurrences").desc, col("token"))
    sorted.withColumn("_pid", spark_partition_id())
      .withColumn("_rk", row_number().over(w).cast("long"))
      .join(broadcast(offDf), Seq("_pid"))
      .select(col("token"), col("n_occurrences"),
        (col("_rk") - 1 + col("_off")).as("token_id"))
  }

  /** Encode the corpus against [[buildVocab]]'s dictionary: one row per
    * document with its token-id sequence (out-of-vocabulary tokens map to
    * `oovId`). The join carries (doc, pos, token) rows against the
    * broadcast-sized vocabulary, and the sequence reassembles under the
    * doc-keyed shuffle the explode already paid — this is the
    * text→input_ids step that feeds [[packSequences]].
    */
  def encodeCorpus(docs: DataFrame, vocab: DataFrame, oovId: Long = -1L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    toks.join(broadcast(vocab.select(col("token").as("tok"),
        col("token_id"))), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"),
          coalesce(col("token_id"), lit(oovId)).as("tid"))))
        .getField("tid").as("input_ids"))
      .select(col("doc_id"), col("input_ids"),
        size(col("input_ids")).cast("long").as("n_tokens"))
  }

  /** Quality-aware cluster representative selection: given resolved
    * near-dup components (`(doc_id, component)` from
    * [[connectedComponents]]) pick ONE survivor per cluster — the doc
    * with the most tokens, ties to the smaller id. Near-dup clusters
    * contain non-identical texts, so "keep the longest" genuinely beats
    * min-id survivorship (the usual heuristic keeps the most complete
    * variant and drops truncations). One `max_by` aggregation over the
    * components — no window sort, partial map-side.
    */
  def clusterRepresentatives(components: DataFrame, docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tc = docs.select(col(idCol).as("doc_id"),
      TF.tokenCount(col(textCol)).cast("bigint").as("_nt"))
    components.join(tc, "doc_id")
      .groupBy(col("component"))
      .agg(max_by(col("doc_id"),
          struct(col("_nt"), (-col("doc_id")).as("_ni"))).as("rep_doc_id"),
        count(lit(1)).as("n_docs"))
      .select(col("component"), col("rep_doc_id"), col("n_docs"),
        (col("n_docs") - 1).as("n_dropped"))
  }

  /** Leakage-free split assignment: every doc of a near-dup cluster gets
    * the SAME train/valid/test label, decided by Fibonacci-hashing the
    * component label (`(c * 2654435761) mod 2^32` — Knuth's
    * multiplicative hash, exactly replayable in any integer SQL engine,
    * where an engine-native hash function would be un-oracleable) into
    * `trainPct`/`validPct`/rest percent buckets. Split membership is a
    * pure function of cluster identity, so no component can span splits
    * — the invariant a naive per-doc random split breaks, leaking
    * near-duplicate test answers into train.
    */
  def clusterSplitAssign(components: DataFrame, trainPct: Int = 80,
      validPct: Int = 10): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"need 0 < trainPct, 0 <= validPct, trainPct+validPct < 100; " +
        s"got $trainPct/$validPct")
    val bucket = pmod((col("component") * lit(2654435761L)) %
      lit(4294967296L), lit(100L))
    components.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + validPct, lit("valid"))
        .otherwise(lit("test")))
  }

  // --- dedup cluster resolution -------------------------------------------

  /** Connected components over an undirected edge list: every node gets
    * the minimum node id reachable from it. This is the cluster-
    * resolution step a near-dedup pipeline runs after pair confirmation —
    * pairwise drop-the-larger-id under-deletes when clusters chain
    * (a~b, b~c but not a~c), while a component representative is
    * transitive-closure-correct.
    *
    * Count-adaptive: when the confirmed edge list is provably small
    * (`smallEdgeThreshold`, default 100k pairs ≈ 1.6 MB), labels come
    * from a driver-side union-find sprayed back as a broadcast join —
    * one cheap count on the persisted edges instead of several
    * shuffle-checkpoint rounds. Past the threshold the distributed loop
    * runs:
    *
    * Min-label propagation: each iteration joins labels across edges and
    * takes the neighborhood minimum, converging in graph-diameter
    * iterations — near-dup clusters are near-cliques, so 2-3 in practice.
    * Each iteration `localCheckpoint`s the labels, cutting lineage so the
    * plan doesn't grow exponentially (at 100 TB this is a parquet
    * checkpoint). The changed-label count rides the SAME job that
    * materializes the checkpoint (an `observe` metric on the
    * checkpointed frame), so each round costs exactly one job — no
    * separate driver-blocking `count()`. For adversarial diameters
    * (long chains) use [[connectedComponentsStar]], whose round count is
    * logarithmic; equivalence is property-pinned in
    * TrainingDataPropertySpec.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 20,
      smallEdgeThreshold: Long = 100000L): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Count-adaptive fast path: a confirmed near-dup edge list is usually
    // MUCH smaller than the corpus (it's post-LSH, post-confirm). When it
    // fits comfortably on the driver, three shuffle-join-checkpoint
    // rounds for a few thousand pairs are pure stage-latency waste —
    // union-find them in microseconds and spray the labels back as a
    // broadcast join (the same count-adaptive pattern as DedupState's
    // relabel). The persisted `sym` makes the count cheap,
    // and 100k edges is ~1.6 MB collected. Past the threshold — the
    // 100 TB shape — the distributed loop below takes over unchanged.
    // The collected path reads ids as Long; any other id type (the
    // distributed loop is type-agnostic: joins + min only) skips it.
    val longIds = nodes.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    val nEdges = sym.count() / 2
    if (longIds && nEdges <= smallEdgeThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        if (r != x) parent(x) = r // path compression
        r
      }
      sym.filter(col("src") < col("dst")).collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      sym.unpersist()
      // SNAPSHOT the keys before resolving: find()'s path compression
      // writes parent(x) mid-iteration, and scala 2.13's HashMap.put
      // grows/rehashes the table when contentSize+1 >= threshold EVEN
      // for an existing key's value update — a live keys iterator then
      // skips entries (observed: an 11-entry map, threshold 12, dropped
      // one node's label entirely)
      val resolved = parent.keys.toArray.map(x => (x, find(x)))
        .filter { case (x, r) => x != r }.toSeq
      val labels = nodes.sparkSession
        .createDataFrame(resolved).toDF("id", "component")
      return nodes.select(col(idCol).as("id"))
        .join(broadcast(labels), Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("component"), col("id")).as("component"))
    }
    // Only edge endpoints can ever change labels — iterate on that (much
    // smaller) subgraph and union the untouched nodes back at the end,
    // so each loop stage moves O(edges), not O(corpus).
    val touched = sym.select(col("src").as("id")).distinct()
    var labels = touched.select(col("id"), col("id").as("component"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      val obs = org.apache.spark.sql.Observation()
      val updated = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"), labels("component"),
          least(labels("component"), coalesce(col("nbr_min"), labels("component")))
            .as("next"))
        .observe(obs, sum(when(col("next") < col("component"), 1L).otherwise(0L))
          .as("changed"))
        .localCheckpoint()
      // the eager checkpoint IS the action that completes the metric —
      // obs.get returns without launching anything further
      changed = Option(obs.get("changed")).collect { case n: Long => n }
        .getOrElse(0L)
      labels = updated.select(col("id"), col("next").as("component"))
      iter += 1
    }
    sym.unpersist()
    // Min-label propagation moves a label one hop per iteration, so a
    // chain longer than maxIter exits unconverged — and a silently wrong
    // component labeling under-deletes downstream. Fail loudly; callers
    // with adversarial chain graphs should raise maxIter (or switch to a
    // large-star/small-star variant whose round count is logarithmic).
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"($changed labels still changing) — graph diameter exceeds maxIter")
    val untouched = nodes.select(col(idCol).as("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.union(untouched).select(col("id").as(idCol), col("component"))
  }

  /** Connected components via alternating large-star/small-star rewrites
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): the round count is LOGARITHMIC in component size on any
    * graph — a 1000-hop chain resolves in ~10 rounds where min-label
    * propagation needs 1000. Use this variant for adversarial diameters;
    * [[connectedComponents]] stays the default for near-dup clusters
    * (near-cliques, diameter 2-3, one shuffle per round instead of two).
    *
    * Each round is two window-aggregated edge rewrites over the edge set
    * only (never the node set):
    *   - large-star: every node links its LARGER neighbors to its
    *     neighborhood minimum — long tails collapse toward roots;
    *   - small-star: every node links itself and its smaller neighbors
    *     to its smallest neighbor — parent pointers compress.
    * The edge frame stays bounded by the input pair count throughout, and
    * each round `localCheckpoint`s with a fused `observe` signature
    * (count + xxhash64 sum) — convergence detection rides the checkpoint
    * job, no extra pass. On signature fixpoint the star-forest shape is
    * verified EXACTLY with one final semi-join (roots have no parents),
    * so a signature collision cannot smuggle out a wrong labeling.
    */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 50): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val w = Window.partitionBy(col("src"))
      sym.withColumn("m", least(min(col("dst")).over(w), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val w = Window.partitionBy(col("src"))
      val withM = or.withColumn("m", min(col("dst")).over(w))
      withM.select(col("dst").as("src"), col("m").as("dst"))
        .union(withM.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var cur = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()
    var sig: (Long, String) = (-1L, "")
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val obs = org.apache.spark.sql.Observation()
      // decimal(38,0) sum: 2^63-scale hashes over up to ~10^18 edges
      // cannot overflow (ANSI mode makes a raw long sum throw)
      val next = smallStar(largeStar(cur))
        .observe(obs, count(lit(1)).as("cnt"),
          sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")).as("sig"))
        .localCheckpoint()
      val metrics = obs.get
      val nextSig = (metrics("cnt").asInstanceOf[Long],
        String.valueOf(metrics("sig")))
      converged = nextSig == sig
      sig = nextSig
      cur = next
      iter += 1
    }
    // exact fixpoint proof: a star forest has no parent that is itself a
    // child — one semi-join, run once, so a signature collision (~2^-64
    // per round) cannot yield a silently wrong labeling
    if (!converged ||
        !cur.join(cur.select(col("dst").as("src")), Seq("src"), "left_semi")
          .isEmpty)
      throw new IllegalStateException(
        s"connectedComponentsStar did not reach a star forest in $maxIter " +
          "rounds — raise maxIter")
    val roots = cur.select(col("dst")).distinct()
      .select(col("dst").as("id"), col("dst").as("component"))
    val children = cur.select(col("src").as("id"), col("dst").as("component"))
    val labeled = children.union(roots)
    val untouched = nodes.select(col(idCol).as("id"))
      .join(labeled.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labeled.union(untouched).select(col("id").as(idCol), col("component"))
  }

  // --- context chunking ----------------------------------------------------

  /** RAG-style sliding-window chunking plan: fixed `chunkSize`-token
    * windows every `stride` tokens (overlap = chunkSize - stride), the
    * final chunk short, every token covered. Emits one row per chunk
    * with its token span and an md5 content hash — the key for
    * cross-corpus CHUNK-level dedup (retrieval corpora dedup at chunk,
    * not document, granularity: two docs sharing a boilerplate span
    * produce the same chunk hash).
    *
    * Chunk count per doc is closed-form (`ceil(max(n-size,0)/stride)+1`),
    * so the explosion is a codegen `sequence`/`explode` with no shuffle
    * — the chunk table is produced map-side at any corpus size, and
    * downstream dedup shuffles 16-byte hashes, never chunk text.
    */
  def chunkWindows(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        expr(s"(greatest(n_tokens - $chunkSize, 0) + ${stride - 1}) " +
          s"div $stride"))))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("n_chunk_tokens",
        least(lit(chunkSize.toLong), col("n_tokens") - col("start_tok")))
      .withColumn("chunk_hash", md5(concat_ws(" ",
        slice(col("toks"), (col("start_tok") + 1).cast("int"),
          col("n_chunk_tokens").cast("int")))))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_chunk_tokens"), col("chunk_hash"))
  }

  /** Content-defined chunking (CDC): chunk boundaries chosen by the
    * CONTENT — a boundary opens wherever the md5 of the `window`-token
    * shingle starting at a position lands in the 1/`divisor` band — not
    * by fixed offsets. An insertion early in a document therefore only
    * perturbs the chunk it lands in; every later boundary re-derives from
    * the same local content and the suffix chunks re-align and dedup
    * against the store (the rsync/LBFS trick at token granularity —
    * [[chunkWindows]]' fixed-stride chunks all shift and miss instead;
    * CdcChunksSpec quantifies the difference). Returns one row per
    * (doc, chunk): span offsets, token count and content hash. Everything
    * is one token explode + one per-doc window + one hash aggregation —
    * per-doc bounded, nothing quadratic, shuffles carry hashes.
    */
  def contentDefinedChunks(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", window: Int = 3, divisor: Long = 64L)
      : DataFrame = {
    require(window >= 1 && divisor >= 2,
      s"need window >= 1 and divisor >= 2, got window=$window divisor=$divisor")
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = (0 until window).map(k =>
      if (k == 0) col("tok") else lead(col("tok"), k).over(w))
    val full = if (window == 1) lit(true)
      else lead(col("tok"), window - 1).over(w).isNotNull
    // the shared md5-prefix bucket (TF.splitBucket ≡ md5BucketSql), so
    // boundary hashing can never drift from the oracle replay
    val h = TF.splitBucket(concat_ws(" ", parts: _*), divisor.toInt)
    val marked = toks.withColumn("bnd",
      when(col("pos") > 0 && full && h === 0, 1).otherwise(0))
    val chunked = marked.withColumn("chunk",
      sum(col("bnd")).over(w).cast("long"))
    chunked.groupBy(col("doc_id"), col("chunk"))
      .agg(min(col("pos")).cast("long").as("chunk_start"),
        max(col("pos")).cast("long").as("chunk_end"),
        count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          array_sort(collect_list(struct(col("pos"), col("tok"))))
            .getField("tok"))).as("chunk_hash"))
  }

  // --- sequence packing ----------------------------------------------------

  /** Training-sequence packing plan: documents are concatenated in
    * content-hash order within hash buckets and chunked into fixed
    * `seqLen`-token sequences (a doc belongs to the sequence its first
    * token lands in). Returns per-sequence doc and token counts.
    *
    * The running-total window partitions by the hash bucket, so
    * parallelism is the bucket count and no global sort ever happens —
    * the shape that packs a 100 TB corpus without a single-partition
    * cumsum. Bucketing by content hash also makes the packing
    * reproducible across runs and engines.
    */
  def packSequences(docs: DataFrame, seqLen: Int = 256, buckets: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("bucket"))
      .orderBy(md5(col(textCol)), col(idCol))
    docs
      .select(col(idCol), col(textCol),
        TF.splitBucket(col(textCol), buckets).as("bucket"),
        TF.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // 2^40 spacing between buckets: a bucket would need >2^40 sequences
      // (~2.8e14 tokens at seqLen=256) before chunk indexes could collide
      // with the next bucket's id range — safe headroom at 100 TB, where
      // the earlier 10^6 spacing overflowed at ~1.5 GB of text per bucket.
      .withColumn("seq_id", col("bucket") * (1L << 40) +
        floor((col("cum") - col("n_tokens")) / seqLen).cast("bigint"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
  }

  // --- TF-IDF --------------------------------------------------------------

  /** Top `topPerDoc` terms per document by a log-free TF-IDF variant:
    * `tf * (N / df)` — multiplication and division of exact integers are
    * correctly-rounded IEEE doubles, so the score is bit-identical across
    * engines (a `ln`-based IDF would be libm-dependent). The corpus size
    * N rides in via a broadcast cross join (no driver-side `.head()`),
    * and the per-doc rank window partitions by doc — parallel in the
    * number of documents.
    */
  def tfidfTopTerms(docs: DataFrame, topPerDoc: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = toks.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs_total"))
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * (col("n_docs_total").cast("double") / col("df")), 6)
          .as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topPerDoc)
  }

  // --- percentile length gate ----------------------------------------------

  /** Length gate at discrete token-count quantiles: documents whose token
    * count falls outside [pLow, pHigh] (smallest value whose cumulative
    * frequency reaches the quantile) are dropped, and the report counts
    * survivors per stored language. Discrete rank — not interpolated
    * `percentile` — because an interpolated bound one ulp apart between
    * engines would flip documents sitting exactly on an integer boundary.
    *
    * The quantile runs over the token-count FREQUENCY table (cardinality
    * = distinct lengths, tiny at any corpus size), so the global cumsum
    * window is a post-aggregation no-op and the corpus itself is only
    * scanned, never shuffled — the bounds ride back over the scan as a
    * broadcast.
    */
  def lengthGate(docs: DataFrame, pLow: Double = 0.05, pHigh: Double = 0.95,
      textCol: String = "text", idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    val counted = docs.select(col(idCol), col(langCol),
      TF.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
    val freq = counted.groupBy(col("n_tokens")).agg(count(lit(1)).as("cnt"))
    val cum = freq.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("n_tokens"))))
    val total = counted.agg(count(lit(1)).as("n_total"))
    val bounds = cum.crossJoin(broadcast(total)).agg(
      min(when(col("cum") >= lit(pLow) * col("n_total"), col("n_tokens")))
        .as("lo"),
      min(when(col("cum") >= lit(pHigh) * col("n_total"), col("n_tokens")))
        .as("hi"))
    counted.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"))
  }

  // --- identifier masking --------------------------------------------------

  /** Mask every digit except the trailing `keep` characters of an
    * identifier-bearing string — the PII-redaction shape (mask an
    * account/phone-like id, keep the disambiguating tail). Pure
    * `translate`/`substring` composition: single char scan, no regex
    * engine, and replayable in ANSI SQL.
    */
  def maskDigits(c: Column, keep: Int = 4): Column = {
    val n = length(c)
    when(n <= keep, c).otherwise(concat(
      translate(c.substr(lit(1), n - keep), "0123456789", "##########"),
      c.substr(n - (keep - 1), lit(keep))))
  }

  // --- bigram language-model scoring ---------------------------------------

  /** Corpus-trained bigram-LM document scoring — the fluency/quality
    * signal a pretraining pipeline ranks documents by, kept EXACT instead
    * of floating: each bigram instance scores
    * `(scale * c(w1,w2)) div c(w1,·)` in integer arithmetic (the
    * PageRank/TF-IDF decimal discipline — no log, no rounding-mode
    * divergence), a document sums its instances, and the tie-broken
    * top-`topK` by average score comes back. High average = the
    * document's transitions are the corpus's dominant ones (formulaic
    * text); low = rare transitions. Count tables are vocab-bounded, so
    * the two stats joins shuffle token-sized keys, never documents —
    * same scale shape as [[tfidf]].
    */
  def bigramScore(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", topK: Int = 50,
      scale: Long = 1000000L): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val big = docs.select(col(idCol).as("doc_id"), toks.as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("_toks"), lit(1), size(col("_toks")) - 1),
        slice(col("_toks"), lit(2), size(col("_toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // big feeds the transition counts AND the per-doc scoring join —
    // persist so the corpus is exploded into bigrams once, not three
    // times; the unigram denominator d(w1) = Σ_w2 c(w1,w2) folds from
    // the bigram counts (exact integer identity), replacing a second
    // corpus-wide aggregation with a vocabulary-sized one.
    val bigP = big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bc = bigP.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val uc = bc.groupBy(col("w1")).agg(sum(col("c")).as("d"))
    bigP.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
      .withColumn("s", expr(s"($scale * c) div d"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("score_sum"))
      .withColumn("avg_score",
        col("score_sum").cast("double") / col("n_bigrams"))
      .orderBy(col("avg_score").desc, col("doc_id"))
      .limit(topK)
  }
}
