package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation: the composition a pretraining
  * data pipeline actually runs, as one declarative plan —
  *
  *   1. exact dedup (hash group-by, smallest doc_id survives);
  *   2. per-doc stats (chars, tokens, quality, language) of the
  *      survivors;
  *   3. quality + length gate;
  *   4. near-dup removal via LSH candidates → exact-Jaccard confirm
  *      (drop the larger doc_id of each confirmed pair);
  *   5. token accounting for the surviving corpus.
  *
  * Every stage is a narrow transform or a key-partitioned shuffle; the
  * quadratic step touches only LSH candidates. At 100 TB each stage
  * checkpoints to partitioned parquet; here it is one composable plan.
  */
object CorpusPipeline {

  final case class Config(
      minChars: Int = 50,
      minQuality: Double = 0.3,
      langs: Seq[String] = Nil, // empty = keep all
      nearDupShingle: Int = 3,
      nearDupThreshold: Double = 0.6)

  /** Stages 2-3: annotate and gate. */
  def gate(docs: DataFrame, cfg: Config): DataFrame = {
    val annotated = docs.select(
      col("doc_id"), col("text"),
      TextFunctions.charCount(col("text")).as("n_chars_text"),
      TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.langId(col("text")).as("lang_pred"))
    val gated = annotated
      .filter(col("n_chars_text") >= cfg.minChars && col("quality") >= cfg.minQuality)
    if (cfg.langs.isEmpty) gated
    else gated.filter(col("lang_pred").isin(cfg.langs: _*))
  }

  /** Stage 1: exact dedup keeping the smallest doc_id per text hash —
    * the hash-aggregate form (see [[Dedup.exactSurvivors]]: min_by, no
    * sort, duplicates collapse map-side before the shuffle).
    */
  def exactDedup(docs: DataFrame): DataFrame =
    Dedup.exactSurvivors(docs, "text", "doc_id")

  /** Stage 4: near-dup removal — LSH candidates, exact-Jaccard confirm,
    * drop the larger id of each confirmed pair. FUSED: the corpus is
    * shingled ONCE into a `(doc, h)` frame that feeds both the banding
    * and the candidate-pruned confirm — the standalone operators
    * ([[Dedup.minhashLshCandidates]] + [[Dedup.jaccardOnCandidates]])
    * each shingle from text, which costs the composed pipeline a second
    * posexplode + per-doc window over the corpus.
    */
  def nearDedup(docs: DataFrame, cfg: Config): DataFrame =
    nearDedupFused(docs, cfg,
      c => Dedup.shingleHashRows(c, "text", "doc_id", cfg.nearDupShingle))

  /** The fused near-dedup tail: the corpus feeds the shingle pass and
    * the final anti-join, the shingle rows feed LSH banding AND the
    * exact-Jaccard confirm, and the candidate pairs feed the confirm's
    * doc pruning and its scoring. Nothing is persisted: each shared
    * frame is the same subtree in every branch, so AQE runs each of
    * their shuffles once and serves every other branch a reused
    * exchange (the MinHash signature, the shingle window and the
    * `collect_set` sets are each computed once per action). A cache
    * would stop that — AQE reuses no exchange above a cache read — and
    * would outlive the call with no owner to release it. Confirm with
    * the SET-ARRAY Jaccard ([[Dedup.jaccardOnShingleSets]]): LSH
    * banding already emits distinct pairs (its final group-by), the drop
    * set rides the anti-join without a re-distinct (left_anti ignores
    * right-side duplicates), and NO driver-side count action remains —
    * AQE re-plans every join from the exact materialized shuffle sizes,
    * broadcasting the candidate-bounded frames at runtime. At 100 TB
    * the shingle and pair boundaries are parquet checkpoints instead.
    * The corpus is never shuffled end-to-end in this stage.
    */
  private def nearDedupFused(
      docs: DataFrame,
      cfg: Config,
      shinglesOf: DataFrame => DataFrame): DataFrame = {
    val sh = shinglesOf(docs)
    val pairs = Dedup.minhashLshCandidatesFromHashes(sh)
      .select(col("id_a"), col("id_b"))
    val drops = Dedup.jaccardOnShingleSets(pairs, sh)
      .filter(col("jaccard") >= cfg.nearDupThreshold)
      .select(col("id_b").as("drop_id"))
    docs.join(drops, docs("doc_id") === col("drop_id"), "left_anti")
  }

  /** Stages 1-3 in the order the pipeline runs them: exact dedup first,
    * then the gate over the survivors only. The same rows and columns as
    * `exactDedup(gate(docs, cfg))`: the gate reads nothing but `text`
    * and exact dedup groups by `md5(text)`, so every copy of a text
    * passes or fails the gate together. Scoring only the survivors also
    * keeps the text functions off the plan's leaf: over an in-memory
    * input the optimizer folds a projection above a local relation on
    * the driver, once per copy of the corpus in the fused near-dedup
    * plan.
    */
  def dedupThenGate(docs: DataFrame, cfg: Config): DataFrame =
    gate(exactDedup(docs.select(col("doc_id"), col("text"))), cfg)

  /** Full pipeline; returns the surviving corpus with its annotations. */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame =
    nearDedup(dedupThenGate(docs, cfg), cfg)

  /** The cross-engine-VERIFIABLE pipeline: the same fused stages with
    * xxhash64 swapped for the md5-prefix hash, so an ANSI oracle
    * replays gate → exact dedup → LSH banding → HASHED-shingle confirm
    * → survivors end-to-end hash-exactly (q_corpus_prep_md5 /
    * q_corpus_prep_full) — see [[nearDedupVerified]] for the confirm
    * semantics (set Jaccard over md5-prefix longs; collisions fold
    * identically on both engines). [[prepare]] (xxhash64) stays the
    * fast path — same shapes, no md5 cost.
    */
  def prepareVerified(docs: DataFrame, cfg: Config = Config()): DataFrame =
    nearDedupVerified(dedupThenGate(docs, cfg), cfg)

  /** [[nearDedup]]'s cross-engine-verifiable twin: the IDENTICAL fused
    * shape and shuffle-key widths (8-byte hashed shingles, duplicates
    * tolerated, no distinct shuffle) with xxhash64 swapped for the
    * md5-prefix hash DuckDB replays verbatim — banding mins, the bucket
    * join, AND the set-Jaccard confirm all run in the md5-long domain,
    * so an ANSI oracle reproduces the drop set hash-exactly. Callable on
    * an already-gated/deduped corpus so a caller can keep a handle on
    * the exact-dedup stage for invariance reporting.
    */
  def nearDedupVerified(docs: DataFrame, cfg: Config): DataFrame =
    nearDedupFused(docs, cfg,
      c => Dedup.shingleHashRowsMd5(c, "text", "doc_id", cfg.nearDupShingle))

  /** Stage 5: corpus accounting (docs/tokens/chars per predicted lang). */
  def tokenReport(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars_text").cast("bigint")).as("total_chars"))
      .orderBy(col("lang_pred"))
}
