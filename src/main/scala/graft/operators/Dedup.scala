package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for pretraining-scale corpora. Four tiers:
  * exact (hash group-by), MinHash+LSH (banded bucket join), SimHash
  * (bit-sketch), and exact n-gram Jaccard (ground truth / verifier).
  *
  * Scale design: every variant reduces the O(n²) pair space *before* any
  * join — exact dedup groups on a 128-bit hash; MinHash joins only within
  * LSH bands; SimHash buckets on sketch prefixes. Nothing here collects to
  * the driver; all outputs are DataFrames.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per distinct `textCol` hash.
    * Group-by on md5 (not the raw text) keeps shuffle rows narrow —
    * at 100 TB you shuffle 16-byte keys, not document bodies.
    */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivor set of exact dedup: the full rows whose id was kept
    * (smallest `idCol` per text hash). A hash aggregate with `min_by`,
    * NOT a row_number window: no per-partition sort, and partial
    * aggregation collapses duplicate copies map-side — on a
    * duplication-heavy 100 TB corpus the shuffle carries one row per
    * distinct text per map partition instead of every copy.
    */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns.toSeq
    // Ordering wrapped in a struct: a bare null id would make min_by SKIP
    // the row (an all-null-id group would emit a corrupt all-NULL row);
    // struct ordering is never-null and sorts a null field first, which
    // matches the asc_nulls_first window this replaced.
    df.groupBy(md5(col(textCol)).as("_h"))
      .agg(min_by(struct(cols.map(col): _*), struct(col(idCol))).as("_row"))
      .select(cols.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** MinHash signature: for each of `numHashes` seeded permutations,
    * min over shingles of `(a*h + b) mod p` where `h = xxhash64(shingle)`.
    * Pure built-ins (higher-order functions + xxhash64) — codegen'd,
    * deterministic, no UDF, no ml.linalg dependency.
    */
  // Universal hashing mod 2^31-1: shrink xxhash64 into [0, p) first so
  // a*h + b stays well inside the long range (ANSI-safe, no overflow).
  private val P = 2147483647L // 2^31 - 1, Mersenne prime
  private def hashParams(i: Int, seed: Long): (Long, Long) =
    (1L + ((seed + i * 1299709L) % (P - 1)), (seed * 31L + i * 7919L) % P)

  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column = {
    // Hash each shingle ONCE, then run the cheap permutation arithmetic
    // over the long array per hash function.
    val hashed = transform(shingles, s => pmod(xxhash64(s), lit(P)))
    val sigs = (0 until numHashes).map { i =>
      val (a, b) = hashParams(i, seed)
      aggregate(hashed, lit(Long.MaxValue),
        (acc, h) => least(acc, pmod(h * a + b, lit(P))))
    }
    array(sigs: _*)
  }

  /** MinHash + LSH banding: docs sharing any band bucket become candidate
    * pairs; exact Jaccard on candidates only. `bands` must divide
    * `numHashes` (enforced — a remainder would silently drop trailing hash
    * functions and degrade recall). Returns (id_a, id_b, n_shared_bands).
    *
    * Hot-bucket bound: the band self-join is quadratic PER BUCKET, so a
    * boilerplate-heavy corpus that lands k near-identical docs in one
    * bucket would emit k² pairs. Buckets larger than `maxBucketSize` docs
    * switch to star pairing: every doc pairs with the bucket's smallest
    * doc id only — O(k) pairs instead of O(k²), and the cluster stays
    * CONNECTED through the representative, so a transitive-closure dedup
    * still collapses it (dropping hot buckets outright would make exactly
    * the most-duplicated content invisible, because a large near-dup
    * cluster is hot in EVERY band). The size/representative ride one
    * window over the same bucket hash-partitioning the join needs, and
    * the star restriction is a left-side-only predicate, so the cap adds
    * no extra shuffle or scan. Audit bucket mass with [[lshBucketStats]].
    */
  def minhashLshCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes); a remainder would drop trailing hashes")
    pairBandBuckets(
      bandBuckets(df, textCol, idCol, shingleSize, numHashes, bands),
      maxBucketSize)
  }

  /** [[minhashLshCandidates]] over PRECOMPUTED `(doc, h)` shingle-hash
    * rows ([[shingleHashRows]] shape, duplicates tolerated — they cannot
    * change a min). The fused corpus pipeline computes the shingle rows
    * once and feeds both this banding and the Jaccard confirm from the
    * same frame, instead of re-shingling the corpus per stage; pass it
    * unpersisted, so every branch's shuffle of it is one reused exchange.
    */
  def minhashLshCandidatesFromHashes(
      sh: DataFrame,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    pairBandBuckets(bandBucketsFromHashes(sh, numHashes, bands), maxBucketSize)
  }

  /** The shared candidate-pairing tail of every LSH variant: per-bucket
    * size/representative stats, then the capped self-join. In an
    * oversized bucket only the representative may sit on the left of a
    * pair — a predicate on side `a` alone, applied below the pairing
    * join (the hot-bucket star-pairing cap).
    *
    * The stats ride a separate `groupBy(bucket)` aggregate joined back,
    * NOT a window over the pairing frame: a window would weld `_bsz`/
    * `_rep` onto side `a` only, column pruning would then strip it from
    * side `b`, and the two sides of the self-join stop being identical
    * subtrees — Spark's exchange reuse misses, and the whole banding
    * aggregate (the 16-permutation MinHash) runs TWICE. With the stats
    * split out, the stats aggregate and both pairing sides read ONE
    * explicit hash-partitioning(bucket) exchange of `banded` (reused),
    * so the signature is computed once whether the joins are planned as
    * sort-merge (the exchange is their required partitioning) or as
    * broadcasts of a small band set (which would otherwise sit on a
    * broadcast exchange the stats' shuffle cannot reuse). That reuse
    * needs an unpersisted input: AQE reuses no exchange above a cache
    * read, so over a persisted one each branch aggregates on its own.
    * The non-null `doc` filter comes first for the same reason: the
    * pairing join's `a.doc < b.doc` infers it for sides a and b, and a
    * stats branch without it would plan a second shingle shuffle.
    */
  private def pairBandBuckets(bands: DataFrame, maxBucketSize: Int): DataFrame = {
    val banded = bands.filter(col("doc").isNotNull).repartition(col("bucket"))
    val stats = banded.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_bsz"), min(col("doc")).as("_rep"))
    val left = banded.join(stats, "bucket")
      .filter(col("_bsz") <= maxBucketSize || col("doc") === col("_rep"))
      .as("a")
    left.join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** MinHash+LSH candidates with an md5-derived shingle hash — the
    * CROSS-ENGINE-VERIFIABLE twin of [[minhashLshCandidates]]: every step
    * (3-gram shingles, md5-prefix hash, the 16 permutations, banding,
    * bucket self-join) is ANSI-replayable, so a DuckDB oracle confirms
    * the banding end-to-end (q_minhash_md5). The xxhash64 variant remains
    * the fast path; this one is the semantic witness that the LSH
    * machinery — not just its Jaccard confirm — matches an independent
    * engine bit-for-bit.
    */
  def minhashLshCandidatesMd5(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    // Windowed shingle formation (TrainingData.docShingles), NOT the
    // transform()-lambda form: the interpreted lambda re-splits the text
    // per element and measured ~4x slower on the full corpus at sf0.1.
    // Same hot-bucket star-pairing cap as the fast path (see
    // [[minhashLshCandidates]]) so the two variants stay semantically
    // aligned; the oracle replays the cap with a bucket-stats CTE.
    pairBandBuckets(
      md5BandBuckets(df, textCol, idCol, shingleSize, numHashes, bands),
      maxBucketSize)
  }

  /** [[minhashLshCandidatesMd5]] over PRECOMPUTED distinct
    * `(doc, shingle)` string rows ([[TrainingData.docShingles]] shape,
    * with the shingle string in column `h`) — the md5-variant twin of
    * [[minhashLshCandidatesFromHashes]] for the fused corpus pipeline,
    * which shares one unpersisted shingle frame between banding and the
    * exact-Jaccard confirm.
    */
  def minhashLshCandidatesMd5FromShingles(
      sh: DataFrame,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val hashed = sh.select(col("doc"), md5PrefixHash(col("h")).as("h"))
    pairBandBuckets(bandBucketsFromHashes(hashed, numHashes, bands), maxBucketSize)
  }

  /** (doc, bucket) rows of the md5-variant banded signature — the
    * [[minhashLshCandidatesMd5]] pairing keys without the pairing itself,
    * so cross-corpus consumers (incremental near-dedup) can bucket two
    * relations independently: a document's buckets depend only on its
    * text, so bucketing batch and corpus separately equals bucketing
    * their union.
    */
  private def md5BandBuckets(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int = 16, bands: Int = 8): DataFrame =
    bandBucketsFromHashes(
      TrainingData.docShingles(df, textCol, idCol, shingleSize)
        .select(col("doc_id").as("doc"), md5PrefixHash(col("shingle")).as("h")),
      numHashes, bands)

  /** Incremental NEAR-dedup: which documents of an incoming `batch` are
    * near-duplicates of the already-ingested `corpus` — the continuous-
    * crawl admission gate ([[incrementalExactSurvivors]] is its
    * exact-hash little sibling). Batch and corpus are banded
    * independently ([[md5BandBuckets]]); candidates are the cross
    * bucket-join (batch side only ever meets corpus rows sharing a full
    * signature band, never the whole corpus); the exact string-shingle
    * Jaccard confirm runs on candidate-pruned docs only. Returns one row
    * per batch doc: match count, best Jaccard (rounded 6), and the
    * admission decision.
    *
    * PRECONDITION: batch and corpus ids must be DISJOINT — an id present
    * on both sides would merge the two texts' shingle sets under one id
    * inside the confirm union, inflating sizes and intersections and
    * silently corrupting every Jaccard it touches. (Not checked at
    * runtime: the check is a full id-set intersection — an extra job per
    * admission batch — for a property the ingest protocol already owns:
    * ids are allocated monotonically by the pipeline.) A continuous-ingest
    * caller re-admitting a doc id must drop the stale corpus row first —
    * that is the CDC-upsert shape ([[graft.operators.Cdc]]), not this
    * admission gate's.
    */
  def incrementalNearDupMd5(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    val bb = md5BandBuckets(batch, textCol, idCol, shingleSize)
    // Hot-bucket cap, mirroring minhashLshCandidatesMd5's star-pairing
    // guard: a degenerate band bucket (boilerplate-heavy corpora) would
    // otherwise emit |batch∩bucket| × |corpus∩bucket| candidates. Capping
    // the CORPUS side to the maxBucketSize smallest ids bounds the join
    // while keeping the admission semantics deterministic — a batch doc
    // colliding with a >1000-doc bucket still meets 1000 representatives,
    // so a real near-dup there is still overwhelmingly likely to confirm.
    val cw = Window.partitionBy(col("bucket")).orderBy(col("doc"))
    val cb = md5BandBuckets(corpus, textCol, idCol, shingleSize)
      .withColumn("_rn", row_number().over(cw))
      .filter(col("_rn") <= maxBucketSize)
      .select(col("doc").as("cdoc"), col("bucket"))
    val cand = bb.join(cb, "bucket")
      .select(col("doc").as("id_a"), col("cdoc").as("id_b")).distinct()
    val scored = jaccardOnCandidatesStrings(cand,
      batch.unionByName(corpus), textCol, idCol, shingleSize)
    val matches = scored.filter(col("jaccard") >= threshold)
      .groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_matches"),
        max(round(col("jaccard"), 6)).as("max_jaccard"))
    batch.select(col(idCol).as("doc_id"))
      .join(matches, col("doc_id") === col("id_a"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("dropped"))
  }

  /** The md5-prefix shingle hash: the first 8 hex digits of the n-gram
    * string's md5 as a long, mod [[minhashModulus]] — the value DuckDB's
    * replay ([[graft.analytics.NorthStarQueries.md5BucketSql]])
    * reproduces.
    */
  private def md5PrefixHash(shingle: Column): Column =
    pmod(conv(substring(md5(shingle), 1, 8), 16, 10).cast("long"), lit(P))

  /** The permutation constants of hash function `i` (exposed so the md5
    * variant's SQL oracle can replay them).
    */
  def permutation(i: Int, seed: Long = 42L): (Long, Long) = hashParams(i, seed)
  /** The Mersenne modulus of the minhash universe (oracle twin). */
  val minhashModulus: Long = P

  /** (doc, bucket) rows of the banded MinHash signature — the pairing key
    * space of [[minhashLshCandidates]], exposed for bucket audits.
    */
  private def bandBuckets(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    bandBucketsFromHashes(
      shingleHashRows(df, textCol, idCol, shingleSize), numHashes, bands)

  /** Banded MinHash signature from `(doc, h)` shingle-hash rows — the
    * shared core of every banding variant. `h` may exceed the modulus
    * (the raw [[shingleHashRows]] combination); it is reduced before the
    * permutation arithmetic, which is the identity for already-reduced
    * hashes (the md5 path), so both variants share one expression shape.
    */
  private def bandBucketsFromHashes(
      sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val seed = 42L
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = hashParams(i, seed)
      min(pmod(pmod(col("h"), lit(P)) * a + b, lit(P))).as(s"s_$i")
    }
    val sig = sh.groupBy(col("doc")).agg(minCols.head, minCols.tail: _*)
    sig.select(col("doc"), explode(array(
      (0 until bands).map { b =>
        md5(concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"s_${b * rowsPerBand + r}").cast("string"))
            :+ lit(b.toString): _*))
      }: _*)).as("bucket"))
  }

  /** Per-bucket doc counts of the LSH band space, largest first — the
    * audit companion to `maxBucketSize`: `n_docs * (n_docs-1) / 2` is the
    * pair mass a bucket would emit, so the dropped mass of a cap is the
    * sum of that expression over rows with `n_docs > maxBucketSize`.
    */
  def lshBucketStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    bandBuckets(df, textCol, idCol, shingleSize, numHashes, bands)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("bucket"))
  }

  /** Skinny (doc, shingle-hash) rows, fully codegen'd — no interpreted
    * lambda anywhere:
    *   1. posexplode tokens;
    *   2. hash each token ONCE with xxhash64;
    *   3. form each shingle's hash from `n` consecutive token hashes via
    *      `lead` over a per-doc window (never materializing the n-gram
    *      string).
    * Shared by MinHash signatures (duplicates kept — they cannot change a
    * min) and hashed-shingle Jaccard (use `.distinct()` for set
    * semantics). This is the 100 TB shape — the array-HOF variants in
    * [[TextFunctions.wordShingles]]/[[minhashSignature]] remain for
    * composable column use.
    */
  def shingleHashRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val toks = df.select(col(idCol).as("doc"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .select(col("doc"), col("pos"), pmod(xxhash64(col("tok")), lit(P)).as("h0"))
    toks
      .select(col("doc") +:
        (0 until n).map(k =>
          (if (k == 0) col("h0") else lead(col("h0"), k).over(w)).as(s"h$k")): _*)
      .filter(col(s"h${n - 1}").isNotNull)
      .select(col("doc"),
        (0 until n).map(k => col(s"h$k") * (2 * k + 1)).reduce(_ + _).as("h"))
  }

  /** [[shingleHashRows]]'s ORACLE-REPLAYABLE twin: skinny (doc, h) rows
    * where `h` is the md5-first-8-hex prefix of the n-gram STRING, mod
    * [[minhashModulus]] — the exact value DuckDB's
    * `md5(shingle)[1:8]::int % P` reproduces, so every downstream
    * consumer (banding mins, set-Jaccard confirm) is hash-exactly
    * replayable while shuffling 8-byte longs, not n-gram strings.
    * Duplicates are KEPT (banding mins can't change; set consumers
    * collect_set) — forming the string shingle via the same lead-window
    * as [[TrainingData.shingleRows]] but skipping its dropDuplicates
    * shuffle entirely.
    */
  def shingleHashRowsMd5(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    TrainingData.shingleRows(df, textCol, idCol, n)
      .select(col("doc_id").as("doc"), md5PrefixHash(col("shingle")).as("h"))

  /** Exact Jaccard over hashed shingle SETS for given candidate pairs
    * (id_a, id_b) — the confirm stage after LSH. Returns the pairs with
    * their similarity; collisions in the 2^31 hash space are negligible
    * for near-dup decisions.
    */
  def jaccardOnCandidates(
      candidates: DataFrame,
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame =
    jaccardOnPrunedDocs(candidates, df, idCol,
      pruned => shingleHashRows(pruned, textCol, idCol, n))

  /** Exact Jaccard over STRING shingle sets for given candidate pairs —
    * the oracle-replayable twin of [[jaccardOnCandidates]] (whose hashed
    * shingles ride xxhash64): the shingle key is the n-gram string
    * itself, so an ANSI engine reproduces every intersection count
    * bit-for-bit and no hash-collision caveat applies. Costs wider set
    * elements than the hashed path — use it where verifiability matters
    * more than shuffle bytes.
    */
  def jaccardOnCandidatesStrings(
      candidates: DataFrame,
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame =
    jaccardOnPrunedDocs(candidates, df, idCol,
      pruned => pruned.select(col(idCol).as("doc"),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("h")))

  /** The shared tail of both text-input confirms: distinct the candidate
    * pairs (callers may pass duplicates), semi-join-prune the corpus to
    * candidate docs BEFORE shingling (at 100 TB an unpruned shingle pass
    * would be corpus-sized), then score in [[scoreShingleSets]]. Nothing
    * is persisted or counted: both consumers of the distinct pairs (the
    * candidate ids and the scored pairs) are the same aggregate subtree,
    * so over an uncached input its shuffle runs once and the second read
    * is a reused exchange.
    */
  private def jaccardOnPrunedDocs(
      candidates: DataFrame,
      df: DataFrame,
      idCol: String,
      shingleRows: DataFrame => DataFrame): DataFrame = {
    val pairs = candidates.select(col("id_a"), col("id_b")).distinct()
    scoreShingleSets(pairs, shingleRows(
      df.join(candidateIds(pairs), col(idCol) === col("_cand_doc"), "left_semi")))
  }

  /** Every doc id of `pairs`, duplicates kept — a semi join's right side
    * needs no distinct shuffle.
    */
  private def candidateIds(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("id_a"), col("id_b"))).as("_cand_doc"))

  /** Exact Jaccard confirm over a precomputed `(doc, h)` shingle frame:
    * prune it to candidate docs, then score in [[scoreShingleSets]].
    * `pairs` must already be distinct (LSH banding output is, by its
    * final group-by); `sh` may keep duplicate rows.
    */
  def jaccardOnShingleSets(pairs: DataFrame, sh: DataFrame): DataFrame =
    scoreShingleSets(pairs,
      sh.join(candidateIds(pairs), col("doc") === col("_cand_doc"), "left_semi"))

  /** The one pair-scoring core, in SET-ARRAY form: collapse each doc's
    * shingles into ONE array row (`collect_set` — distinct by
    * construction, so dup-keeping hash rows need no separate `.distinct()`
    * shuffle), then score every pair with `array_intersect` sizes in a
    * single codegen'd projection. One aggregation plus two joins; a doc's
    * whole shingle set lives in one array cell, which bounds it to
    * capped-length documents (every workload's docs are).
    *
    * Emits the pair columns plus `inter`, `sz_a`, `sz_b` (bigint) and
    * `jaccard`; a zero union scores 0.0. Left joins keep pairs whose doc
    * has no shingle at all visible with empty sets (sizes 0, jaccard 0).
    *
    * No join is hinted and nothing is counted driver-side: the sets and
    * pairs are shuffle outputs AQE has ALREADY materialized when it
    * re-plans the joins, so it sees exact byte sizes and broadcasts
    * precisely when the candidate set is small — a `count()` action
    * feeding an explicit `broadcast()` hint would cost an extra job to
    * learn less than AQE already knows.
    */
  private def scoreShingleSets(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sets = sh.groupBy(col("doc")).agg(collect_set(col("h")).as("_hs"))
    val empty = array().cast(
      org.apache.spark.sql.types.ArrayType(sh.schema("h").dataType))
    val sza = size(col("_hs_a")); val szb = size(col("_hs_b"))
    val inter = size(array_intersect(col("_hs_a"), col("_hs_b")))
    pairs
      .join(sets.select(col("doc").as("id_a"), col("_hs").as("_hs_a")),
        Seq("id_a"), "left")
      .join(sets.select(col("doc").as("id_b"), col("_hs").as("_hs_b")),
        Seq("id_b"), "left")
      .withColumn("_hs_a", coalesce(col("_hs_a"), empty))
      .withColumn("_hs_b", coalesce(col("_hs_b"), empty))
      .withColumn("inter", inter.cast("bigint"))
      .withColumn("sz_a", sza.cast("bigint"))
      .withColumn("sz_b", szb.cast("bigint"))
      .withColumn("jaccard",
        when(sza + szb - inter === 0, lit(0.0))
          .otherwise(inter.cast("double") / (sza + szb - inter)))
      .drop("_hs_a", "_hs_b")
  }

  /** Shingle-set CONTAINMENT pairs: (id_a, id_b) where id_a's distinct
    * word-n-gram set is a subset of id_b's — the subsumption dedup a
    * quote-in-full / boilerplate-wrapped re-post needs, which Jaccard
    * banding under-scores when the container is much longer (|A∩B|/|A∪B|
    * shrinks with |B| even at full containment).
    *
    * Candidate generation is the rarest-probe trick (the prefix-filter
    * family, [[SetSimJoin]]): per-shingle document frequency computed as
    * a WINDOW over the shingle key — not a groupBy-then-rejoin, for two
    * reasons: at corpus scale the rejoin is a second full shuffle of a
    * corpus-sized frequency table (the window clusters the shingle rows
    * ONCE and reads counts in place), and at test scale the rejoin's
    * AQE build-side choice read the then-persisted shingle cache's size,
    * which depended on how much of the cache materialized when the stage
    * planned — a scheduling-dependent BuildLeft/BuildRight flip that
    * drifted this query's plan fingerprint exactly once in seven r17
    * runs (reproduced 3/30 under deliberate box contention, r18). Each
    * doc then probes with its RAREST shingle (ties by shingle text),
    * and a doc pairs only with docs sharing that probe. COMPLETE:
    * if A ⊆ B then B holds every A-shingle including the probe — no
    * false negatives; candidate cost is Σ df(rarest shingle), the same
    * bound class as every prefix-filtered join here (real text keeps
    * rarest-df small; a corpus of identical boilerplate degenerates for
    * any containment definition). Confirm is the shared set scorer
    * ([[jaccardOnShingleSets]]) with containment = (inter == |A|). Docs
    * with fewer than n tokens have no shingles, hence no probe, and are
    * excluded (an empty set is vacuously contained everywhere — noise,
    * not signal).
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    // NOT persisted: AQE reuses no exchange above an in-memory scan, so
    // a lazily filled cache read by the probe, candidate and confirm
    // subtrees is re-shuffled once per subtree. Plain, the window's
    // shuffle runs once, the candidate join streams a second shingle
    // pass, and the confirm's semi-join is pushed below the shingle
    // generator, so it shingles candidate docs only.
    val sh = df.select(col(idCol).as("doc"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n)))
        .as("h"))
    // df-per-shingle as a window, not groupBy+rejoin — see scaladoc
    val probes = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc"))
      .agg(min(struct(col("df"), col("h"))).as("m"))
      .select(col("doc").as("id_a"), col("m.h").as("h"))
    val candidates = probes
      .join(sh.select(col("doc").as("id_b"), col("h")), "h")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
    // every id_a has a probe shingle, so |A| > 0 needs no filter (one
    // here would be pushed into the id_a-side sets only, splitting the
    // two set sides into different subtrees that no longer share a stage)
    jaccardOnShingleSets(candidates.distinct(), sh)
      .filter(col("inter") === col("sz_a"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
  }

  /** Incremental exact dedup — the continual-ingest shape: keep the
    * batch rows whose text is new BOTH within the batch (smallest id
    * survives, as [[exactSurvivors]]) and against the already-ingested
    * corpus (anti-join on the content hash). The corpus side reduces to
    * its distinct hash set before the join — at 100 TB that set lives as
    * a bucketed hash table (or a bloom filter pre-screen) so each
    * incremental batch never rescans corpus text.
    */
  def incrementalExactSurvivors(batch: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val seen = existing.select(md5(col(textCol)).as("_seen_hash")).distinct()
    exactSurvivors(batch, textCol, idCol)
      .join(seen, md5(col(textCol)) === col("_seen_hash"), "left_anti")
  }

  /** SimHash near-dup pairs at Hamming distance <= maxHamming, found by
    * pigeonhole blocking: the 16-bit sketch splits into `maxHamming + 1`
    * bands, and any pair within the distance budget must agree on at
    * least one whole band (k flips can touch at most k bands) — so the
    * band-equality self-join is a COMPLETE candidate set, not an
    * approximation, and the bit_count(xor) filter makes the result
    * exact. Join cost is the band-bucket self-join (hash-partitioned by
    * (band, value)), never all-pairs.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(16 % bands == 0,
      s"maxHamming + 1 ($bands) must divide the 16-bit sketch width")
    val width = 16 / bands
    val mask = (1 << width) - 1
    val sk = df.select(col(idCol).as("doc"), simhash16(col(textCol)).as("sk"))
    val banded = sk.select(col("doc"), col("sk"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sk"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "nib")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.nib") === col("b.nib") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        col("a.sk").as("sk_a"), col("b.sk").as("sk_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sk_a").bitwiseXOR(col("sk_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Column-level pairwise word-n-gram Jaccard (set semantics) for ad-hoc
    * two-text comparison; zero-union pairs score 0.0, matching
    * [[jaccardOnCandidates]]. For bulk confirm use that operator.
    */
  def jaccardColumns(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(TextFunctions.wordShingles(a, n))
    val sb = array_distinct(TextFunctions.wordShingles(b, n))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = (size(sa) + size(sb)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** 16-bit SimHash from md5 nibbles of each token: bit b of the sketch is
    * the sign of sum over tokens of (bit set ? +1 : -1). md5-derived bits
    * keep the sketch oracle-expressible in ANSI SQL (unlike xxhash64).
    */
  def simhash16(textCol: Column): Column = {
    val toks = split(trim(textCol), "\\s+")
    val bits = (0 until 16).map { b =>
      val hexPos = b / 4 + 1      // which hex digit of the md5
      val bitInNibble = b % 4
      val vote = aggregate(
        toks,
        lit(0L),
        (acc, t) => {
          val nibble = conv(substring(md5(t), hexPos, 1), 16, 10).cast("long")
          acc + when(floor(nibble / math.pow(2, bitInNibble).toLong) % 2 === 1, 1L).otherwise(-1L)
        })
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Exact word-n-gram Jaccard similarity for all pairs above `threshold`
    * within `df` — the ground-truth near-dup measure. The explode/join is
    * bounded by shingle selectivity; at scale, run it only on LSH
    * candidates (see [[minhashLshCandidates]]).
    */
  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("shingle"))
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), round(col("jaccard"), 6).as("jaccard"))
  }
}
