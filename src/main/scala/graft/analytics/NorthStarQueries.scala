package graft.analytics

import graft.Tables._
import graft.functions.{TextFunctions => TF}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** North-star LLM-data-pipeline operators (SURVEY §2.10): dedup tiers,
  * text analysis, embedding similarity, multimodal plumbing — over the
  * driver's `documents`/`embeddings` tables.
  */
object NorthStarQueries {

  /** Memoized ANN plane sizing per dataset dir (see q_ann_bucketed). */
  private val annPlanes = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** ANN sketch width for a dataset: integer floor-log2 of rowCount/128,
    * clamped to [2, 8] — buckets average ≥ ~128 vectors (the nlist-sizing
    * heuristic every IVF index uses). The row count comes from parquet
    * FOOTER metadata ([[graft.sources.ParquetMeta.rowCount]]), so sizing
    * the index launches NO Spark job (SimilaritySpec asserts it with a
    * listener). Pure integer arithmetic — `numberOfLeadingZeros`, not
    * `math.log` — so the DuckDB oracle (`len(bin(q)) - 1`) replays it
    * bit-exactly with no FP-boundary risk at counts of exactly 128·2^k.
    */
  private[graft] def annPlaneCount(s: org.apache.spark.sql.SparkSession,
      d: String): Int =
    annPlanes.getOrElseUpdate(d, {
      val rows = graft.sources.ParquetMeta.rowCount(s, s"$d/embeddings.parquet")
      val q = math.max(rows / 128L, 1L)
      math.max(2, math.min(8, 63 - java.lang.Long.numberOfLeadingZeros(q)))
    })

  /** SQL twin of [[annPlaneCount]]: floor-log2 via binary digit count —
    * exact integer arithmetic, mirroring the Scala side's
    * numberOfLeadingZeros formulation.
    */
  private val annPlaneCountSql: String =
    "SELECT greatest(2, least(8, len(bin(greatest(count(*)//128, 1))) - 1)) FROM embeddings"

  /** SQL fragment: the engine's cosine similarity between two list
    * expressions — the replay of [[graft.functions.CosineSimilarityExpr]]
    * (double accumulation, zero-norm → 0.0 guard, round 6 when ranked).
    */
  private def cosineSql(a: String, b: String, round6: Boolean = true): String = {
    val den = s"""(sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN $a]))
                * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN $b])))"""
    val raw = s"""CASE WHEN $den = 0 THEN 0.0
           ELSE list_sum([CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)
                          FOR p IN list_zip($a, $b)]) / $den END"""
    if (round6) s"round($raw, 6)" else raw
  }

  /** Oracle CTEs `planes`/`sig`/`b(vec_id, bucket)`: DuckDB replays
    * [[graft.functions.VectorFunctions.hyperplanes]] (the seed-42 integer
    * LCG — BIGINT arithmetic is exact, and the `/2^31-1 * 2 - 1` scaling
    * is the same IEEE ops in both engines) and
    * [[graft.functions.SignBucketExpr]] (left-to-right double dot
    * product, `>= 0` sign, planes concatenated in index order). A change
    * to the engine-side plane constants fails these oracles loudly.
    * `numPlanesSql` is a literal or a scalar subquery (q_ann_bucketed
    * derives it from the corpus row count).
    */
  private def signBucketSqlCtes(numPlanesSql: String, dim: Int = 64): String =
    s"""planes AS (
          SELECT p AS plane,
            [ (CAST(((42 + p*1315423911 + i*2654435761) & 2147483647) AS DOUBLE)
               /2147483647.0)*2.0 - 1.0 FOR i IN range($dim) ] AS w
          FROM range(8) t(p) WHERE p < ($numPlanesSql)),
        sig AS (
          SELECT e.vec_id, p.plane,
            CASE WHEN list_sum([CAST(e.embedding[i+1] AS DOUBLE) * p.w[i+1]
                                FOR i IN range(least(len(e.embedding), $dim))]) >= 0
                 THEN '1' ELSE '0' END AS s
          FROM embeddings e, planes p),
        b AS (
          SELECT vec_id, string_agg(s, '' ORDER BY plane) AS bucket
          FROM sig GROUP BY 1)"""

  /** Oracle tail shared by the sign-LSH probes (q_ann_lsh,
    * q_ann_bucketed): bucket equi-join, self-exclusion, round-6 cosine
    * BEFORE the rank (matching the engine's column order of operations),
    * row_number over (cosine desc, corpus_id), top-k.
    */
  private def annProbeSql(numPlanesSql: String, k: Int): String =
    s"""WITH ${signBucketSqlCtes(numPlanesSql)},
        cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            ${cosineSql("qe.embedding", "ce.embedding")} AS cosine_sim
          FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          JOIN embeddings qe ON q.vec_id = qe.vec_id
          JOIN embeddings ce ON c.vec_id = ce.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT query_id, corpus_id, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rk
          FROM cand)
        SELECT query_id, corpus_id, cosine_sim, rk FROM ranked WHERE rk <= $k
        ORDER BY query_id, rk"""

  /** Quadratic-audit sample: the first `n` doc ids — an ABSOLUTE bound,
    * not a fraction, so the ground-truth audits' all-pairs cost is
    * CONSTANT in corpus scale. (A `doc_id % k` sample grows linearly with
    * the corpus and its all-pairs confirm quadratically — at 100× the
    * audits, not the production LSH paths, would become the
    * scale-killers.) A fixed id range rather than a content-hash bucket
    * because the bound must be exact, not expected-value; the production
    * pipelines remain LSH-first over the FULL corpus.
    */
  private def auditSample(n: Int) = col("doc_id") < n

  /** Shared audit sample for the Jaccard/LSH ground-truth tier: 250 docs
    * at every scale factor (≤ 31k candidate pairs before any threshold).
    */
  private val docSubset = auditSample(250)

  /** Shared oracle fragment: the md5-derived bucket in [0,mod) of a text
    * expression — the SQL twin of
    * [[graft.functions.TextFunctions.splitBucket]] (and, at mod =
    * [[graft.operators.Dedup.minhashModulus]], of the md5 shingle hash).
    * One definition so the train/val/test split, the decontamination
    * split, the mixture sampler, and the LSH hash can never drift apart.
    */
  private[analytics] def md5BucketSql(expr: String, mod: Long = 100L): String =
    s"${md5Hex8Sql(expr)} % $mod"

  /** The raw (un-modded) first-8-hex md5 value — the 32-bit integer the
    * bucket above reduces; [[graft.operators.TrainingData.weightedSample]]
    * uses it directly as a priority. `v` names the comprehension variable
    * so the fragment can nest inside an outer comprehension that already
    * binds `i`.
    */
  private[analytics] def md5Hex8Sql(expr: String, v: String = "i"): String =
    s"""CAST(list_sum([
          (strpos('0123456789abcdef', substr(md5($expr), $v + 1, 1)) - 1)
            * power(16, 7 - $v) FOR $v IN range(8)]) AS BIGINT)"""

  // --- text analysis ------------------------------------------------------

  /** X4: per-document stats — chars, whitespace tokens, BPE-ish tokens,
    * punctuation ratio.
    */
  val textStats = Q("q_text_stats",
    (s, d) => documents(s, d).select(
      col("doc_id"),
      TF.charCount(col("text")).cast("bigint").as("n_chars_text"),
      TF.tokenCount(col("text")).cast("bigint").as("n_tokens"),
      TF.bpeishTokenCount(col("text")).cast("bigint").as("n_bpeish_tokens"),
      round(TF.punctRatio(col("text")), 6).as("punct_ratio"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_text,
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
              AS n_bpeish_tokens,
            round(CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS DOUBLE)
                       / length(text) END, 6) AS punct_ratio
            FROM documents ORDER BY doc_id"""))

  /** X4: language ID via stopword-marker argmax. */
  val langId = Q("q_lang_id",
    (s, d) => documents(s, d).select(
      col("doc_id"), col("lang"), TF.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id")),
    Some {
      val markers = TF.langMarkers.map { case (lang, ws) =>
        lang -> s"len(regexp_extract_all(text, '${ws.mkString("\\b(", "|", ")\\b")}'))"
      }
      val best = markers.map(_._2).mkString("greatest(", ", ", ")")
      val cases = markers.map { case (l, e) => s"WHEN $e = best THEN '$l'" }
        .mkString(" ")
      s"""SELECT doc_id, lang,
          CASE WHEN best = 0 THEN 'und' $cases ELSE 'und' END AS lang_pred
          FROM (SELECT doc_id, lang, text, $best AS best FROM documents)
          ORDER BY doc_id"""
    })

  /** X4: composite quality score (length/punct/stopword heuristic). */
  val qualityScore = Q("q_quality_score",
    (s, d) => documents(s, d).select(
      col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text, length(text) AS n,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
             len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS puncts,
             len(regexp_extract_all(text,
               '${TF.enStopwords.mkString("\\b(", "|", ")\\b")}')) AS stops
             FROM documents)
             SELECT doc_id, round(
               least(CAST(n AS DOUBLE)/500.0, 1.0) * 0.5
               + (1.0 - least(CASE WHEN n = 0 THEN 0.0
                   ELSE CAST(puncts AS DOUBLE)/n END * 10, 1.0)) * 0.25
               + least(CASE WHEN toks = 0 THEN 0.0
                   ELSE CAST(stops AS DOUBLE)/toks END * 5, 1.0) * 0.25, 6) AS quality
             FROM t ORDER BY doc_id"""))

  /** X4: rolling-hash document fingerprint (aggregate HOF; oracle uses
    * list_reduce over the same character sequence).
    */
  val fingerprint = Q("q_fingerprint",
    (s, d) => documents(s, d).select(
      col("doc_id"),
      graft.functions.RollingHashExpression.rollingHash(col("text")).as("fp"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            CASE WHEN length(text) = 0 THEN 7
            ELSE list_reduce(list_prepend(CAST(7 AS BIGINT),
              [CAST(ascii(x) AS BIGINT) FOR x IN string_split(text, '')]),
              (acc, ch) -> (acc * 31 + ch) % 2147483647) END AS fp
            FROM documents ORDER BY doc_id"""))

  // --- dedup tiers --------------------------------------------------------

  /** X1: exact dedup via hash group-by. */
  val exactDedup = Q("q_exact_dedup",
    (s, d) => Dedup.exactByHash(documents(s, d), "text", "doc_id")
      .orderBy(col("text_hash")),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
            count(*) AS n_copies FROM documents
            GROUP BY 1 ORDER BY text_hash"""))

  /** X1 continual-ingest form: a re-delivered batch (every 3rd doc)
    * deduped within itself AND against the already-ingested corpus
    * (every 2nd doc) — docs with id divisible by 6 are the overlap the
    * content-hash anti-join must drop. Survivor accounting per language.
    */
  val incrementalDedup = Q("q_incremental_dedup",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.incrementalExactSurvivors(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },
    Some("""WITH existing AS (
              SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
              GROUP BY 1),
            batch AS (
              SELECT * FROM documents WHERE doc_id % 3 = 0
              QUALIFY row_number() OVER (PARTITION BY md5(text)
                ORDER BY doc_id) = 1),
            surv AS (
              SELECT b.* FROM batch b
              LEFT JOIN existing e ON md5(b.text) = e.h
              WHERE e.h IS NULL)
            SELECT lang, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM surv GROUP BY 1 ORDER BY lang"""))

  /** X1 canonicalization tier: a re-delivered batch where every 4th doc
    * comes back REFORMATTED (uppercased, punctuation appended) and every
    * doc of the 4k+1 slice is genuinely new content. Raw-hash dedup
    * ([[Dedup]]'s md5 anti-join) keeps all of them — the reformatted
    * copies slip through; dedup on [[TF.canonicalText]] (lowercase,
    * punctuation→space, whitespace collapse) keeps ONLY the genuinely
    * new docs. The two counts pin both halves: canonicalization collapses
    * exactly the formatting variants and nothing else.
    */
  val canonicalDedup = Q("q_canonical_dedup",
    (s, d) => {
      val docs = documents(s, d)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), concat(upper(col("text")), lit(" !!")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 4 === 1)
          .select(col("doc_id"),
            concat(col("text"), lit(" novel "), col("doc_id")).as("text")))
      val rawSeen = docs.select(md5(col("text")).as("_h")).distinct()
      val canonSeen = docs.select(md5(TF.canonicalText(col("text"))).as("_ch"))
        .distinct()
      val rawKept = batch
        .join(rawSeen, md5(col("text")) === col("_h"), "left_anti")
        .agg(count(lit(1)).as("n_kept"))
        .select(lit("1_raw_hash").as("method"), col("n_kept"))
      val canonKept = batch
        .join(canonSeen, md5(TF.canonicalText(col("text"))) === col("_ch"),
          "left_anti")
        .agg(count(lit(1)).as("n_kept"))
        .select(lit("2_canonical").as("method"), col("n_kept"))
      rawKept.unionByName(canonKept).orderBy(col("method"))
    },
    Some(s"""WITH batch AS (
           SELECT doc_id, upper(text) || ' !!' AS text
           FROM documents WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id, text || ' novel ' || doc_id
           FROM documents WHERE doc_id % 4 = 1),
         rawseen AS (SELECT DISTINCT md5(text) AS h FROM documents),
         canonseen AS (SELECT DISTINCT
             md5(${TF.canonicalTextSql("text")}) AS ch FROM documents)
         SELECT '1_raw_hash' AS method, count(*) AS n_kept FROM batch
         WHERE md5(text) NOT IN (SELECT h FROM rawseen)
         UNION ALL
         SELECT '2_canonical', count(*) FROM batch
         WHERE md5(${TF.canonicalTextSql("text")})
           NOT IN (SELECT ch FROM canonseen)
         ORDER BY method"""))

  /** Oracle fragment: word-3-gram Jaccard CTEs (`docs`/`sh`/`sizes`/
    * `inter`) over a doc selection — shared by q_jaccard_pairs and
    * q_minhash_recall's exact-ground-truth side so the pair semantics
    * cannot drift. (q_dedup_components replays the LSH-first chain
    * instead — see [[md5LshSqlCtes]]/[[md5ConfirmedEdgesSqlCtes]].)
    */
  private def jaccardSqlCtes(where: String = "WHERE doc_id < 250"): String =
    s"""docs AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents $where),
            sh AS (
              SELECT DISTINCT doc_id,
                unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                        FOR i IN range(greatest(len(toks) - 2, 0))]) AS shingle
              FROM docs),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)"""

  /** X2 ground truth: exact word-3-gram Jaccard pairs over a doc subset. */
  val jaccardPairs = Q("q_jaccard_pairs",
    (s, d) => Dedup.jaccardPairs(
      documents(s, d).filter(docSubset), "text", "doc_id", n = 3, threshold = 0.2)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH ${jaccardSqlCtes()}
            SELECT id_a, id_b, inter,
                   round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON id_a = sa.doc_id
                       JOIN sizes sb ON id_b = sb.doc_id
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
            ORDER BY id_a, id_b"""))

  /** X61: prefix-filtered EXACT similarity join
    * ([[graft.operators.SetSimJoin.jaccardShingleJoin]]) — the PPJoin
    * alternative to MinHash banding: provably no false negatives, so the
    * oracle is simply ALL qualifying pairs (same shingle CTEs as
    * q_jaccard_pairs) and no recall audit is needed. Rational 1/5
    * threshold, accepted by integer cross-multiplication in BOTH engines
    * so no float boundary can split them.
    */
  val prefixJoin = Q("q_prefix_join",
    (s, d) => graft.operators.SetSimJoin.jaccardShingleJoin(
        documents(s, d).filter(docSubset), "text", "doc_id",
        n = 3, num = 1L, den = 5L)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH ${jaccardSqlCtes()}
         SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS n_union
         FROM inter JOIN sizes sa ON id_a = sa.doc_id
                    JOIN sizes sb ON id_b = sb.doc_id
         WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 1
         ORDER BY id_a, id_b"""))

  /** X2 scale path: MinHash+LSH banded candidates over the FULL corpus,
    * now fully ORACLED — the md5-variant banding ([[Dedup
    * .minhashLshCandidatesMd5]]) so DuckDB replays shingling, the
    * md5-prefix hash, all 16 permutations, banding, the capped bucket
    * self-join, AND each pair's exact string-shingle intersection/union
    * sizes. (The xxhash64 fast path — narrower shuffle keys, same plan
    * shape, the production choice at 100 TB — stays available as
    * [[Dedup.minhashLshCandidates]], spec-pinned and bench-able via
    * SPARK_GRAFT_BENCH_ONLY; it has no DuckDB twin, which kept this row
    * `no_oracle` for 13 rounds.)
    */
  val minhashCandidates = Q("q_minhash_candidates",
    (s, d) => {
      val docs = documents(s, d)
      // The LSH chain (shingle → md5 hash → 16 permutations → banding →
      // capped bucket self-join) feeds BOTH the output's left side and
      // the Jaccard confirm; unpersisted it ran twice (57 source scans
      // in the r18 baseline plan). The cache fills once inside the final
      // action: its producing stages run once, and only the small
      // pair-sized exchanges above it run once per reading subtree.
      val cand = Dedup.minhashLshCandidatesMd5(docs, "text", "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val conf = Dedup.jaccardOnCandidatesStrings(cand, docs, "text",
        "doc_id", n = 3)
      cand.join(conf.select(col("id_a"), col("id_b"), col("inter"),
          (col("sz_a") + col("sz_b") - col("inter")).as("n_union")),
        Seq("id_a", "id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH gtoks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents),
          ${md5LshSqlCtes()},
          ${md5ConfirmedEdgesSqlCtes(0.0)}
          SELECT c.id_a, c.id_b, p.n_shared_bands, c.inter,
                 c.sz_a + c.sz_b - c.inter AS n_union
          FROM conf c JOIN pairs p
            ON c.id_a = p.id_a AND c.id_b = p.id_b
          ORDER BY c.id_a, c.id_b"""))

  /** Shared oracle fragment: the md5-LSH CTE chain (shingles → md5-prefix
    * hash → permutation minima → banding → bucket stats → candidate
    * pairs, including the hot-bucket star-pairing cap) over a source
    * relation `(doc_id, toks)` named `gtoks`. Used by q_minhash_md5 and
    * q_corpus_prep_md5 so the LSH replay cannot drift between them.
    */
  private[analytics] def md5LshSqlCtes(maxBucketSize: Int = 1000): String = {
    val P = Dedup.minhashModulus
    val numHashes = 16
    val bands = 8
    val rpb = numHashes / bands
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = Dedup.permutation(i)
      s"min((h * $a + $b) % $P) AS s_$i"
    }.mkString(",\n                ")
    val bandExprs = (0 until bands).map { b =>
      val sigs = (0 until rpb).map(r => s"s_${b * rpb + r}::VARCHAR")
      s"md5(concat_ws(',', ${sigs.mkString(", ")}, '$b'))"
    }.mkString(",\n                 ")
    s"""shs AS (SELECT doc_id,
                    unnest(list_distinct([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                            FOR i IN range(greatest(len(toks) - 2, 0))])) AS shingle
                  FROM gtoks),
          h AS (SELECT doc_id,
                  ${md5BucketSql("shingle", P)} AS h
                FROM shs),
          sig AS (SELECT doc_id,
                $minCols
            FROM h GROUP BY doc_id),
          banded AS (SELECT doc_id,
                 unnest([$bandExprs]) AS bucket
            FROM sig),
          bstats AS (SELECT bucket, count(*) AS bsz, min(doc_id) AS rep
            FROM banded GROUP BY 1),
          pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              count(*) AS n_shared_bands
            FROM banded a
            JOIN bstats st ON a.bucket = st.bucket
            JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            WHERE st.bsz <= $maxBucketSize OR a.doc_id = st.rep
            GROUP BY 1, 2)"""
  }

  /** Shared oracle fragment: exact string-shingle Jaccard confirm of the
    * md5-LSH candidate `pairs` (the SQL twin of
    * [[graft.operators.Dedup.jaccardOnCandidatesStrings]], zero-guard
    * included) → `jedges(id_a, id_b)` at the given threshold. Used by
    * q_corpus_prep_md5 (drop set) and q_dedup_components (cluster edges)
    * so the confirm semantics cannot drift between them.
    */
  /** [[md5ConfirmedEdgesSqlCtes]]'s HASHED-domain twin: sizes and
    * intersections over the md5-prefix long shingle hashes (the `h` CTE
    * [[md5LshSqlCtes]] already defines) instead of the shingle strings —
    * the replay of [[graft.operators.CorpusPipeline.nearDedupVerified]],
    * whose confirm joins 8-byte hashes so the corpus's n-gram strings
    * never ride a shuffle. Collisions in the mod-P space fold two
    * shingles into one set element on BOTH engines identically, so the
    * drop set stays hash-exact. `hd` re-distincts because the Spark side
    * keeps duplicate shingle occurrences (no dropDuplicates shuffle;
    * collect_set dedups) while `h` here descends from distinct strings —
    * distinct-of-hashes is the same set either way.
    */
  private[analytics] def md5HashedConfirmSqlCtes(threshold: Double): String =
    s"""hd AS (SELECT DISTINCT doc_id, h FROM h),
          sizes AS (SELECT doc_id, count(*) AS sz FROM hd GROUP BY 1),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS inter
            FROM pairs p
            JOIN hd a ON p.id_a = a.doc_id
            JOIN hd b ON p.id_b = b.doc_id AND a.h = b.h
            GROUP BY 1, 2),
          conf AS (SELECT p.id_a, p.id_b,
              coalesce(i.inter, 0) AS inter,
              coalesce(sa.sz, 0) AS sz_a, coalesce(sb.sz, 0) AS sz_b
            FROM pairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            LEFT JOIN sizes sa ON p.id_a = sa.doc_id
            LEFT JOIN sizes sb ON p.id_b = sb.doc_id),
          jedges AS (SELECT id_a, id_b FROM conf
            WHERE (CASE WHEN sz_a + sz_b - inter = 0 THEN 0.0
                        ELSE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) END)
                  >= $threshold)"""

  private[analytics] def md5ConfirmedEdgesSqlCtes(threshold: Double): String =
    s"""sizes AS (SELECT doc_id, count(*) AS sz FROM shs GROUP BY 1),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS inter
            FROM pairs p
            JOIN shs a ON p.id_a = a.doc_id
            JOIN shs b ON p.id_b = b.doc_id AND a.shingle = b.shingle
            GROUP BY 1, 2),
          conf AS (SELECT p.id_a, p.id_b,
              coalesce(i.inter, 0) AS inter,
              coalesce(sa.sz, 0) AS sz_a, coalesce(sb.sz, 0) AS sz_b
            FROM pairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            LEFT JOIN sizes sa ON p.id_a = sa.doc_id
            LEFT JOIN sizes sb ON p.id_b = sb.doc_id),
          jedges AS (SELECT id_a, id_b FROM conf
            WHERE (CASE WHEN sz_a + sz_b - inter = 0 THEN 0.0
                        ELSE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) END)
                  >= $threshold)"""

  /** X2, fully oracled: the md5-variant MinHash+LSH candidates —
    * DuckDB replays shingling, the md5-prefix hash, all 16 permutations,
    * banding, and the bucket self-join, so the LSH machinery itself (not
    * just its Jaccard confirm) is verified hash-exact against an
    * independent engine.
    */
  val minhashMd5 = Q("q_minhash_md5",
    (s, d) => Dedup.minhashLshCandidatesMd5(
        documents(s, d).filter(docSubset), "text", "doc_id")
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH gtoks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents WHERE doc_id < 250),
          ${md5LshSqlCtes()}
          SELECT id_a, id_b, n_shared_bands FROM pairs
          ORDER BY id_a, id_b"""))

  /** X2 quality-of-approximation: LSH recall against exact ground truth
    * — the fraction of true near-dup pairs (word-3-gram Jaccard >= 0.2
    * on the first-250-ids audit sample) that the md5 MinHash+LSH banding surfaces as
    * candidates. Both sides are independently oracled elsewhere
    * (q_jaccard_pairs, q_minhash_md5); this query pins their
    * COMPOSITION, so a silent recall regression in the LSH parameters
    * (hashes, bands, cap) fails the gate instead of quietly dropping
    * near-dups at 100 TB. Vacuous recall (no true pairs) reports 1.0.
    */
  val minhashRecall = Q("q_minhash_recall",
    (s, d) => {
      val docs = documents(s, d).filter(docSubset)
      // Both pair sets feed two consumers (their own count + the hit
      // join); measured at sf0.1, neither persist (concurrent subplans
      // never see a warm cache) nor eager checkpoint (extra jobs) beats
      // recomputing the tiny pipelines — the cost is stage latency, not
      // duplicated work.
      val exact = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3,
        threshold = 0.2).select(col("id_a"), col("id_b"))
      val cand = Dedup.minhashLshCandidatesMd5(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_candidates"), col("n_hit"),
          when(col("n_exact") === 0, lit(1.0))
            .otherwise(round(col("n_hit").cast("double") / col("n_exact"), 6))
            .as("recall"))
    },
    Some(s"""WITH ${jaccardSqlCtes()},
             exact AS (
               SELECT id_a, id_b
               FROM inter JOIN sizes sa ON id_a = sa.doc_id
                          JOIN sizes sb ON id_b = sb.doc_id
               WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2),
             gtoks AS (SELECT doc_id, toks FROM docs),
             ${md5LshSqlCtes()},
             hit AS (SELECT e.id_a, e.id_b FROM exact e
               JOIN pairs p ON e.id_a = p.id_a AND e.id_b = p.id_b)
             SELECT (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM pairs) AS n_candidates,
               (SELECT count(*) FROM hit) AS n_hit,
               CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 1.0
                    ELSE round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                         / (SELECT count(*) FROM exact), 6) END AS recall"""))

  /** Oracle fragment: the 16-bit md5-nibble SimHash sketch as CTEs
    * (`toks`/`bits`/`sk(doc_id, simhash)`) — shared by q_simhash and
    * q_simhash_neardup so the sketch replay cannot drift between them.
    * This tier audits a smaller [[auditSample]] (120) than the Jaccard
    * one: a 16-bit sketch's nibble-band collisions are dense, so pair
    * volume grows ~quadratically in the sample even before the Hamming
    * filter.
    */
  private def simhashSqlCtes(where: String = "WHERE doc_id < 120"): String =
    s"""toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents $where),
            bits AS (
              SELECT doc_id, b.i AS bit,
                sum(CASE WHEN
                  floor((strpos('0123456789abcdef', substr(md5(tok), b.i // 4 + 1, 1)) - 1)
                        / power(2, b.i % 4)) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
              FROM toks, range(16) AS b(i) GROUP BY 1, 2),
            sk AS (
              SELECT doc_id,
                CAST(sum(CASE WHEN vote > 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS simhash
              FROM bits GROUP BY 1)"""

  /** X2: 16-bit md5-derived SimHash sketch (oracle replays the nibble
    * votes in SQL).
    */
  val simhash = Q("q_simhash",
    (s, d) => documents(s, d).filter(auditSample(120))
      .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
      .orderBy(col("doc_id")),
    Some(s"""WITH ${simhashSqlCtes()}
            SELECT doc_id, simhash FROM sk ORDER BY doc_id"""))

  /** X2: the SimHash sketch's actual USE — near-dup pairs at Hamming
    * distance <= 3, found by pigeonhole nibble blocking (4 bands of 4
    * bits; a pair within distance 3 must agree on a whole band, so the
    * band join is a complete candidate set and the result is EXACT).
    * Oracle replays sketch, banding, and the bit_count(xor) distance.
    */
  val simhashNearDup = Q("q_simhash_neardup",
    (s, d) => Dedup.simhashNearDupPairs(
        documents(s, d).filter(auditSample(120)), "text", "doc_id", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH ${simhashSqlCtes()},
            banded AS (
              SELECT doc_id, simhash, b.i AS band,
                (simhash >> (b.i * 4)) & 15 AS nib
              FROM sk, range(4) AS b(i)),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.simhash AS sk_a, b.simhash AS sk_b
              FROM banded a
              JOIN banded b ON a.band = b.band AND a.nib = b.nib
                AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, bit_count(xor(sk_a, sk_b)) AS hamming
            FROM pairs WHERE bit_count(xor(sk_a, sk_b)) <= 3
            ORDER BY id_a, id_b"""))

  /** Deterministic 80/10/10 train/val/test split by content hash
    * ([[TF.splitBucket]]): membership depends only on the text, so
    * re-processing the corpus can never migrate an example across splits.
    * The oracle replays the md5-prefix arithmetic digit by digit.
    */
  val trainTestSplit = Q("q_train_test_split",
    (s, d) => {
      val b = TF.splitBucket(col("text"), 100)
      documents(s, d)
        .select(col("doc_id"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"),
          TF.tokenCount(col("text")).cast("bigint").as("n_tokens"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("split"))
    },
    Some(s"""WITH h AS (
              SELECT doc_id,
                ${md5BucketSql("text")} AS bucket,
                CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
                  AS n_tokens
              FROM documents)
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM h GROUP BY 1 ORDER BY split"""))

  // --- embedding similarity ----------------------------------------------

  /** X3 baseline: brute-force cosine top-k against the vec_id=0 query —
    * the query row broadcasts into the scan (no driver-side `.head()`).
    */
  /** Shared by q_embed_topk and q_sql_cosine (same math, same tiebreak —
    * the two queries are answer-equal by design, so they must share one
    * oracle text).
    */
  val cosineTopKOracle: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       SELECT vec_id, round(
         list_sum([CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)
                   FOR p IN list_zip(embedding, qv)])
         / (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN embedding]))
            * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN qv]))), 6)
         AS cosine_sim
       FROM embeddings, q WHERE vec_id <> 0
       ORDER BY cosine_sim DESC, vec_id LIMIT 10"""

  val embedTopK = Q("q_embed_topk",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.bruteForceTopKDf(
        e.filter(col("vec_id") =!= 0), e.filter(col("vec_id") === 0), 10)
    },
    Some(cosineTopKOracle))

  /** X103: hard-negative mining ([[Similarity.hardNegatives]]) — for
    * each probe vector, the 5 most-similar vectors with a DIFFERENT
    * label (the contrastive-training pairs a loss learns most from);
    * broadcast probes, label filter before the per-query top-k window.
    * The oracle replays cosine, the label inequality, and the
    * (sim DESC, vec_id) tie-break.
    */
  val hardNegatives = Q("q_hard_negatives",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 8), k = 5)
        .orderBy(col("query_id"), col("rk"))
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
              label AS ql FROM embeddings WHERE vec_id < 8),
            c AS (SELECT q.query_id, e.vec_id, round(
              list_sum([CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)
                        FOR p IN list_zip(e.embedding, q.qv)])
              / (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
                                FOR x IN e.embedding]))
                 * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
                                  FOR x IN q.qv]))), 6) AS cosine_sim
              FROM embeddings e, q
              WHERE e.label <> q.ql AND e.vec_id <> q.query_id),
            r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS rk
              FROM c)
            SELECT query_id, vec_id, cosine_sim, rk FROM r WHERE rk <= 5
            ORDER BY query_id, rk"""))

  /** X3 scale path: sign-LSH bucketed ANN (probe = bucket join, then
    * exact cosine within bucket). Fully oracled: the hyperplanes are a
    * deterministic integer LCG, so DuckDB replays plane generation, the
    * sign sketch, the bucket join, and the ranked cosine — the whole LSH
    * machinery verified hash-exact against an independent engine (the
    * embedding-space twin of q_minhash_md5).
    */
  val annLsh = Q("q_ann_lsh",
    (s, d) => {
      val e = embeddings(s, d)
      // the 20-row probe frame is known-small: assert the broadcast so
      // the corpus side never shuffles
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), k = 5,
          broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(annProbeSql("8", 5)))

  /** X3 storage path: the corpus written parquet-partitioned by its sign
    * bucket, then probed — dynamic partition pruning limits the scan to
    * the probed buckets (SimilaritySpec asserts the pruning; this entry
    * proves the layout end-to-end). The plane count adapts to corpus
    * size so buckets average ≥ ~128 vectors (the nlist-sizing heuristic
    * every IVF index uses): a toy corpus gets a handful of partition
    * dirs instead of 256 near-empty ones, and a 100 TB corpus gets the
    * full sketch width. Sizing reads parquet footer metadata — no eager
    * count job at plan build ([[annPlaneCount]]). Fully oracled: the
    * result is a pure function of the embeddings table (the partitioned
    * layout is a physical detail), so DuckDB replays the adaptive plane
    * count and the probe end-to-end.
    */
  val annBucketed = Q("q_ann_bucketed",
    (s, d) => {
      val e = embeddings(s, d)
      val planes = annPlaneCount(s, d)
      // memoized per (JVM, dataset): the layout is written once and
      // every later invocation probes it — the serving discipline
      // (Fixtures.memo paths carry the applicationId, so concurrent
      // processes never overwrite each other's index mid-probe)
      val out = Fixtures.memo(s, d, "annidx") { out =>
        Similarity.writeBucketedCorpus(e, out, numPlanes = planes)
      }
      Similarity.probeBucketed(s, out, e.filter(col("vec_id") < 20), k = 5,
          numPlanes = planes, broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(annProbeSql(annPlaneCountSql, 5)))

  /** X3 scale path #2: IVF coarse-quantizer ANN (map-side centroid
    * assignment, nProbe inverted lists per query). Fully oracled: the
    * centroids are the 16 smallest-id vectors and assignment is a raw
    * (unrounded) cosine argmax with ties to the larger cent_id — the
    * exact reverse of the engine's ascending (sim, cent_id) struct sort —
    * so DuckDB replays index build and probe with a rank window.
    * Exhaustive-probe == brute-force is additionally pinned in
    * SimilaritySpec.
    */
  /** Shared oracle CTEs `cents`/`asgn`: the 16-smallest-id coarse
    * quantizer and the raw-cosine argmax with ties to the larger cent_id —
    * the exact reverse of the engine's ascending (sim, cent_id) struct
    * sort. ONE definition for q_ann_ivf and q_semantic_dedup so the tie
    * rule can never drift between the two replays.
    */
  private def ivfAssignSqlCtes: String = ivfAssignSqlCtesW("")

  /** `trainWhere` restricts the CENTROID SOURCE (e.g. "WHERE vec_id <
    * 100") while assignment still covers every vector — the SQL twin of
    * the engine's train-on-subset index builds.
    */
  private def ivfAssignSqlCtesW(trainWhere: String): String =
    s"""cents AS (
          SELECT vec_id AS cent_id, embedding AS centv
          FROM embeddings $trainWhere
          ORDER BY vec_id LIMIT 16),
        asgn AS (
          SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosineSql("e.embedding", "c.centv", round6 = false)} DESC,
                       c.cent_id DESC) AS rnk
          FROM embeddings e, cents c)"""

  val annIvf = Q("q_ann_ivf",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), k = 5,
          broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(s"""WITH $ivfAssignSqlCtes,
        cbuck AS (SELECT vec_id AS corpus_id, cent_id AS bucket FROM asgn
          WHERE rnk = 1),
        qbuck AS (SELECT vec_id AS query_id, cent_id AS bucket FROM asgn
          WHERE rnk <= 4 AND vec_id < 20),
        cand AS (
          SELECT q.query_id, c.corpus_id,
            ${cosineSql("qe.embedding", "ce.embedding")} AS cosine_sim
          FROM qbuck q JOIN cbuck c ON q.bucket = c.bucket
            AND q.query_id <> c.corpus_id
          JOIN embeddings qe ON q.query_id = qe.vec_id
          JOIN embeddings ce ON c.corpus_id = ce.vec_id),
        ranked AS (
          SELECT query_id, corpus_id, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rk
          FROM cand)
        SELECT query_id, corpus_id, cosine_sim, rk FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""))

  /** One Lloyd's iteration as oracle CTEs: assign every vector to its
    * argmax-raw-cosine centroid of `cents$i` (ties to the larger cent_id
    * — the engine's reversed struct sort), then recenter each cluster on
    * per-dimension means computed EXACTLY as the engine does:
    * `round(x*1e6)` integer quantization, decimal(38,0) sum, then two
    * IEEE divisions — never a double→decimal cast, which drifts 1 ulp
    * between engines (the q_event_pagerank lesson) and would poison the
    * downstream argmax. Empty clusters keep their previous centroid.
    */
  private def lloydIterSqlCtes(i: Int): String =
    s"""asgn_t$i AS (
          SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosineSql("e.embedding", "c.centv", round6 = false)} DESC,
                       c.cent_id DESC) AS rnk
          FROM embeddings e, cents$i c),
        sums$i AS (
          SELECT a.cent_id, p.pos,
            sum(CAST(round(CAST(p.embedding[p.pos + 1] AS DOUBLE) * 1000000.0)
                AS DECIMAL(38,0))) AS s,
            count(*) AS n
          FROM (SELECT vec_id, cent_id FROM asgn_t$i WHERE rnk = 1) a
          JOIN (SELECT vec_id, unnest(range(64)) AS pos, embedding
                FROM embeddings) p USING (vec_id)
          GROUP BY 1, 2),
        upd$i AS (
          SELECT cent_id,
            list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY pos) AS centv
          FROM sums$i GROUP BY 1),
        cents${i + 1} AS (
          SELECT c.cent_id, coalesce(u.centv, c.centv) AS centv
          FROM cents$i c LEFT JOIN upd$i u USING (cent_id))"""

  /** X3 completed: IVF with a TRAINED coarse quantizer — two oracled
    * Lloyd's iterations refine the smallest-id seeds before the probe,
    * the step a real 100 TB ANN index runs that q_ann_ivf's seeded
    * quantizer skips. The whole chain — seed, 2× (assign + recenter),
    * final assignment, nProbe fan-out, exact-cosine top-k — is replayed
    * hash-exact in DuckDB; centroid math is integer-quantized so even
    * the trained centroids are bit-stable cross-engine (see
    * [[lloydIterSqlCtes]]). SimilaritySpec pins recall ≥ untrained on
    * the fixture corpus.
    */
  val annIvfTrained = Q("q_ann_ivf_trained",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.ivfTopKTrained(e, e.filter(col("vec_id") < 20), k = 5,
          iters = 2, broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(s"""WITH cents0 AS (
          SELECT vec_id AS cent_id,
            [CAST(x AS DOUBLE) FOR x IN embedding] AS centv
          FROM embeddings ORDER BY vec_id LIMIT 16),
        ${lloydIterSqlCtes(0)},
        ${lloydIterSqlCtes(1)},
        asgn_f AS (
          SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosineSql("e.embedding", "c.centv", round6 = false)} DESC,
                       c.cent_id DESC) AS rnk
          FROM embeddings e, cents2 c),
        cbuck AS (SELECT vec_id AS corpus_id, cent_id AS bucket FROM asgn_f
          WHERE rnk = 1),
        qbuck AS (SELECT vec_id AS query_id, cent_id AS bucket FROM asgn_f
          WHERE rnk <= 4 AND vec_id < 20),
        cand AS (
          SELECT q.query_id, c.corpus_id,
            ${cosineSql("qe.embedding", "ce.embedding")} AS cosine_sim
          FROM qbuck q JOIN cbuck c ON q.bucket = c.bucket
            AND q.query_id <> c.corpus_id
          JOIN embeddings qe ON q.query_id = qe.vec_id
          JOIN embeddings ce ON c.corpus_id = ce.vec_id),
        ranked AS (
          SELECT query_id, corpus_id, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rk
          FROM cand)
        SELECT query_id, corpus_id, cosine_sim, rk FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""))

  /** SQL fragment: the engine's left-to-right squared-L2 fold between two
    * double-list expressions ([[graft.operators.Similarity]]'s `l2sq` —
    * `aggregate` from 0.0, so `list_sum` over the zipped squares is the
    * bit-exact replay).
    */
  private def l2Sql(a: String, b: String): String =
    s"""list_sum([(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         FOR p IN list_zip($a, $b)])"""

  /** One PQ k-means iteration as oracle CTEs over `subs(vec_id, sub,
    * subv)` and `cb$i(sub, code, centv)`: squared-L2 argmin with ties to
    * the SMALLER code (the ascending (dist, code) struct sort — opposite
    * tie direction from the coarse quantizer's reversed cosine sort),
    * then the same integer-quantized decimal-exact recenter as
    * [[lloydIterSqlCtes]], per (sub, code). Empty codes keep their
    * previous centroid.
    */
  private def pqIterSqlCtes(i: Int, dsub: Int, src: String = "subs"): String =
    s"""pasgn$i AS (
          SELECT sv.vec_id, sv.sub, sv.subv, c.code,
            row_number() OVER (PARTITION BY sv.vec_id, sv.sub
              ORDER BY ${l2Sql("sv.subv", "c.centv")} ASC, c.code ASC) AS rnk
          FROM $src sv JOIN cb$i c ON sv.sub = c.sub),
        psrc$i AS (
          SELECT sub, code, unnest(range($dsub)) AS pos, subv
          FROM pasgn$i WHERE rnk = 1),
        psums$i AS (
          SELECT sub, code, pos,
            sum(CAST(round(CAST(subv[pos + 1] AS DOUBLE) * 1000000.0)
                AS DECIMAL(38,0))) AS s,
            count(*) AS n
          FROM psrc$i GROUP BY 1, 2, 3),
        pupd$i AS (
          SELECT sub, code,
            list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY pos) AS centv
          FROM psums$i GROUP BY 1, 2),
        cb${i + 1} AS (
          SELECT c.sub, c.code, coalesce(u.centv, c.centv) AS centv
          FROM cb$i c LEFT JOIN pupd$i u
            ON c.sub = u.sub AND c.code = u.code)"""

  /** Shared oracle CTE chain for the IVF-PQ queries: coarse assign
    * ([[ivfAssignSqlCtes]]) → residuals → m subvectors → seeded codebook
    * → `iters` training rounds → encode → reconstruct. Ends with
    * `recon(vec_id, cent_id, recon)`.
    */
  private def ivfPqSqlCtes(m: Int, dsub: Int, ksub: Int, iters: Int,
      trainWhere: String = ""): String = {
    val trainSrc = if (trainWhere.isEmpty) "subs" else "tsubs"
    val trainCtes = (0 until iters).map(i => pqIterSqlCtes(i, dsub, trainSrc))
    val tsubsCte =
      if (trainWhere.isEmpty) Seq.empty
      else Seq(s"tsubs AS (SELECT * FROM subs $trainWhere)")
    (Seq(s"""${ivfAssignSqlCtesW(trainWhere)},
        resid AS (
          SELECT a.vec_id, a.cent_id,
            [CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)
             FOR p IN list_zip(e.embedding, c.centv)] AS resid
          FROM (SELECT vec_id, cent_id FROM asgn WHERE rnk = 1) a
          JOIN embeddings e USING (vec_id)
          JOIN cents c ON a.cent_id = c.cent_id),
        subs AS (
          SELECT vec_id, s.sub,
            resid[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS subv
          FROM resid, (SELECT unnest(range($m)) AS sub) s),
        seedids AS (
          SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id FROM embeddings $trainWhere
                ORDER BY vec_id LIMIT $ksub)),
        cb0 AS (
          SELECT sub, code, subv AS centv FROM subs JOIN seedids USING (vec_id))""")
      ++ tsubsCte
      ++ trainCtes
      ++ Seq(s"""enc AS (
          SELECT sv.vec_id, sv.sub, c.code,
            row_number() OVER (PARTITION BY sv.vec_id, sv.sub
              ORDER BY ${l2Sql("sv.subv", "c.centv")} ASC, c.code ASC) AS rnk
          FROM subs sv JOIN cb$iters c ON sv.sub = c.sub),
        pqres AS (
          SELECT e.vec_id, flatten(list(c.centv ORDER BY e.sub)) AS pqres
          FROM (SELECT vec_id, sub, code FROM enc WHERE rnk = 1) e
          JOIN cb$iters c ON e.sub = c.sub AND e.code = c.code
          GROUP BY e.vec_id),
        recon AS (
          SELECT a.vec_id, a.cent_id,
            [CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)
             FOR p IN list_zip(c.centv, q.pqres)] AS recon
          FROM (SELECT vec_id, cent_id FROM asgn WHERE rnk = 1) a
          JOIN cents c ON a.cent_id = c.cent_id
          JOIN pqres q USING (vec_id))""")).mkString(",\n        ")
  }

  /** Full IVF-PQ top-5 oracle over the 20-query probe set — shared
    * verbatim by [[annIvfPq]] (in-memory index) and [[annPqStored]]
    * (parquet round-trip through [[Similarity.writePqIndex]]): the two
    * engines' results must hash to the SAME DuckDB replay, which pins
    * that storing codes + rebuilding the reconstruction loses nothing.
    */
  private def ivfPqTopKSql: String = ivfPqTopKSqlW("")

  private def ivfPqTopKSqlW(trainWhere: String): String =
    s"""WITH ${ivfPqSqlCtes(m = 8, dsub = 8, ksub = 16, iters = 1, trainWhere)},
        qbuck AS (SELECT vec_id AS query_id, cent_id AS bucket FROM asgn
          WHERE rnk <= 4 AND vec_id < 20),
        cand AS (
          SELECT qb.query_id, r.vec_id AS corpus_id,
            ${cosineSql("qe.embedding", "r.recon")} AS approx_sim
          FROM qbuck qb JOIN recon r ON qb.bucket = r.cent_id
            AND qb.query_id <> r.vec_id
          JOIN embeddings qe ON qb.query_id = qe.vec_id),
        ranked AS (
          SELECT query_id, corpus_id, approx_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY approx_sim DESC, corpus_id) AS rk
          FROM cand)
        SELECT query_id, corpus_id, approx_sim, rk FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""

  /** X3 completed, memory story: IVF-PQ — the coarse quantizer prunes
    * candidate lists and product quantization compresses what each
    * candidate stores (m codes instead of dim floats). Scoring is
    * reconstruction cosine, so the WHOLE chain — coarse assign,
    * residual, per-subspace codebook k-means (decimal-exact, ties to the
    * smaller code), encode, reconstruct, nProbe probe — replays
    * hash-exact in DuckDB. q_ann_ivfpq_recall is its recall-vs-brute
    * audit twin.
    */
  val annIvfPq = Q("q_ann_ivfpq",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 20), k = 5,
          iters = 1, broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(ivfPqTopKSql))

  /** The MAINTAINED PQ index the serving-tier consumers read — same
    * serving discipline as PipelineQueries' stored dedup edges: a 100 TB
    * deployment trains + writes the index ONCE and every consumer
    * (stored probe, rerank shortlist, recall audit) probes the parquet
    * layout; only q_ann_ivfpq keeps the self-contained in-memory build,
    * because it IS the benchmark of the build path. Built on first use
    * per (dataset, application) by [[Fixtures.memo]], so a failed build
    * is redone rather than reused; bit-identical to the in-memory index
    * (SimilaritySpec pins the round-trip), so every consumer's oracle is
    * unchanged.
    */
  private def storedPqIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.memo(s, d, "pqidx") { out =>
      Similarity.writePqIndex(embeddings(s, d), out, iters = 1)
    }

  /** The SERVING path of the IVF-PQ story: [[Similarity.writePqIndex]]
    * persists centroids + codebooks + per-vector codes (m bytes-ish per
    * vector, parquet-partitioned by coarse bucket) and
    * [[Similarity.probePqIndex]] answers from that layout alone — the
    * probed buckets prune partitions before any scan. Shares
    * [[ivfPqTopKSql]] with q_ann_ivfpq: the stored round-trip must be
    * bit-identical to the in-memory index.
    */
  val annPqStored = Q("q_ann_pq_stored",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.probePqIndex(s, storedPqIndex(s, d),
          e.filter(col("vec_id") < 20), k = 5, broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(ivfPqTopKSql))

  /** Incremental index maintenance, the STREAMING half of PQ serving: an
    * index is built (and its codebooks trained) on the first 100 vectors
    * only, then the rest of the corpus is APPENDED — encoded against the
    * stored centroids/codebooks with no retraining
    * ([[Similarity.appendToPqIndex]]), the production shape between full
    * rebuilds. The oracle trains its replayed codebooks on the same
    * first-100 subset but encodes everything, so passing pins
    * upsert ≡ train-restricted full build. Build-then-append runs ONCE
    * per (JVM, dataset) inside the fixture memo — appends mutate the
    * index, so the one-time build is exactly what keeps bench reruns
    * clean — and every invocation probes the maintained state.
    */
  val annPqUpsert = Q("q_ann_pq_upsert",
    (s, d) => {
      val e = embeddings(s, d)
      val out = Fixtures.memo(s, d, "pqupsert") { out =>
        Similarity.writePqIndex(e.filter(col("vec_id") < 100), out,
          iters = 1)
        Similarity.appendToPqIndex(s, out, e.filter(col("vec_id") >= 100))
      }
      Similarity.probePqIndex(s, out, e.filter(col("vec_id") < 20), k = 5,
          broadcastQueries = true)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(ivfPqTopKSqlW("WHERE vec_id < 100")))

  /** Shortlist-then-rerank, the accuracy-recovery half of PQ serving:
    * the compressed index retrieves a 20-deep candidate shortlist per
    * query, then ONLY those rows' raw vectors are fetched and rescored
    * by exact cosine ([[Similarity.ivfPqRerank]]). Output scores are
    * exact, so the oracle reranks the same replayed shortlist with the
    * plain cosine — approximation affects WHICH rows are considered,
    * never the reported similarity.
    */
  val annPqRerank = Q("q_ann_pq_rerank",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      // shortlist from the STORED index (bit-identical to in-memory),
      // then only those rows' raw vectors are rescored exactly
      val short = Similarity.probePqIndex(s, storedPqIndex(s, d), q, k = 20,
        broadcastQueries = true)
      Similarity.rerankExact(short, e, q, k = 5)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(s"""WITH ${ivfPqSqlCtes(m = 8, dsub = 8, ksub = 16, iters = 1)},
        qbuck AS (SELECT vec_id AS query_id, cent_id AS bucket FROM asgn
          WHERE rnk <= 4 AND vec_id < 20),
        cand AS (
          SELECT qb.query_id, r.vec_id AS corpus_id,
            ${cosineSql("qe.embedding", "r.recon")} AS approx_sim
          FROM qbuck qb JOIN recon r ON qb.bucket = r.cent_id
            AND qb.query_id <> r.vec_id
          JOIN embeddings qe ON qb.query_id = qe.vec_id),
        short AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY approx_sim DESC, corpus_id) AS rk
            FROM cand) WHERE rk <= 20),
        rescored AS (
          SELECT s.query_id, s.corpus_id,
            ${cosineSql("q.embedding", "c.embedding")} AS cosine_sim
          FROM short s
          JOIN embeddings q ON s.query_id = q.vec_id
          JOIN embeddings c ON s.corpus_id = c.vec_id),
        reranked AS (
          SELECT query_id, corpus_id, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rk
          FROM rescored)
        SELECT query_id, corpus_id, cosine_sim, rk FROM reranked WHERE rk <= 5
        ORDER BY query_id, rk"""))

  /** Recall audit for [[annIvfPq]], the q_minhash_recall pattern: the
    * approximate top-5 joined against the brute-force ground truth over
    * the same 20-query probe set, reduced to one summary row. Bounded by
    * the fixed probe set, so the audit cost does not grow with the
    * corpus.
    */
  val annIvfPqRecall = Q("q_ann_ivfpq_recall",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val approx = Similarity.probePqIndex(s, storedPqIndex(s, d), q, k = 5,
          broadcastQueries = true)
        .select(col("query_id"), col("corpus_id"))
      val qv = q.select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine_sim").desc, col("corpus_id"))
      val brute = e.select(col("vec_id").as("corpus_id"), col("embedding").as("_cv"))
        .join(broadcast(qv), col("query_id") =!= col("corpus_id"))
        .withColumn("cosine_sim",
          round(graft.functions.CosineExpression.cosine(col("_qv"), col("_cv")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("corpus_id"))
      brute.join(approx.withColumn("_hit", lit(1)),
          Seq("query_id", "corpus_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"),
          sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
        .select(col("n_queries"), col("n_brute"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_brute"), 6).as("recall"))
    },
    Some(s"""WITH ${ivfPqSqlCtes(m = 8, dsub = 8, ksub = 16, iters = 1)},
        qbuck AS (SELECT vec_id AS query_id, cent_id AS bucket FROM asgn
          WHERE rnk <= 4 AND vec_id < 20),
        cand AS (
          SELECT qb.query_id, r.vec_id AS corpus_id,
            ${cosineSql("qe.embedding", "r.recon")} AS approx_sim
          FROM qbuck qb JOIN recon r ON qb.bucket = r.cent_id
            AND qb.query_id <> r.vec_id
          JOIN embeddings qe ON qb.query_id = qe.vec_id),
        approx AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY approx_sim DESC, corpus_id) AS rk
            FROM cand) WHERE rk <= 5),
        brute AS (
          SELECT query_id, corpus_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC,
                  c.vec_id) AS rk
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 20) WHERE rk <= 5)
        SELECT count(DISTINCT b.query_id) AS n_queries,
          count(*) AS n_brute,
          CAST(coalesce(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0
            END), 0) AS BIGINT) AS n_hit,
          round(coalesce(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0
            END), 0) / count(*), 6) AS recall
        FROM brute b LEFT JOIN approx a
          ON b.query_id = a.query_id AND b.corpus_id = a.corpus_id"""))

  /** X2/X3 embedding-cosine near-dup, exact verifier form on a fixed 120-vector sample
    * (oracled — DuckDB replays the same dot/norm math).
    */
  val embedNearDup = Q("q_embed_neardup",
    (s, d) => Similarity.cosinePairsBrute(
      embeddings(s, d).filter(col("vec_id") < 120), threshold = 0.3)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_sum([CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)
                                FOR p IN list_zip(a.embedding, b.embedding)])
                / (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN a.embedding]))
                   * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN b.embedding]))), 6)
                  AS cosine_sim
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cosine_sim FROM pairs
            WHERE cosine_sim >= 0.3 ORDER BY id_a, id_b"""))

  /** Embedding near-dup scale path: bucket self-join + exact-cosine
    * confirm. Approximate RECALL by construction (pairs split across
    * buckets are missed — what q_embed_neardup's brute twin measures),
    * but the bucketing itself is deterministic, so the answer is fully
    * oracled: DuckDB replays the 4-plane sketch and the within-bucket
    * confirm hash-exact.
    */
  val embedNearDupLsh = Q("q_embed_neardup_lsh",
    (s, d) => Similarity.cosineNearDupLsh(embeddings(s, d), threshold = 0.3)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH ${signBucketSqlCtes("4")}
        SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
               ${cosineSql("ae.embedding", "be.embedding")} AS cosine_sim
        FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
        JOIN embeddings ae ON a.vec_id = ae.vec_id
        JOIN embeddings be ON bb.vec_id = be.vec_id
        WHERE ${cosineSql("ae.embedding", "be.embedding")} >= 0.3
        ORDER BY id_a, id_b"""))

  // --- multimodal ---------------------------------------------------------

  /** Multimodal metadata features (codegen path, no decode). */
  val multimodalMeta = Q("q_multimodal_meta",
    (s, d) => Multimodal.metadataFeatures(
      Multimodal.assetsFromDocuments(documents(s, d)))
      .orderBy(col("asset_id")),
    Some("""SELECT doc_id AS asset_id, 'image' AS modality,
            CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
            (doc_id % 1920 + 1) * (doc_id % 1080 + 1) AS pixels
            FROM documents ORDER BY asset_id"""))

  /** Multimodal decode features via mapPartitions batching. Text-derived
    * payloads are not PPM, so the codec declines them all here and the
    * byte-stat fallback is what the oracle replays (decoded=false, null
    * raster fields); the REAL decode path is pinned on generated PPM
    * fixtures in MultimodalSpec.
    */
  val multimodalFeatures = Q("q_multimodal_features",
    (s, d) => Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(documents(s, d)))
      .orderBy(col("asset_id")),
    Some("""SELECT doc_id AS asset_id,
            CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
            CASE WHEN octet_length(encode(text)) = 0 THEN 0.0
                 ELSE CAST(list_sum([CAST(ascii(x) AS BIGINT)
                        FOR x IN string_split(text, '')]) AS DOUBLE)
                      / octet_length(encode(text)) END AS mean_byte,
            FALSE AS decoded,
            CAST(NULL AS INTEGER) AS img_width,
            CAST(NULL AS INTEGER) AS img_height,
            CAST(NULL AS DOUBLE) AS mean_pixel
            FROM documents ORDER BY asset_id"""))

  /** Multimodal frame sampling: every 3rd frame up to 16 per video asset,
    * integer-exact timestamps (oracle replays the arithmetic with a range
    * comprehension).
    */
  val frameSample = Q("q_frame_sample",
    (s, d) => Multimodal.sampleFrames(
      Multimodal.videoAssetsFromDocuments(documents(s, d)), everyNth = 3, maxFrames = 16)
      .orderBy(col("asset_id"), col("frame_idx")),
    Some("""WITH v AS (SELECT doc_id AS asset_id,
                       ((doc_id % 120) + 1) * 1000 AS duration_ms,
                       CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 30 END AS fps
                       FROM documents),
                 f AS (SELECT asset_id, fps,
                       least((duration_ms * fps // 1000 - 1) // 3 + 1, 16) AS n_take
                       FROM v WHERE duration_ms * fps // 1000 > 0),
                 x AS (SELECT asset_id, fps,
                       unnest([CAST(i * 3 AS BIGINT) FOR i IN range(n_take)]) AS frame_idx
                       FROM f)
            SELECT asset_id, frame_idx,
                   CAST(frame_idx * 1000000 // fps AS BIGINT) AS ts_us
            FROM x ORDER BY asset_id, frame_idx"""))

  /** Multimodal resize planning: aspect-fit into a 224px box (integer
    * arithmetic; metadata-only — the pixel work is the decode stub's).
    */
  val resizeDims = Q("q_resize_dims",
    (s, d) => Multimodal.resizeDims(
      Multimodal.assetsFromDocuments(documents(s, d)), box = 224)
      .orderBy(col("asset_id")),
    Some("""WITH a AS (SELECT doc_id AS asset_id,
                       CAST(doc_id % 1920 + 1 AS INT) AS meta_width,
                       CAST(doc_id % 1080 + 1 AS INT) AS meta_height
                       FROM documents)
            SELECT asset_id, meta_width, meta_height,
                   CAST(greatest(1, meta_width * 224 // greatest(meta_width, meta_height))
                     AS BIGINT) AS out_width,
                   CAST(greatest(1, meta_height * 224 // greatest(meta_width, meta_height))
                     AS BIGINT) AS out_height
            FROM a ORDER BY asset_id"""))

  /** Multimodal AUDIO decode: every document gets a REAL synthesized
    * RIFF/WAVE payload (PCM16 mono, deterministic samples), the
    * mapPartitions slot runs a REAL chunk-walking WAV parser
    * ([[Multimodal.decodeWav]]), and every derived stat — duration,
    * peak, mean |sample| in milli units, 16 kHz resample output length —
    * is integer arithmetic. The oracle recomputes the stats from the
    * generating formula, so a single mis-parsed byte anywhere in the
    * encode→parse roundtrip breaks the hash (MultimodalSpec rejects
    * truncated/corrupt payloads separately).
    */
  val audioDecode = Q("q_audio_decode",
    (s, d) => Multimodal.extractAudioFeatures(
        Multimodal.audioAssetsFromDocuments(documents(s, d)))
      .orderBy(col("asset_id")),
    Some("""WITH p AS (SELECT doc_id,
             8000 + 8000 * (doc_id % 2) AS sample_rate,
             ((doc_id % 50) + 1) * 20 AS n_samples
             FROM documents),
           sa AS (SELECT doc_id, sample_rate, n_samples,
             [abs(((doc_id * 31 + k * 17) % 2003) - 1001)
              FOR k IN range(n_samples)] AS a
             FROM p)
           SELECT doc_id AS asset_id, true AS decoded,
             CAST(sample_rate AS INT) AS sample_rate,
             CAST(1 AS INT) AS channels,
             CAST(n_samples AS BIGINT) AS n_samples,
             CAST(n_samples * 1000 // sample_rate AS BIGINT) AS duration_ms,
             CAST(list_max(a) AS BIGINT) AS peak,
             CAST(CAST(list_sum(a) AS BIGINT) * 1000 // n_samples AS BIGINT)
               AS mean_abs_milli,
             CAST(n_samples * 16000 // sample_rate AS BIGINT)
               AS out_samples_16k
           FROM sa ORDER BY asset_id"""))

  /** Multimodal IMAGE near-dup: every document gets a REAL 9×8 P6
    * thumbnail ([[Multimodal.grayPixel]] raster — group pattern mod 239,
    * every 11th id perturbing one pixel), the mapPartitions slot runs a
    * REAL pixel-level P6 parser + 64-bit dHash, and near-dup pairs come
    * from the 4×16-bit band join with an exact `bit_count(xor)` confirm
    * (pigeonhole-complete at hamming ≤ 3). The oracle recomputes the
    * raster, hash, bands, and distance from the generating formula, so a
    * mis-parsed byte or a sign-extension slip anywhere in the
    * encode→parse→hash→band chain breaks the hash. Composition of the
    * multimodal codec tier with the SimHash banding discipline — the
    * image half of near-dup dedup at corpus scale.
    */
  val imageNearDup = Q("q_image_neardup",
    (s, d) => Multimodal.imageNearDupPairs(
        Multimodal.imageHashes(Multimodal.imageAssetsFromDocuments(
          documents(s, d).filter(col("doc_id") < 1000))))
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
           px AS (SELECT doc_id,
             [CASE WHEN doc_id % 11 = 0 AND i = doc_id % 72
                   THEN ((doc_id % 239 + 1) * (i + 1) * (i + 2) % 251 + 97) % 251
                   ELSE (doc_id % 239 + 1) * (i + 1) * (i + 2) % 251 END
              FOR i IN range(72)] AS g FROM d),
           hs AS (SELECT doc_id,
             CAST((SELECT coalesce(sum(CASE
                 WHEN g[(k // 8) * 9 + (k % 8) + 2] > g[(k // 8) * 9 + (k % 8) + 1]
                 THEN CAST(1 AS HUGEINT) << k ELSE 0 END), 0)
               FROM range(64) t(k)) AS HUGEINT) AS hraw
             FROM px),
           h2 AS (SELECT doc_id,
             CAST(CASE WHEN hraw >= 9223372036854775808
                  THEN hraw - 18446744073709551616 ELSE hraw END AS BIGINT) AS h
             FROM hs),
           bb AS (SELECT doc_id, h, b, (h >> (16 * b)) & 65535 AS v
                  FROM h2, range(4) r(b)),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                    a.h AS ha, c.h AS hb
                    FROM bb a JOIN bb c ON a.b = c.b AND a.v = c.v
                      AND a.doc_id < c.doc_id)
           SELECT id_a, id_b,
             CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
           FROM cand WHERE bit_count(xor(ha, hb)) <= 3
           ORDER BY id_a, id_b"""))

  /** Shared oracle fragment: CTEs `t`/`ann`/`gated` reproducing the
    * corpus gate (annotate → quality/length filter → exact dedup) — used
    * by q_corpus_prep and q_corpus_prep_md5 so the gate logic cannot
    * drift between them.
    */
  private def gatedSqlCtes(where: String = ""): String = {
    val markers = TF.langMarkers.map { case (lang, ws) =>
      lang -> s"len(regexp_extract_all(text, '${ws.mkString("\\b(", "|", ")\\b")}'))"
    }
    val best = markers.map(_._2).mkString("greatest(", ", ", ")")
    val langCase = "CASE WHEN " + best + " = 0 THEN 'und' " +
      markers.map { case (l, e) => s"WHEN $e = $best THEN '$l'" }.mkString(" ") +
      " ELSE 'und' END"
    s"""t AS (SELECT doc_id, text, length(text) AS n,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
            len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS puncts,
            len(regexp_extract_all(text,
              '${TF.enStopwords.mkString("\\b(", "|", ")\\b")}')) AS stops
            FROM documents $where),
          ann AS (SELECT doc_id, text, n AS n_chars_text,
            CAST(toks AS BIGINT) AS n_tokens,
            round(least(CAST(n AS DOUBLE)/500.0, 1.0) * 0.5
              + (1.0 - least(CASE WHEN n = 0 THEN 0.0
                  ELSE CAST(puncts AS DOUBLE)/n END * 10, 1.0)) * 0.25
              + least(CASE WHEN toks = 0 THEN 0.0
                  ELSE CAST(stops AS DOUBLE)/toks END * 5, 1.0) * 0.25, 6) AS quality,
            $langCase AS lang_pred
            FROM t),
          gated AS (SELECT * FROM ann
            WHERE n_chars_text >= 50 AND quality >= 0.3
            QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)"""
  }

  private val reportSql: String =
    """SELECT lang_pred, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
            CAST(sum(n_chars_text) AS BIGINT) AS total_chars"""

  /** Corpus-prep pipeline, oracle-able prefix: annotate → quality/length
    * gate → exact dedup → per-language token accounting. (The near-dup
    * stage rides on xxhash64 LSH, so the FULL pipeline is the rows-only
    * query below; its Jaccard confirm is oracled via q_jaccard_pairs.)
    */
  val corpusPrep = Q("q_corpus_prep",
    (s, d) => {
      import graft.operators.CorpusPipeline
      val cfg = CorpusPipeline.Config()
      CorpusPipeline.tokenReport(
        CorpusPipeline.exactDedup(CorpusPipeline.gate(documents(s, d), cfg)))
        .orderBy(col("lang_pred"))
    },
    Some(s"""WITH ${gatedSqlCtes()}
          $reportSql
          FROM gated GROUP BY 1 ORDER BY lang_pred"""))

  /** Full pipeline incl. LSH near-dedup over the FULL corpus, now
    * ORACLED end-to-end: gate → exact dedup → md5-LSH candidates →
    * HASHED-shingle Jaccard confirm (md5-prefix long domain — mod-P
    * collisions fold identically on both engines) → survivors →
    * per-lang report, every stage replayed by DuckDB, PLUS the
    * post-exact-dedup per-lang counts and the monotonicity flag as
    * invariance columns. (The xxhash64
    * fast path — [[graft.operators.CorpusPipeline.prepare]], narrower
    * shuffle keys, the production choice at 100 TB — stays spec-pinned
    * in CorpusPipelineSpec; it has no DuckDB twin, which kept this row
    * `no_oracle` for 13 rounds.)
    */
  val corpusPrepFull = Q("q_corpus_prep_full",
    (s, d) => {
      import graft.operators.CorpusPipeline
      val cfg = CorpusPipeline.Config()
      val exact = CorpusPipeline.exactDedup(
        CorpusPipeline.gate(documents(s, d), cfg))
      val rep = CorpusPipeline.tokenReport(
        CorpusPipeline.nearDedupVerified(exact, cfg))
      val exactRep = exact.groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs_exact"))
      rep.join(exactRep, Seq("lang_pred"), "left")
        .select(col("lang_pred"), col("n_docs"), col("total_tokens"),
          col("total_chars"), col("n_docs_exact"),
          (col("n_docs") <= col("n_docs_exact")).as("survivors_within_exact"))
        .orderBy(col("lang_pred"))
    },
    Some(s"""WITH ${gatedSqlCtes()},
          gtoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                    FROM gated),
          ${md5LshSqlCtes()},
          ${md5HashedConfirmSqlCtes(0.6)},
          drops AS (SELECT DISTINCT id_b AS doc_id FROM jedges),
          surv AS (SELECT g.* FROM gated g
            LEFT JOIN drops d ON g.doc_id = d.doc_id
            WHERE d.doc_id IS NULL),
          srep AS ($reportSql FROM surv GROUP BY 1),
          exrep AS (SELECT lang_pred, count(*) AS n_docs_exact
                    FROM gated GROUP BY 1)
          SELECT s.lang_pred, s.n_docs, s.total_tokens, s.total_chars,
                 e.n_docs_exact,
                 (s.n_docs <= e.n_docs_exact) AS survivors_within_exact
          FROM srep s LEFT JOIN exrep e ON s.lang_pred = e.lang_pred
          ORDER BY s.lang_pred"""))

  /** The full near-dedup pipeline, ORACLED end-to-end: gate → exact
    * dedup → md5-LSH candidates → hashed-shingle Jaccard confirm →
    * survivors → report, every stage replayed by DuckDB in the
    * md5-prefix long domain (the corpus's n-gram strings never ride a
    * shuffle — the same key widths as the xxhash64 fast path). The
    * strongest correctness statement the flagship LLM-data operation
    * can make; this is q_corpus_prep_full's audit-subset twin.
    */
  val corpusPrepMd5 = Q("q_corpus_prep_md5",
    (s, d) => {
      import graft.operators.CorpusPipeline
      CorpusPipeline.tokenReport(
          CorpusPipeline.prepareVerified(documents(s, d).filter(docSubset)))
        .orderBy(col("lang_pred"))
    },
    Some(s"""WITH ${gatedSqlCtes("WHERE doc_id < 250")},
          gtoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                    FROM gated),
          ${md5LshSqlCtes()},
          ${md5HashedConfirmSqlCtes(0.6)},
          drops AS (SELECT DISTINCT id_b AS doc_id FROM jedges),
          surv AS (SELECT g.* FROM gated g
            LEFT JOIN drops d ON g.doc_id = d.doc_id
            WHERE d.doc_id IS NULL)
          $reportSql
          FROM surv GROUP BY 1 ORDER BY lang_pred"""))

  /** SemDeDup-style semantic dedup: IVF-quantizer cluster assignment +
    * within-cluster smaller-id-wins cosine drop decisions. Fully oracled
    * — assignment is the same raw-cosine argmax DuckDB already replays
    * for q_ann_ivf, and the confirm reuses the round-6 cosine.
    */
  val semanticDedup = Q("q_semantic_dedup",
    (s, d) => Similarity.semanticDedup(embeddings(s, d), threshold = 0.3)
      .orderBy(col("vec_id")),
    Some(s"""WITH $ivfAssignSqlCtes,
        a AS (SELECT vec_id, cent_id AS cluster_id FROM asgn WHERE rnk = 1),
        drops AS (
          SELECT DISTINCT y.vec_id
          FROM a x JOIN a y ON x.cluster_id = y.cluster_id
            AND x.vec_id < y.vec_id
          JOIN embeddings xe ON x.vec_id = xe.vec_id
          JOIN embeddings ye ON y.vec_id = ye.vec_id
          WHERE ${cosineSql("xe.embedding", "ye.embedding")} >= 0.3)
        SELECT a.vec_id, a.cluster_id, (d.vec_id IS NOT NULL) AS dropped
        FROM a LEFT JOIN drops d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id"""))

  /** Incremental NEAR-dedup admission gate: batch (doc_id % 5 = 0 of the
    * audit sample) vs already-ingested corpus (the rest) — banded
    * independently, candidates from the cross bucket-join, exact
    * string-shingle Jaccard confirm. The whole chain (permutations,
    * banding, cross join, confirm, admission decision) is replayed by
    * DuckDB; [[graft.operators.Dedup.incrementalNearDupMd5]].
    */
  val incrementalNearDup = Q("q_incremental_neardup",
    (s, d) => {
      val subset = documents(s, d).filter(docSubset)
      Dedup.incrementalNearDupMd5(
        subset.filter(pmod(col("doc_id"), lit(5)) === 0),
        subset.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "text", "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    },
    Some {
      val P = Dedup.minhashModulus
      val minCols = (0 until 16).map { i =>
        val (a, b) = Dedup.permutation(i)
        s"min((h * $a + $b) % $P) AS s_$i"
      }.mkString(", ")
      val bandExprs = (0 until 8).map { b =>
        val sigs = (0 until 2).map(r => s"s_${b * 2 + r}::VARCHAR")
        s"md5(concat_ws(',', ${sigs.mkString(", ")}, '$b'))"
      }.mkString(", ")
      s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         gtoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM docs WHERE length(trim(text)) > 0),
         shs AS (SELECT doc_id,
             unnest(list_distinct([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
               FOR i IN range(greatest(len(toks) - 2, 0))])) AS shingle
           FROM gtoks),
         h AS (SELECT doc_id, ${md5BucketSql("shingle", P)} AS h FROM shs),
         sig AS (SELECT doc_id, $minCols FROM h GROUP BY doc_id),
         banded AS (SELECT doc_id, unnest([$bandExprs]) AS bucket FROM sig),
         cbr AS (SELECT doc_id, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
           FROM banded WHERE doc_id % 5 <> 0),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN cbr b ON a.bucket = b.bucket
           WHERE a.doc_id % 5 = 0 AND b.rn <= 1000),
         sizes AS (SELECT doc_id, count(*) AS sz FROM shs GROUP BY 1),
         inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
           FROM cand c
           JOIN shs sa ON sa.doc_id = c.id_a
           JOIN shs sb ON sb.doc_id = c.id_b AND sa.shingle = sb.shingle
           GROUP BY 1, 2),
         matches AS (SELECT id_a, count(*) AS n_matches,
             max(round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6))
               AS max_j
           FROM inter JOIN sizes sa ON id_a = sa.doc_id
           JOIN sizes sb ON id_b = sb.doc_id
           WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
             >= CAST(0.5 AS DOUBLE)
           GROUP BY 1)
         SELECT d.doc_id, coalesce(m.n_matches, 0) AS n_corpus_matches,
           coalesce(m.max_j, CAST(0.0 AS DOUBLE)) AS max_jaccard,
           coalesce(m.n_matches, 0) > 0 AS dropped
         FROM docs d LEFT JOIN matches m ON d.doc_id = m.id_a
         WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id"""
    })

  private val quantizeSqlCtes =
    """m AS (SELECT vec_id, embedding,
         list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS max_abs
       FROM embeddings),
       qv AS (SELECT vec_id, embedding, max_abs,
         [CAST(CASE WHEN max_abs = 0 THEN 0
               ELSE round(CAST(x AS DOUBLE) / max_abs * 127) END AS TINYINT)
          FOR x IN embedding] AS qvec
       FROM m)"""

  /** Int8 max-abs quantization of the embedding corpus — the 4× storage
    * compression a float32 vector store takes first at 100 TB. The
    * quantized BYTES are oracled (divide/multiply/HALF-UP round is
    * IEEE-identical cross-engine), not just sampled. The byte array is
    * emitted as a joined string: catalog outputs never carry ArrayType
    * (the driver harness sorts rows in pandas, which cannot hash arrays).
    */
  val embedQuantize = Q("q_embed_quantize",
    (s, d) => {
      val e = embeddings(s, d)
      e.select(col("vec_id"),
        graft.functions.VectorFunctions.maxAbs(col("embedding")).as("max_abs"),
        concat_ws(",", graft.functions.VectorFunctions
          .quantizeInt8(col("embedding")).cast("array<string>")).as("qvec"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $quantizeSqlCtes
         SELECT vec_id, max_abs, array_to_string(qvec, ',') AS qvec
         FROM qv ORDER BY vec_id"""))

  /** Quantization error audit: cosine between each original vector and
    * its int8 reconstruction — the recall-impact estimate that decides
    * whether the compressed corpus can serve ANN directly or only as a
    * first pass. Whole chain (quantize → dequantize → cosine) replayed in
    * the oracle.
    */
  val quantizeError = Q("q_quantize_error",
    (s, d) => {
      import graft.functions.VectorFunctions._
      val e = embeddings(s, d)
      val recon = dequantizeInt8(quantizeInt8(col("embedding")),
        maxAbs(col("embedding")))
      e.select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), recon), 6).as("cosine_sim"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $quantizeSqlCtes,
         r AS (SELECT vec_id, embedding,
             [CAST(q AS DOUBLE) * max_abs / 127 FOR q IN qvec] AS recon
           FROM qv)
         SELECT vec_id, ${cosineSql("embedding", "recon")} AS cosine_sim
         FROM r ORDER BY vec_id"""))

  val all: Seq[Q] = Seq(textStats, langId, qualityScore, fingerprint,
    trainTestSplit, exactDedup, incrementalDedup, canonicalDedup,
    jaccardPairs, prefixJoin,
    minhashCandidates, minhashMd5,
    minhashRecall, simhash, simhashNearDup, embedTopK, hardNegatives,
    annLsh, annBucketed, annIvf, annIvfTrained, annIvfPq, annIvfPqRecall,
    annPqStored, annPqRerank, annPqUpsert,
    embedNearDup, embedNearDupLsh,
    semanticDedup, embedQuantize, quantizeError, incrementalNearDup,
    multimodalMeta, multimodalFeatures, frameSample, resizeDims, audioDecode,
    imageNearDup,
    corpusPrep, corpusPrepFull, corpusPrepMd5)
}
