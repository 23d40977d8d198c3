package graft.analytics

import graft.Tables._
import graft.operators.TrainingData
import org.apache.spark.sql.functions._

/** Training-data curation queries (the tier above dedup in a pretraining
  * pipeline): benchmark decontamination, repetition quality rules,
  * boilerplate mining, deterministic mixture/stratified sampling,
  * vocabulary statistics, and identifier masking. Every entry is DuckDB-
  * oracled — the sampling ones lean on the same md5-bucket arithmetic the
  * train/val/test split already pins cross-engine.
  */
object PipelineQueries {

  /** The md5-bucket oracle fragment lives in [[NorthStarQueries.md5BucketSql]]
    * — one definition shared with the train/val/test split and the LSH
    * hash so the bucket arithmetic can never drift between consumers.
    */
  private def md5BucketSql(expr: String, mod: Long = 100L): String =
    NorthStarQueries.md5BucketSql(expr, mod)

  /** Shared oracle fragment: distinct word n-gram shingles of `toks`. */
  private def shingleSql(n: Int): String = {
    val joins = (1 to n).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
    s"unnest(list_distinct([$joins FOR i IN range(greatest(len(toks) - ${n - 1}, 0))]))"
  }

  /** Benchmark decontamination: distinct word 4-grams of each test-split
    * document that also occur in the train split (content-hash splits, so
    * the report is reproducible across runs and engines). The gram join
    * is the scale-defining stage — hash join on the gram key.
    */
  val decontaminate = Q("q_decontaminate",
    (s, d) => TrainingData.decontaminate(documents(s, d), n = 4)
      .orderBy(col("doc_id")),
    Some(s"""WITH b AS (SELECT doc_id, text, ${md5BucketSql("text")} AS bucket
               FROM documents),
             tg AS (SELECT DISTINCT ${shingleSql(4)} AS shingle
               FROM (SELECT string_split_regex(trim(text), '\\s+') AS toks
                     FROM b WHERE bucket < 80)),
             sg AS (SELECT doc_id, ${shingleSql(4)} AS shingle
               FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                     FROM b WHERE bucket >= 90)),
             tot AS (SELECT doc_id, count(*) AS n_grams FROM sg GROUP BY 1),
             hit AS (SELECT sg.doc_id, count(*) AS n_contaminated
               FROM sg JOIN tg USING (shingle) GROUP BY 1)
             SELECT tot.doc_id AS doc_id, n_grams,
               coalesce(n_contaminated, 0) AS n_contaminated,
               round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6)
                 AS contamination
             FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
             ORDER BY tot.doc_id"""))

  /** Repetition quality rules: most-frequent-token and most-frequent-
    * 2-gram fractions per document, with a pass flag at the thresholds a
    * published pretraining filter would use (calibrated to split this
    * corpus non-trivially).
    */
  val repetition = Q("q_repetition",
    (s, d) => TrainingData.repetitionStats(documents(s, d),
        maxTopWordFrac = 0.10, maxTop2GramFrac = 0.04)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS gram
              FROM documents WHERE length(trim(text)) > 0),
            wc AS (SELECT doc_id, gram, count(*) AS c FROM toks GROUP BY 1, 2),
            w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                max(c) AS top FROM wc GROUP BY 1),
            g2 AS (SELECT doc_id,
                unnest([toks[i+1] || ' ' || toks[i+2]
                        FOR i IN range(greatest(len(toks) - 1, 0))]) AS gram
              FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                    FROM documents)),
            gc AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
            g AS (SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS tot2
              FROM gc GROUP BY 1),
            j AS (SELECT w.doc_id, w.n_tokens,
                round(CAST(w.top AS DOUBLE) / w.n_tokens, 6) AS top_word_frac,
                coalesce(round(CAST(g.top2 AS DOUBLE) / g.tot2, 6), 0.0)
                  AS top_2gram_frac
              FROM w LEFT JOIN g ON w.doc_id = g.doc_id)
            SELECT doc_id, n_tokens, top_word_frac, top_2gram_frac,
              (top_word_frac <= 0.10 AND top_2gram_frac <= 0.04) AS pass
            FROM j ORDER BY doc_id"""))

  /** Boilerplate mining: word 3-grams occurring in >= 5 distinct docs. */
  val boilerplate = Q("q_boilerplate",
    (s, d) => TrainingData.boilerplateNgrams(documents(s, d), n = 3, minDocs = 5L)
      .orderBy(col("n_docs").desc, col("shingle")),
    Some(s"""WITH sh AS (SELECT doc_id, ${shingleSql(3)} AS shingle
               FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                     FROM documents)),
             c AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1)
             SELECT shingle, n_docs FROM c WHERE n_docs >= 5
             ORDER BY n_docs DESC, shingle"""))

  /** Domain-mixture downsampling: per-source target rates (25/50/75/100%
    * by source index) applied as a content-hash keep decision; the report
    * compares realized vs target rates with kept-token accounting.
    */
  val domainMix = Q("q_domain_mix",
    (s, d) => TrainingData.domainMixReport(documents(s, d),
        src => (src.substr(lit(4), length(src)).cast("int") % 4 + 1) * 25)
      .orderBy(col("source")),
    Some(s"""WITH k AS (SELECT source,
               (CAST(substr(source, 4) AS INT) % 4 + 1) * 25 AS target_pct,
               CASE WHEN ${md5BucketSql("source || ':' || text")}
                    < (CAST(substr(source, 4) AS INT) % 4 + 1) * 25
                    THEN 1 ELSE 0 END AS keep,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
                 AS n_tokens
               FROM documents)
             SELECT source, target_pct, count(*) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS realized_rate,
               CAST(sum(keep * n_tokens) AS BIGINT) AS tokens_kept
             FROM k GROUP BY 1, 2 ORDER BY source"""))

  /** X120: temperature-flattened mixture (τ=2) —
    * [[TrainingData.temperatureMixReport]]: per-domain sqrt-flattened
    * keep rates met by deterministic Knuth-hash downsampling; the
    * smallest domain keeps everything. Every float op is correctly
    * rounded, so thresholds and kept counts replay hash-exactly.
    */
  val temperatureMix = Q("q_temperature_mix",
    (s, d) => TrainingData.temperatureMixReport(documents(s, d))
      .orderBy(col("source")),
    Some("""WITH c AS (SELECT source, count(*) AS n_docs
              FROM documents GROUP BY 1),
            m AS (SELECT min(n_docs) AS n_min FROM c),
            r AS (SELECT source, n_docs,
                CAST(floor(sqrt(CAST(n_min AS DOUBLE)
                  / CAST(n_docs AS DOUBLE)) * 4294967296.0) AS BIGINT)
                  AS threshold
              FROM c, m),
            k AS (SELECT d.source, r.n_docs, r.threshold,
                CASE WHEN (d.doc_id * 2654435761) % 4294967296
                     < r.threshold THEN 1 ELSE 0 END AS keep
              FROM documents d JOIN r USING (source))
            SELECT source, n_docs, threshold,
              CAST(sum(keep) AS BIGINT) AS n_kept,
              round(CAST(sum(keep) AS DOUBLE) / n_docs, 6)
                AS realized_rate,
              round(CAST(threshold AS DOUBLE) / 4294967296.0, 6)
                AS target_rate
            FROM k GROUP BY 1, 2, 3 ORDER BY source"""))

  /** Deterministic stratified sample: 5 docs per source, chosen by
    * content-hash order (ties by doc_id) — reproducible across engines
    * and partitionings, and WindowGroupLimit-friendly in the plan.
    */
  val stratifiedSample = Q("q_stratified_sample",
    (s, d) => TrainingData.stratifiedSample(documents(s, d), "source", 5)
      .orderBy(col("source"), col("rk")),
    Some("""WITH r AS (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id)
                AS rk
              FROM documents)
            SELECT source, doc_id, rk FROM r WHERE rk <= 5
            ORDER BY source, rk"""))

  /** Corpus vocabulary: top-30 tokens by occurrence count with document
    * frequency and rank.
    */
  val vocabStats = Q("q_vocab_stats",
    (s, d) => TrainingData.vocabStats(documents(s, d), topK = 30)
      .orderBy(col("rank")),
    Some("""WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS token
              FROM documents WHERE length(trim(text)) > 0),
            c AS (SELECT token, count(*) AS n_occurrences,
                count(DISTINCT doc_id) AS n_docs
              FROM toks GROUP BY 1),
            r AS (SELECT token, n_occurrences, n_docs,
                row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
              FROM c)
            SELECT token, n_occurrences, n_docs, rank FROM r
            WHERE rank <= 30 ORDER BY rank"""))

  /** Identifier masking (PII-redaction shape): every digit of the
    * customer name masked except the trailing 4 characters, plus the
    * digit count — pure translate/substring, no regex engine.
    */
  val piiMask = Q("q_pii_mask",
    (s, d) => customer(s, d).select(
        col("c_custkey"),
        TrainingData.maskDigits(col("c_name"), keep = 4).as("masked_id"),
        (length(col("c_name")) -
          length(translate(col("c_name"), "0123456789", ""))).cast("bigint")
          .as("n_digits"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
              CASE WHEN length(c_name) <= 4 THEN c_name
                   ELSE translate(substr(c_name, 1, length(c_name) - 4),
                          '0123456789', '##########')
                        || substr(c_name, length(c_name) - 3, 4) END AS masked_id,
              CAST(length(c_name)
                   - length(translate(c_name, '0123456789', '')) AS BIGINT)
                AS n_digits
            FROM customer ORDER BY c_custkey"""))

  /** Near-dup cluster resolution: connected components over the LSH-
    * candidate pairs confirmed by exact Jaccard (min reachable doc_id as
    * the component representative) — pairwise drop-the-larger
    * under-deletes when clusters chain; this is the transitive-closure-
    * correct form, built LSH-first because an exact all-pairs edge list
    * is quadratic in the corpus (measured 16 s vs ~4 s at sf0.1). The
    * oracle replays the full chain — md5 LSH, string-shingle confirm,
    * then the closure as a recursive CTE.
    */
  /** Shared by both component queries: docs plus the LSH-confirmed edge
    * list at Jaccard >= 0.2. `maxDocId` scopes the input (the star twin
    * runs on the bounded audit sample so the bench doesn't pay the
    * ~4s edge derivation twice at full width).
    */
  private def confirmedDedupEdges(s: org.apache.spark.sql.SparkSession,
      d: String, maxDocId: Long = Long.MaxValue)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.operators.Dedup
    val docs = documents(s, d).filter(col("doc_id") < maxDocId)
    // fused shape (see CorpusPipeline.nearDedupFused): the corpus is
    // shingled ONCE into a (doc, h) frame feeding both the md5-LSH
    // banding and the set-array Jaccard confirm — same candidate set and
    // identical jaccard values as the unfused operators, minus a second
    // full-corpus shingle pass. Not persisted: every branch reads the
    // same subtree, so AQE reuses its exchanges (it reuses none above a
    // cache read).
    val sh = TrainingData.docShingles(docs, "text", "doc_id", 3)
      .select(col("doc_id").as("doc"), col("shingle").as("h"))
    val pairs = Dedup.minhashLshCandidatesMd5FromShingles(sh)
      .select(col("id_a"), col("id_b"))
    val edges = Dedup.jaccardOnShingleSets(pairs, sh)
      .filter(col("jaccard") >= 0.2).select(col("id_a"), col("id_b"))
    (docs, edges)
  }

  /** The MAINTAINED edge table the dedup-tier consumers read — the
    * serving half of [[graft.operators.DedupState]]: a 100 TB pipeline
    * derives confirmed near-dup edges once (admission + merge) and every
    * consumer (components, cluster reps, incremental relabel) reads the
    * stored table, never re-running LSH + confirm. Here the store is
    * derived on first use per (dataset, bound, application) and persisted
    * to parquet; later consumers in the same process read it back —
    * results are identical to self-contained derivation (same edge set,
    * pinned by each consumer's oracle), only the repeated derivation cost
    * collapses. q_dedup_components (full corpus) deliberately keeps the
    * self-contained derivation: it IS the benchmark of the build path.
    */
  private def storedDedupEdges(s: org.apache.spark.sql.SparkSession,
      d: String, maxDocId: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = Fixtures.memo(s, d, s"edgestate_$maxDocId") { dir =>
      val (_, edges) = confirmedDedupEdges(s, d, maxDocId)
      // audit-bounded state is a few hundred rows — one file, one task
      edges.coalesce(1).write.mode("overwrite").parquet(s"$dir/edges")
    }
    (documents(s, d).filter(col("doc_id") < maxDocId),
      s.read.parquet(s"$dir/edges"))
  }

  /** One oracle text for both component queries: the labeling is a pure
    * function of the confirmed edge set, so min-label propagation and
    * the large-star/small-star algorithm must both hash-match it — two
    * independent distributed algorithms pinned to one recursive-CTE
    * closure.
    */
  private def componentsOracleCtes(where: String = ""): String =
    s"""gtoks AS (
               SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
               FROM documents $where),
             ${NorthStarQueries.md5LshSqlCtes()},
             ${NorthStarQueries.md5ConfirmedEdgesSqlCtes(0.2)},
             sym AS (SELECT id_a AS a, id_b AS b FROM jedges
                     UNION SELECT id_b, id_a FROM jedges),
             reach(a, b) AS (
               SELECT doc_id, doc_id FROM documents $where
               UNION
               SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
             comp AS (SELECT a AS doc_id, min(b) AS component
               FROM reach GROUP BY 1)"""

  private def componentsOracleSql(where: String = ""): String =
    s"""WITH RECURSIVE ${componentsOracleCtes(where)}
             SELECT doc_id, component FROM comp ORDER BY doc_id"""

  val dedupComponents = Q("q_dedup_components",
    (s, d) => {
      val (docs, edges) = confirmedDedupEdges(s, d)
      graft.operators.TrainingData
        .connectedComponents(docs.select(col("doc_id")), edges)
        .orderBy(col("doc_id"))
    },
    Some(componentsOracleSql()))

  /** The same cluster resolution through the logarithmic-round
    * large-star/small-star algorithm — the variant for adversarial
    * diameters (chained near-dups longer than any fixed propagation
    * budget). Identical output by construction; the oracle makes that an
    * enforced cross-engine fact rather than a code comment. Runs on the
    * bounded 250-doc audit sample: the full-corpus shape is already
    * benchmarked by q_dedup_components, and the algorithm's breadth is
    * property-pinned against union-find in TrainingDataPropertySpec.
    */
  val dedupComponentsStar = Q("q_dedup_components_star",
    (s, d) => {
      val (docs, edges) = storedDedupEdges(s, d, maxDocId = 250L)
      graft.operators.TrainingData
        .connectedComponentsStar(docs.select(col("doc_id")), edges)
        .orderBy(col("doc_id"))
    },
    Some(componentsOracleSql("WHERE doc_id < 250")))

  /** Quality-aware survivor per near-dup cluster (longest doc, ties to
    * the smaller id) on the audit sample — the step that turns resolved
    * components into an actual keep/drop decision. Composition-oracled on
    * top of the same recursive-CTE closure as the components queries.
    */
  val clusterReps = Q("q_cluster_reps",
    (s, d) => {
      val (docs, edges) = storedDedupEdges(s, d, maxDocId = 250L)
      // count-adaptive CC (driver union-find on the audit-sized edge set)
      // — the star variant's fixed checkpoint rounds would dominate this
      // composition; its equivalence is already oracled by
      // q_dedup_components_star.
      val comps = graft.operators.TrainingData
        .connectedComponents(docs.select(col("doc_id")), edges)
      graft.operators.TrainingData.clusterRepresentatives(
          comps, documents(s, d).filter(col("doc_id") < 250))
        .orderBy(col("component"))
    },
    Some(s"""WITH RECURSIVE ${componentsOracleCtes("WHERE doc_id < 250")},
         tc AS (SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens
           FROM documents WHERE doc_id < 250),
         j AS (SELECT c.component, c.doc_id, t.n_tokens
           FROM comp c JOIN tc t USING (doc_id)),
         r AS (SELECT component, doc_id,
             row_number() OVER (PARTITION BY component
               ORDER BY n_tokens DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY component) AS n_docs
           FROM j)
         SELECT component, doc_id AS rep_doc_id, n_docs,
           n_docs - 1 AS n_dropped
         FROM r WHERE rn = 1 ORDER BY component"""))

  /** X111: leakage-free (cluster-aware) train/valid/test split — the
    * step naive random splits get wrong at pretraining scale: two
    * near-duplicate documents landing in train and test leak the answer
    * into evaluation. The WHOLE near-dup cluster is assigned as a unit:
    * the component label (min doc id) is Fibonacci-hashed
    * (`(c * 2654435761) mod 2^32`, exactly replayable in integer SQL —
    * an engine-native hash would be un-oracleable) into an 80/10/10
    * bucket, so split membership is a pure function of cluster identity
    * and NO component can span splits by construction. Composed on the
    * maintained edge state like the other cluster consumers; oracle =
    * the same recursive-CTE closure + the identical bucket arithmetic.
    */
  val clusterSplit = Q("q_cluster_split",
    (s, d) => {
      val (docs, edges) = storedDedupEdges(s, d, maxDocId = 250L)
      val comps = TrainingData.connectedComponents(
        docs.select(col("doc_id")), edges)
      TrainingData.clusterSplitAssign(comps)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_clusters"))
        .orderBy(col("split"))
    },
    Some(s"""WITH RECURSIVE ${componentsOracleCtes("WHERE doc_id < 250")},
         a AS (SELECT doc_id, component,
             ((component * 2654435761) % 4294967296) % 100 AS bucket
           FROM comp)
         SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
           count(*) AS n_docs, count(DISTINCT component) AS n_clusters
         FROM a GROUP BY 1 ORDER BY split"""))

  /** The persistence half of incremental near-dedup (X40 is the
    * admission half): batch 1's confirmed edges and component labels are
    * WRITTEN to a parquet state store; batch 2's edges are then merged
    * into the stored edge table ([[graft.operators.DedupState.mergeEdges]]
    * — anti-join append, idempotent) and the stored labels updated with a
    * delta-bounded relabel join
    * ([[graft.operators.DedupState.incrementalComponents]] — new edges
    * can only MERGE components, so the update closes the tiny component
    * graph of the delta and never reclusters the corpus). The oracle is
    * the full recompute (recursive-CTE closure over ALL edges), so
    * passing pins incremental ≡ recompute — the same contract
    * q_incremental_rollup pins for aggregates; `n_state_edges` pins the
    * merged edge table against the oracle's full confirmed edge set.
    * Runs on the bounded 250-doc audit sample split at doc_id 125.
    */
  /** Batch-1 CC state (stored edges + labels for doc_id < `split`),
    * built ONCE per (dataset, application) — the same discipline as
    * [[storedDedupEdges]]: a continuous-crawl pipeline carries this state
    * between runs and pays for it once per run, not once per query. The
    * measured body of q_incremental_components is therefore the
    * steady-state cost — edge merge + the delta-closure jobs
    * [[graft.operators.DedupState.incrementalComponents]] runs at
    * CONSTRUCTION (component-graph checkpoint, count-adaptive resolve,
    * merge-map checkpoint: a handful of small sequential jobs whose wall
    * time is stage latency, not data) — while the one-time state
    * derivation lands in the first bench iteration only and min-of-N
    * absorbs it. (Bench attribution note: those construction-side jobs
    * are reported as build_ms, so this query's build_ms is steady-state
    * delta work, NOT re-staging batch 1's world.)
    * A doc's LSH buckets depend only on its text, so the full-sample
    * edge set filtered to batch-1 endpoints equals batch-1 processed
    * alone.
    */
  private def storedCcState(s: org.apache.spark.sql.SparkSession,
      d: String, split: Long, maxDocId: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = Fixtures.memo(s, d, s"ccstate_${split}_$maxDocId") { dir =>
      val (docs, edges) = storedDedupEdges(s, d, maxDocId)
      val edges1 = edges.filter(col("id_a") < split && col("id_b") < split)
      val labels1 = TrainingData.connectedComponents(
        docs.select(col("doc_id")).filter(col("doc_id") < split), edges1)
      // Audit-sample state is a few hundred rows — one file each, so
      // the read side costs one task per table, not a task wave.
      edges1.coalesce(1).write.mode("overwrite").parquet(s"$dir/edges")
      labels1.coalesce(1).write.mode("overwrite").parquet(s"$dir/labels")
    }
    (s.read.parquet(s"$dir/edges"), s.read.parquet(s"$dir/labels"))
  }

  val incrementalComponents = Q("q_incremental_components",
    (s, d) => {
      import graft.operators.DedupState
      val (docs, edges) = storedDedupEdges(s, d, maxDocId = 250L)
      val split = 125L
      val (storedEdges, storedLabels) = storedCcState(s, d, split, 250L)
      // Batch 2: everything touching a new doc. id_a < id_b, so any edge
      // with an endpoint >= split has id_b >= split.
      val newEdges = edges.filter(col("id_b") >= split)
      val mergedEdges = DedupState.mergeEdges(storedEdges, newEdges)
      val updated = DedupState.incrementalComponents(
        storedLabels, newEdges,
        docs.select(col("doc_id")).filter(col("doc_id") >= split))
      updated
        .crossJoin(broadcast(mergedEdges.agg(
          count(lit(1)).as("n_state_edges"))))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE ${componentsOracleCtes("WHERE doc_id < 250")}
         SELECT doc_id, component,
           (SELECT count(*) FROM jedges) AS n_state_edges
         FROM comp ORDER BY doc_id"""))

  /** Training-sequence packing: content-hash-ordered concat within hash
    * buckets, chunked into 256-token sequences; per-sequence accounting.
    */
  val packSequences = Q("q_pack_sequences",
    (s, d) => TrainingData.packSequences(documents(s, d), seqLen = 256,
        buckets = 8)
      .orderBy(col("seq_id")),
    Some(s"""WITH t AS (SELECT doc_id, text,
               ${md5BucketSql("text", 8)} AS bucket,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
                 AS n_tokens
               FROM documents),
             f AS (SELECT doc_id, bucket, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY bucket
                   ORDER BY md5(text), doc_id) AS cum
               FROM t WHERE n_tokens > 0),
             sq AS (SELECT bucket * 1099511627776
                   + CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id,
                 n_tokens FROM f)
             SELECT seq_id, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
             FROM sq GROUP BY 1 ORDER BY seq_id"""))

  /** TF-IDF top terms per document (log-free `tf * N/df` score — IEEE
    * multiply/divide of exact integers is bit-identical across engines,
    * a libm `ln` is not).
    */
  val tfidf = Q("q_tfidf",
    (s, d) => TrainingData.tfidfTopTerms(documents(s, d), topPerDoc = 3)
      .orderBy(col("doc_id"), col("rk")),
    Some("""WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS token
              FROM documents WHERE length(trim(text)) > 0),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs_total FROM toks),
            scored AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                round(tf.tf * (CAST(n.n_docs_total AS DOUBLE) / df.df), 6)
                  AS score
              FROM tf JOIN df USING (token) CROSS JOIN n),
            r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, token) AS rk FROM scored)
            SELECT doc_id, token, tf, df, score, rk FROM r
            WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** Discrete-quantile length gate: drop docs outside the [p5, p95]
    * token-count band, report survivors per stored language.
    */
  val lengthGate = Q("q_length_gate",
    (s, d) => TrainingData.lengthGate(documents(s, d))
      .orderBy(col("lang")),
    Some("""WITH c AS (SELECT doc_id, lang,
                CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
                  AS n_tokens
              FROM documents),
            f AS (SELECT n_tokens, count(*) AS cnt FROM c GROUP BY 1),
            cu AS (SELECT n_tokens,
                sum(cnt) OVER (ORDER BY n_tokens) AS cum FROM f),
            t AS (SELECT count(*) AS n_total FROM c),
            b AS (SELECT
                min(CASE WHEN cum >= CAST(0.05 AS DOUBLE) * n_total
                    THEN n_tokens END) AS lo,
                min(CASE WHEN cum >= CAST(0.95 AS DOUBLE) * n_total
                    THEN n_tokens END) AS hi
              FROM cu CROSS JOIN t)
            SELECT lang, count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              min(lo) AS lo, min(hi) AS hi
            FROM c CROSS JOIN b
            WHERE n_tokens >= lo AND n_tokens <= hi
            GROUP BY lang ORDER BY lang"""))

  /** UDAF surface: exact top-3 tokens per stored language via the typed
    * [[graft.functions.TopKByCountAggregator]] — one shuffle of map-side-
    * aggregated value→count maps, vs the two shuffles of the equivalent
    * groupBy + rank-window plan (which the oracle replays).
    */
  val udafTopTokens = Q("q_udaf_top_tokens",
    (s, d) => {
      import graft.functions.TopKByCountAggregator.topKByCount
      val toks = documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("token"))
      toks.groupBy(col("lang"))
        .agg(topKByCount(3)(col("token")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("bigint").as("rk"),
          col("col.value").as("token"), col("col.n").as("n"))
        .orderBy(col("lang"), col("rk"))
    },
    Some("""WITH toks AS (SELECT lang,
                unnest(string_split_regex(trim(text), '\s+')) AS token
              FROM documents WHERE length(trim(text)) > 0),
            c AS (SELECT lang, token, count(*) AS n FROM toks GROUP BY 1, 2),
            r AS (SELECT *, row_number() OVER (PARTITION BY lang
                ORDER BY n DESC, token) AS rk FROM c)
            SELECT lang, CAST(rk AS BIGINT) AS rk, token, n FROM r
            WHERE rk <= 3 ORDER BY lang, rk"""))

  /** Count-min-sketch heavy hitters: tokens whose fixed-memory sketch
    * estimate reaches 1/50 of the token stream, with exact counts
    * alongside (est >= exact — the overestimate invariant CountMinSpec
    * property-pins). The md5-salted hashes make the sketch replayable
    * cell-for-cell in DuckDB, so the approximate structure itself is
    * hash-oracled — same treatment q_minhash_md5 gives LSH.
    */
  val heavyHitters = Q("q_heavy_hitters",
    (s, d) => graft.operators.CountMin.heavyHitters(documents(s, d))
      .orderBy(col("tok")),
    Some(s"""WITH toks AS (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0),
        thr AS (SELECT CAST(count(*) // 50 AS BIGINT) AS thr FROM toks),
        rb AS (SELECT tok, r.i AS h,
            ${NorthStarQueries.md5BucketSql(
              "concat('cms', CAST(r.i AS VARCHAR), tok)", 256)} AS bucket
          FROM toks, range(4) r(i)),
        sk AS (SELECT h, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
        dt AS (SELECT DISTINCT tok, h, bucket FROM rb),
        est AS (SELECT dt.tok, min(sk.cnt) AS est
          FROM dt JOIN sk USING (h, bucket) GROUP BY 1),
        exact AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY 1)
        SELECT e.tok, e.est, x.n_exact
        FROM est e JOIN exact x ON e.tok = x.tok, thr
        WHERE e.est >= thr.thr ORDER BY e.tok"""))

  /** Shared chunking oracle CTEs `t`/`c`: the sliding-window plan
    * replayed with a range comprehension and 1-based inclusive list
    * slicing (chunkSize 32, stride 24 — the catalog parameters).
    */
  private val chunkSqlCtes: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
             FROM documents WHERE length(trim(text)) > 0),
       c AS (SELECT doc_id, toks, n,
             unnest(range((greatest(n - 32, 0) + 23) // 24 + 1)) AS chunk_idx
             FROM t),
       chunks AS (SELECT doc_id, chunk_idx,
             chunk_idx * 24 AS start_tok,
             least(32, n - chunk_idx * 24) AS n_chunk_tokens,
             md5(array_to_string(
               toks[chunk_idx*24 + 1 : chunk_idx*24 + least(32, n - chunk_idx*24)],
               ' ')) AS chunk_hash
             FROM c)"""

  /** RAG-style context chunking: 32-token windows, stride 24, md5 chunk
    * hash per window — the chunk table a retrieval corpus builds before
    * embedding, produced entirely map-side ([[graft.operators.
    * TrainingData.chunkWindows]]).
    */
  val chunkWindows = Q("q_chunk_windows",
    (s, d) => graft.operators.TrainingData.chunkWindows(documents(s, d))
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""WITH $chunkSqlCtes
         SELECT doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_hash
         FROM chunks ORDER BY doc_id, chunk_idx"""))

  /** Chunk-level dedup accounting: total vs distinct chunk hashes — the
    * cross-corpus granularity retrieval dedup actually works at (two
    * documents sharing a boilerplate span collide here even when neither
    * document is a duplicate). The downstream shuffle carries 16-byte
    * hashes only.
    */
  val chunkDedup = Q("q_chunk_dedup",
    (s, d) => graft.operators.TrainingData.chunkWindows(documents(s, d))
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct(col("chunk_hash")).as("n_distinct_chunks"))
      .select(col("n_chunks"), col("n_distinct_chunks"),
        (col("n_chunks") - col("n_distinct_chunks")).as("n_dup_chunks")),
    Some(s"""WITH $chunkSqlCtes
         SELECT count(*) AS n_chunks,
           count(DISTINCT chunk_hash) AS n_distinct_chunks,
           count(*) - count(DISTINCT chunk_hash) AS n_dup_chunks
         FROM chunks"""))

  /** Shared oracle fragment replaying [[TrainingData.contentDefinedChunks]]
    * (window=3, divisor=64): tokenization, the banded shingle-hash
    * boundary rule, the running boundary count, and per-chunk content
    * hashes. `where` narrows the document set (e.g. "AND doc_id < 100").
    */
  private def cdcChunkSqlCtes(where: String, p: String = ""): String =
    s"""${p}t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents WHERE length(trim(text)) > 0 $where),
        ${p}tk AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks,
            len(toks) AS n FROM ${p}t),
        ${p}tok AS (SELECT doc_id, pos, toks[pos+1] AS tok,
            CASE WHEN pos > 0 AND pos + 3 <= n THEN
              (${md5BucketSql("array_to_string(toks[pos+1:pos+3], ' ')", 64)}) = 0
            ELSE false END AS bnd
          FROM ${p}tk),
        ${p}g AS (SELECT doc_id, pos, tok,
            CAST(sum(CASE WHEN bnd THEN 1 ELSE 0 END) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS chunk
          FROM ${p}tok),
        ${p}cdc AS (SELECT doc_id, chunk, min(pos) AS chunk_start,
            max(pos) AS chunk_end, count(*) AS n_tokens,
            md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
          FROM ${p}g GROUP BY doc_id, chunk)"""

  /** X56: content-defined chunking — boundaries derived from local
    * content (banded shingle hash), not offsets, so an edit invalidates
    * only the chunk it touches and every suffix chunk re-aligns for
    * dedup ([[TrainingData.contentDefinedChunks]]; q_chunk_windows is the
    * fixed-stride contrast, CdcChunksSpec quantifies the re-alignment).
    * Bounded to the low-id documents; the oracle replays boundaries and
    * chunk hashes cell for cell.
    */
  val cdcChunks = Q("q_cdc_chunks",
    (s, d) => TrainingData.contentDefinedChunks(
        documents(s, d).filter(col("doc_id") < 100))
      .orderBy(col("doc_id"), col("chunk")),
    Some(s"""WITH ${cdcChunkSqlCtes("AND doc_id < 100")}
         SELECT doc_id, chunk, chunk_start, chunk_end, n_tokens, chunk_hash
         FROM cdc ORDER BY doc_id, chunk"""))

  /** X56 admission half: chunk-level novelty gating of a re-delivered
    * batch (every 3rd doc) against the ingested corpus (every 2nd doc) —
    * the incremental-dedup decision at CHUNK granularity: a doc is
    * admitted only if ≥ half its tokens live in chunks the corpus has
    * never seen, so exact re-deliveries (doc_id % 6 = 0: novelty 0) are
    * dropped while partially-novel documents survive with their overlap
    * quantified. Shuffles carry 16-byte chunk hashes; the per-doc gate is
    * integer arithmetic.
    */
  val chunkNovelty = Q("q_chunk_novelty",
    (s, d) => {
      val docs = documents(s, d)
      val batch = TrainingData.contentDefinedChunks(
        docs.filter(col("doc_id") % 3 === 0))
      val seen = TrainingData.contentDefinedChunks(
          docs.filter(col("doc_id") % 2 === 0))
        .select(col("chunk_hash").as("_seen")).distinct()
      batch.join(seen, col("chunk_hash") === col("_seen"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("_seen").isNull, 1L).otherwise(0L)).cast("long")
            .as("novel_chunks"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          sum(when(col("_seen").isNull, col("n_tokens")).otherwise(0L))
            .cast("long").as("novel_tokens"))
        .withColumn("novel_pct",
          expr("(novel_tokens * 100) div total_tokens"))
        .withColumn("admitted", col("novel_pct") >= 50)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${cdcChunkSqlCtes("AND doc_id % 3 = 0", "b")},
         ${cdcChunkSqlCtes("AND doc_id % 2 = 0", "c")},
         seen AS (SELECT DISTINCT chunk_hash FROM ccdc),
         nov AS (
           SELECT b.doc_id, count(*) AS n_chunks,
             CAST(sum(CASE WHEN s.chunk_hash IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS novel_chunks,
             CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN s.chunk_hash IS NULL THEN b.n_tokens
               ELSE 0 END) AS BIGINT) AS novel_tokens
           FROM bcdc b LEFT JOIN seen s ON b.chunk_hash = s.chunk_hash
           GROUP BY 1)
         SELECT doc_id, n_chunks, novel_chunks, total_tokens, novel_tokens,
           (novel_tokens * 100) // total_tokens AS novel_pct,
           (novel_tokens * 100) // total_tokens >= 50 AS admitted
         FROM nov ORDER BY doc_id"""))

  /** X56 accounting: corpus-wide CDC chunk dedup — chunk copies and
    * duplicated tokens the content-defined boundaries expose (equal
    * hashes are equal spans, so `(copies-1) × chunk_tokens` is exactly
    * the storage/compute the dedup saves).
    */
  val cdcDedup = Q("q_cdc_dedup",
    (s, d) => TrainingData.contentDefinedChunks(documents(s, d))
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n"), max(col("n_tokens")).as("nt"))
      .agg(sum(col("n")).cast("long").as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        sum(col("n") * col("nt")).cast("long").as("total_tokens"),
        sum((col("n") - 1) * col("nt")).cast("long").as("dup_tokens")),
    Some(s"""WITH ${cdcChunkSqlCtes("")},
         byh AS (SELECT chunk_hash, count(*) AS cnt, max(n_tokens) AS nt
           FROM cdc GROUP BY 1)
         SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
           count(*) AS n_unique_chunks,
           CAST(sum(cnt * nt) AS BIGINT) AS total_tokens,
           CAST(sum((cnt - 1) * nt) AS BIGINT) AS dup_tokens
         FROM byh"""))

  /** Cross-document repeated spans: 8-token windows occurring in >= 2
    * distinct docs, merged per doc into maximal spans (the span-level
    * exact-substring dedup of Lee et al. 2022, re-expressed as hash
    * aggregation + semi join + gaps-and-islands — nothing quadratic).
    */
  val repeatedSpans = Q("q_repeated_spans",
    (s, d) => TrainingData.repeatedSpans(documents(s, d), n = 8, minDocs = 2L)
      .orderBy(col("doc_id"), col("span_start")),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents WHERE length(trim(text)) > 0),
             p AS (SELECT doc_id, unnest(range(greatest(len(toks) - 7, 0))) AS pos,
                 toks FROM t),
             sh AS (SELECT doc_id, pos,
                 array_to_string(toks[pos+1:pos+8], ' ') AS shingle FROM p),
             dup AS (SELECT shingle FROM sh GROUP BY 1
               HAVING count(DISTINCT doc_id) >= 2),
             hits AS (SELECT doc_id, pos FROM sh SEMI JOIN dup USING (shingle)),
             isl AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                      THEN 0 ELSE 1 END AS brk FROM hits),
             g AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM isl)
             SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
               max(pos) + 7 - min(pos) + 1 AS span_tokens,
               count(*) AS n_windows
             FROM g GROUP BY doc_id, island
             ORDER BY doc_id, span_start"""))

  /** The per-source token budget used by the upsampling queries —
    * multi-epoch for src0, one-plus-partial for src1, partial-only for
    * the rest at sf0.01 (all integer arithmetic, so the plan replays
    * exactly at any SF).
    */
  private val budgetOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    src => when(src === "src0", lit(5000L))
      .when(src === "src1", lit(2000L)).otherwise(lit(600L))

  private val budgetSqlCtes =
    """agg AS (SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
           AS corpus_tokens
         FROM documents GROUP BY source),
       plan AS (SELECT source, n_docs, corpus_tokens,
         CAST(CASE WHEN source = 'src0' THEN 5000
                   WHEN source = 'src1' THEN 2000 ELSE 600 END AS BIGINT)
           AS budget_tokens
         FROM agg),
       p2 AS (SELECT source, n_docs, corpus_tokens, budget_tokens,
         CASE WHEN corpus_tokens = 0 THEN 0
              ELSE budget_tokens // corpus_tokens END AS full_epochs
         FROM plan),
       p2b AS (SELECT *,
         budget_tokens - full_epochs * corpus_tokens AS rem_tokens
         FROM p2),
       p3 AS (SELECT *,
         CASE WHEN corpus_tokens = 0 THEN 0
              ELSE (rem_tokens * 100) // corpus_tokens END AS last_epoch_pct
         FROM p2b)"""

  /** Token-budget mixture plan: full epochs + partial-epoch rate per
    * source (the upsampling half of mixture weighting; [[domainMix]] is
    * the downsampling half).
    */
  val tokenBudget = Q("q_token_budget",
    (s, d) => TrainingData.tokenBudgetPlan(documents(s, d), budgetOf)
      .orderBy(col("source")),
    Some(s"""WITH $budgetSqlCtes
         SELECT source, n_docs, corpus_tokens, budget_tokens, full_epochs,
           rem_tokens, last_epoch_pct
         FROM p3 ORDER BY source"""))

  /** Materialized epoch assignment: one row per (doc, epoch) pass, the
    * final partial epoch kept by an epoch-salted content hash.
    */
  val epochExpand = Q("q_epoch_expand",
    (s, d) => TrainingData.epochExpand(documents(s, d), budgetOf)
      .orderBy(col("doc_id"), col("epoch")),
    // epochs via a range table joined on epoch <= full_epochs: a lateral
    // unnest(range(expr)) whose alias is then referenced in WHERE trips an
    // InternalException in DuckDB 1.x (which poisons the connection for
    // every later oracle), so keep the unnest argument a scalar subquery.
    Some(s"""WITH $budgetSqlCtes,
         r AS (SELECT unnest(range((SELECT max(full_epochs) + 1 FROM p3)))
             AS epoch),
         e AS (SELECT d.doc_id, d.source, d.text, p.full_epochs,
             p.last_epoch_pct, r.epoch
           FROM documents d JOIN p3 p USING (source)
           JOIN r ON r.epoch <= p.full_epochs)
         SELECT doc_id, source, epoch FROM e
         WHERE epoch < full_epochs
            OR ${md5BucketSql("source || ':' || CAST(epoch AS VARCHAR) || ':' || text")}
               < last_epoch_pct
         ORDER BY doc_id, epoch"""))

  /** C4-style blocklist audit: per-doc distinct blocklist-word hits,
    * computed map-side via `array_intersect` (no explode, no shuffle).
    */
  val blocklist = Q("q_blocklist",
    (s, d) => TrainingData.blocklistAudit(documents(s, d),
        Seq("crash", "slow", "leak")).orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           CAST(len(list_intersect(string_split_regex(trim(text), '\s+'),
             ['crash', 'slow', 'leak'])) AS BIGINT) AS n_bad,
           len(list_intersect(string_split_regex(trim(text), '\s+'),
             ['crash', 'slow', 'leak'])) > 0 AS flagged
         FROM documents WHERE length(trim(text)) > 0
         ORDER BY doc_id"""))

  private val vocabSqlCtes =
    """t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
         FROM documents WHERE length(trim(text)) > 0),
       p AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks FROM t),
       tok AS (SELECT doc_id, pos, toks[pos+1] AS tok FROM p),
       counts AS (SELECT tok AS token, count(*) AS n FROM tok GROUP BY 1
         HAVING count(*) >= 2),
       vocab AS (SELECT token, n AS n_occurrences,
           CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT)
             AS token_id
         FROM counts)"""

  /** Deterministic token dictionary (the vocabulary build before corpus
    * encoding): dense ids by (count desc, token) over the >=2-occurrence
    * vocabulary.
    */
  val vocabEncode = Q("q_vocab_encode",
    (s, d) => TrainingData.buildVocab(documents(s, d), minCount = 2L)
      .orderBy(col("token_id")),
    Some(s"""WITH $vocabSqlCtes
         SELECT token, n_occurrences, token_id FROM vocab
         ORDER BY token_id"""))

  /** Corpus encoding: text → token-id sequences against the dictionary
    * (OOV → -1) — the input_ids step that feeds sequence packing. The
    * whole chain (vocab build + join + ordered reassembly) is oracled,
    * including the id arrays themselves — serialized to a joined string
    * because catalog outputs never carry ArrayType (the driver harness
    * sorts rows in pandas, which cannot hash arrays).
    */
  val encodeCorpus = Q("q_encode_corpus",
    (s, d) => TrainingData.encodeCorpus(documents(s, d),
        TrainingData.buildVocab(documents(s, d), minCount = 2L))
      .withColumn("input_ids",
        concat_ws(",", col("input_ids").cast("array<string>")))
      .orderBy(col("doc_id")),
    Some(s"""WITH $vocabSqlCtes,
         enc AS (SELECT tok.doc_id, tok.pos,
             coalesce(v.token_id, -1) AS tid
           FROM tok LEFT JOIN vocab v ON tok.tok = v.token)
         SELECT doc_id,
           array_to_string(list(tid ORDER BY pos), ',') AS input_ids,
           CAST(count(*) AS BIGINT) AS n_tokens
         FROM enc GROUP BY doc_id ORDER BY doc_id"""))

  /** X53: bigram-LM fluency scoring ([[TrainingData.bigramScore]]) — the
    * corpus trains its own bigram stats and each document is ranked by
    * average integer-exact transition score; the oracle replays count,
    * floor-divide, and the final double average (exact integers divided
    * identically under IEEE in both engines).
    */
  val bigramLm = Q("q_bigram_lm",
    (s, d) => TrainingData.bigramScore(documents(s, d), topK = 50),
    Some("""WITH gtoks AS (
             SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
           big AS (
             SELECT doc_id, toks[g + 1] AS w1, toks[g + 2] AS w2
             FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS g
                   FROM gtoks WHERE len(toks) >= 2)),
           bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
           uc AS (SELECT w1, count(*) AS d FROM big GROUP BY 1),
           docsc AS (
             SELECT b.doc_id, count(*) AS n_bigrams,
               CAST(sum((1000000 * bc.c) // uc.d) AS BIGINT) AS score_sum
             FROM big b
             JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
             JOIN uc ON b.w1 = uc.w1
             GROUP BY 1)
           SELECT doc_id, n_bigrams, score_sum,
             CAST(score_sum AS DOUBLE) / n_bigrams AS avg_score
           FROM docsc
           ORDER BY avg_score DESC, doc_id LIMIT 50"""))

  /** X65: bounded-hop contamination spread over the confirmed near-dup
    * graph ([[graft.operators.Graphs.bfsDistances]]): every document
    * within 4 near-dup hops of the seed set (doc_id < 10), with its
    * exact hop distance — the transitive-reach audit run when a bad
    * batch is found (a near-dup of a near-dup of a leaked document is
    * still suspect). Reads the stored edge table like the other dedup
    * consumers; the oracle replays the LSH+confirm edge derivation and
    * the SAME four relaxation rounds as chained CTEs, so engine and
    * oracle agree even where the graph's diameter exceeds the budget.
    */
  val contaminationBfs = Q("q_contamination_bfs",
    (s, d) => {
      val (docs, edges) = storedDedupEdges(s, d, maxDocId = 250L)
      val seeds = docs.select(col("doc_id")).filter(col("doc_id") < 10)
      graft.operators.Graphs.bfsDistances(seeds, edges, rounds = 4)
        .select(col("node").as("doc_id"), col("dist"))
        .orderBy(col("doc_id"))
    },
    Some {
      def rnd(k: Int) =
        s"""d$k AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM d${k - 1}
              UNION ALL
              SELECT s2.b AS node, p.dist + 1 AS dist
              FROM d${k - 1} p JOIN sym s2 ON s2.a = p.node) GROUP BY node)"""
      s"""WITH gtoks AS (
             SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
             FROM documents WHERE doc_id < 250),
           ${NorthStarQueries.md5LshSqlCtes()},
           ${NorthStarQueries.md5ConfirmedEdgesSqlCtes(0.2)},
           sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM jedges
                   UNION SELECT id_b, id_a FROM jedges),
           d0 AS (SELECT doc_id AS node, 0 AS dist FROM documents
                  WHERE doc_id < 10),
           ${rnd(1)}, ${rnd(2)}, ${rnd(3)}, ${rnd(4)}
           SELECT node AS doc_id, dist FROM d4 ORDER BY doc_id"""
    })

  /** X81: incrementally maintained EXACT token-count percentiles
    * ([[graft.operators.Quantiles]]) — the length-distribution monitor a
    * curation pipeline gates on, maintained from additive histogram
    * state instead of rescanning the corpus: two disjoint batches build
    * histograms independently, the merge is rollup-sized, and the
    * percentiles re-derive from merged state. The oracle recomputes the
    * same integer-arithmetic quantile definition (smallest value with
    * cum*100 >= p*N) over the FULL corpus, so a hash match proves
    * merge ≡ recompute end to end.
    */
  val incrementalQuantiles = Q("q_incremental_quantiles",
    (s, d) => {
      import graft.operators.Quantiles
      val counted = documents(s, d).select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("bigint").as("n_tokens"))
      val prior = Quantiles.histogramState(
        counted.filter(pmod(col("doc_id"), lit(2)) === 0), "n_tokens")
      val delta = Quantiles.histogramState(
        counted.filter(pmod(col("doc_id"), lit(2)) === 1), "n_tokens")
      Quantiles.quantilesFromState(
          Quantiles.mergeHistogram(prior, delta),
          Seq(5, 25, 50, 75, 90, 95, 99))
        .orderBy(col("pct"))
    },
    Some("""WITH c AS (SELECT
              CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END
                AS BIGINT) AS n_tokens
            FROM documents),
          f AS (SELECT n_tokens, count(*) AS cnt FROM c GROUP BY 1),
          cu AS (SELECT n_tokens,
              sum(cnt) OVER (ORDER BY n_tokens) AS cum FROM f),
          t AS (SELECT count(*) AS n FROM c),
          p(pct) AS (VALUES (5),(25),(50),(75),(90),(95),(99))
          SELECT pct, min(CASE WHEN cum*100 >= pct*t.n
              THEN n_tokens END) AS value
          FROM cu CROSS JOIN t CROSS JOIN p
          GROUP BY pct ORDER BY pct"""))

  /** X82: inverted-index keyword search with integer BM25-shaped ranking
    * ([[graft.operators.InvertedIndex]]) — conjunctive retrieval of
    * documents containing ALL of {vector, hash, stream}, ranked by
    * saturating-tf × df-damped-rarity computed with integer division
    * only, so the oracle replays the exact arithmetic. Query cost is the
    * three terms' posting lists, never the corpus.
    */
  val keywordSearch = Q("q_keyword_search",
    (s, d) => {
      import graft.operators.InvertedIndex
      val docs = documents(s, d)
      val post = InvertedIndex.postings(docs)
      val totals = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
      InvertedIndex.rankedSearch(post, totals,
        Seq("vector", "hash", "stream"), k = 2, topK = 10)
    },
    Some("""WITH post AS (SELECT token, doc_id, count(*) AS tf FROM (
              SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS token
              FROM documents WHERE length(trim(text)) > 0)
            GROUP BY 1, 2),
          f AS (SELECT * FROM post
            WHERE token IN ('vector', 'hash', 'stream')),
          d AS (SELECT token, count(DISTINCT doc_id) AS df
            FROM f GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          sc AS (SELECT doc_id,
              CAST(sum(((1000000 * (n_docs - df + 1)) // (n_docs + 1)) *
                  ((1000 * tf) // (tf + 2))) AS BIGINT) AS score,
              count(*) AS n_terms
            FROM f JOIN d USING (token) CROSS JOIN n
            GROUP BY doc_id)
          SELECT doc_id, score FROM sc WHERE n_terms = 3
          ORDER BY score DESC, doc_id LIMIT 10"""))

  /** The PERSISTED inverted index behind [[keywordSearchStored]], built
    * once per (dataset, application): postings committed token-range-
    * clustered (repartitionByRange + sortWithinPartitions, so each file
    * covers a tight token range) with token string-envelopes AND blooms
    * in the manifest — then MAINTAINED by appending a second doc batch's
    * postings, the real index-maintenance path (postings are append-only
    * over disjoint doc batches). The serving scan keeps only files whose
    * envelope/bloom admits a queried term.
    */
  private def storedPostingsTable(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import graft.operators.InvertedIndex
    import graft.sources.Snapshots
    val dir = Fixtures.memo(s, d, "invidx") { dir =>
      val tbl = s"$dir/postings"
      val docs = documents(s, d)
      Seq(0, 1).foreach { half =>
        val batch = InvertedIndex.postings(
          docs.filter(pmod(col("doc_id"), lit(2)) === half))
        Snapshots.commit(
          batch.repartitionByRange(8, col("token"))
            .sortWithinPartitions("token"),
          tbl, strStatsCols = Seq("token"), bloomCols = Seq("token"))
      }
    }
    s"$dir/postings"
  }

  /** X82 serving path: the SAME keyword search answered from the stored,
    * incrementally maintained index — the `isin` filter over the indexed
    * read keeps only files whose token envelope/bloom admits one of the
    * three terms (the posting lists live token-clustered, so that is a
    * handful of files out of the table). Shares [[keywordSearch]]'s
    * oracle VERBATIM: the stored index must answer exactly what the
    * from-scratch build answers.
    */
  val keywordSearchStored = Q("q_keyword_search_stored",
    (s, d) => {
      import graft.operators.InvertedIndex
      val terms = Seq("vector", "hash", "stream")
      val post = graft.sources.Snapshots
        .readIndexed(s, storedPostingsTable(s, d))._1
        .filter(col("token").isin(terms: _*))
      val totals = documents(s, d)
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
      InvertedIndex.rankedSearch(post, totals, terms, k = 2, topK = 10)
    },
    keywordSearch.oracle)

  /** X99: BPE merge training ([[graft.operators.Bpe.bpeMerges]]) — the
    * first 8 tokenizer merges learned from the documents corpus with
    * frequency-weighted pair counts over the distinct-word vocabulary
    * (the corpus is scanned ONCE; every merge round is vocab-sized, the
    * scale-invariant trainer shape). The paren-wrapped sequence
    * encoding makes one literal replace per round EXACTLY the greedy
    * BPE fold; the oracle is the generated CTE replay of the same
    * constants, so the hash pins pair counting, (n DESC, pair ASC)
    * selection, and merge application across engines.
    */
  val bpeTrain = Q("q_bpe_train",
    (s, d) => graft.operators.Bpe.bpeMerges(documents(s, d), "text",
      nMerges = 8),
    Some(graft.operators.Bpe.oracleSql(nMerges = 8)))

  /** X99: train-then-encode — the corpus tokenized with the merges
    * [[bpeTrain]] just learned ([[graft.operators.Bpe.applyMerges]]: a
    * codegen'd replace chain, no shuffle, no driver work per row);
    * per-source word and BPE-token counts, oracled by the generated
    * train+encode replay — compression only shows where merges fire,
    * which the hash pins.
    */
  val bpeEncode = Q("q_bpe_encode",
    (s, d) => {
      val docs = documents(s, d)
      val merges = graft.operators.Bpe.bpeMerges(docs, "text", nMerges = 8)
        .orderBy(col("round")).collect().map(_.getString(1)).toSeq
      val words = docs.select(col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(col("word") =!= "" && length(col("word")) <= 30)
      graft.operators.Bpe.applyMerges(
          words.withColumn("seq",
            graft.operators.Bpe.parenEncode(col("word"))),
          "seq", merges)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(graft.operators.Bpe.tokenCount(col("seq")).cast("long"))
            .as("n_tokens"))
        .orderBy(col("source"))
    },
    Some(graft.operators.Bpe.encodeOracleSql(nMerges = 8)))


  /** X118: weighted shortest paths ([[graft.operators.Graphs
    * .shortestPaths]]) — fixed-round Bellman-Ford over the co-ordered
    * parts graph with an integer "relatedness distance" (frequently
    * co-ordered pairs are cheap hops): the minimum 3-hop-budget cost
    * from the seed parts to every reachable part. All-integer min-plus
    * relaxation, so the oracle replays the SAME three rounds as chained
    * CTEs hash-exactly — the weighted generalization of
    * `q_contamination_bfs`.
    */
  val shortestPath = Q("q_shortest_path",
    (s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.as("a").join(li.as("b").hint("shuffle_hash"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("id_a"), col("b.l_partkey").as("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("cnt"))
      val edges = pairs.select(col("id_a"), col("id_b"),
        greatest(lit(1L), lit(101L) - least(col("cnt"), lit(100L))).as("w"))
      val seeds = part(s, d).select(col("p_partkey").as("id"))
        .filter(col("id") <= 10)
      graft.operators.Graphs.shortestPaths(seeds, edges, rounds = 3)
        .select(col("node").as("part_id"), col("dist"))
        .orderBy(col("part_id"))
    },
    Some {
      def rnd(k: Int) =
        s"""d$k AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM d${k - 1}
              UNION ALL
              SELECT e.dst AS node, p.dist + e.w AS dist
              FROM d${k - 1} p JOIN sym e ON e.src = p.node)
            GROUP BY node)"""
      s"""WITH pairs AS (
             SELECT a.l_partkey AS id_a, b.l_partkey AS id_b,
               count(*) AS cnt
             FROM lineitem a
             JOIN lineitem b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
           edges AS (SELECT id_a, id_b,
               greatest(1, 101 - least(cnt, 100)) AS w FROM pairs),
           sym AS MATERIALIZED (
             SELECT src, dst, min(w) AS w FROM (
               SELECT id_a AS src, id_b AS dst, w FROM edges
               UNION ALL
               SELECT id_b, id_a, w FROM edges)
             GROUP BY 1, 2),
           d0 AS (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
                  FROM part WHERE p_partkey <= 10),
           ${rnd(1)}, ${rnd(2)}, ${rnd(3)}
           SELECT node AS part_id, dist FROM d3 ORDER BY part_id"""
    })

  val all: Seq[Q] = Seq(decontaminate, repetition, boilerplate, domainMix,
    stratifiedSample, vocabStats, piiMask, dedupComponents,
    dedupComponentsStar, incrementalComponents, packSequences, tfidf,
    lengthGate, udafTopTokens,
    heavyHitters, chunkWindows, chunkDedup, cdcChunks, cdcDedup,
    chunkNovelty, repeatedSpans, tokenBudget,
    epochExpand, blocklist, vocabEncode, encodeCorpus, clusterReps,
    clusterSplit,
    bigramLm, contaminationBfs, incrementalQuantiles, keywordSearch,
    keywordSearchStored, bpeTrain, bpeEncode,
    shortestPath, temperatureMix)
}
