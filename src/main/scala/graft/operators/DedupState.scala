package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent near-dup state maintenance — the half of continuous-crawl
  * dedup that [[Dedup.incrementalNearDupMd5]] (the admission gate) leaves
  * open: once a batch's near-dup pairs are confirmed, they must be MERGED
  * into stored edge state and the component labeling UPDATED without a
  * full recompute. New edges can only merge components (the relation is
  * monotone — labels only ever decrease toward the component minimum), so
  * the update is a bounded relabel join driven by a component-graph
  * closure over the delta, never a corpus-wide reclustering.
  *
  * Scale shape (the 100 TB loop a crawl pipeline actually runs):
  *   1. admission gate confirms batch pairs (delta-sized);
  *   2. [[mergeEdges]] appends only never-seen pairs (anti-join on the
  *      edge key — with the stored table bucketed by (id_a, id_b) the
  *      delta never reshuffles history);
  *   3. [[incrementalComponents]] resolves merges on the COMPONENT graph
  *      of the delta (≤ 2·|new edges| nodes, usually tiny) and sprays the
  *      winning labels back with a count-adaptive broadcast relabel join
  *      — one pass over the label table, zero passes over text, shingles,
  *      or history edges.
  * Reference parity: the reference maintains dimension state across runs
  * the same way (`etl/load_to_query.py:99-151` — merge delta, touch only
  * changed rows); this applies that incremental-maintenance contract to
  * dedup cluster state.
  */
object DedupState {

  /** Max merge-map rows that still ride an explicit broadcast hint in
    * [[incrementalComponents]]' distributed relabel. Sized for the HASHED
    * relation, not the raw rows: 500k id pairs ≈ 8 MB raw ≈ a few tens of
    * MB as a broadcast hash map — safely inside default driver/executor
    * budgets, which matters because an explicit broadcast() hint
    * bypasses the autoBroadcastJoinThreshold safety valve.
    */
  private val broadcastPairLimit: Long = 500000L

  /** Merge newly admitted pairs into the stored edge table. Pairs are
    * normalized (`id_a < id_b`, self-loops dropped, duplicates collapsed)
    * and only never-seen pairs are appended — the anti-join keys on the
    * 2-column edge identity, so with stored state bucketed by the same
    * key the merge shuffles the delta only. Idempotent: re-merging an
    * already-applied batch is a no-op.
    */
  def mergeEdges(stored: DataFrame, admitted: DataFrame): DataFrame = {
    val norm = admitted
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    stored.unionByName(norm.join(stored, Seq("id_a", "id_b"), "left_anti"))
  }

  /** Incrementally fold a batch of new edges (and optionally new nodes)
    * into an existing component labeling. `labels(idCol, component)` must
    * be a valid min-id labeling (each component labeled by its smallest
    * member id — what [[TrainingData.connectedComponents]] emits); the
    * result is the labeling of the UNION graph, exactly as a full
    * recompute would produce it, at delta cost:
    *
    *   - never-seen ids (new nodes and any edge endpoint not yet labeled)
    *     seed as their own singleton components;
    *   - each new edge is projected into component space (endpoint →
    *     current label), and the component graph — bounded by 2·|edges| —
    *     is closed with [[TrainingData.connectedComponents]] (which
    *     union-finds driver-side below its count threshold: the typical
    *     batch resolves in microseconds);
    *   - the winning label per merged component is applied to the full
    *     label table with one relabel join, broadcast when the merge map
    *     is small (it is delta-bounded, so effectively always — the
    *     guard keeps the plan safe for adversarial batches).
    *
    * Monotonicity makes this exact, not approximate: an edge between
    * components A and B relabels every member of both to min(A, B), and
    * no new edge can ever SPLIT a component, so untouched labels are
    * final without being revisited.
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
      newNodes: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val edges = newEdges
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    val endpoints = edges.select(col("id_a").as("id"))
      .union(edges.select(col("id_b").as("id"))).distinct()
    val known = labels.select(col(idCol).as("id"), col("component"))
    val fresh = newNodes.select(col(idCol).as("id")).union(endpoints)
      .distinct()
      .join(known.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    val seeded = known.unionByName(fresh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Project edges onto current component labels: only cross-component
    // edges matter (within-component pairs are already resolved).
    val la = seeded.select(col("id").as("id_a"), col("component").as("ca"))
    val lb = seeded.select(col("id").as("id_b"), col("component").as("cb"))
    val compEdges = edges.join(la, "id_a").join(lb, "id_b")
      .filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("id_a"),
        greatest(col("ca"), col("cb")).as("id_b"))
      .distinct()
    // Count-adaptive SINGLE-COLLECT resolve: the component graph of a
    // batch is delta-bounded (≤ 2·|new edges| nodes), so the common case
    // is a driver union-find — and the previous shape paid FOUR
    // sequential driver jobs for it (compEdges eager checkpoint, the
    // count-adaptive CC's edge count, its collect, the merge-map
    // checkpoint+observe), each a scheduler-latency exposure: the r18
    // driver's loaded full-catalog run measured this construction at 9 s
    // where a quiet box needs 0.6 s. One limit-probed collect now
    // executes the seeded joins exactly once (filling seeded's cache for
    // the final relabel join on the way) and resolves in-driver; if the
    // probe overflows — an adversarial, corpus-sized delta — the
    // distributed r18 shape takes over unchanged. The probe's row ORDER
    // is arbitrary, but min-root union-find is order-independent, so the
    // mapping is deterministic either way.
    val smallEdgeLimit = 100000
    val probe = compEdges.limit(smallEdgeLimit + 1).collect()
    val mapped =
      if (probe.length <= smallEdgeLimit) {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          if (r != x) parent(x) = r // path compression
          r
        }
        probe.foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // snapshot keys before resolving (the CC small-path lesson:
        // path compression mutates the map under a live iterator)
        val resolved = parent.keys.toArray.map(x => (x, find(x)))
          .filter { case (x, r) => x != r }.toSeq
        broadcast(labels.sparkSession.createDataFrame(resolved)
          .toDF("_old_comp", "_new_comp"))
      } else {
        // distributed fallback: materialize the component-edge set once
        // (three consumers below), close it, broadcast the merge map
        // when small (the count rides the checkpoint via observe).
        val ce = compEdges.localCheckpoint()
        val compNodes = ce.select(col("id_a").as(idCol))
          .union(ce.select(col("id_b"))).distinct()
        val resolved = TrainingData.connectedComponents(compNodes, ce, idCol)
        val obs = org.apache.spark.sql.Observation()
        val mapping = resolved
          .filter(col(idCol) =!= col("component"))
          .select(col(idCol).as("_old_comp"), col("component").as("_new_comp"))
          .observe(obs, count(lit(1)).as("n"))
          .localCheckpoint()
        val nMapped = Option(obs.get("n")).collect { case n: Long => n }
          .getOrElse(0L)
        if (nMapped <= broadcastPairLimit) broadcast(mapping)
        else mapping
      }
    // (seeded's cache blocks are reclaimed by LRU eviction; an eager
    // unpersist here would drop them before the returned lazy plan —
    // which still reads them — ever runs.)
    seeded
      .join(mapped, seeded("component") === mapped("_old_comp"), "left")
      .select(seeded("id").as(idCol),
        coalesce(col("_new_comp"), seeded("component")).as("component"))
  }
}
