package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives beyond the iterative tier
  * ([[PageRank]], [[TrainingData]] connected components): exact triangle
  * counting by DEGREE ORIENTATION — the join-based MapReduce formulation
  * that stays tractable on skewed graphs.
  *
  * The naive triple-self-join enumerates every wedge at every vertex, so
  * one celebrity node of degree d contributes d² wedge rows — quadratic
  * blow-up exactly where real graphs are hottest. Orienting each edge
  * from its lower-(degree, id) endpoint to the higher one turns the graph
  * into a DAG where every vertex's OUT-degree is bounded by O(√m) on any
  * graph (and by the arboricity in general), so the wedge fan-out is
  * bounded per node no matter how skewed the in-degrees are; each
  * triangle is then found exactly once, at its lowest-ordered corner.
  * Both stages are plain shuffles on vertex keys — no driver state, no
  * iteration — so the plan scales with m^1.5 worst-case like the
  * classical result, not with the hottest degree squared.
  */
object Graphs {

  /** One-row summary (n_nodes, n_edges, n_triangles) of the undirected
    * simple graph whose edges are `edges(srcCol, dstCol)`. Self-loops are
    * dropped and duplicate/reversed edges collapse to one canonical
    * (min, max) edge, so the input may be a raw directed multi-edge
    * relation. Vertex ids must be integral.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    // e / deg / oriented each feed 2-3 downstream consumers (degree
    // join, wedge self-join, closing semi-join, the three summary
    // aggregates). Unpersisted, every consumer re-derives the edge
    // relation from source — the static plan scanned the input 72 times
    // on the catalog's co-supplier graph (r18 baseline) and exchange
    // reuse cannot recover subtrees that diverge in projection. Persist
    // the three graph-sized frames once; at 100 TB these are the
    // canonical-edge and degree relations, exactly what a production
    // triangle pass would checkpoint. Lifetime: LRU-evicted (the
    // returned one-row plan keeps reading them).
    val e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // orient each edge from its lower (deg, id) endpoint to the higher:
    // out-fans are O(sqrt(m))-bounded, and (deg, id) is a TOTAL order so
    // every triangle keeps exactly one source corner
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at the lowest corner: unordered pairs of out-neighbours,
    // normalized by the same (deg, id) order so the closing edge is
    // looked up in its oriented direction
    val w1 = oriented.select(col("src"), col("dst").as("b"),
      col("ddst").as("db"))
    val w2 = oriented.select(col("src"), col("dst").as("c"),
      col("ddst").as("dc"))
    val wedges = w1.join(w2, "src")
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val closed = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** Fixed-round k-core peeling over an undirected edge table: `rounds`
    * iterations of "drop every node with degree < k in the surviving
    * subgraph", then the surviving nodes with their induced degree.
    * After enough rounds this is exactly the k-core (the maximal
    * subgraph of minimum degree ≥ k) — the standard density filter for
    * near-dup cluster mining (a chain of borderline matches dissolves;
    * a genuinely re-posted document survives as a dense core). Peeling
    * removes at least one node per non-converged round, so `rounds`
    * bounds convergence on any graph with that many nodes of slack;
    * like [[bfsDistances]] the round count is FIXED, not a driver-side
    * convergence test, so engine and oracle replay the identical
    * computation even when not yet converged.
    *
    * Each round is two semi-joins (edge endpoints against survivors) and
    * one degree aggregation — all node-keyed shuffles, no driver state.
    */
  def kCoreSurvivors(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    // EDGE-STATE peeling: the node-survivor formulation referenced the
    // previous survivor set twice per round (u- and v-side semi-joins),
    // which forced a per-round eager localCheckpoint (driver job + RDD
    // copy per round) and re-joined the full persisted edge relation
    // every round. Iterating on the SHRINKING induced edge set instead
    // references the state exactly once per round — "an edge survives
    // iff both its endpoints have induced degree >= k" is the same peel
    // (a node dies iff its degree < k; an edge dies iff either endpoint
    // dies), per-endpoint degrees ride ONE window over the doubled edge
    // list (no groupBy-and-rejoin), and the min over an edge's two rows
    // applies the rule. Round i's edge set equals the old e|surv_{i-1}
    // by induction, so values are unchanged; the plan is linear in the
    // round count with NO checkpoints, no persisted base relation, and
    // two node/edge-keyed shuffles per round instead of five.
    var ek = edges
      .select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
    for (_ <- 1 to rounds) {
      ek = ek
        .select(col("u"), col("v"),
          explode(array(col("u"), col("v"))).as("node"))
        .withColumn("deg", count(lit(1)).over(w))
        .groupBy(col("u"), col("v")).agg(min(col("deg")).as("_mindeg"))
        .filter(col("_mindeg") >= k)
        .select(col("u"), col("v"))
    }
    // final induced degrees of the surviving subgraph (isolated
    // survivors cannot exist for k >= 1: surviving nodes have deg >= k)
    ek.select(col("u").as("node"))
      .unionAll(ek.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Multi-source BFS distances over an undirected edge table: for every
    * node reachable from `sources` within `rounds` hops, the exact
    * hop distance (min over sources). Fixed-round relaxation, not a
    * convergence loop — the [[PageRank]] discipline: each round is
    * `dist' = min(dist, min over neighbours dist+1)`, a union + one
    * key-partitioned min-aggregation, so the whole computation is one
    * declarative plan with no driver-side decisions and replays
    * verbatim as K chained SQL CTEs in the oracle. After K rounds every
    * node within K hops carries its true BFS distance (induction: round
    * i finalizes layer i; relaxation is monotone so later rounds never
    * disturb finished layers).
    *
    * Scale shape: per round one shuffle on the node key over a frontier-
    * bounded relation — the standard iterative-BFS join plan (Pregel's
    * message step as SQL). Bounded-hop reach is the pipeline-relevant
    * form (contamination spread, n-degree audits); unbounded reach is
    * [[TrainingData.connectedComponents]]' job.
    *
    * @param sources single-column node set (distance-0 seeds)
    * @param edges   (id_a, id_b) undirected pairs; self-loops/dupes fine
    */
  def bfsDistances(sources: DataFrame, edges: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val srcCol = sources.columns.head
    // Self-loops dropped AFTER symmetrizing (both directions). The
    // carry-over of round k's distances used to be an explicit
    // `d union relaxed(d)` — which references d TWICE per round, forcing
    // a per-round eager localCheckpoint to keep the plan linear (the
    // CC-fixpoint lesson) at the cost of one driver job + one RDD
    // materialization per round. Instead, append a ZERO-WEIGHT SELF-LOOP
    // for every node that can ever hold a distance (edge endpoints +
    // seeds): relaxation over the looped relation carries d implicitly
    // (dist + 0 through the loop edge), each round references d exactly
    // ONCE, the plan stays linear with NO checkpoints, and the whole
    // fixed-round relaxation collapses into one declarative query — AQE
    // plans every round from real sizes and the identical sym subtrees
    // dedup through exchange reuse instead of a persisted cache.
    // Values are unchanged: min(d(v), min over edges u→v of d(u)+1)
    // equals the min over looped edges of d(u)+w with w(loop)=0.
    // sym stays persisted: the self-loop node set is a DIFFERENT
    // projection of it than the relaxation side, so exchange reuse
    // cannot dedup the two (measured: unpersisted, the upstream edge
    // derivation ran twice and the query regressed 3x). LAZY persist,
    // not the eager checkpoint [[shortestPaths]] uses: the catalog
    // callers of this form derive edges from cheap staged parquet, and
    // the eager build-time job measured +83% on q_contamination_bfs
    // (r19 adjudication) — the concurrent-materialization race only
    // matters when the edge derivation is expensive.
    val sym = edges
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .unionAll(edges.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var d = sources
      .select(col(srcCol).cast("long").as("node"), lit(0).as("dist"))
      .distinct()
    val loops = sym.select(col("src").as("node"))
      .unionByName(d.select(col("node")))
      .distinct()
      .select(col("node").as("src"), col("node").as("dst"), lit(0).as("w"))
    val looped = sym.select(col("src"), col("dst"), lit(1).as("w"))
      .unionByName(loops)
    for (_ <- 1 to rounds) {
      d = d.as("d").join(looped.as("e"), col("d.node") === col("e.src"))
        .select(col("e.dst").as("node"), (col("d.dist") + col("e.w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    d
  }

  /** Fixed-round WEIGHTED single-source-set shortest paths —
    * Bellman-Ford relaxation over undirected integer-weighted edges
    * `(id_a, id_b, w)`: after round k, `dist(v)` is the exact minimum
    * path cost from any source using ≤ k edges (with `rounds >=
    * longest shortest path's hop count`, the true distances — the
    * caller bounds the budget exactly like [[bfsDistances]], whose
    * unweighted special case this generalizes). All-integer arithmetic
    * and a min() reduction per round: deterministic on any
    * partitioning and replayable as chained SQL CTEs, which is what
    * makes it oracle-able where iterative float algorithms are not.
    * Each round is one join + one hash-aggregate, lineage cut per
    * round (the CC-fixpoint lesson); the symmetrized edge relation is
    * persisted across rounds and released before returning. Output:
    * (node, dist) for nodes within `rounds` hops of a source.
    */
  def shortestPaths(sources: DataFrame, edges: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val srcCol = sources.columns.head
    // Same zero-weight-self-loop carry as [[bfsDistances]]: one
    // declarative plan, no per-round checkpoints or driver jobs, d
    // referenced once per round. min-plus semiring: w(loop)=0 makes the
    // loop edge the identity, so values are unchanged.
    //
    // The undirected relation is canonicalized to (least, greatest)
    // BEFORE the parallel-edge dedup and only symmetrized AFTER the
    // cut: min over both orientations is symmetric, so
    // min_w{(a,b),(b,a)} per ordered pair equals the canonical min
    // emitted in both directions — but the canonical form shuffles |E|
    // rows into the aggregation instead of 2|E| and materializes half
    // the rows (guide §2.3). EAGER checkpoint, not a lazy persist: the
    // loop node set and the relaxation rounds are DIFFERENT projections
    // of the edge relation under ONE action, and AQE materializes
    // independent stage trees concurrently — with a lazy persist both
    // subtrees raced ahead of the cache fill and the expensive upstream
    // edge derivation (a fact-table self-join in the catalog query)
    // executed twice (r19 StageProfile: the 38 MB scan + 23 MB pair
    // shuffle appeared 2x per run). One build-time job materializes it
    // exactly once; the fixed rounds stay one declarative
    // checkpoint-free plan.
    val canon = edges
      .select(col("id_a").cast("long").as("a"),
        col("id_b").cast("long").as("b"), col("w").cast("long").as("w"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"), col("w"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .localCheckpoint()
    val sym = canon
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(canon
        .select(col("v").as("src"), col("u").as("dst"), col("w")))
    var d = sources
      .select(col(srcCol).cast("long").as("node"), lit(0L).as("dist"))
      .distinct()
    val looped = sym.unionByName(
      sym.select(col("src").as("node"))
        .unionByName(d.select(col("node")))
        .distinct()
        .select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w")))
    for (_ <- 1 to rounds) {
      d = d.as("d").join(looped.as("e"), col("d.node") === col("e.src"))
        .select(col("e.dst").as("node"),
          (col("d.dist") + col("e.w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    d
  }

  /** Fixed-round SYNCHRONOUS label-propagation community detection:
    * every node starts as its own label; each round every node adopts
    * its neighbors' most frequent previous-round label, ties broken by
    * the SMALLEST label — fully deterministic, unlike classic
    * asynchronous LPA whose result depends on visit order (the property
    * that makes this version oracle-able and partitioning-invariant).
    * Where [[connectedComponents]] answers reachability, LPA separates
    * dense subgraphs joined by thin bridges inside one component.
    *
    * Each round is one join + a two-level aggregate + a per-node argmax
    * window, lineage cut per round (the CC-fixpoint lesson); `rounds`
    * is fixed so the plan is bounded and a SQL replay can chain the
    * same rounds. Nodes without neighbors keep their own label.
    * Output: (node, label).
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, rounds: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val nodeCol = nodes.columns.head
    val sym = edges
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .unionAll(edges.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var lab = nodes.select(col(nodeCol).cast("long").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val best = lab.as("l").join(sym.as("e"), col("l.node") === col("e.src"))
        .groupBy(col("e.dst").as("node"), col("l.label").as("nl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("c").desc, col("nl").asc)))
        .filter(col("rk") === 1)
        .select(col("node"), col("nl"))
      // Eager per-round localCheckpoint, MEASURED against the lazy-persist
      // alternative (r18): swapping these for lazy persists pushed the
      // whole 3-round chain into one action-time mega-plan and regressed
      // q_communities +74% — unlike the ksub-bounded k-means carries
      // (Similarity), `lab` here is node-sized and doubly-referenced, so
      // the eager cut is the cheaper shape. Kept.
      lab = lab.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("label")).as("label"))
        .localCheckpoint()
    }
    sym.unpersist()
    lab
  }
}
