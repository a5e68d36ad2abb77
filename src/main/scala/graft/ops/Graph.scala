package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph analytics over corpus-derived edge relations.
  *
  * Web-scale curation uses the hyperlink graph as a QUALITY signal: a
  * page's rank in the link graph is one of the oldest spam/quality
  * discriminators (Page et al. 1999, "The PageRank Citation Ranking"),
  * and modern pretraining pipelines still use link-graph centrality to
  * pick crawl seeds and to weight domains. The repo's testdata has no
  * hyperlink table, so the checked face derives a SESSION-TRANSITION
  * graph from the `events` stream (the "users walk the graph" view of
  * the same structure): nodes are the JSON `props.k` page keys, a
  * directed edge (a → b) is "some user hit b immediately after a", and
  * the edge weight is how often that transition happened.
  *
  * Everything here is engine-replayable: edge derivation is a lag
  * window under a total order, and [[pageRank]] runs in scaled-integer
  * arithmetic, so the DuckDB oracle reproduces it bit-for-bit
  * (no float summation order anywhere).
  */
object Graph {

  /** Directed transition edges from an event stream: one row per
    * (prev node → node) step inside a user's event sequence, counted.
    *
    * `ordCol` must be a TOTAL order within a user (the checked face uses
    * `event_id`, which is unique) — a timestamp with duplicates would
    * make `lag` nondeterministic. Null nodes are dropped BEFORE the lag
    * so a null never breaks a user's chain asymmetrically between
    * engines.
    *
    * Scale: one shuffle on the user key (the lag window), then one
    * combinable count aggregation on (src, dst). Both are the minimum
    * for the contract; nothing else touches event-scale data. */
  def transitionEdges(events: DataFrame, userCol: String, ordCol: String,
                      node: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(ordCol).asc)
    events.select(col(userCol), col(ordCol), node.as("node"))
      .filter(col("node").isNotNull)
      .select(col(userCol), col(ordCol), col("node"),
        lag(col("node"), 1).over(w).as("src"))
      .filter(col("src").isNotNull)
      .select(col("src"), col("node").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Weighted PageRank in SCALED-INTEGER arithmetic — deterministic
    * across engines, partitionings and reruns by construction.
    *
    * Per iteration, with ranks held in integer "micros"
    * (`microScale` = 1.0):
    * {{{
    *   contrib(u → v) = (r(u) * w(u,v)) div out_w(u)      // integer
    *   r'(v) = teleport + (dampNum * Σ contrib) div dampDen
    *   teleport = microScale * (dampDen - dampNum) / dampDen
    * }}}
    * All sums are 64-bit integer sums (exact, order-independent); the
    * truncating `div` on non-negative operands is identical to DuckDB's
    * floor `//`, so the oracle replays every iteration bit-for-bit —
    * the same reason the sampling layer draws with md5 integers instead
    * of doubles. The integer truncation loses < 1 micro per edge and
    * per node versus real-valued PageRank — bounded, one-sided, and
    * identical everywhere.
    *
    * Simplifications (documented, standard for in-pipeline ranking):
    * fixed iteration count rather than an epsilon test (rank ordering
    * stabilizes in a handful of iterations; a convergence probe would
    * add a per-round action), and — by default — NO dangling-mass
    * redistribution: a node with no out-edges absorbs its rank (total
    * mass is not conserved; relative ranking, which is what curation
    * consumes, is). `danglingRedistribute = true` opts into TRUE
    * PageRank: each iteration collects the dangling nodes' rank as ONE
    * scalar aggregate D and every node's pre-damping inflow gains
    * `D div N` — total mass then conserves within the truncation
    * envelope (< |E| + 2·|V| micros lost per iteration: one per edge
    * contribution, one per node on the damping division, and < |V|
    * total on `D div N`; GraphSpec pins the bound). The dangling SET is
    * computed once (nodes minus edge sources — constant across
    * iterations); the per-iteration cost is one semi-join sum producing
    * a 1-row broadcast, nothing at edge scale.
    *
    * Overflow envelope: r(u) is bounded by total mass N·microScale, so
    * `r * w` needs N·microScale·max_w < 2^63 — at 10^9 nodes, default
    * micros and 1000-cap weights that is 10^18 < 9.2·10^18. Callers
    * ranking bigger graphs lower `microScale`; the rank RESOLUTION is
    * microScale/N per teleport share, so 10^6 keeps ~3 significant
    * digits at 10^3 nodes.
    *
    * Scale shape: the input edge relation is lazily checkpointed ONCE
    * (it feeds the node set, the out-weights and every iteration — a
    * derived-edge input like [[transitionEdges]] would otherwise re-scan
    * its event source per consumer); each iteration is then ONE
    * equi-join of the rank table on `src` plus ONE combinable sum on
    * `dst`; ranks stay a narrow (node, long) relation. On a cluster the
    * edge relation would be bucketed by `src` so every iteration's join
    * is shuffle-free on the edge side; ranks (|V| rows, two columns)
    * re-shuffle each round — the Pregel dataflow. Rank lineage is
    * truncated every `checkpointEvery` rounds: short runs execute as ONE
    * chained job (each round's subtree is consumed exactly once, so
    * nothing recomputes), while long runs keep the plan — and the
    * optimizer's work — bounded. */
  def pageRank(edges: DataFrame, iters: Int = 5,
               microScale: Long = 1000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               checkpointEvery: Int = 8,
               danglingRedistribute: Boolean = false): DataFrame =
    prImpl(edges, iters, microScale, dampNum, dampDen, checkpointEvery,
      seed = None, danglingRedistribute = danglingRedistribute)

  /** The teleport share — [[pageRank]]'s isolated-node FIXPOINT (a node
    * with no in-edges holds exactly this rank at every iteration).
    * Exposed so consumers that treat off-graph entities as isolated
    * nodes (curation's graph_rank stage) derive the constant from the
    * SAME parameters they pass to pageRank instead of re-deriving it
    * inline — the two cannot silently diverge when defaults change. */
  def teleportMicros(microScale: Long = 1000000L, dampNum: Long = 85,
                     dampDen: Long = 100): Long =
    microScale * (dampDen - dampNum) / dampDen

  /** PERSONALIZED PageRank (Haveliwala 2002, "Topic-Sensitive
    * PageRank"): teleport mass lands ONLY on the seed nodes, so rank
    * measures proximity to the seed set — the crawl-frontier
    * prioritization / topic-expansion form ("rank everything by how
    * reachable it is from the domains we trust"). `seed` is a predicate
    * over `col("node")` (a Column so it replays in SQL oracles; a seed
    * TABLE caller can semi-join its ids into the predicate upstream).
    * Teleport is per-seed-unnormalized (each seed gets the full
    * teleport share rather than 1/|S|): a global positive constant
    * factor that leaves the ranking — what curation consumes —
    * unchanged, while keeping the arithmetic integer. Non-seed nodes
    * start (and teleport) at 0 and earn rank only through in-links from
    * the seed neighborhood. */
  def personalizedPageRank(edges: DataFrame, seed: Column, iters: Int = 5,
                           microScale: Long = 1000000L,
                           dampNum: Long = 85, dampDen: Long = 100,
                           checkpointEvery: Int = 8): DataFrame =
    prImpl(edges, iters, microScale, dampNum, dampDen, checkpointEvery,
      seed = Some(seed), danglingRedistribute = false)

  /** Per-node TRIANGLE and wedge counts over the undirected simple graph
    * — the local-clustering signal (triangles/wedges = how tightly a
    * node's neighborhood interlinks) that separates organic link
    * neighborhoods from link-farm stars, and the standard "can your
    * engine do graph analytics" benchmark beyond rank propagation.
    *
    * Algorithm: DEGREE-ORDERED ORIENTATION (Chiba–Nishizeki / the
    * standard MapReduce formulation): orient every undirected edge from
    * its (deg, id)-smaller endpoint to the larger, making the graph a
    * DAG where every node's out-degree is O(√|E|) REGARDLESS of skew —
    * a star's hub receives its spokes' orientations instead of fanning
    * out C(deg,2) wedges. Wedges then form by self-joining oriented
    * edges on their source, and a wedge (u→v, u→w) closes into a
    * triangle iff the oriented edge v→w exists; each triangle is
    * produced exactly once (from its orientation-minimal corner).
    *
    * The orientation compares (deg, id) TUPLES directly on the joined
    * degree columns — never a global rank window, which would funnel the
    * node table through one partition. Everything is integer counting:
    * engine-exact, partitioning-exact.
    *
    * Output: (node, deg, wedges, triangles) for every node of the simple
    * graph, wedges = C(deg, 2) (the clustering-coefficient denominator;
    * left as integers so the consumer picks its own float precision).
    *
    * Scale shape: edge dedup is one shuffle; degrees one combinable agg;
    * the wedge self-join and the closing-edge join are equi-joins on
    * node ids whose skew the orientation already bounded. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val (deg, o) = degreeOriented(edges)
    val e1 = o.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val e2 = o.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val tri = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"),
        "left_semi")
      .select(col("src").as("u"), col("v"), col("w"))
    // one explode, not a 3-way union of projections — the union form
    // re-executes the wedge join once per branch (see [[edgeSupport]])
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        expr("deg * (deg - 1) div 2").as("wedges"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** CLUSTERING CARD — the two classical clustering measures side by
    * side (Newman 2003 §III.B vs Watts & Strogatz 1998): global
    * TRANSITIVITY C_Δ = 3·|triangles| / |wedges| = Σ_v tri_v / Σ_v
    * wedge_v (closed wedges over all wedges — wedge-weighted, hubs
    * dominate) and the MEAN LOCAL coefficient C̄ = mean_v tri_v /
    * wedge_v over nodes with deg ≥ 2 (node-weighted, leaves excluded).
    * The two famously diverge on hub-dominated graphs — a low C_Δ
    * with a high C̄ says the periphery is clustered but the hubs are
    * not, the structural signature a single number hides; the
    * small-world read beside [[degreeAssortativity]].
    *
    * Determinism: built on [[triangleCounts]]' exact integer relation;
    * per-node coefficients and both global measures are non-negative
    * integer-micros floors (C̄ is the exact integer mean of the
    * per-node floors — a defined, engine-identical contract).
    *
    * Scale shape: [[triangleCounts]] (the gated Σ C(deg, 2) wedge
    * class) + ONE combinable agg; 1-row card. */
  def clusteringCard(edges: DataFrame): DataFrame =
    triangleCounts(edges)
      .select(col("wedges"), col("triangles"),
        when(col("wedges") > 0,
          expr("(1000000L * triangles) div wedges")).as("c"))
      .agg(count(lit(1)).as("n_nodes"),
        sum((col("wedges") > 0).cast("long")).as("n_wedge_nodes"),
        sum(col("wedges")).as("sum_wedges"),
        sum(col("triangles")).as("sum_tri_inc"),
        sum(col("c")).as("__sc"))
      .select(col("n_nodes"), col("n_wedge_nodes"), col("sum_wedges"),
        col("sum_tri_inc"),
        when(col("sum_wedges") > 0,
          expr("(1000000L * sum_tri_inc) div sum_wedges"))
          .as("transitivity_micros"),
        when(col("n_wedge_nodes") > 0,
          expr("__sc div n_wedge_nodes")).as("avg_local_micros"))

  /** Core-number (k-core) decomposition via the iterated H-operator
    * (Lü et al., "The H-index of a network node and its relation to
    * degree and coreness", Nature Communications 2016): start every
    * node at its degree and repeatedly replace each node's value with
    * the h-index of its neighbours' values — the sequence is
    * monotonically non-increasing and converges to the node's core
    * number. The per-node h-index is computed as
    * `max(least(value, rank))` over the neighbour values sorted
    * descending; ties in the sort cannot change the result (equal
    * values occupy the same rank positions in any order), so the
    * window needs no tie-break to be deterministic — every quantity is
    * a 64-bit integer and the oracle unrolls iterations as CTEs.
    *
    * A fixed `iters` is the in-pipeline form ([[pageRank]] rationale):
    * both faces replay the same prefix of the monotone sequence, so
    * the contract is exact at any iteration count; convergence to the
    * true coreness needs iters ≥ the graph's "h-convergence depth"
    * (small in practice — degree already equals coreness on cliques,
    * and each round propagates one more hop of peeling).
    *
    * Scale shape: the undirected simple graph is one dedup shuffle,
    * then each iteration is ONE equi-join of the value table onto the
    * symmetric adjacency + ONE per-node window whose length is the
    * node's degree (distributed by node, never global) + ONE
    * combinable max aggregation. Degree skew bounds the window length;
    * there is no all-pairs stage anywhere. */
  def coreness(edges: DataFrame, iters: Int = 8,
               checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1 && checkpointEvery >= 1,
      "need iters >= 1, checkpointEvery >= 1")
    val und = undirectedSimple(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .union(und.select(col("b").as("node"), col("a").as("nb")))
      .localCheckpoint(eager = false)
    var c = adj.groupBy(col("node")).agg(count(lit(1)).as("c"))
    for (i <- 1 to iters) {
      val nbv = adj
        .join(c.select(col("node").as("nb"), col("c").as("cn")), Seq("nb"))
        .select(col("node"), col("cn"))
      val w = Window.partitionBy(col("node")).orderBy(col("cn").desc)
      val next = nbv.withColumn("rk", row_number().over(w))
        .groupBy(col("node"))
        .agg(max(least(col("cn"), col("rk"))).as("c"))
      c = if (i % checkpointEvery == 0 && i < iters)
        next.localCheckpoint(eager = false)
      else next
    }
    c.select(col("node"), col("c").as("coreness"))
  }

  /** RICH-CLUB COEFFICIENT (Zhou & Mondragón 2004) — do the hubs talk
    * to each other? For each degree bar k, restrict to nodes with
    * degree > k and report φ(k) = 2·E_k / (N_k·(N_k−1)) — the edge
    * density of the hub subgraph. A rising φ(k) (hubs preferentially
    * interlinked — the "rich club") changes how failures and influence
    * propagate; the global-structure read beside q177's assortativity
    * scalar and q169's per-node coreness.
    *
    * Determinism: exact integer degree/edge counts; φ floors to micros
    * on the decimal(38,0) ladder (N_k² tops int64 past ~3e9 nodes).
    * N_k < 2 → NULL φ (density undefined), never a fabricated 0.
    *
    * Scale shape: one degree agg, one double deg-join on the edge
    * relation, one bounded |ks|× explode into combinable counts —
    * no iteration, no per-k subgraph materialization. Output: one row
    * per k (k, n_nodes, n_edges, phi_micros). */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0), "need ks >= 0")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirectedSimple(edges).localCheckpoint(eager = false)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val spine = ks.toDF("k")
    val nodesK = deg.crossJoin(broadcast(spine))
      .filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val edgesK = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")),
        Seq("b"))
      .crossJoin(broadcast(spine))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    spine
      .join(nodesK, Seq("k"), "left")
      .join(edgesK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_micros",
        when(col("n_nodes") >= 2,
          expr("try_cast((2000000L * cast(n_edges as decimal(38,0)))" +
            " div (cast(n_nodes as decimal(38,0)) * (n_nodes - 1))" +
            " as bigint)")))
  }

  /** Per-edge triangle SUPPORT of an undirected simple (a, b) edge
    * relation — the [[triangleCounts]] enumeration (degree-ordered
    * orientation, each triangle found once at its orientation-minimal
    * corner) re-keyed to the three UNDIRECTED edges each triangle
    * supports. `private[graft]` so [[kTruss]]'s per-round peel and the
    * final support column share one definition. */
  private[graft] def edgeSupport(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val o = orientedEdges(und, deg)
    val e1 = o.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val e2 = o.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val tri = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(o.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
      .select(col("src").as("u"), col("v"), col("w"))
    // each triangle contributes its three undirected edges via ONE
    // explode — a 3-way union of projections re-executes the wedge
    // join per branch (no exchange reuse across the differing
    // projections; the before-plan shows 3 SortMergeJoin subtrees),
    // tripling the Σ C(deg, 2) stage every support pass pays (r17)
    tri.select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** k-TRUSS decomposition (Cohen 2008) — the cohesion tier between
    * triangles (q114) and coreness (q169): the maximal subgraph in
    * which EVERY edge is supported by ≥ k−2 triangles of the subgraph
    * itself. Where coreness peels NODES by degree, the truss peels
    * EDGES by triangle support — a much stronger community signal (a
    * star survives a 2-core; nothing survives a 3-truss without actual
    * triangle density), the standard community-core extractor on
    * social/session graphs.
    *
    * Algorithm: iterated support peeling — each round recomputes
    * per-edge support over the CURRENT edge set ([[edgeSupport]]: the
    * q114 degree-ordered orientation, re-oriented per round since
    * degrees change as edges fall) and keeps edges with support
    * ≥ k−2. A fixed `rounds` is the in-pipeline contract (the
    * [[coreness]] rationale): both faces replay the same prefix of the
    * monotone peel, exact at any round count; convergence needs rounds
    * ≥ the longest removal cascade (small in practice — each round
    * peels at least one full "shell"). Output: the surviving edges
    * with their support within the FINAL edge set — ≥ k−2 everywhere
    * once converged (the fixture spec pins an actual multi-round
    * cascade and truss ⊆ (k−1)-core containment).
    *
    * Determinism: pure integer counting on a deduped edge set — no
    * floats, no ties anywhere. The oracle unrolls rounds as
    * MATERIALIZED CTEs (each round's edge set is read three times —
    * the q192 inlining hazard).
    *
    * Scale shape: per round, one dedup'd edge set, one combinable
    * degree agg, the orientation-bounded wedge join (the SAME
    * Σ C(deg, 2) cost class the stress gate's wedge probe pins for
    * q114), one combinable support agg, one semi join;
    * localCheckpoint per round keeps the plan linear in rounds. No
    * all-pairs stage, no global window. */
  /** `rounds` support-peel rounds at threshold k−2 over an undirected
    * simple edge set — [[kTruss]]'s loop, shared with
    * [[trussHierarchy]]'s nested restart. */
  private def peelRounds(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = e0
    for (_ <- 1 to rounds) {
      // NOTE (r17): the semi-join back to `e` is set-wise redundant (every
      // support key IS a surviving edge), but it is load-bearing as a
      // STATS FIREWALL. `Dataset.localCheckpoint` hands the parent plan's
      // ESTIMATED stats to the new LogicalRDD leaf, and join estimation
      // multiplies child sizeInBytes — so without an outer stats-capping
      // node each round's leaf size is the PRODUCT of ~5 references to
      // the previous leaf, the BigInt's bit length quintuples per round,
      // and by round 9 (trussHierarchy maxK=5) the optimizer burns
      // minutes multiplying ~10^7-digit integers inside
      // canBroadcastBySize (measured: q265 5.3 s → 183 s when this join
      // was dropped). LeftSemi stats are the LEFT side alone, which
      // pins the leaf estimate to the true edge-set scale every round.
      e = e.join(
          edgeSupport(e).filter(col("support") >= k - 2)
            .select(col("a"), col("b")),
          Seq("a", "b"), "left_semi")
        .localCheckpoint(eager = false)
    }
    e
  }

  def kTruss(edges: DataFrame, k: Int = 4, rounds: Int = 3): DataFrame = {
    require(k >= 3 && rounds >= 1, "need k >= 3, rounds >= 1")
    val e = peelRounds(undirectedSimple(edges), k, rounds)
    e.join(edgeSupport(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** PEEL CONVERGENCE TELEMETRY — did the fixed-`rounds` support peel
    * actually finish: [[kTruss]]'s in-pipeline contract is
    * exact-by-replay at ANY round count, but at 100× scale a longer
    * removal cascade silently under-peels (edges that WOULD fall in
    * round rounds+1 survive). This card replays the same peel and
    * reports whether the FINAL round was DRY (removed zero edges) —
    * and a dry round is a true fixpoint, not a heuristic: support is a
    * pure function of the edge set, so a round that removes nothing
    * proves every later round removes nothing. `converged = false`
    * says exactly "raise `rounds`".
    *
    * Determinism: pure integer edge counts over the same deduped peel
    * relations — no floats, no ties. Output: one row (k, rounds,
    * edges_start, edges_final, removed_final_round, converged).
    *
    * Scale shape: the [[kTruss]] peel cost (per-round wedge join in
    * the gated Σ C(deg, 2) class, localCheckpoint per round) plus
    * three combinable counts over already-checkpointed relations —
    * telemetry is O(edge count), not a new join. */
  def peelConvergence(edges: DataFrame, k: Int = 4, rounds: Int = 3)
      : DataFrame = {
    require(k >= 3 && rounds >= 1, "need k >= 3, rounds >= 1")
    val e0 = undirectedSimple(edges).localCheckpoint(eager = false)
    val prev = peelRounds(e0, k, rounds - 1)
    val last = peelRounds(prev, k, 1)
    e0.agg(count(lit(1)).as("edges_start"))
      .crossJoin(prev.agg(count(lit(1)).as("edges_prev")))
      .crossJoin(last.agg(count(lit(1)).as("edges_final")))
      .select(lit(k.toLong).as("k"), lit(rounds.toLong).as("rounds"),
        col("edges_start"), col("edges_final"),
        (col("edges_prev") - col("edges_final"))
          .as("removed_final_round"),
        (col("edges_prev") === col("edges_final")).as("converged"))
  }

  /** TRUSS HIERARCHY — per-edge TRUSSNESS up to `maxK`: the highest k
    * for which the edge survives the [[kTruss]] peel (2 if it sits in
    * no triangle — every edge is a 2-truss member by definition),
    * capped at `maxK`. The edge-wise analogue of [[coreness]]'s
    * node-wise tiering: where a single k-truss answers "is this edge
    * in THE core", the hierarchy ranks every edge by how dense a
    * neighborhood it survives — the signal for tiered edge sampling
    * (keep trussness ≥ 4 exactly, downsample 3, drop 2) on a link
    * graph.
    *
    * Nesting ((k+1)-truss ⊆ k-truss) buys two things: the ascending-k
    * coalesce is the max, and each peel RESTARTS FROM THE PREVIOUS
    * TRUSS instead of the raw graph (the k-truss of G equals the
    * k-truss of the (k−1)-truss of G) — measured 6.2 s → ~halved at
    * sf0.1, and the 100 TB-right shape: the k = 5 peel never rescans
    * edges k = 3 already discarded. All integer. The oracle chains
    * tagged peel CTEs the same way (chain k's base = chain k−1's
    * survivors). */
  def trussHierarchy(edges: DataFrame, maxK: Int = 5, rounds: Int = 3)
      : DataFrame = {
    require(maxK >= 3 && rounds >= 1, "need maxK >= 3, rounds >= 1")
    var cur = undirectedSimple(edges)
    var out = cur.select(col("a"), col("b"), lit(2L).as("trussness"))
    for (k <- 3 to maxK) {
      cur = peelRounds(cur, k, rounds)
      out = out.join(cur.select(col("a"), col("b"),
          lit(k.toLong).as("tk")), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("tk"), col("trussness")).as("trussness"))
    }
    out
  }

  /** TRUSS COMMUNITIES — connected components OF the [[kTruss]] edge
    * set: after the support peel removes every edge not embedded in
    * triangle-dense structure, what remains decomposes into the
    * graph's COMMUNITY CORES (Cohen 2008's original application). A
    * plain component pass can't do this (one weak bridge fuses two
    * communities); peeling first cuts the bridges, so the components
    * of the survivor graph are the k-truss communities. Output:
    * (node, community_id, community_size) — community_id is the
    * component-min node id (the [[graft.ops.Dedup.components]]
    * contract), nodes not in any k-truss edge are absent (they belong
    * to no community core at this k).
    *
    * Scale shape: the peel is [[kTruss]]; the labeling is the
    * convergence-driven hook/jump min-label propagation
    * ([[graft.ops.Dedup.components]] — O(log diameter) rounds, one
    * equi-join + combinable min per round); sizes are one combinable
    * agg. The oracle replays the peel CTE chain and closes components
    * with one recursive CTE (the q45 reach pattern). */
  def trussCommunities(edges: DataFrame, k: Int = 4, rounds: Int = 3,
                       maxIters: Int = 20): DataFrame = {
    // peel directly: [[kTruss]]'s final left-join exists only to report
    // per-edge support, which this op immediately discarded — going
    // through it paid one whole extra wedge join over the final edge set
    // (r17; the surviving (a, b) set is identical by construction).
    val truss = peelRounds(undirectedSimple(edges), k, rounds)
    val nodes = truss.select(col("a").as("id"))
      .union(truss.select(col("b").as("id"))).distinct()
    val comp = graft.ops.Dedup.components(nodes, truss, maxIters)
      .select(col("id").as("node"), col("label").as("community_id"))
    val sizes = comp.groupBy(col("community_id"))
      .agg(count(lit(1)).as("community_size"))
    comp.join(sizes, Seq("community_id"))
      .select(col("node"), col("community_id"), col("community_size"))
  }

  /** LINK PREDICTION by common-neighbor / Jaccard scoring (Liben-Nowell
    * & Kleinberg 2003's strongest simple baselines): for every
    * NON-adjacent pair (u, v) sharing ≥ `minCommon` neighbours, emit
    * the common-neighbour count and the neighbourhood Jaccard
    * cn·1e6 div (deg(u)+deg(v)−cn) — the "which edge forms next"
    * ranking that powers related-page suggestions and crawl-frontier
    * prioritization on the same session graph q107/q114 rank.
    *
    * All-integer (counts + one non-negative `div` = DuckDB `//`).
    *
    * Scale shape & cost class: candidate pairs come from the wedge
    * self-join adj⋈adj on the CENTER node — the SAME Σ C(deg, 2) mass
    * the stress gate's wedge probe bounds. Unlike triangles, the
    * orientation trick cannot dodge hub mass here (a pair's common
    * neighbours must ALL be seen, whichever endpoint is smaller), so
    * hubs are governed the way similarity self-joins govern stop-words
    * (the q45/q69 maxDocFreq precedent): centers with
    * deg > `maxCenterDeg` are excluded from wedge formation — a hub
    * shared by half the graph predicts nothing (its Jaccard ≈ 0 for
    * every pair) while costing C(deg, 2); the cap is the documented
    * recall trade, deterministic on both faces. Degrees in the output
    * stay the TRUE simple-graph degrees. */
  def linkPrediction(edges: DataFrame, minCommon: Long = 2L,
                     maxCenterDeg: Long = 64L): DataFrame = {
    require(minCommon >= 1L && maxCenterDeg >= 1L,
      "need minCommon >= 1, maxCenterDeg >= 1")
    val und = undirectedSimple(edges)
    val adj = und.select(col("a").as("w"), col("b").as("n"))
      .union(und.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val centers = adj.join(
      deg.filter(col("deg") <= maxCenterDeg).select(col("w")), Seq("w"))
    val cn = centers.as("x")
      .join(centers.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .join(und, col("u") === col("a") && col("v") === col("b"),
        "left_anti")
    cn.join(deg.select(col("w").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("w").as("v"), col("deg").as("deg_v")), Seq("v"))
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        expr("(1000000L * cn) div (deg_u + deg_v - cn)")
          .as("jaccard_micros"))
  }

  /** DEGREE ASSORTATIVITY of the undirected simple graph (Newman 2002):
    * the Pearson correlation of the degrees at the two ends of an edge,
    * over the symmetric directed edge list (each undirected edge
    * contributes both orderings, the standard convention — making the
    * two marginals identical). Positive = hubs link hubs (social
    * texture), negative = hubs link leaves (web/biological texture) —
    * the one-number texture card read before trusting any
    * degree-targeted sampling of a link graph.
    *
    * Determinism: all five moments are exact 64-bit integer sums; the
    * single float step is r = (M·Σxy − Σx·Σy) / (M·Σxx − (Σx)²) —
    * denominators identical by symmetry, so no sqrt is ever needed —
    * round-4 + signed-zero canonicalization. A degree-regular graph
    * (zero variance) yields NULL, never NaN.
    *
    * Scale shape: one edge-dedup shuffle, one combinable degree agg,
    * two broadcast-sized joins of degrees onto edges, one combinable
    * moment agg → a 1-row card. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirectedSimple(edges)
    val adj = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
    val deg = adj.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val num = (col("m") * col("sxy") - col("sx") * col("sx")).cast("double")
    val den = (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
    adj
      .join(deg.select(col("s"), col("deg").as("dx")), Seq("s"))
      .join(deg.select(col("s").as("d"), col("deg").as("dy")), Seq("d"))
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("m"), col("sx"), col("sxx"), col("sxy"),
        when(den =!= 0.0, round(num / den, 4) + lit(0.0))
          .as("assortativity"))
  }

  /** (degrees, oriented edges) of an edge relation's undirected simple
    * graph — [[triangleCounts]]' whole preparation, exposed as one unit
    * so the stress gate's wedge-mass probe measures the operator's OWN
    * oriented relation (an orientation change in the operator is, by
    * construction, a change in the gated metric). */
  private[graft] def degreeOriented(edges: DataFrame)
      : (DataFrame, DataFrame) = {
    val und = undirectedSimple(edges)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    (deg, orientedEdges(und, deg))
  }

  /** The undirected simple graph of an edge relation (deduped, loops
    * dropped, endpoints ordered) — [[triangleCounts]]' first step,
    * shared with the stress gate's cost-class probe. */
  private[graft] def undirectedSimple(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false)

  /** WEISFEILER–LEHMAN COLOR REFINEMENT (Weisfeiler & Leman 1968; the
    * 1-WL test) — the canonical node-structure signature: starting
    * from one uniform color, each round recolors every node by
    * hashing (own color, SORTED multiset of neighbor colors), so
    * after r rounds two nodes share a color iff their r-hop
    * neighborhood trees are indistinguishable. The workhorse behind
    * graph dedup (same color histogram ⇒ 1-WL-equivalent graphs),
    * structural-role discovery, and graph-kernel features — the
    * structure-space complement of the embedding-space ANN family.
    * Output: (node, wl_color) after `iters` rounds (round 1 is the
    * degree partition; each further round can only REFINE classes).
    *
    * Determinism: colors are md5-prefix hex strings; the neighbor
    * multiset is SORTED before hashing (collect order never leaks);
    * everything is exact string/integer work — no floats anywhere.
    * Fixed `iters` keeps the oracle an unrolled CTE chain (the q47
    * replay pattern).
    *
    * Scale shape: per round ONE node-keyed combinable-input shuffle
    * (neighbor-color gather, sorted-list agg) + one node-keyed
    * equi-join against the prior colors — O(edges) per round, the
    * [[coreness]] class; per-round localCheckpoint cuts the iterative
    * lineage. Sort cost per node is deg·log(deg) on 16-char strings;
    * skewed hubs ride the same AQE skew handling as every adjacency
    * gather here. */
  def wlColors(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val und = undirectedSimple(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .union(und.select(col("b").as("node"), col("a").as("nb")))
      .localCheckpoint(eager = false)
    var colors = adj.select(col("node")).distinct()
      .select(col("node"), lit("0").as("c"))
    for (_ <- 1 to iters) {
      val sig = adj
        .join(colors.select(col("node").as("nb"), col("c").as("cn")),
          Seq("nb"))
        .groupBy(col("node"))
        .agg(concat_ws(",", sort_array(collect_list(col("cn"))))
          .as("sig"))
      colors = colors.join(sig, Seq("node"))
        .select(col("node"),
          substring(md5(concat(col("c"), lit("|"), col("sig"))), 1, 16)
            .as("c"))
        .localCheckpoint(eager = false)
    }
    colors.select(col("node"), col("c").as("wl_color"))
  }

  /** Degree-ordered orientation of an undirected simple graph: a→b when
    * (deg(a), a) < (deg(b), b), carrying the head's degree so wedge
    * formation can order its two heads without another join. This IS the
    * O(√|E|)-out-degree bound [[triangleCounts]]' skew safety rests on —
    * `private[graft]` so the stress gate measures the wedge candidate
    * mass over the operator's own relation (an orientation change in the
    * operator is, by construction, a change in the gated metric). */
  private[graft] def orientedEdges(und: DataFrame,
                                   deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("degb").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("dega").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
      .localCheckpoint(eager = false)

  /** HITS hubs & authorities (Kleinberg 1999) — the OTHER classic link
    * rank: an authority is pointed at by good hubs, a hub points at good
    * authorities; on a browse/transition graph authorities are the
    * destination pages users funnel INTO and hubs the launch pads, the
    * complementary signal to [[pageRank]]'s stationary mass. Mutual
    * recursion: a(v) = Σ_{u→v} h(u)·w, h(u) = Σ_{u→v} a(v)·w, iterated.
    *
    * Determinism + overflow: classic HITS L2-normalizes each half-step
    * (irrational, engine-divergent); here each half-step rescales to
    * `microScale` by the CURRENT MAX — `x' = (x·microScale) div max(x)`
    * — which is the same projective normalization in pure integers (the
    * ranking and ratios survive; scores read as micros-of-the-max).
    * Growth per half-step before rescale is bounded by
    * microScale · max_w · max_degree < 2^63 for any graph with
    * w·deg < 9.2·10^12. All sums are exact integer; the oracle unrolls
    * the half-steps as CTEs and replays bit-for-bit.
    *
    * Scale shape: each half-step is ONE equi-join of the score table on
    * the edge relation + one combinable sum + one 1-row max broadcast;
    * the edge relation is checkpointed once. Nodes with no in-(out-)
    * edges hold authority (hub) 0. */
  def hits(edges: DataFrame, iters: Int = 2,
           microScale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && microScale > 0, "need iters >= 1, microScale > 0")
    val e = edges.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    def halfStep(score: DataFrame, scoreCol: String, joinOn: String,
                 outCol: String, emitAs: String): DataFrame = {
      // the checkpoint sits on `raw`, which is read TWICE (the rescale
      // max and the node join-back) — the half-step OUTPUT is read only
      // once (by the next half-step, or the final join), so
      // checkpointing raw instead keeps the chain one link per
      // half-step AND stops the raw join+agg subtree computing twice
      // (r18; the chainConv twice-read precedent)
      val raw = e.join(score.withColumnRenamed("node", joinOn), Seq(joinOn))
        .select(col(outCol).as("node"),
          (col(scoreCol) * col("w")).as("x"))
        .groupBy(col("node")).agg(sum(col("x")).as("raw"))
        .localCheckpoint(eager = false)
      val mx = raw.agg(max(col("raw")).as("mx"))
      nodes.join(raw, Seq("node"), "left")
        .join(broadcast(mx), lit(true))
        .select(col("node"),
          when(col("mx").isNull || col("mx") === 0L, lit(0L))
            .otherwise(expr(s"(coalesce(raw, 0L) * $microScale) div mx"))
            .as(emitAs))
    }
    var h = nodes.select(col("node"), lit(microScale).as("h"))
    var a = nodes.select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      a = halfStep(h, "h", "src", "dst", "a")
      h = halfStep(a, "a", "dst", "src", "h")
    }
    h.join(a, Seq("node"))
      .select(col("node"), col("h").as("hub_micros"),
        col("a").as("auth_micros"))
  }

  /** DETERMINISTIC weighted random walks (DeepWalk, Perozzi et al. 2014 /
    * node2vec's first stage): one walk per node, each step choosing an
    * out-edge with probability ∝ weight — but every "random" choice is
    * the repo's standard md5 draw (`md5(walk_id # step) mod out_w`), so
    * the generated walk corpus is a PURE FUNCTION of the graph:
    * engine-replayable (the DuckDB oracle reproduces every step),
    * partitioning-stable, and rerun-identical — the property that makes
    * a graph-embedding training corpus auditable, exactly like the
    * sampling layer's draws.
    *
    * Edge choice: per source, edges ordered by dst carry cumulative
    * weight bounds [lo, hi); the draw (< out_w by construction) selects
    * the unique covering edge — inverse-CDF sampling in integers. Walks
    * reaching a SINK (no out-edges) terminate early (the inner join
    * drops them); emitted rows are (walk_id, step, node) for every
    * position reached, step 0 = the seed.
    *
    * Scale shape: the cumulative-bound relation rides ONE shuffle on
    * src and is lazily checkpointed (every step probes it); each step
    * is one equi-join of the frontier on src — the frontier stays one
    * row per live walk. Walk count scales as |V| (one per node);
    * callers wanting k walks/node union k seed sets with distinct
    * walk_ids. */
  def randomWalks(edges: DataFrame, steps: Int = 3): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst").asc)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
    val cums = edges
      .withColumn("hi", sum(col("w")).over(ws))
      .withColumn("lo", col("hi") - col("w"))
      .withColumn("ow", sum(col("w")).over(wp))
      .select(col("src"), col("dst"), col("lo"), col("hi"), col("ow"))
      .localCheckpoint(eager = false)
    // node set from the checkpointed cums (same edge relation) — deriving
    // it from `edges` would re-run the whole upstream edge derivation
    val nodes = cums.select(col("src").as("node"))
      .union(cums.select(col("dst").as("node")))
      .distinct()
    var cur = nodes.select(col("node").as("walk_id"), col("node"))
    var out = cur.select(col("walk_id"), lit(0L).as("step"), col("node"))
    for (i <- 1 to steps) {
      val draw = pmod(
        conv(substring(md5(concat(col("walk_id").cast("string"),
          lit(s"#$i"))), 1, 8), 16, 10).cast("long"),
        col("ow"))
      cur = cur.join(cums, cur("node") === cums("src"))
        .filter(draw >= col("lo") && draw < col("hi"))
        .select(col("walk_id"), col("dst").as("node"))
        .localCheckpoint(eager = false)
      out = out.union(
        cur.select(col("walk_id"), lit(i.toLong).as("step"), col("node")))
    }
    out
  }

  /** SEMI-SUPERVISED LABEL PROPAGATION (Zhu & Ghahramani 2002) in
    * scaled-integer arithmetic — spread a small audited label set over a
    * graph to score every node: the auto-labeling move a corpus-scale
    * quality pipeline uses when human judgments exist for a sliver of
    * documents and the rest must inherit them through the structure
    * (link graph, or [[Similarity.knnGraph]]'s semantic neighborhood).
    *
    * `seeds` is (node, label) with labels in micros (e.g. 1000000 =
    * trusted, 0 = spam). Per iteration every UNLABELED node takes the
    * weighted mean of its in-neighbors' scores,
    * {{{ s'(v) = (Σ_{u→v} s(u)·w(u,v)) div (Σ_{u→v} w(u,v)) }}}
    * while seeds CLAMP to their label (the algorithm's defining step —
    * evidence never washes out) and in-edge-free nodes keep their prior
    * (`priorMicros`, the uninformed midpoint by default). All integer:
    * the truncating `div` on non-negative operands replays exactly in
    * any engine (the [[pageRank]] determinism story), scores stay in
    * [0, microScale] by induction (a weighted mean of in-range values,
    * floor included), and the oracle unrolls iterations as CTEs.
    *
    * Scale shape: identical to [[pageRank]] — the edge relation
    * checkpoints once, each iteration is ONE equi-join of the score
    * table on `src` + ONE combinable (num, den) sum + the node
    * join-back; seed flags ride the score relation so clamping is a
    * projection, not a join. Overflow: Σ_in s·w ≤ microScale · in_w(v)
    * — lower `microScale` if per-node in-weight can reach 2^63/micros.
    *
    * Converges toward the harmonic (graph-Laplacian) solution; a fixed
    * small `iters` is the in-pipeline form (same rationale as
    * [[pageRank]]'s fixed count). */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                       priorMicros: Long = 500000L,
                       checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1 && checkpointEvery >= 1,
      "need iters >= 1, checkpointEvery >= 1")
    require(priorMicros >= 0, "priorMicros must be >= 0")
    val e = edges.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    val sd = seeds.select(col(seeds.columns(0)).as("node"),
      col(seeds.columns(1)).as("__label"))
    var s = nodes.join(sd, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__label"), lit(priorMicros)).as("s"),
        col("__label").isNotNull.as("is_seed"))
      .localCheckpoint(eager = false)
    for (i <- 1 to iters) {
      val agg = e.join(s.select(col("node").as("src"), col("s").as("su")),
          Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("su") * col("w")).as("num"), sum(col("w")).as("den"))
      val next = s.join(agg, s("node") === agg("dst"), "left")
        .select(s("node"),
          when(col("is_seed"), s("s"))
            .when(col("num").isNotNull, expr("num div den"))
            .otherwise(s("s")).as("s"),
          col("is_seed"))
      // every round reads s TWICE (the in-neighbor agg and the
      // join-back), so the plan subtree doubles per un-checkpointed
      // round — 2^iters copies by the last round (r18; the q123
      // dangling-PageRank pathology, same fix): checkpoint each round
      s = if (i < iters) next.localCheckpoint(eager = false) else next
    }
    s.select(col("node"), col("s").as("score_micros"), col("is_seed"))
  }

  private def prImpl(edges: DataFrame, iters: Int, microScale: Long,
                     dampNum: Long, dampDen: Long, checkpointEvery: Int,
                     seed: Option[Column],
                     danglingRedistribute: Boolean): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      "damping must satisfy 0 <= dampNum <= dampDen")
    require(microScale > 0, "microScale must be > 0")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    // personalized + dangling is unsupported: PPR classically returns
    // dangling mass to the SEED set (a different redistribution law) —
    // fail loudly rather than silently uniform-spreading it
    require(seed.isEmpty || !danglingRedistribute,
      "danglingRedistribute is not supported with a seed predicate")
    val teleport = teleportMicros(microScale, dampNum, dampDen)
    // seeded: teleport (and the initial rank) lands only where the seed
    // predicate holds; uniform: everywhere
    def gated(amount: Long): Column = seed match {
      case Some(p) => when(p, lit(amount)).otherwise(lit(0L))
      case None => lit(amount)
    }
    val e = edges.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = e.join(outw, Seq("src"))
      .select(col("src"), col("dst"), col("w"), col("ow"))
      .localCheckpoint(eager = false)
    // dangling machinery (constant across iterations): the sink node set
    // and the node count — both tiny, both broadcast each round
    val sinks =
      if (danglingRedistribute)
        nodes.join(outw.select(col("src").as("node")), Seq("node"),
          "left_anti").localCheckpoint(eager = false)
      else null
    val nCnt =
      if (danglingRedistribute) nodes.agg(count(lit(1)).as("nn")) else null
    var r = nodes.select(col("node"), gated(microScale).as("r"))
    for (i <- 1 to iters) {
      val s = ew.join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst"), expr("(r * w) div ow").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next =
        if (!danglingRedistribute)
          nodes.join(s, nodes("node") === s("dst"), "left")
            .select(col("node"),
              (gated(teleport) +
                expr(s"($dampNum * coalesce(s, 0L)) div $dampDen")).as("r"))
        else {
          // D = Σ rank over sinks — ONE scalar aggregate per iteration,
          // broadcast back; every node's pre-damping inflow gains D div N
          val dm = r.join(sinks, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
          nodes.join(s, nodes("node") === s("dst"), "left")
            .join(broadcast(dm), lit(true))
            .join(broadcast(nCnt), lit(true))
            .select(col("node"),
              (gated(teleport) +
                expr(s"($dampNum * (coalesce(s, 0L) + (dm div nn)))" +
                  s" div $dampDen")).as("r"))
        }
      // danglingRedistribute reads r TWICE per round (the dm scalar and
      // the contribution join) — without a per-round checkpoint the
      // round-i plan embeds TWO copies of round i−1's subtree, so the
      // tree (and the optimizer's work) doubles per round: 2^iters
      // subtree copies by the last round (r18; the chainConv
      // twice-read precedent). Single-read runs keep the sparse
      // checkpointEvery cadence.
      r = if ((danglingRedistribute || i % checkpointEvery == 0) && i < iters)
        next.localCheckpoint(eager = false)
      else next
    }
    r.select(col("node"), col("r").as("rank_micros"))
  }

  /** NEIGHBORHOOD FUNCTION N(h) — how many ordered (source, target)
    * pairs are within h hops, for h = 0..`maxHops` (Palmer et al.
    * 2002 ANF; Boldi et al. 2011 HyperANF): the curve whose knee is
    * the EFFECTIVE DIAMETER, the one-number answer to "how navigable
    * is this graph" that degree distributions can't give. This is the
    * EXACT face — per hop one frontier-expansion equi-join + a
    * distinct — which is O(Σ|N_h|) pair state: right for the
    * node-bounded graphs the checked faces rank (vocabulary / page-key
    * universes), and the oracle for any sketch. At web scale the same
    * loop rides one HLL register set per node
    * ([[graft.ops.Sketches]]) instead of materialized pairs —
    * HyperANF IS this algorithm with the distinct replaced by a
    * mergeable sketch union; the card's shape is unchanged.
    *
    * Output: (h, n_pairs), h = 0 counting the reflexive pairs, each
    * later row cumulative (within h hops, not exactly h). Monotone
    * nondecreasing by construction; the five counts are the card. */
  def neighborhoodFunction(edges: DataFrame, maxHops: Int = 4)
      : DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var reach = nodes.select(col("node").as("a"), col("node").as("b"))
      .localCheckpoint(eager = false)
    // each hop's pair count stays a LAZY 1-row aggregate over that hop's
    // checkpointed reach table (r18, the hyperAnf move): the per-hop
    // count() of the previous form cost one driver round-trip per hop;
    // the union of the maxHops+1 aggregates materializes the whole hop
    // chain in ONE query (each reach_h is a lazy localCheckpoint, so
    // the hop-h+1 join and the hop-h count read the same materialized
    // RDD — nothing recomputes).
    def card(h: Int, r: DataFrame): DataFrame =
      r.agg(count(lit(1)).as("n_pairs"))
        .select(lit(h.toLong).as("h"), col("n_pairs"))
    var out = card(0, reach)
    for (h <- 1 to maxHops) {
      reach = reach
        .join(e.select(col("src").as("b"), col("dst")), Seq("b"))
        .select(col("a"), col("dst").as("b"))
        .union(reach)
        .distinct()
        .localCheckpoint(eager = false)
      out = out.unionByName(card(h, reach))
    }
    out
  }

  /** HyperANF — the [[neighborhoodFunction]] card at WEB scale (Boldi,
    * Rosa & Vigna 2011): the exact face's materialized (source, target)
    * pair state is O(Σ|N_h|), which dies on any graph with a large
    * reachable set; HyperANF replaces the per-node reachable SET with a
    * mergeable HyperLogLog sketch (m = 32 registers here), so per-node
    * state is CONSTANT and each hop is the same one-join-one-agg
    * Jacobi sweep as [[pageRank]] — register-wise max IS the sketch
    * union, and max is combinable, so every hop's shuffle carries
    * ≤ m·N narrow (node, reg, rank) rows. Output per hop:
    * (h, n_nodes, est_pairs_micros) — the estimated ordered
    * within-h-hops pair count in micros (h = 0 counts the reflexive
    * pairs; ≈ n_nodes·1e6 up to HLL noise).
    *
    * Determinism (the cross-engine HLL contract): the register hash is
    * the md5-prefix 60-bit integer (the q93 split idiom) — reg = low 5
    * bits, rank = trailing-zero count of the remaining 55 bits + 1
    * (bit_count((w & −w) − 1) + 1, pure integer ops both engines; the
    * all-zero w caps at 56). Register maxes are exact integers; the
    * per-node harmonic sum Σ2^(−M_j) is carried as the EXACT long
    * Σ2^(56−M_j) (absent registers contribute 2^56) so float
    * summation order never exists; the one float step per node is the
    * mirrored αm²·2^56/S expression (with the Flajolet small-range
    * linear-counting switch m·ln(m/V) when E ≤ 2.5m and V > 0),
    * rounded to micros and SUMMED AS LONGS. ln/division of identical
    * doubles match across engines (q82 precedent).
    *
    * Estimate quality: σ ≈ 1.04/√32 ≈ 18% per node — the standard
    * HLL trade; the SPEC pins the realized error vs the exact face on
    * the sf0.001 graph. Raising m is one constant. */
  def hyperAnf(edges: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val m = 32
    val two56 = 1L << 56
    val alphaNum = 0.697 * m * m * two56.toDouble
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var sk = nodes
      .withColumn("h",
        conv(substring(md5(col("node").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("w", expr("h div 32"))
      .select(col("node"), expr("h % 32").as("reg"),
        when(col("w") === 0, lit(56L))
          .otherwise(expr("cast(bit_count((w & -w) - 1) + 1 as bigint)"))
          .as("r"))
      .localCheckpoint(eager = false)
    // each hop's estimate stays a LAZY 1-row aggregate over that hop's
    // checkpointed register table (r18): the per-hop collect() of the
    // previous form cost one driver round-trip per hop; the union of the
    // maxHops+1 aggregates materializes the whole hop chain in ONE query
    // (each sk_h is a lazy localCheckpoint, so the h and h+1 consumers
    // read the same materialized RDD — nothing recomputes).
    def estimate(h: Int): DataFrame = {
      val per = sk.groupBy(col("node"))
        .agg(sum(expr("shiftleft(cast(1 as bigint), cast(56 - r as int))"))
          .as("si"), count(lit(1)).as("cnt"))
      val sInt = (col("si") +
        (lit(m.toLong) - col("cnt")) * lit(two56)).cast("double")
      val eRaw = lit(alphaNum) / sInt
      val v = lit(m.toLong) - col("cnt")
      val em = round(
        when(v > 0 && eRaw <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
          .otherwise(eRaw) * 1e6).cast("long")
      per.select(em.as("em"))
        // coalesce: on an empty node set (no edges / all self-loops)
        // sum(em) is NULL — estimate must be 0, not an NPE
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("em")), lit(0L)).as("s"))
        .select(lit(h.toLong).as("h"), col("n").as("n_nodes"),
          col("s").as("est_pairs_micros"))
    }
    var out = estimate(0)
    for (h <- 1 to maxHops) {
      sk = sk.join(e.select(col("dst").as("node"), col("src")), Seq("node"))
        .select(col("src").as("node"), col("reg"), col("r"))
        .unionByName(sk.select(col("node"), col("reg"), col("r")))
        .groupBy(col("node"), col("reg"))
        .agg(max(col("r")).as("r"))
        .localCheckpoint(eager = false)
      out = out.unionByName(estimate(h))
    }
    out
  }

  /** RECIPROCITY / DYAD CENSUS of a directed graph (Wasserman & Faust
    * 1994's dyadic analysis, the M-A-N census without the null class):
    * what fraction of edges are returned? High reciprocity in a
    * navigation/transition graph means back-and-forth loops (dialogue,
    * undo patterns, mutual-link rings — the q110 spam-ring screen's
    * cheapest precursor); near-zero means a feed-forward flow. Output
    * one row: (m_edges, n_mutual_edges, n_mutual_dyads,
    * n_asym_dyads, reciprocity_micros = (1e6·mutual_edges) div m).
    *
    * All exact integers: self-loops dropped, edges distinct, the
    * mutual check is ONE self-equi-join on the reversed key. Scale
    * shape: distinct + one equi-join on (dst, src) + combinable
    * counts — nothing quadratic (the join key is the full edge). */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    // both counts ride the plan as 1-row aggregates instead of two
    // count() driver actions (r18, guide §5); an edge-free graph now
    // yields the (0, 0, 0, 0, NULL) card instead of throwing
    e.agg(count(lit(1)).as("m"))
      .crossJoin(mutual.agg(count(lit(1)).as("mu")))
      .select(col("m").as("m_edges"),
        col("mu").as("n_mutual_edges"),
        expr("mu div 2").as("n_mutual_dyads"),
        (col("m") - col("mu")).as("n_asym_dyads"),
        when(col("m") > 0, expr("(1000000L * mu) div m"))
          .as("reciprocity_micros"))
  }

  /** DIRECTED MODULARITY of a community assignment (Leicht & Newman
    * 2008's directed form of the Newman–Girvan Q): Q = Σ_c [e_cc/m −
    * (dout_c·din_c)/m²] — observed within-community edge fraction
    * minus the expectation under the degree-preserving null. The
    * quality card for ANY partition the graph family produces
    * ([[scc]], [[labelPropagation]], components-as-clusters): Q near
    * 0 means the "communities" are no better than random wiring,
    * Q ≳ 0.3 means real structure — the eval that stops a pipeline
    * from clustering noise.
    *
    * `labels` is (node, community); nodes missing a label drop with
    * their edges (audit upstream). All-integer: e_cc, m, din, dout
    * exact longs; per-community term = (1e6·e_cc) div m −
    * (1e6·dout_c·din_c) div (m·m) with the products in
    * decimal(38,0)/HUGEINT (dout·din ≤ m² tops int64 at m ≈ 3e9 —
    * the r12 ladder; exact to m ≈ 1e16); both quotients are
    * non-negative before the subtraction, so floor = truncate on
    * both engines; terms sum as longs.
    *
    * Scale shape: two label joins on the edge relation (node-keyed),
    * one combinable per-community agg over each, one |communities|-
    * sized merge. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col(labels.columns(0)).as("node"),
      col(labels.columns(1)).as("comm"))
    val e = edges.select(col("src"), col("dst"))
      .join(lab.select(col("node").as("src"), col("comm").as("sc")),
        Seq("src"))
      .join(lab.select(col("node").as("dst"), col("comm").as("dc")),
        Seq("dst"))
      .localCheckpoint(eager = false)
    // m rides the plan as a 1-row broadcast scalar instead of a count()
    // driver action (r18, guide §5 — the markovStationary precedent);
    // a graph with no labeled edges now yields the (0, 0, NULL) card
    // instead of throwing
    val mc = broadcast(e.agg(count(lit(1)).as("m")))
    val within = e.filter(col("sc") === col("dc"))
      .groupBy(col("sc").as("comm")).agg(count(lit(1)).as("e_cc"))
    val dout = e.groupBy(col("sc").as("comm"))
      .agg(count(lit(1)).as("dout"))
    val din = e.groupBy(col("dc").as("comm"))
      .agg(count(lit(1)).as("din"))
    val terms = dout.join(din, Seq("comm"), "full_outer")
      .join(within, Seq("comm"), "left")
      .crossJoin(mc)
      .select(
        (expr("(1000000L * coalesce(e_cc, 0L)) div m") -
          expr("cast((cast(1000000 as decimal(38,0))" +
            " * coalesce(dout, 0L) * coalesce(din, 0L))" +
            " div (cast(m as decimal(38,0)) * m) as bigint)"))
          .as("t"))
    terms.agg(count(lit(1)).as("n_communities"),
        sum(col("t")).as("q_micros"))
      .crossJoin(mc)
      .select(col("n_communities"), col("m").as("m_edges"),
        col("q_micros"))
  }

  /** STRONGLY CONNECTED COMPONENTS of a directed graph — the analysis
    * [[Dedup.components]]' undirected union-find cannot express: "which
    * page groups can users cycle among" (navigation loops), mutual-link
    * spam rings, and the condensation DAG every reachability question
    * reduces to. Output: (node, scc_id) where scc_id = MIN node id of
    * the component — the same canonical-label contract as weakly
    * connected components.
    *
    * Algorithm: iterative min-label FORWARD/BACKWARD resolution (the
    * label-based relative of FW–BW, Fleischer et al. 2000): per round
    * compute f(v) = min id REACHABLE FROM v and b(v) = min id THAT
    * REACHES v (two Jacobi min-propagation fixpoints, each iteration
    * ONE equi-join + ONE combinable min agg, checkpointed); every node
    * with f(v) = b(v) = c is resolved into SCC c — c is then mutually
    * reachable with v, and f, b are constant across an SCC, so the
    * WHOLE component of c resolves in that round with c = its min id.
    * Resolved components leave the graph and the round repeats on the
    * rest. Removal is sound: a mutual path between two surviving nodes
    * can never need a resolved node (if u → W → v and v → ⋯ → u through
    * resolved W, then W cycles back to itself through u, putting u in
    * W's component — contradiction). The round-entry global-min node
    * always satisfies f = b, so every round retires ≥ 1 component and
    * termination is structural, not probabilistic.
    *
    * Scale shape: label relations carry (node, long); per inner
    * iteration one equi-join + min agg (the [[pageRank]] dataflow);
    * inner iteration count is bounded by the remaining graph's
    * diameter, outer rounds by the condensation depth (measured: 3
    * rounds / ≤ 5 sweeps on the sf0.001 session graph, 1 round at
    * sf0.01 — min-labels resolve MANY components per round, not one).
    * Worst case (a long path of singleton SCCs) degrades to the same
    * O(diameter) the recursive-doubling alternatives pay in memory. */
  def scc(edges: DataFrame, maxRounds: Int = 32,
          maxIters: Int = 128): DataFrame = {
    require(maxRounds >= 1 && maxIters >= 1,
      "need maxRounds >= 1, maxIters >= 1")
    // fused min-label fixpoint: f(v) = min id reachable FROM v
    // (propagates dst→src) and b(v) = min id REACHING v (src→dst),
    // both directions in ONE tagged edge relation so each Jacobi sweep
    // is a single join + agg + convergence count (two separate
    // fixpoints measured ~2× the driver-side job latency on the
    // node-bounded graphs this ranks).
    def minLabels(e: DataFrame, nodes: DataFrame): DataFrame = {
      val e2 = e.select(col("dst").as("from"), col("src").as("to"),
          lit(true).as("isF"))
        .union(e.select(col("src").as("from"), col("dst").as("to"),
          lit(false).as("isF")))
        .localCheckpoint(eager = false)
      var lab = nodes.select(col("node"), col("node").as("f"),
          col("node").as("b"))
        .localCheckpoint(eager = false)
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        it += 1
        val nbr = e2
          .join(lab.select(col("node").as("from"), col("f"), col("b")),
            Seq("from"))
          .groupBy(col("to"))
          .agg(min(when(col("isF"), col("f"))).as("nf"),
            min(when(!col("isF"), col("b"))).as("nb"))
          .select(col("to").as("node"), col("nf"), col("nb"))
        val next = lab.join(nbr, Seq("node"), "left")
          .select(col("node"), col("f").as("pf"), col("b").as("pb"),
            least(col("f"), coalesce(col("nf"), col("f"))).as("f"),
            least(col("b"), coalesce(col("nb"), col("b"))).as("b"))
          .localCheckpoint(eager = false)
        changed = next.filter(col("f") < col("pf") || col("b") < col("pb"))
          .count()
        lab = next.select(col("node"), col("f"), col("b"))
      }
      require(changed == 0, s"scc label fixpoint not reached in $maxIters")
      lab
    }
    var rem = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    var nodes = rem.select(col("src").as("node"))
      .union(rem.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    var out: DataFrame = null
    var remaining = nodes.count()
    var rounds = 0
    while (remaining > 0 && rounds < maxRounds) {
      rounds += 1
      val lab = minLabels(rem, nodes)
      val res = lab.filter(col("f") === col("b"))
        .select(col("node"), col("f").as("scc_id"))
      out = if (out == null) res else out.union(res)
      out = out.localCheckpoint(eager = false)
      nodes = lab.filter(col("f") =!= col("b")).select(col("node"))
        .localCheckpoint(eager = false)
      remaining = nodes.count()
      if (remaining > 0)
        rem = rem
          .join(nodes.select(col("node").as("src")), Seq("src"))
          .join(nodes.select(col("node").as("dst")), Seq("dst"))
          .select(col("src"), col("dst"))
          .localCheckpoint(eager = false)
    }
    require(remaining == 0, s"scc did not converge in $maxRounds rounds")
    out
  }
}
