package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Knobs, Tables}

/** Iterative graph analytics over relationship graphs derived from the
  * warehouse tables (SURVEY §2C adjunct): PageRank-style importance
  * weighting, the standard tool for domain/source authority scoring in
  * web-corpus curation (e.g. quality-weighting crawl domains by link
  * authority before sampling).
  *
  * Determinism contract: ranks are FIXED-POINT BIGINTs (units of
  * 1e-12), so every per-node in-sum is an order-independent integer
  * sum — bit-identical across engines, runs, and cluster layouts. A
  * floating-point PageRank would accumulate contributions in partition
  * order and drift in the last ulps per iteration; the fixed-point
  * formulation is what makes the result reproducible (and oracle-
  * checkable) at any parallelism. Floors lose ≤1e-12 of mass per
  * contribution — deterministic and harmless for ranking.
  */
object Graph {

  /** Fixed-point scale: 1.0 ≡ 1e12. */
  val FpOne = 1000000000000L

  /** Undirected customer↔supplier co-purchase edges: (c, s) linked
    * when customer c ever ordered a line item from supplier s.
    * Customers map to node 2·custkey, suppliers to 2·suppkey+1 —
    * disjoint integer namespaces an external engine replays with the
    * same arithmetic. One orderkey-keyed join + a distinct on the
    * bounded (c, s) pair set; both directions emitted so every node
    * in the graph has out-degree ≥ 1 (no dangling-mass special case).
    */
  def coPurchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // EXPLICIT-width hash repartition on the join key (guide §2.5
    // compute fan-out): the orderkey join's post-shuffle stage carries
    // few bytes but heavy per-row work (fact-scale SMJ + pair
    // projection + partial distinct), and AQE's byte-based coalescing
    // squeezed it to 3 of 32 slots at sf0.1 (profiled r18: a 0.49 s
    // 3-task stage on every co-purchase consumer). A user repartition
    // with an explicit partition count is exempt from AQE coalescing
    // and derives its width from the session, never a tuned constant.
    // Under a sort-merge join it satisfies the join's required
    // distribution and adds no exchange. Under a broadcast join (the
    // committed graph_degree_audit fingerprint at sf0.001 has
    // BroadcastHashJoinExec=2, ShuffleExchangeExec=9) both
    // repartitions are exchanges the join itself would not need.
    val width = orders.sparkSession.sparkContext.defaultParallelism
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .repartition(width, col("o_orderkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .repartition(width, col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** Fixed-iteration PageRank with damping 0.85 over an edge list
    * (both directions present; node set = sources of the edge list):
    *
    *   r₀(v)    = ⌊FpOne / n⌋
    *   rₖ₊₁(v) = ⌊3·FpOne / (20n)⌋ + Σ_{u→v} ⌊rₖ(u)·17 / (20·deg u)⌋
    *
    * — the damped update with d = 17/20 kept in exact integer
    * arithmetic throughout.
    *
    * Scale shape: each iteration is ONE contributions join keyed by
    * src (edges co-partition with the node-sized rank table; at scale,
    * persist edges bucketed by src so the join is exchange-free) and
    * ONE map-side-combined groupBy(dst). iters is fixed and small, so
    * the lineage stays a shallow chain of iters shuffles — no driver
    * loop over collect()ed data, no convergence-dependent plan. */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    // materialize the edge list ONCE before iterating — without this,
    // every iteration's lineage re-runs the edge derivation (for the
    // co-purchase graph: the orders⋈lineitem join, 3× over). The
    // localCheckpoint is the single-JVM stand-in for a persisted
    // bucketed-by-src edge table on a real cluster.
    val e = edges.localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val n = deg.count()
    val teleport = 3L * FpOne / (20L * n)
    var ranks = deg.select(col("src").as("node"), lit(FpOne / n).as("r"))
    for (_ <- 1 to iters) {
      ranks = e.join(deg, "src")
        .join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("r * 17 div (20 * deg)").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_sum"))
        .select(col("dst").as("node"),
          (lit(teleport) + col("in_sum")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_fp"),
        (col("r").cast("double") / lit(1e12)).as("rank_r"))
      .orderBy(col("node"))
  }

  /** Base edge-sampling modulus for the DOULION-style sampled graph
    * projections: keep a pair iff its multiplicative hash lands on 0
    * mod this. 1/20 keeps the co-supply projection (which is ~90%
    * complete at sf0.1 — the classic dense-projection trap) at a
    * workable density at the gate scales. */
  val TriSampleMod = 20L

  /** Corpus-derived sample modulus (verdict r14 #5, honoring the
    * long-promised "at larger corpora, grow the modulus" note): the
    * co-supply projection DENSIFIES as facts grow over a fixed
    * supplier dimension — every extra order adds pair occurrences, so
    * a fixed 1/20 sample saturates toward the complete supplier graph
    * and every downstream structure (induced k-core subgraphs,
    * triangle wedges ~ m^1.5) grows super-linearly as a pure fixture
    * artifact. One extra base-modulus step per million lineitem rows
    * keeps sampled edge volume bounded; the DOULION estimator
    * rescales by p³, and p stays an exact rational of the row count.
    * Integer form ⌈n/10⁶⌉ replays bit-for-bit in SQL:
    * `20 * GREATEST(1, (COUNT(*) + 999999) // 1000000)` — identical
    * at every gate scale (n ≤ 10⁶ → 20). */
  def autoSampleMod(lineitemCount: Long): Long =
    TriSampleMod * math.max(1L, (lineitemCount + 999999L) / 1000000L)

  /** Undirected supplier↔supplier co-supply edges, DOULION-sampled
    * (Tsourakakis et al. 2009: count triangles on a p-sampled graph,
    * unbiased estimate = count/p³). Two suppliers are linked when they
    * ever supply the same order; per-order supplier sets are small
    * (~4-7 lineitems/order), so the per-order pairing join is
    * bounded fan-out, never a blow-up. The sample filter is a pure
    * function of the (a, b) pair — the same engine-independent
    * multiplicative hash as sample_shard — so it evaluates BELOW the
    * pair-distinct exchange: sampled-out pairs never shuffle at all.
    * Edges emit once with a < b. */
  def coSupplyEdges(lineitem: DataFrame,
      sampleMod: Long = 0L): DataFrame = {
    // default (0) = corpus-derived: one metadata-cheap count-star,
    // identical to TriSampleMod at every gate scale (autoSampleMod)
    val mod =
      if (sampleMod > 0L) sampleMod
      else Knobs.optLong("graph.sample_mod")
        .getOrElse(autoSampleMod(lineitem.count()))
    // NOT widened (unlike coPurchaseEdges): the same explicit-width
    // repartition treatment was measured r18 in two variants — one
    // ok-keyed exchange shared by distinct and self-join (re-ran the
    // final distinct once per join side inside the wide stage), and
    // both exchanges explicit at session width (flat: the derivation's
    // ~1.0 s wall here is sequential-stage latency, not slot
    // starvation — each widened stage ran 0.3 s regardless). Both
    // variants measured >= the AQE-coalesced original on the six
    // co-supply consumers; keeping the planner's shape.
    val os = lineitem
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
      .distinct()
    os.as("x").join(os.as("y"),
        col("x.ok") === col("y.ok") && col("x.s") < col("y.s"))
      .select(col("x.s").as("a"), col("y.s").as("b"))
      .filter(
        ((col("a") * 100003L + col("b")) % 1000003L * 2654435761L)
          % mod === 0)
      .distinct()
  }

  /** Degree-oriented distributed triangle counting (Schank & Wagner
    * 2005; the MapReduce formulation of Suri & Vassilvitskii 2011):
    * orient every edge from the lower-(deg, id) endpoint to the
    * higher, enumerate wedges only at each edge's LOWEST-rank corner,
    * and close them with a semi-join back on the oriented edge list.
    * Orientation caps every node's out-degree at O(√m), so the wedge
    * join fans out to at most Σ d_out² = O(m^1.5) rows regardless of
    * hub skew — the whole point vs. naive wedge counting, where one
    * celebrity node alone contributes deg² wedges.
    *
    * Scale shape: degree table is node-sized (broadcasts in practice;
    * at extreme node counts the two decorating joins fall back to
    * node-keyed shuffles), the wedge self-join keys on the wedge
    * corner, the closing check is a (dst, dst)-keyed LEFT SEMI — every
    * exchange is edge-bounded. Output: every graph node with its
    * triangle participation count (the clustering-coefficient
    * numerator), exact integers.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialize once: the edge list feeds four plan legs (degrees,
    // two wedge sides, closing semi-join) — without this, lineage
    // re-derives the co-supply join per leg
    val e = edges.localCheckpoint()
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint()
    // each triangle {u<v<w in (deg,id) rank order} appears as exactly
    // one wedge at u (edges u→v, u→w with rank(v)<rank(w)) closed by
    // the — necessarily v→w oriented — third edge
    val tri = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
      .join(o.select(col("src").as("y"), col("dst").as("z")),
        Seq("y", "z"), "left_semi")
    val per = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    deg.select(col("v"))
      .join(per, Seq("v"), "left")
      .select(col("v").as("node"), coalesce(col("c"), lit(0L)).as("n_tri"))
      .orderBy(col("node"))
  }

  /** Fixed-depth multi-source BFS (k-hop reachability with hop
    * distance) from a seed node set — the neighborhood-expansion
    * primitive behind link-graph crawl frontiers, contamination blast
    * radius ("everything within 3 hops of a flagged domain") and
    * feature extraction on entity graphs. Iteration k+1 is
    * dist(v) = min(dist(v), min_{u→v} dist(u) + 1) — pure integer
    * min-plus algebra, so the result is bit-identical at any
    * parallelism and replays as chained SQL CTEs.
    *
    * Scale shape: the pageRank template — each of `hops` rounds is ONE
    * src-keyed join (edges persisted/bucketed by src at scale) + one
    * map-side-combined min-groupBy; lineage stays a shallow fixed
    * chain. The reached set here stays a small fraction of the graph
    * for small `hops`; at web scale the standard refinement joins only
    * the CHANGED frontier (delta rows) per round — same plan per
    * round, strictly less input — without touching the contract. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, hops: Int = 3)
      : DataFrame = {
    require(hops >= 1 && hops <= 20, s"hops out of range: $hops")
    val e = edges.localCheckpoint()
    var d = seeds.select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to hops) {
      d = d.join(e, d("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        .unionAll(d)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    d.orderBy(col("node"))
  }

  /** Delta-frontier BFS — the registered production face. Same
    * contract as [[bfsHops]] (hash-asserted by the oracle and the
    * equivalence spec), but each hop joins ONLY the frontier — the
    * nodes first reached last hop — against the edge list, not the
    * whole settled distance table: with unit edge weights a node's
    * first-reach distance is final, so re-relaxing settled nodes can
    * never improve anything. Hop k's work is |frontier_k|-keyed
    * (expansion join) plus one anti-join against the settled set to
    * drop already-reached nodes — at web scale, where the reached set
    * after a few hops dwarfs every individual frontier, this is the
    * difference between per-hop cost tracking the FRONTIER and
    * tracking the cumulative reach (the full-table re-join the naive
    * face does). Terminates early when a frontier empties (the
    * detected-fixpoint discipline of [[connectedComponents]]); both
    * tables are checkpointed per hop to cap loop lineage. */
  def bfsHopsDelta(edges: DataFrame, seeds: DataFrame, hops: Int = 3)
      : DataFrame = {
    require(hops >= 1 && hops <= 20, s"hops out of range: $hops")
    val e = edges.localCheckpoint()
    var settled = seeds.select(col("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint(true)
    var frontier = settled
    var h = 0
    // emptiness, not count(): the early-exit test only needs ONE row to
    // exist, and isEmpty's limit(1) short-circuits after the first
    // non-empty partition of the already-checkpointed frontier, where a
    // count() is a full job barrier over every partition per hop —
    // at depth-d traversals that halves the per-hop driver round-trips
    var frontierEmpty = frontier.isEmpty
    while (h < hops && !frontierEmpty) {
      h += 1
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
      frontier = reached
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("dist"))
        .localCheckpoint(true)
      frontierEmpty = frontier.isEmpty
      // settled is a union of ALREADY-checkpointed frontiers — its
      // lineage is a flat k-way union of RDD scans, so re-materializing
      // it per hop bought nothing and cost one eager job per hop
      // (r17; the checkpointed-frontier discipline alone caps lineage)
      if (!frontierEmpty)
        settled = settled.unionAll(frontier)
    }
    settled.orderBy(col("node"))
  }

  /** Connected components to the TRUE fixpoint (every node labeled
    * with the minimum node id reachable from it) — the grouping
    * primitive behind near-dup cluster consolidation, entity
    * resolution, and link-farm detection in corpus curation. Runs the
    * alternating large-star/small-star resolver (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond";
    * Dedup.resolveClusters): 3 node-keyed shuffles per round, a
    * window-min formulation with no self-joins, one checkpoint per
    * round, O(log n) rounds — the bound DedupSpec pins on a 64-node
    * path. Convergence is DETECTED, not assumed, so the output is the
    * fixpoint the oracle's recursive CTE computes — independent of
    * round count, data scale, or partition layout. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50)
      : DataFrame =
    Dedup.resolveClusters(
      edges.select(col("a").as("doc_a"), col("b").as("doc_b")), maxRounds)
      .select(col("doc_id").as("node"), col("keep_id").as("comp"))
      .orderBy(col("node"))

  /** Synchronous label propagation (Raghavan et al. 2007) for
    * community detection over an undirected edge list — the cheap
    * community signal corpus curation uses to find template families /
    * mirror clusters / topical groups when full modularity
    * optimization is overkill. Each of `iters` rounds every node
    * adopts the most frequent label among its NEIGHBORS, ties broken
    * by MINIMUM label — a total, engine-independent order, which is
    * what makes a fixed-round run bit-replayable (classic async LPA is
    * order-dependent; the sync+min-tie formulation is the
    * deterministic variant). Initial label = node id.
    *
    * Scale shape: per round ONE src-keyed edge join (the bfs/pagerank
    * template), one map-side-combined (node, label) count, and one
    * node-keyed window for the argmax — all exchanges keyed on node
    * ids, label table checkpointed per round to cap loop lineage. */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters out of range: $iters")
    val e = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val counts = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("lbl"))
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node"))
        .orderBy(col("c").desc, col("lbl"))
      labels = counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lbl"))
        .localCheckpoint(true)
    }
    labels.select(col("node"), col("lbl").as("community"))
      .orderBy(col("node"))
  }

  /** Wedge-center degree cap for link prediction: a node with more
    * neighbors than this never serves as the shared-neighbor pivot.
    * Celebrity pivots contribute deg² candidate pairs with near-zero
    * individual signal (the standard "drop hub wedges" heuristic in
    * similar-item mining); the cap makes wedge volume Σ_{deg≤c} deg²
    * ≤ c·m — linear in edges at ANY scale — and the oracle replays
    * the same rule, so it is part of the operator's contract. */
  val LpHubCap = 64L

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    * over an undirected edge list: for every non-adjacent pair (a, b)
    * sharing ≥1 sub-cap neighbor, score by Jaccard of neighborhoods
    * jac = |N(a)∩N(b)| / |N(a)∪N(b)| — "suppliers that co-supply with
    * the same partners but never together yet": the candidate
    * generator for recommendation / entity-linking / graph-densify
    * passes. Scores are fixed-point BIGINTs (common·1e6 div union, a
    * positive truncating division — identical on both engines), so
    * ranking is bit-exact.
    *
    * Scale shape: ONE wedge self-join keyed on the (hub-capped) pivot
    * — volume ≤ cap·|edges| by construction — one map-side-combined
    * pair count, an anti join against the edge list (key-shuffled at
    * scale), degrees decorate via two node-sized joins, and the
    * global top-k is TakeOrderedAndProject (no full sort). */
  def linkPredict(edges: DataFrame, topK: Int = 20,
      hubCap: Long = LpHubCap): DataFrame = {
    val e = edges.localCheckpoint()
    val both = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = both.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val centers = both.join(deg.filter(col("deg") <= hubCap), "src")
      .select(col("src"), col("dst")).localCheckpoint()
    val pairs = centers
      .join(centers.select(col("src").as("src2"), col("dst").as("dst2")),
        col("src") === col("src2") && col("dst") < col("dst2"))
      .select(col("dst").as("a"), col("dst2").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .join(e, Seq("a", "b"), "left_anti")
    pairs
      .join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        (col("da") + col("db") - col("common")).as("n_union"))
      .withColumn("jac_fp", expr("common * 1000000 div n_union"))
      .orderBy(col("jac_fp").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Degree-census pre-flight audit — the graph-shape report run
    * BEFORE any iterative algorithm, because degree skew is what
    * breaks them at scale (one hub node serializes PageRank's
    * contribution aggregate and explodes triangle wedge counts): node
    * count, degree envelope, and edge mass per log₂ degree bucket.
    * The bucket is the integer bit length LENGTH(BIN(deg))−1 — exact
    * floor(log₂) with no float boundary risk, spelled identically on
    * both engines. Shape: one map-side-combined degree aggregate, one
    * rollup to ≤64 bucket rows. */
  def degreeAudit(edges: DataFrame): DataFrame = {
    edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"),
        sum(col("deg")).as("edge_mass"))
      .orderBy(col("bucket"))
  }

  /** Fixed-round k-core peel (k=2 by default) — the graph-densification
    * step corpus curation runs before community/authority analysis:
    * iteratively remove nodes of degree < k, so tendrils and isolated
    * pairs fall away and the dense backbone remains (the 2-core is
    * where triangles, communities, and link prediction live; peeled
    * nodes can't participate). Each round is exactly one peel: cut
    * low-degree nodes, induce the subgraph, recount degrees — a FIXED
    * number of rounds keeps the plan shape and the oracle replay
    * deterministic (full coreness would need data-dependent rounds;
    * the face reports which round took each node, so convergence is
    * visible in the output: an empty final round = fixpoint reached).
    *
    * Scale shape: per round two node-keyed semi-join filters of the
    * edge list + one map-side-combined degree count — the
    * bfs/pagerank exchange template, edge-bounded; every intermediate
    * is checkpointed so loop lineage stays flat. */
  def kCore(edges: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 5, s"rounds out of range: $rounds")
    val bi = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val deg0 = bi.groupBy(col("src")).agg(count(lit(1)).as("deg0"))
      .localCheckpoint(true)
    var e = bi
    var deg = deg0.select(col("src").as("node"), col("deg0").as("deg"))
    var removed: DataFrame = null
    for (r <- 1 to rounds) {
      // cut/alive/removed are narrow filters of the PER-ROUND
      // CHECKPOINTED deg table — deriving them lazily re-reads
      // materialized blocks, so their own eager checkpoints bought
      // nothing and cost three driver-blocking jobs per round (r17;
      // the e/deg checkpoints below are the load-bearing ones that
      // cap the loop's lineage)
      val cut = deg.filter(col("deg") < k)
        .select(col("node"), lit(r.toLong).as("removed_round"))
      removed =
        if (removed == null) cut
        else removed.unionAll(cut)
      val alive = deg.filter(col("deg") >= k).select(col("node"))
      e = e.join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .localCheckpoint()
      val dn = e.groupBy(col("src")).agg(count(lit(1)).as("dn"))
      deg = alive.join(dn, alive("node") === dn("src"), "left")
        .select(col("node"), coalesce(col("dn"), lit(0L)).as("deg"))
        .localCheckpoint(true)
    }
    deg0.select(col("src").as("node"), col("deg0"))
      .join(removed, Seq("node"), "left")
      .join(deg.select(col("node"), col("deg").as("deg_final")),
        Seq("node"), "left")
      .select(col("node"), col("deg0"),
        coalesce(col("removed_round"), lit(0L)).as("removed_round"),
        col("removed_round").isNull.as("in_core"),
        coalesce(col("deg_final"), lit(0L)).as("deg_final"))
      .orderBy(col("node"))
  }

  /** Partition-quality audit for a community assignment: per-community
    * Newman modularity contribution in EXACT integers. For an
    * undirected edge list E (|E| = m, one row per edge, a < b) and an
    * assignment C,
    *   Q = Σ_c [ e_c/m − (d_c / 2m)² ]
    * which scaled by the community-independent constant 4m² is
    *   contrib_fp(c) = 4·m·e_c − d_c²        (Q = Σ_c contrib_fp / 4m²)
    * with e_c the internal edge count and d_c the degree mass of c.
    * No float division anywhere, so the frame is bit-identical across
    * engines and ranking communities by contrib_fp IS ranking by
    * modularity contribution. Exact while 4·m·e_c < 2^63, i.e. to
    * ~1.5·10⁹ edges — and ENFORCED, not just documented: non-ANSI
    * Spark silently wraps Long overflow, so the bound is checked at
    * runtime against the measured edge count (4m² < 2^63 covers both
    * terms, since e_c ≤ m and d_c ≤ 2m) and fails loudly instead of
    * emitting wrapped contributions. Past the bound, shift both terms
    * right together (the ranking survives a shared truncation;
    * document the shift with the run).
    *
    * This is the "did label propagation find real structure" gate a
    * curation pipeline needs before using communities as dedup or
    * sampling strata — boilerplate families and mirror clusters score
    * high positive contrib; a near-random partition sums to ~0.
    *
    * Scale shape: m is the edge COUNT (a distributed count whose
    * result is one scalar — the overflow guard needs it on the driver
    * anyway, so it doubles as the literal in the contrib expression,
    * replacing a broadcast one-row cross join); degrees and community
    * stats are node-keyed shuffles with map-side combine; internal
    * edges decorate the edge list with its two endpoint communities
    * via node-keyed joins — every exchange is edge- or node-bounded,
    * nothing quadratic.
    *
    * Input contract: the edge frame feeds three legs (m, degrees,
    * endpoint decoration) and is read AS GIVEN — callers whose edge
    * frame is derived should localCheckpoint it ONCE before calling
    * (as the graph_modularity registration does, sharing the
    * materialization with label propagation); modularity() itself does
    * not checkpoint, so a trusted input is never materialized twice. */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val mCount = e.count()
    // 4·m·e_c and d_c² are both ≤ 4m²; non-ANSI Long arithmetic wraps
    // silently past 2^63, so refuse loudly at the documented bound
    require(mCount <= 1518500249L, // floor(sqrt(2^63)/2)
      s"modularity: $mCount edges exceeds the exact-integer bound " +
        "(4m² ≥ 2^63) — contrib_fp would wrap; apply a shared right " +
        "shift to both terms instead")
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val comm = communities.select(col("node"), col("community"))
    val cstat = comm.join(deg, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_tot"))
    val ein = e
      .join(comm.select(col("node").as("a"), col("community").as("ca")),
        Seq("a"))
      .join(comm.select(col("node").as("b"), col("community").as("cb")),
        Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca")).agg(count(lit(1)).as("e_in"))
      .select(col("ca").as("community"), col("e_in"))
    cstat.join(ein, Seq("community"), "left")
      .select(col("community"),
        col("n_nodes").cast("long").as("n_nodes"),
        coalesce(col("e_in"), lit(0L)).cast("long").as("e_in"),
        col("d_tot").cast("long").as("d_tot"),
        (lit(4L * mCount) * coalesce(col("e_in"), lit(0L))
          - col("d_tot") * col("d_tot")).cast("long").as("contrib_fp"))
      .orderBy(col("community"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_kcore" -> ((s, dir) =>
      kCore(coSupplyEdges(Tables.load(s, dir, "lineitem")))),
    "graph_degree_audit" -> ((s, dir) =>
      degreeAudit(coPurchaseEdges(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem")))),
    "graph_cc" -> ((s, dir) =>
      connectedComponents(coSupplyEdges(Tables.load(s, dir, "lineitem")))),
    "graph_link_pred" -> ((s, dir) =>
      linkPredict(coSupplyEdges(Tables.load(s, dir, "lineitem")))),
    "graph_label_prop" -> ((s, dir) =>
      labelPropagation(coSupplyEdges(Tables.load(s, dir, "lineitem")))),
    // label-prop communities scored in place: the edge list is
    // checkpointed ONCE here and trusted downstream — modularity()
    // reads its input as given (see its contract), so this is the
    // single materialization shared by the propagation loop and all
    // three modularity legs
    "graph_modularity" -> { (s, dir) =>
      val e = coSupplyEdges(Tables.load(s, dir, "lineitem"))
        .localCheckpoint()
      modularity(e, labelPropagation(e))
    },
    // the delta-frontier face is registered (per-hop cost tracks the
    // frontier, not the cumulative reach); the naive full-table
    // re-join face stays as the spec-equivalence baseline
    "graph_bfs" -> { (s, dir) =>
      val seeds = Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") === 1)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      bfsHopsDelta(coPurchaseEdges(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem")), seeds)
    },
    "graph_pagerank" -> ((s, dir) =>
      pageRank(coPurchaseEdges(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem")))),
    "graph_triangles" -> ((s, dir) =>
      triangleCounts(coSupplyEdges(Tables.load(s, dir, "lineitem")))))

  /** Full 3-iteration replay in chained CTEs: edge derivation, degree
    * table, the fixed-point teleport and contribution floors — every
    * intermediate rank is integer-exact, so the hash carries the whole
    * iteration history, not a rounded endpoint. */
  def oracleSql: Map[String, String] = Map(
    // same derivation, same integer bit-length bucket; COUNT stays
    // BIGINT but the SUM re-casts (HUGEINT seam)
    "graph_degree_audit" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS MATERIALIZED (
        |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
        |SELECT LENGTH(BIN(deg)) - 1 AS bucket,
        |  COUNT(*) AS n_nodes,
        |  CAST(MIN(deg) AS BIGINT) AS min_deg,
        |  CAST(MAX(deg) AS BIGINT) AS max_deg,
        |  CAST(SUM(deg) AS BIGINT) AS edge_mass
        |FROM deg GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the DEFINITION, not the algorithm: min reachable node id by
    // recursive closure — hash equality proves the engine's
    // star-round resolver converged to the exact fixpoint
    // the same three peels unrolled: cut / induce / recount per round,
    // COUNT stays BIGINT, removal-round and final-degree COALESCEd
    "graph_kcore" ->
      """WITH os AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.ok = y.ok AND x.s < y.s
        |  WHERE (((x.s * 100003 + y.s) % 1000003) * 2654435761) % (20 * GREATEST(1, ((SELECT COUNT(*) FROM lineitem) + 999999) // 1000000)) = 0),
        |e AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b AS src, a AS dst FROM e0),
        |d0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
        |a1 AS MATERIALIZED (SELECT node FROM d0 WHERE deg >= 2),
        |r1 AS MATERIALIZED (SELECT node, 1 AS rr FROM d0 WHERE deg < 2),
        |e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e
        |       JOIN a1 x ON e.src = x.node JOIN a1 y ON e.dst = y.node),
        |d1 AS MATERIALIZED (SELECT a1.node, COALESCE(c.deg, 0) AS deg FROM a1
        |       LEFT JOIN (SELECT src AS node, COUNT(*) AS deg
        |                  FROM e1 GROUP BY src) c ON a1.node = c.node),
        |a2 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 2),
        |r2 AS MATERIALIZED (SELECT node, 2 AS rr FROM d1 WHERE deg < 2),
        |e2 AS MATERIALIZED (SELECT e1.src, e1.dst FROM e1
        |       JOIN a2 x ON e1.src = x.node JOIN a2 y ON e1.dst = y.node),
        |d2 AS MATERIALIZED (SELECT a2.node, COALESCE(c.deg, 0) AS deg FROM a2
        |       LEFT JOIN (SELECT src AS node, COUNT(*) AS deg
        |                  FROM e2 GROUP BY src) c ON a2.node = c.node),
        |a3 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 2),
        |r3 AS MATERIALIZED (SELECT node, 3 AS rr FROM d2 WHERE deg < 2),
        |e3 AS MATERIALIZED (SELECT e2.src, e2.dst FROM e2
        |       JOIN a3 x ON e2.src = x.node JOIN a3 y ON e2.dst = y.node),
        |d3 AS MATERIALIZED (SELECT a3.node, COALESCE(c.deg, 0) AS deg FROM a3
        |       LEFT JOIN (SELECT src AS node, COUNT(*) AS deg
        |                  FROM e3 GROUP BY src) c ON a3.node = c.node),
        |rm AS MATERIALIZED (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |       UNION ALL SELECT * FROM r3)
        |SELECT d0.node, d0.deg AS deg0,
        |  CAST(COALESCE(rm.rr, 0) AS BIGINT) AS removed_round,
        |  rm.rr IS NULL AS in_core,
        |  CAST(COALESCE(d3.deg, 0) AS BIGINT) AS deg_final
        |FROM d0 LEFT JOIN rm ON rm.node = d0.node
        |LEFT JOIN d3 ON d3.node = d0.node
        |ORDER BY d0.node""".stripMargin,
    "graph_cc" ->
      """WITH RECURSIVE os AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.ok = y.ok AND x.s < y.s
        |  WHERE (((x.s * 100003 + y.s) % 1000003) * 2654435761) % (20 * GREATEST(1, ((SELECT COUNT(*) FROM lineitem) + 999999) // 1000000)) = 0),
        |edges AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b AS src, a AS dst FROM e0),
        |reach AS (
        |  SELECT src AS v, src AS l FROM edges
        |  UNION
        |  SELECT e.dst AS v, r.l AS l
        |  FROM reach r JOIN edges e ON r.v = e.src)
        |SELECT v AS node, MIN(l) AS comp
        |FROM reach GROUP BY v ORDER BY node""".stripMargin,
    // full 3-hop min-plus replay: same edge derivation, same seed set,
    // one chained CTE per hop — every intermediate distance exact
    "graph_bfs" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |d0 AS (
        |  SELECT s_suppkey * 2 + 1 AS node, 0 AS dist
        |  FROM supplier WHERE s_nationkey = 1),
        |d1 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT e.dst AS node, d.dist + 1 AS dist
        |  FROM d0 d JOIN edges e ON d.node = e.src
        |  UNION ALL SELECT node, dist FROM d0) u GROUP BY node),
        |d2 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT e.dst AS node, d.dist + 1 AS dist
        |  FROM d1 d JOIN edges e ON d.node = e.src
        |  UNION ALL SELECT node, dist FROM d1) u GROUP BY node),
        |d3 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT e.dst AS node, d.dist + 1 AS dist
        |  FROM d2 d JOIN edges e ON d.node = e.src
        |  UNION ALL SELECT node, dist FROM d2) u GROUP BY node)
        |SELECT node, CAST(dist AS BIGINT) AS dist
        |FROM d3 ORDER BY node""".stripMargin,
    "graph_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT COUNT(*) AS n FROM deg),
        |r0 AS (SELECT src AS node, 1000000000000 // n AS r FROM deg, nn),
        |r1 AS (
        |  SELECT e.dst AS node,
        |    3000000000000 // (20 * (SELECT n FROM nn)) +
        |    CAST(SUM((r.r * 17) // (20 * d.deg)) AS BIGINT) AS r
        |  FROM edges e JOIN r0 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r2 AS (
        |  SELECT e.dst AS node,
        |    3000000000000 // (20 * (SELECT n FROM nn)) +
        |    CAST(SUM((r.r * 17) // (20 * d.deg)) AS BIGINT) AS r
        |  FROM edges e JOIN r1 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r3 AS (
        |  SELECT e.dst AS node,
        |    3000000000000 // (20 * (SELECT n FROM nn)) +
        |    CAST(SUM((r.r * 17) // (20 * d.deg)) AS BIGINT) AS r
        |  FROM edges e JOIN r2 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY e.dst)
        |SELECT node, r AS rank_fp, CAST(r AS DOUBLE) / 1e12 AS rank_r
        |FROM r3 ORDER BY node""".stripMargin,

    // full replay: co-supply pairing, the DOULION sample hash, degree
    // table, (deg, id) orientation, wedge enumeration at the lowest-
    // rank corner, EXISTS closing check, per-node participation — all
    // integer-exact, so the hash carries the complete algorithm
    "graph_triangles" ->
      """WITH os AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.ok = y.ok AND x.s < y.s
        |  WHERE (((x.s * 100003 + y.s) % 1000003) * 2654435761) % (20 * GREATEST(1, ((SELECT COUNT(*) FROM lineitem) + 999999) // 1000000)) = 0),
        |deg AS MATERIALIZED (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) u
        |  GROUP BY v),
        |o AS MATERIALIZED (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |      THEN e.a ELSE e.b END AS src,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |      THEN e.b ELSE e.a END AS dst,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |      THEN db.deg ELSE da.deg END AS ddeg
        |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |tri AS MATERIALIZED (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src
        |    AND (e1.ddeg < e2.ddeg
        |      OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        |  WHERE EXISTS (SELECT 1 FROM o e3
        |                WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
        |per AS MATERIALIZED (
        |  SELECT v, COUNT(*) AS c FROM (
        |    SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        |    UNION ALL SELECT z AS v FROM tri) u
        |  GROUP BY v)
        |SELECT deg.v AS node, CAST(COALESCE(per.c, 0) AS BIGINT) AS n_tri
        |FROM deg LEFT JOIN per ON deg.v = per.v
        |ORDER BY node""".stripMargin,

    // full replay of the hub-capped common-neighbor pipeline: same
    // edge derivation + DOULION hash as graph_cc, undirected degree
    // table, sub-cap wedge pivots, non-adjacent pair counting, and
    // the fixed-point Jaccard rank. Every SUM-free aggregate stays
    // BIGINT; the divisions are explicit CASTs so no HUGEINT leaks
    "graph_link_pred" ->
      """WITH os AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.ok = y.ok AND x.s < y.s
        |  WHERE (((x.s * 100003 + y.s) % 1000003) * 2654435761) % (20 * GREATEST(1, ((SELECT COUNT(*) FROM lineitem) + 999999) // 1000000)) = 0),
        |bi AS (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b AS src, a AS dst FROM e0),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM bi GROUP BY src),
        |centers AS (
        |  SELECT b1.src, b1.dst FROM bi b1 JOIN deg d ON b1.src = d.src
        |  WHERE d.deg <= 64),
        |cand AS (
        |  SELECT c1.dst AS a, c2.dst AS b, COUNT(*) AS common
        |  FROM centers c1 JOIN centers c2
        |    ON c1.src = c2.src AND c1.dst < c2.dst
        |  GROUP BY c1.dst, c2.dst),
        |nonadj AS (
        |  SELECT * FROM cand c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e0 e WHERE e.a = c.a AND e.b = c.b))
        |SELECT n.a, n.b, CAST(n.common AS BIGINT) AS common,
        |  CAST(da.deg + db.deg - n.common AS BIGINT) AS n_union,
        |  CAST((n.common * 1000000) // (da.deg + db.deg - n.common)
        |    AS BIGINT) AS jac_fp
        |FROM nonadj n
        |JOIN deg da ON n.a = da.src JOIN deg db ON n.b = db.src
        |ORDER BY jac_fp DESC, n.a, n.b LIMIT 20""".stripMargin,

    // full 3-round replay of the sync min-tie label propagation: one
    // chained CTE per round, each the same count + ROW_NUMBER argmax
    // the engine's window computes — the hash carries every
    // intermediate label table
    "graph_label_prop" ->
      """WITH os AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.ok = y.ok AND x.s < y.s
        |  WHERE (((x.s * 100003 + y.s) % 1000003) * 2654435761) % (20 * GREATEST(1, ((SELECT COUNT(*) FROM lineitem) + 999999) // 1000000)) = 0),
        |edges AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b AS src, a AS dst FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        |l1 AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT e.dst AS node, l.lbl, ROW_NUMBER() OVER (
        |      PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM edges e JOIN l0 l ON e.src = l.node
        |    GROUP BY e.dst, l.lbl) t WHERE rn = 1),
        |l2 AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT e.dst AS node, l.lbl, ROW_NUMBER() OVER (
        |      PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM edges e JOIN l1 l ON e.src = l.node
        |    GROUP BY e.dst, l.lbl) t WHERE rn = 1),
        |l3 AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT e.dst AS node, l.lbl, ROW_NUMBER() OVER (
        |      PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM edges e JOIN l2 l ON e.src = l.node
        |    GROUP BY e.dst, l.lbl) t WHERE rn = 1)
        |SELECT node, lbl AS community FROM l3 ORDER BY node""".stripMargin,

    // the same 3-round propagation replay, then the integer modularity
    // identity: contrib_fp = 4·m·e_in − d_tot² (HUGEINT seams re-cast)
    "graph_modularity" ->
      """WITH os AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.ok = y.ok AND x.s < y.s
        |  WHERE (((x.s * 100003 + y.s) % 1000003) * 2654435761) % (20 * GREATEST(1, ((SELECT COUNT(*) FROM lineitem) + 999999) // 1000000)) = 0),
        |edges AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b AS src, a AS dst FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        |l1 AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT e.dst AS node, l.lbl, ROW_NUMBER() OVER (
        |      PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM edges e JOIN l0 l ON e.src = l.node
        |    GROUP BY e.dst, l.lbl) t WHERE rn = 1),
        |l2 AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT e.dst AS node, l.lbl, ROW_NUMBER() OVER (
        |      PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM edges e JOIN l1 l ON e.src = l.node
        |    GROUP BY e.dst, l.lbl) t WHERE rn = 1),
        |l3 AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT e.dst AS node, l.lbl, ROW_NUMBER() OVER (
        |      PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM edges e JOIN l2 l ON e.src = l.node
        |    GROUP BY e.dst, l.lbl) t WHERE rn = 1),
        |comm AS MATERIALIZED (SELECT node, lbl AS community FROM l3),
        |mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM e0),
        |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg
        |        FROM edges GROUP BY src),
        |cstat AS MATERIALIZED (
        |  SELECT c.community, COUNT(*) AS n_nodes, SUM(d.deg) AS d_tot
        |  FROM comm c JOIN deg d ON c.node = d.node
        |  GROUP BY c.community),
        |ein AS MATERIALIZED (
        |  SELECT ca.community, COUNT(*) AS e_in
        |  FROM e0 e
        |  JOIN comm ca ON e.a = ca.node
        |  JOIN comm cb ON e.b = cb.node
        |  WHERE ca.community = cb.community
        |  GROUP BY ca.community)
        |SELECT s.community,
        |  CAST(s.n_nodes AS BIGINT) AS n_nodes,
        |  CAST(COALESCE(ei.e_in, 0) AS BIGINT) AS e_in,
        |  CAST(s.d_tot AS BIGINT) AS d_tot,
        |  CAST(4 * mm.m * COALESCE(ei.e_in, 0) - s.d_tot * s.d_tot
        |    AS BIGINT) AS contrib_fp
        |FROM cstat s CROSS JOIN mm
        |LEFT JOIN ein ei ON s.community = ei.community
        |ORDER BY s.community""".stripMargin)
}
