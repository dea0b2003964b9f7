package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics as plain DataFrame joins — the family
  * member t17 (connected components) lacks: importance scoring over a
  * data-derived graph. The reference has no graph operator; this is
  * part of the round-6 training-data-pipeline extension surface (a
  * crawl/citation graph's PageRank is a standard quality prior for
  * corpus sampling, cf. Common Crawl's harmonic-centrality ranks).
  *
  * Scale design: the graph lives as TWO distributed relations (edges,
  * degrees) partitioned by node id; one PageRank iteration is one
  * shuffle (edge join on src + re-aggregation on dst) — the exact
  * Pregel-on-DataFrames shape t17 uses for label propagation.
  * Iteration count is fixed (k=5), so the plan is statically unrolled
  * and AQE sizes every stage; at cluster scale each iteration would
  * cut lineage with a checkpoint pinned through the session memo's
  * round loop (as g5 does), which changes nothing semantic.
  *
  * Determinism: ranks are FIXED-POINT integers (micro-units of 1e-12,
  * the a24 integer-exact discipline) — `rank div deg` and the
  * damping mix use integer floor division only, so Spark and the
  * DuckDB oracle (same ops, unrolled CTEs) agree bit-for-bit; no
  * float summation order anywhere. The readable `rank` double is one
  * final division, deterministic on both engines.
  */
object Graph {

  /** Fixed-point scale: 1 rank unit = 1e-12. */
  val Scale = 1000000000000L

  /** The whole g-family reads ONE bipartite backbone: the distinct
    * (part, supplier) relation, hash-partitioned on part and cached
    * per (session, dir) — g1/g5's edge build, g3/g4's co-occurrence
    * self-join and g6's weighted pair-gen all used to re-run the same
    * lineitem scan + distinct independently (a full fact-table shuffle
    * each). Partitioning on `p` makes every downstream p-keyed
    * operation (the pair self-joins, g6's part-degree groupBy+join)
    * exchange-free. At cluster scale this relation IS the graph's
    * storage layout — a bucketed edge table. */
  private[graft] def psRel(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.cached(s, "Graph.ps", d)(graft.Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
      // ONE exchange, not two: hash(p) satisfies the distinct's
      // ClusteredDistribution(p, sup), so repartitioning FIRST makes
      // the dedup partition-local AND leaves the relation in the
      // p-partitioned layout every consumer wants — the old
      // distinct-then-repartition shape paid a second full exchange
      // and ran the partial aggregate inside the (single-split) scan
      // task (measured 6.5 s → 1.5 s for the cold build at sf0.1)
      .repartition(col("p"))
      .distinct())

  /** The co-occurrence pair relation (s_a < s_b, shared-part support)
    * both g3 and g4 consume — one self-join per session, not two.
    * Exchange-free on both sides: psRel is already partitioned on the
    * join key. */
  private[graft] def coPairs(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.cached(s, "Graph.copairs", d) {
      val ps = psRel(s, d)
      ps.as("a")
        .join(ps.as("b"),
          col("a.p") === col("b.p") && col("a.sup") < col("b.sup"))
        .groupBy(col("a.sup").as("s_a"), col("b.sup").as("s_b"))
        .agg(count(lit(1)).as("n_shared"))
    }

  /** Undirected bipartite part↔supplier graph from distinct lineitem
    * (l_partkey, l_suppkey) pairs; node ids disambiguate the two key
    * spaces by parity (part = 2k, supplier = 2k+1). Rides [[psRel]] —
    * (p, sup) distinct implies (src, dst) distinct, so no re-dedup. */
  private[graft] def edgesOf(s: SparkSession, d: String): DataFrame = {
    val e0 = psRel(s, d)
      .select((col("p") * 2).as("src"), (col("sup") * 2 + 1).as("dst"))
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** g1 — PageRank, damping 0.85, k fixed iterations, fixed-point
    * integer arithmetic. Emits the top-20 nodes by rank.
    *
    * Per-iteration data movement: the EDGE relation is hash-partitioned
    * on src ONCE (repartition + cache — at cluster scale, a bucketed
    * table) and never moves again; each round exchanges only the rank
    * vector (O(|V|), 16 bytes/row) into the edge partitioning, partial-
    * aggregates contributions map-side, and joins the new ranks back to
    * the degree relation exchange-free (deg and the groupBy output share
    * hash(node) partitioning). The state carries (node, deg, r) so no
    * extra deg join is needed to form contributions. */
  def g1PageRank(s: SparkSession, d: String, k: Int = 5): DataFrame =
    pageRankOfAdj(adjBySrc(s, d), k)

  /** The pinned ADJACENCY backbone g1 and g5 both iterate over: one
    * row per node with its out-neighbor array and degree. Grouping the
    * flat edge list once means each iteration joins |V| adjacency rows
    * against the broadcast rank/frontier vector and explodes, instead
    * of probing all |E| flat rows through the hash join — measured 40%
    * less CPU per round at sf0.1 (|E|/|V| ≈ 56 here). At cluster scale
    * this relation IS the graph's storage layout — a node-keyed
    * adjacency table, the standard Pregel representation. */
  private[graft] def adjBySrc(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.cached(s, "Graph.adj_src", d)(adjOf(edgesOf(s, d)))

  /** Flat distinct (src, dst) edges → (node, dsts, deg) adjacency.
    * Neighbor-array ORDER is free (every consumer aggregates over the
    * exploded rows), so no sort is needed. */
  private def adjOf(edges: DataFrame): DataFrame =
    edges.groupBy("src")
      .agg(collect_list(col("dst")).as("dsts"))
      .select(col("src").as("node"), col("dsts"),
        size(col("dsts")).cast("long").as("deg"))

  private[graft] def pageRankOfAdj(adj: DataFrame, k: Int): DataFrame = {
    // the fused loop seeds round 1 unconditionally, so there is no
    // zero-round (uniform base vector) result to return
    require(k >= 1, s"k=$k: PageRank needs at least one round")
    val n = adj.count() // the only driver-side value: |V|, a scalar
    val base = Scale / n
    val teleport = (15L * base) / 100L
    // FUSED rounds (guide §2.4 / §1.2, round-10): the loop state is the
    // incoming-mass vector (node, inc), not the rank vector — the rank
    // r = teleport + 85·inc div 100 and the contribution c = r div deg
    // are computed INSIDE the one join that attaches the adjacency, so
    // each round is ONE co-partitioned hash join + the (fundamental)
    // rank-mass exchange instead of two joins (the old contrib build +
    // deg re-attach paid a second |V|-row hash build/probe per round:
    // 10 ShuffledHashJoins for k=5, now 5). Integer arithmetic is
    // unchanged term for term, so ranks are bit-identical.
    //
    // SHUFFLE_HASH pin on the node-scaled mass vector (g7/t10 rule):
    // adj is cached hash(node)-partitioned and each round's `incoming`
    // arrives hash(node)-partitioned from the previous round's
    // aggregate, so the pin makes every round a sort-free
    // co-partitioned hash join; the static planner otherwise plans
    // SMJ (unknown stats on the lazy chain) and re-sorts both sides
    // per round. At 100 TB a rank vector never broadcasts — this is
    // also the only scale-safe strategy.
    //
    // k is small and fixed, so the unrolled chain stays LAZY: one
    // execution at the end instead of k eager localCheckpoint
    // materializations (each a full job + block write — measured at
    // ~1.2 s/round of pure overhead on the sf0.1 bench, guide §1.2
    // "remove unnecessary passes"). The mass vector is O(|V|) and
    // consumed exactly once per round, so the lazy unroll re-executes
    // nothing; on a cluster a periodic reliable checkpoint (every ~10
    // rounds) would bound lineage for fault tolerance — with k=5 the
    // chain never grows past that bound, so there is nothing to cut.
    val rankOfInc = s"($teleport" + "L + (85 * coalesce(inc, 0L) div 100))"
    // round 1: every node holds rank = base, so its contribution is a
    // pure function of adj — no join needed to seed the loop
    var incoming = adj
      .select(explode(col("dsts")).as("node"),
        expr(s"${base}L div deg").as("c"))
      .groupBy("node")
      .agg(sum(col("c")).as("inc"))
    for (_ <- 2 to k) {
      incoming = adj.join(incoming.hint("SHUFFLE_HASH"), Seq("node"), "left")
        .select(explode(col("dsts")).as("node"),
          expr(s"$rankOfInc div deg").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("inc"))
    }
    val ranks = adj.select(col("node"), col("deg"))
      .join(incoming.hint("SHUFFLE_HASH"), Seq("node"), "left")
      .select(col("node"), col("deg"), expr(rankOfInc).as("r"))
    ranks
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(
        when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"),
        col("r").as("rank_fp"),
        (col("r").cast("double") / lit(1e12)).as("rank"))
  }

  /** g2 — CONNECTED COMPONENTS over the recurring-relationship graph
    * (part↔supplier pairs backed by ≥ 3 lineitems — the repeated-
    * business subgraph, which fragments into real clusters instead of
    * one hub blob): t17's min-label propagation reused verbatim on a
    * non-text graph, then a component census. The oracle re-derives
    * the closure with an independent algorithm (recursive-SQL
    * reachability), the same cross-check discipline as t17. */
  def g2Components(s: SparkSession, d: String): DataFrame = {
    val strong = graft.Tables.spread(s, d, "lineitem", col("l_orderkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3)
      .select((col("l_partkey") * 2).as("doc_a"),
        (col("l_suppkey") * 2 + 1).as("doc_b"))
    val nodes = strong.select(col("doc_a").as("doc_id"))
      .union(strong.select(col("doc_b").as("doc_id"))).distinct()
    TextOps.componentsOf(nodes, strong, Seq("g2", d))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
          .as("n_parts"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
          .as("n_suppliers"))
  }

  /** g3 — CO-SUPPLIER projection: supplier pairs ranked by how many
    * parts they both supply (the one-mode projection of the bipartite
    * graph — co-occurrence/triangle analysis). The pair join is
    * bounded PER PART (suppliers-per-part is a small constant at any
    * scale), so supplier×supplier never materializes; top-50 via
    * TakeOrdered; overlap reported as integer ppm Jaccard. */
  def g3CoSupplier(s: SparkSession, d: String): DataFrame = {
    val ps = psRel(s, d)
    val deg = ps.groupBy(col("sup")).agg(count(lit(1)).as("n_parts"))
    val pairs = coPairs(s, d)
    pairs
      .join(deg.select(col("sup").as("s_a"), col("n_parts").as("n_a")),
        Seq("s_a"))
      .join(deg.select(col("sup").as("s_b"), col("n_parts").as("n_b")),
        Seq("s_b"))
      .orderBy(col("n_shared").desc, col("s_a"), col("s_b"))
      .limit(50)
      .select(col("s_a"), col("s_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        expr("n_shared * 1000000 div (n_a + n_b - n_shared)")
          .as("jaccard_ppm"))
  }

  /** g4 — TRIANGLE CENSUS on the co-supplier backbone: the top-2000
    * strongest co-supplier edges (by shared-part support, ties by id —
    * deterministic at every SF), counted by the degree-ordered
    * node-iterator: each edge is oriented from its lower-(degree, id)
    * endpoint to the higher, wedges are generated only at an edge's
    * LOW endpoint, and a wedge closes into a triangle iff its far pair
    * is itself an oriented edge. Orientation bounds wedge fan-out by
    * out-degree (≤ √|E| on any graph — the Schank/Wagner bound), which
    * is what makes distributed triangle counting tractable: the naive
    * 3-way edge self-join generates Σ deg² wedges at hubs. The
    * backbone cap bounds the motif census at any corpus scale; the
    * full-graph count is the same plan minus the top-k. Emits one row:
    * |V|, |E|, open-wedge count Σ C(deg,2), triangle count, and the
    * global clustering coefficient in integer ppm. */
  def g4Triangles(s: SparkSession, d: String): DataFrame = {
    val edges = backboneEdges(s, d)
    val deg = edges.select(explode(array(col("s_a"), col("s_b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = backboneOriented(s, d)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      .select(col("e1.v").as("v"), col("e2.v").as("w"))
    val closed = wedges.join(oriented.select(col("u").as("v"),
      col("v").as("w")), Seq("v", "w"), "left_semi")
    val wedgeTotal = deg
      .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedgeTotal)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("3 * n_triangles * 1000000 div n_wedges")
          .as("clustering_ppm"))
  }

  /** The top-2000 co-supplier backbone (by shared-part support, ties
    * by id — deterministic at every SF) g4 and g9 share: consumed 4×
    * per query (degrees, both orientation joins, |E|) and by both
    * queries per session, so it rides the session memo like psRel /
    * coPairs. ≤ 2000 rows by construction — always cheap to pin. */
  private[graft] def backboneEdges(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.cached(s, "Graph.bb_edges", d)(coPairs(s, d)
      .orderBy(col("n_shared").desc, col("s_a"), col("s_b"))
      .limit(2000)
      .select("s_a", "s_b"))

  /** The degree-ordered orientation of [[backboneEdges]]: each edge
    * directed from its lower-(deg, id) endpoint (total order packed
    * into one collision-free long), which bounds wedge fan-out by
    * out-degree — the Schank/Wagner bound that makes distributed
    * triangle counting tractable. Consumed 3× per query (both wedge
    * sides + the closure probe) by g4 AND g9 → session memo. */
  private[graft] def backboneOriented(s: SparkSession, d: String)
      : DataFrame =
    graft.SessionMemo.cached(s, "Graph.bb_oriented", d) {
      val edges = backboneEdges(s, d)
      val deg = edges
        .select(explode(array(col("s_a"), col("s_b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keyed = deg.select(col("node"),
        (col("deg") * lit(1000000000000L) + col("node")).as("k"))
      edges
        .join(keyed.select(col("node").as("s_a"), col("k").as("ka")),
          "s_a")
        .join(keyed.select(col("node").as("s_b"), col("k").as("kb")),
          "s_b")
        .select(
          when(col("ka") < col("kb"), col("s_a")).otherwise(col("s_b"))
            .as("u"),
          when(col("ka") < col("kb"), col("s_b")).otherwise(col("s_a"))
            .as("v"),
          when(col("ka") < col("kb"), col("kb")).otherwise(col("ka"))
            .as("kv"))
    }

  /** g9 — LOCAL CLUSTERING COEFFICIENTS on the g4 backbone: the
    * per-vertex refinement of g4's global census — for every node of
    * degree ≥ 2, its triangle count and lcc = 2·tri/(deg·(deg−1)) in
    * exact integer ppm. The node-level "is this supplier embedded in
    * a tight clique or a star hub" signal that community detection
    * and fraud heuristics read. Same degree-ordered wedge generation
    * as g4 (fan-out bounded by out-degree), but the closure is an
    * INNER join keeping the wedge center so each triangle explodes
    * into its three member nodes exactly once; node space is bounded
    * by the 2000-edge backbone at any SF. */
  def g9LocalClustering(s: SparkSession, d: String): DataFrame = {
    val edges = backboneEdges(s, d)
    val deg = edges.select(explode(array(col("s_a"), col("s_b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = backboneOriented(s, d)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      .select(col("e1.u").as("u"), col("e1.v").as("v"),
        col("e2.v").as("w"))
    val triNodes = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(triNodes, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("coalesce(n_tri, 0) * 2000000 div (deg * (deg - 1))")
          .as("lcc_ppm"))
  }

  /** g5 — MULTI-SOURCE BFS (bounded frontier expansion): exact
    * shortest-hop distances from a fixed seed set (suppliers 0–4)
    * over the bipartite part↔supplier graph, 4 rounds statically
    * unrolled — one hash join + min-aggregation per round, the g1
    * iteration shape with distance instead of rank. Emits the hop
    * histogram plus an `unreached` row (dist −1): the coverage
    * profile a crawl-frontier or influence analysis reads. The
    * oracle re-derives reachability with recursive SQL capped at the
    * same depth — independent algorithm, identical min-hop counts. */
  def g5BfsHops(s: SparkSession, d: String, rounds: Int = 4)
      : DataFrame = {
    val adj = adjBySrc(s, d)
    // adjacency keys ARE the distinct node set — no extra dedup pass
    val nodes = adj.select(col("node"))
    graft.SessionMemo.rounds(s, "Graph.g5", rounds, d)(_.checkpoint(nodes
      .filter(col("node") % 2 === 1 && expr("node div 2") < 5)
      .select(col("node"), lit(0L).as("dist")))) { (dist, round, pins) =>
      val next = adj.join(dist, Seq("node"))
        .select(explode(col("dsts")).as("node"),
          (col("dist") + 1L).as("dist"))
      // UNLIKE g1, each round reads the previous distance vector
      // TWICE (the frontier join + the min-union) — a lazy unroll
      // re-executes the whole prefix 2^rounds times (measured 2.3×
      // slower at sf0.1), so the per-round eager pin stays
      (pins.checkpoint(dist.unionByName(next)
        .groupBy("node").agg(min(col("dist")).as("dist"))),
        round == rounds)
    } { dist =>
      val reached = dist.groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"))
      val unreached = nodes.join(dist, Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1L).as("dist"), col("n_nodes"))
      reached.unionByName(unreached).filter(col("n_nodes") > 0)
    }
  }

  /** g6 — LINK PREDICTION by the Resource-Allocation index: supplier
    * pairs scored by Σ_p 1/deg(p) over their shared parts — RA is the
    * Zhou/Lü/Zhang weighting that discounts hub intermediaries (a
    * shared rare part is strong evidence, a shared commodity part is
    * weak), the standard upgrade over g3's raw co-occurrence count.
    *
    * Scale: pair generation is the same shared-neighbor self-join as
    * g3, with fan-out per part C(deg,2) — bounded here by TPC-H's ≤4
    * suppliers/part and, on open-world graphs, by the documented hub
    * cap (deg ≤ 64: a hub's pairs carry ≤ 1/64 weight each, so the cap
    * trims quadratic work that contributes almost nothing to scores —
    * both engines apply the identical cut). Scores are fixed-point
    * integer (micro-units, floor-divided per term) so Spark and DuckDB
    * agree bit-for-bit with no float summation order anywhere. */
  def g6ResourceAlloc(s: SparkSession, d: String): DataFrame = {
    val ps = psRel(s, d)
    val pd = ps.groupBy(col("p")).agg(count(lit(1)).as("pdeg"))
      .filter(col("pdeg") <= 64)
    val capped = ps.join(pd, Seq("p"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.p") === col("b.p") && col("a.sup") < col("b.sup"))
      .select(col("a.sup").as("s_a"), col("b.sup").as("s_b"),
        expr("1000000 div a.pdeg").as("w"))
      .groupBy("s_a", "s_b")
      .agg(count(lit(1)).as("n_shared"), sum(col("w")).as("ra_micro"))
      .orderBy(col("ra_micro").desc, col("s_a"), col("s_b"))
      .limit(30)
  }

  /** g7 — K-CORE EXTRACTION: the densest-community backbone of the
    * strong co-supplier graph — iteratively peel nodes whose degree
    * drops below k until fixpoint; what survives is the 3-core, the
    * standard "remove the long tail, keep the mutually-dense cluster"
    * graph-curation primitive. Peeling is the canonical DISTRIBUTED
    * decomposition shape: each round is one degree aggregate + two
    * SHUFFLE_HASH anti-joins on the edge relation (pinned — the drop
    * set is node-scaled, never broadcastable at 100 TB), each round's
    * survivors eagerly checkpointed through the memo's round loop so
    * round-r plans don't nest round-r−1, and the superseded round's
    * checkpoint freed. Rounds are diameter-ish-bounded (degree
    * peeling converges in a handful of rounds on co-occurrence
    * graphs); a silent cap would return a WRONG core, so the loop
    * throws loudly at maxIters. The oracle unrolls the same peel a
    * fixed 10 rounds (the g1 unroll pattern) — since Spark proves
    * fixpoint within its cap, the extra oracle rounds are no-ops and
    * the results must match exactly. */
  def g7Kcore(s: SparkSession, d: String): DataFrame =
    kcoreOf(coPairs(s, d).filter(col("n_shared") >= 2)
      .select(col("s_a"), col("s_b")), k = 3, Seq("g7", d))

  /** The k-core of `pairs`, a loop entry keyed by `source` (the caller's
    * name for `pairs`), `k` and `maxIters`. */
  private[graft] def kcoreOf(pairs: DataFrame, k: Int, source: Seq[Any],
      maxIters: Int = 10): DataFrame =
    graft.SessionMemo.rounds(pairs.sparkSession, "Graph.kcore", maxIters,
      source :+ k: _*)(_.checkpoint(pairs.unionByName(
        pairs.select(col("s_b").as("s_a"), col("s_a").as("s_b"))))) {
      (alive, _, pins) =>
        val drop = alive.groupBy("s_a").agg(count(lit(1)).as("deg"))
          .filter(col("deg") < k).select(col("s_a").as("gone"))
        // the fixpoint-confirming round peels nothing and ends the
        // loop, so a core within the cap needs ≤ maxIters − 1 peels and
        // the oracle's 10-round unroll covers it
        if (drop.isEmpty) (alive, true)
        else (pins.checkpoint(alive
          .join(drop.hint("SHUFFLE_HASH"),
            col("s_a") === col("gone"), "left_anti")
          .join(drop.hint("SHUFFLE_HASH"),
            col("s_b") === col("gone"), "left_anti")), false)
    } { alive =>
      alive.groupBy("s_a").agg(count(lit(1)).as("core_deg"))
        .select(col("s_a").as("supplier"), col("core_deg"))
    }

  /** g8 — MAXIMUM-SIMILARITY SPANNING FOREST (Borůvka over the
    * co-supplier backbone): the classic "backbone extraction" of a
    * similarity graph — keep the strongest acyclic skeleton, the
    * structure-summary tool (Tumminello et al.'s MST of correlation
    * graphs; NetworkX `maximum_spanning_tree`) a corpus-relations or
    * supplier-network analysis runs. Implemented as distributed
    * Borůvka: each round every component picks its minimum-key
    * incident crossing edge (key = (1M − n_shared, s_a, s_b) packed
    * into one collision-free long — MAX similarity under an ascending
    * total order with deterministic ties), picked edges join the
    * forest, components merge via the shared label-propagation
    * closure. Rounds halve the component count, so the loop is
    * O(log V) with the g7-style loud cap; per-round state is
    * component-scaled (suppliers, a dimension, never the fact table).
    * The oracle does NOT mirror Borůvka: it reads the dumped forest
    * and independently verifies the MSF CERTIFICATE — tree ⊆ edges,
    * spanning with G's exact components, |T| = |V| − c, and the cycle
    * property per non-tree edge (endpoints connected through strictly
    * smaller-key tree edges via a keyed recursive closure) — which for
    * distinct keys characterizes the unique MSF; any violation poisons
    * the oracle relation and fails the hash gate loudly. */
  /** The keyed top-2000 backbone g8 runs on: key = (1M − n_shared,
    * s_a, s_b) packed into one collision-free ascending long
    * (n_shared < 1M and supplier ids < 2^20 at any plausible SF —
    * both dimension-scaled). */
  private[graft] def g8Backbone(s: SparkSession, d: String): DataFrame =
    coPairs(s, d)
      .orderBy(col("n_shared").desc, col("s_a"), col("s_b"))
      .limit(2000)
      .select(col("s_a").as("a"), col("s_b").as("b"), col("n_shared"),
        ((lit(1000000L) - col("n_shared")) * lit(1099511627776L) +
          col("s_a") * lit(1048576L) + col("s_b")).as("k"))

  def g8SpanningForest(s: SparkSession, d: String,
      maxIters: Int = 16): DataFrame = {
    import s.implicits._
    // session-memoized pin: g8 runs twice per Verify (the OpLake g8_msf
    // dump + the query itself) — a per-call .cache() double-registered
    // the identical plan (the last "already cached" warning standing)
    val edges =
      graft.SessionMemo.cached(s, "Graph.g8_edges", d)(g8Backbone(s, d))
    // forest edges and the per-round component merges are both
    // COMPONENT-scaled (≤ suppliers, a dimension) — the same
    // bounded-driver-model class as the k-means centroids: the heavy
    // relation (edges × labels, the per-component min selection) stays
    // distributed; only the ≤|V|-row round result lands on the driver.
    // The forest is local rows, so the loop frees every label pin.
    val treeBuf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    graft.SessionMemo.rounds(s, "Graph.g8", maxIters, d)(_.checkpoint(
      edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node"))).distinct()
        .select(col("node"), col("node").as("comp")))) {
      (labels, _, pins) =>
        val la = labels.select(col("node").as("a"), col("comp").as("ca"))
        val lb = labels.select(col("node").as("b"), col("comp").as("cb"))
        val e = struct(col("k"), col("a"), col("b"), col("n_shared"),
          col("ca"), col("cb"))
        val chosen = edges.join(la, Seq("a")).join(lb, Seq("b"))
          .filter(col("ca") =!= col("cb"))
          .select(col("ca").as("c"), e.as("e"))
          .union(edges.join(la, Seq("a")).join(lb, Seq("b"))
            .filter(col("ca") =!= col("cb"))
            .select(col("cb").as("c"), e.as("e")))
          .groupBy("c").agg(min(col("e")).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"),
            col("e.n_shared").as("n_shared"),
            col("e.ca").as("ca"), col("e.cb").as("cb"))
          .distinct()
          .collect()
        if (chosen.isEmpty) (labels, true)
        else {
          treeBuf ++= chosen.map(r => (r.getAs[Long]("a"),
            r.getAs[Long]("b"), r.getAs[Long]("n_shared")))
          // driver union-find over the round's component merges
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            val p = parent.getOrElse(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          chosen.foreach { r =>
            val (ra, rb) =
              (find(r.getAs[Long]("ca")), find(r.getAs[Long]("cb")))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val mapping = parent.keys.map(c => (c, find(c))).toSeq
            .filter { case (c, r) => c != r }
          (pins.checkpoint(labels
            .join(broadcast(mapping.toDF("comp", "newc")),
              Seq("comp"), "left")
            .select(col("node"),
              coalesce(col("newc"), col("comp")).as("comp"))), false)
        }
    }(_ => treeBuf.toSeq.toDF("a", "b", "n_shared"))
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g8_spanning_forest" -> ((s: SparkSession, d: String) =>
      g8SpanningForest(s, d)),
    "g7_kcore" -> g7Kcore _,
    "g6_resource_alloc" -> g6ResourceAlloc _,
    "g1_pagerank" -> ((s: SparkSession, d: String) => g1PageRank(s, d)),
    "g2_components" -> g2Components _,
    "g3_cosupplier" -> g3CoSupplier _,
    "g4_triangles" -> g4Triangles _,
    "g9_local_clustering" -> g9LocalClustering _,
    "g5_bfs_hops" -> ((s: SparkSession, d: String) => g5BfsHops(s, d)))

  /** Scale-stress probes (diag-only, the z-family convention):
    * the graph at `stressReps`× — every replica is a disjoint copy of
    * the base bipartite graph, so |V| and |E| scale linearly while
    * the per-iteration shape (one rank-vector exchange against the
    * stationary edge partitioning) must stay identical. */
  def diag: Map[String, (SparkSession, String) => DataFrame] = Map(
    // disjoint replicas of the strong co-supplier graph: each replica
    // peels independently, so the stress 3-core must be exactly
    // stressReps copies of the base core (closed-form check in the
    // TimeOne log: rows = reps × base rows) while per-round work
    // scales linearly
    "z24_g7_20x" -> ((s: SparkSession, d: String) => {
      val base = coPairs(s, d).filter(col("n_shared") >= 2)
        .select(col("s_a"), col("s_b"))
      val reps = (0 until TextOps.stressReps)
        .map(i => base.select(
          (col("s_a") + lit(i * 1000000L)).as("s_a"),
          (col("s_b") + lit(i * 1000000L)).as("s_b")))
        .reduce(_ unionByName _)
      kcoreOf(reps, k = 3, Seq("z24", d, TextOps.stressReps))
    }),
    "z23_g1_20x" -> ((s: SparkSession, d: String) => {
      val reps = TextOps.stressReps
      val edges = graft.SessionMemo.cached(s, "Graph.z23_edges", d, reps)(
        stressEdges(s, d).repartition(col("src")))
      pageRankOfAdj(graft.SessionMemo.cached(s, "Graph.z23_adj", d, reps)(
        adjOf(edges)), 5)
    }),
    // the UNCACHED 100-TB-shape variant: identical 20× graph, but the
    // stationary relations are checkpointed entries (eager
    // localCheckpoint: lineage-cut blocks) instead of cached ones — the
    // per-iteration cluster recipe from the g1 header, measured instead
    // of argued. Results must be bit-identical to z23 (same fixed-point
    // arithmetic).
    "z27_g1_20x_lineagecut" -> ((s: SparkSession, d: String) => {
      val reps = TextOps.stressReps
      val edges = graft.SessionMemo.checkpointed(s, "Graph.z27_edges", d,
        reps)(stressEdges(s, d).repartition(col("src")))
      pageRankOfAdj(graft.SessionMemo.checkpointed(s, "Graph.z27_adj", d,
        reps)(adjOf(edges)), 5)
    }))

  private def stressEdges(s: SparkSession, d: String): DataFrame = {
    val reps = (0 until TextOps.stressReps)
      .map(i => graft.Tables.lineitem(s, d)
        .select((col("l_partkey") + lit(i * 1000000L)).as("p"),
          (col("l_suppkey") + lit(i * 1000000L)).as("q")))
      .reduce(_ unionByName _)
    val e0 = reps
      .select((col("p") * 2).as("src"), (col("q") * 2 + 1).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }
}
