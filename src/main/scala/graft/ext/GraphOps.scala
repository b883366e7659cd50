package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Relational graph statistics over an edge table — the similarity /
  * near-dup / transition graphs this engine mines are graphs, and the
  * first structural questions about them (is this cluster a clique or
  * a chain? is the graph transitive enough to trust closure?) are
  * triangle questions. Everything here is pure joins + aggregates over
  * (src, dst) pairs: no vertex program, no iteration, no driver state.
  */
object GraphOps {

  /** Upper bound on `rounds` for the lazily chained fixed-round loops
    * ([[labelPropagation]], [[pageRankFx]] and their blowup variants):
    * their plan depth grows linearly with `rounds` and analysis,
    * optimization and codegen superlinearly, all in one job. Catalog
    * callers use at most 8. */
  val MaxLazyRounds = 32

  private def requireRounds(op: String, rounds: Int): Unit =
    require(rounds >= 1 && rounds <= MaxLazyRounds,
      s"$op: rounds must be in [1, $MaxLazyRounds] (the lazy-chain " +
        s"limit GraphOps.MaxLazyRounds): $rounds")

  /** Per-node triangle count + local clustering coefficient over an
    * UNDIRECTED edge table (either orientation, duplicates and self
    * loops tolerated — edges canonicalize first).
    *
    * Algorithm: orient every edge from its (degree, id)-smaller
    * endpoint to its larger one — a total order, so each triangle
    * {a,b,c} materializes exactly once as the wedge (a→b, a→c) closed
    * by (b→c) with a < b < c in the order. The wedge self-join fans
    * out Σᵤ d⁺(u)² pairs where d⁺ is the ORIENTED out-degree, which
    * the (degree, id) orientation caps at O(√m) — total work O(m^1.5)
    * regardless of degree skew. This is the standard defense against
    * "the curse of the last reducer" (Suri & Vassilvitskii, WWW 2011;
    * Schank & Wagner 2005): a celebrity node of degree 10⁷ contributes
    * ~no wedges because its edges all point INTO it.
    *
    * Scale shape: degree = one grouped count over the exploded
    * endpoint stream; orientation = two id-keyed dimension joins; the
    * wedge join is keyed on the shared endpoint and the closing join
    * on the (v, w) pair — every exchange carries id pairs/triples
    * only. Per-triangle credit to all three corners is a 3-row explode
    * + grouped count. The clustering coefficient is exact integer ppm:
    * `2·tri·10⁶ div (deg·(deg−1))` in DECIMAL(38,0) (a 2³⁰-degree hub
    * would overflow the BIGINT product).
    *
    * Output, one row per node: `node`, `degree`, `n_triangles`,
    * `clustering_ppm` (0 for degree < 2 — undefined, pinned to 0). */
  def triangleStats(edges0: DataFrame, aCol: String,
                    bCol: String): DataFrame = {
    val e = edges0
      .select(least(col(aCol), col(bCol)).as("_lo"),
        greatest(col(aCol), col(bCol)).as("_hi"))
      .filter(col("_lo") =!= col("_hi"))
      .distinct()
    val deg = e.select(explode(array(col("_lo"), col("_hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val withDeg = e
      .join(deg.select(col("node").as("_lo"), col("degree").as("_dl")),
        Seq("_lo"))
      .join(deg.select(col("node").as("_hi"), col("degree").as("_dh")),
        Seq("_hi"))
      .withColumn("_fwd",
        struct(col("_dl"), col("_lo")) < struct(col("_dh"), col("_hi")))
    // oriented edge (src → dst) with the dst's (degree, id) carried for
    // the wedge ordering
    val oriented = withDeg.select(
      when(col("_fwd"), col("_lo")).otherwise(col("_hi")).as("_src"),
      when(col("_fwd"), col("_hi")).otherwise(col("_lo")).as("_dst"),
      when(col("_fwd"), col("_dh")).otherwise(col("_dl")).as("_dd"))
    val o1 = oriented.select(col("_src"), col("_dst").as("_v"),
      col("_dd").as("_vd"))
    val o2 = oriented.select(col("_src"), col("_dst").as("_w"),
      col("_dd").as("_wd"))
    val wedges = o1.join(o2, Seq("_src"))
      .filter(struct(col("_vd"), col("_v")) <
        struct(col("_wd"), col("_w")))
      .select(col("_src").as("_a"), col("_v"), col("_w"))
    val closing = oriented.select(col("_src").as("_v"),
      col("_dst").as("_w"))
    val tris = wedges.join(closing, Seq("_v", "_w"))
    val perNode = tris
      .select(explode(array(col("_a"), col("_v"), col("_w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2L,
          expr("cast(2 * cast(n_triangles as decimal(38,0)) * 1000000" +
            " div (cast(degree as decimal(38,0)) * (degree - 1))" +
            " as bigint)"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** k-core of an undirected graph — iterative peeling to the maximal
    * subgraph in which every node keeps degree ≥ k (Seidman 1983): the
    * density screen that separates a genuinely cohesive near-dup /
    * similarity cluster from a sprawl of pendant chains that
    * transitive closure happily glues together. Output: the surviving
    * nodes with their WITHIN-CORE degree.
    *
    * Each peel round is one grouped degree count + two semi-joins
    * (edges keep only endpoints still ≥ k) — every exchange carries
    * (node) or (lo, hi) ids only. Rounds materialize with eager
    * release of the previous frame (the [[graft.ext.DedupOps
    * .connectedComponents]] discipline: iterative lineage must be cut,
    * or round r replays rounds 1..r−1). Convergence probe: the edge
    * count only ever DECREASES, and a round that drops no node drops
    * no edge — equal consecutive counts ⇔ fixpoint, one cheap count
    * per round on a checkpoint-backed frame. Peeling needs at most
    * #nodes rounds in theory but collapses geometrically in practice;
    * `maxIter` is the runaway bound, hitting it raises rather than
    * returning a non-fixpoint. */
  def kCore(edges0: DataFrame, aCol: String, bCol: String, k: Int,
            maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1: $k")
    val eng = graft.engine.Engine
    var edges = eng.materialize(edges0
      .select(least(col(aCol), col(bCol)).as("_lo"),
        greatest(col(aCol), col(bCol)).as("_hi"))
      .filter(col("_lo") =!= col("_hi"))
      .distinct())
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("_lo"), col("_hi"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("_d"))
    var prev = edges.count()
    var round = 0
    var done = prev == 0L
    while (!done) {
      if (round >= maxIter)
        throw new IllegalStateException(
          s"kCore: no fixpoint within $maxIter rounds ($prev edges live)")
      val keep = degrees(edges).filter(col("_d") >= k).select(col("node"))
      val next = eng.materialize(edges
        .join(keep.select(col("node").as("_lo")), Seq("_lo"), "left_semi")
        .join(keep.select(col("node").as("_hi")), Seq("_hi"), "left_semi"))
      val c = next.count()
      if (c == prev) {
        eng.release(next) // identical content; keep the older frame
        done = true
      } else {
        eng.release(edges)
        edges = next
        prev = c
        done = c == 0L
      }
      round += 1
    }
    degrees(edges).select(col("node"), col("_d").as("core_degree"))
  }

  /** Synchronous label propagation communities (Raghavan, Albert &
    * Kumara 2007) over an UNDIRECTED pair table — the community
    * question connected components can't answer: CC merges everything
    * reachable, LPA lets weakly-bridged clusters keep separate labels,
    * which is what a near-dup graph audit wants when one spurious pair
    * chains two genuine clusters together.
    *
    * Determinism by construction (async LPA is famously run-order
    * dependent; this is the synchronous variant with a total-order
    * tie-break): every node starts labeled with its own id; each round
    * all nodes SIMULTANEOUSLY adopt the most frequent label among
    * their neighbors-with-self (self-loops make a node its own
    * neighbor, damping label flapping), ties broken by the SMALLEST
    * label; a FIXED round count rather than a convergence test (parity
    * across engines needs identical steps — and sync LPA can 2-cycle
    * on bipartite structures, so "run to convergence" is not even
    * well-defined).
    *
    * Scale shape, per round: one dst-keyed join of the label relation
    * to the edge list, one (node, label) grouped count with map-side
    * partials, one per-node rank window (partition = node, bounded by
    * the node's distinct neighbor labels ≤ degree). Labels materialize
    * each round, so lineage stays flat and the edge relation computes
    * once. 100 TB: LPA on joins is the textbook Pregel-free layout;
    * degree skew lands in the window, whose partition is one node's
    * label multiset — bounded by the (degree, id)-oriented input's
    * max degree, not by cluster size. */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    requireRounds("labelPropagation", rounds)
    val eng = graft.engine.Engine
    val e = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val bidir = eng.materialize(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .unionAll(e.select(col("src"), col("src").as("dst")))
        .unionAll(e.select(col("dst").as("src"), col("dst").as("dst")))
        .distinct())
    var labels = bidir.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("_c").desc, col("label").asc)
    var t = 0
    while (t < rounds) {
      // Rounds chain LAZILY (r18): a FIXED small round count needs no
      // per-round lineage cut — the materialize-per-round form paid one
      // checkpoint job per round where the whole iteration is one
      // linear-depth plan evaluated in a single job (the edge relation
      // is checkpoint-backed, so each round's join reuses its blocks).
      // Convergence-probed loops (kCore, connectedComponents) keep
      // their per-round materialize: the driver probe forces a job per
      // round anyway.
      labels =
        bidir.join(labels.select(col("id").as("dst"), col("label")),
            Seq("dst"))
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("_c"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select(col("src").as("id"), col("label"))
      t += 1
    }
    // One final materialize keeps the contract (a checkpoint-backed,
    // lineage-free label frame) and lets the edge relation be released
    // rather than pinning a full bidirectional copy for the session.
    val out = eng.materialize(
      labels.select(col("id"), col("label").as("community")))
    eng.release(bidir)
    out
  }

  /** Fixed-point PageRank over an UNDIRECTED pair table — the
    * centrality signal a curation pipeline uses to weight sources
    * (the CommonCrawl-style "rank the graph, keep the reputable tail"
    * rule) and to rank documents inside a near-dup cluster by how
    * embedded they are.
    *
    * Engine-exact by construction: ranks are longs scaled 2³⁰,
    * initialized at ONE per node (the N-scaled formulation — total
    * mass ≈ N·2³⁰ — so no tiny-fraction underflow); each round every
    * node's contribution is `pr div degree` (truncating division,
    * the semantics Spark `div` and DuckDB `//` share), and the update
    * is `floor((100−d)·2³⁰/100) + floor(d·Σcontrib/100)` in integer
    * percent — every step reproduces bit-for-bit in SQL, so the
    * iteration itself is oracle-checkable (the ABTT eigensolve
    * discipline). Fixed round count for cross-engine parity.
    * Symmetrized graphs have no dangling nodes (every node has an
    * out-edge), so no dangling-mass term.
    *
    * Scale shape, per round: one src-keyed join of the rank relation
    * to the edge list (+ the degree relation, edge-count-sized), one
    * grouped decimal sum with map-side partials. Ranks materialize
    * per round (iterative lineage must be cut). Output:
    * (`id`, `pr_fx`) — pr_fx/2³⁰ ≈ the N-scaled rank, ≈1 for
    * average-embedded nodes. */
  def pageRankFx(pairs: DataFrame, aCol: String, bCol: String,
                 rounds: Int, dampPct: Int = 85): DataFrame = {
    requireRounds("pageRankFx", rounds)
    require(dampPct >= 0 && dampPct <= 100,
      s"pageRankFx: dampPct out of range: $dampPct")
    val eng = graft.engine.Engine
    val ONE = 1L << 30
    val base = (100L - dampPct) * ONE / 100L
    val e = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val bidir = eng.materialize(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    val deg = eng.materialize(bidir.groupBy(col("src"))
      .agg(count(lit(1)).as("_deg")))
    var pr: DataFrame =
      deg.select(col("src").as("id"), lit(ONE).as("pr_fx"))
    var t = 0
    while (t < rounds) {
      // Lazy round chaining — the labelPropagation argument: a fixed
      // round count is one linear plan / one job; only the edge and
      // degree relations (consumed every round) stay checkpoint-backed.
      pr = bidir
        .join(pr.select(col("id").as("src"), col("pr_fx")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("id"),
          expr("pr_fx div _deg").as("_c"))
        .groupBy(col("id"))
        .agg(sum(col("_c").cast("decimal(38,0)")).as("_s"))
        .select(col("id"),
          (lit(base) +
            expr(s"cast($dampPct * _s div 100 as bigint)"))
            .as("pr_fx"))
      t += 1
    }
    val out = eng.materialize(pr.select(col("id"), col("pr_fx")))
    eng.release(bidir)
    eng.release(deg)
    out
  }

  /** [[pageRankFx]] over the CLIQUE BLOW-UP of a weighted supernode
    * graph, computed at SUPERNODE grain — bit-equal to running the
    * member-grain iteration on the expanded graph (the
    * [[labelPropagationBlowup]] discipline applied to centrality).
    *
    * Exactness: members of one class see identical neighbor multisets
    * (own clique minus self, plus every adjacent class's members), so
    * by induction they share one rank P_A every round, and every
    * member's degree is the class constant
    * `D_A = (w_A − 1) + Σ_{B ∈ adj(A)} w_B`. The member-grain update
    * sums equal per-member contributions, so at supernode grain:
    * `P'_A = base + d·((w_A−1)·(P_A div D_A) + Σ_B w_B·(P_B div D_B))
    * div 100` — same truncating divisions in the same order, hence
    * bit-equal (the `x_graph_pagerank` DuckDB twin keeps computing
    * member grain over the expanded graph; its green row is the
    * proof). Edges never clone-expand; ranks expand through one
    * id↔class join (all members inherit P_A).
    *
    * `nodes` = (node, weight) for every supernode whose members are in
    * the expanded graph; nodes with `(w−1) + Σ adj w = 0` (isolated
    * singletons) are excluded by the same rule that excludes them from
    * the expanded graph. Output: (`id` = supernode, `pr_fx`). */
  def pageRankBlowupFx(pairs: DataFrame, aCol: String, bCol: String,
                       nodes: DataFrame, rounds: Int,
                       dampPct: Int = 85): DataFrame = {
    requireRounds("pageRankBlowupFx", rounds)
    require(dampPct >= 0 && dampPct <= 100,
      s"pageRankBlowupFx: dampPct out of range: $dampPct")
    val eng = graft.engine.Engine
    val ONE = 1L << 30
    val base = (100L - dampPct) * ONE / 100L
    val e = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val wts = eng.materialize(
      nodes.select(col("node").cast("long").as("node"),
        col("weight").cast("long").as("_w")))
    val bidir = eng.materialize(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    // Per-class member degree: (w−1) intra neighbors + adjacent mass.
    val adjMass = bidir
      .join(wts.select(col("node").as("dst"), col("_w").as("_wd")),
        Seq("dst"))
      .groupBy(col("src")).agg(sum(col("_wd")).as("_adj"))
    val deg = eng.materialize(
      wts.join(adjMass.select(col("src").as("node"), col("_adj")),
          Seq("node"), "left")
        .select(col("node"), col("_w"),
          (col("_w") - 1L + coalesce(col("_adj"), lit(0L))).as("_deg"))
        .filter(col("_deg") > 0L))
    var pr: DataFrame =
      deg.select(col("node").as("id"), lit(ONE).as("pr_fx"))
    // Edges plus explicit self-loops: folding the self-clique term
    // into the SAME join keeps the lazily-chained `pr` referenced ONCE
    // per round (a second reference would double the plan every round
    // — the exponential-lineage hazard lazy chaining must avoid). The
    // self row multiplies by (w−1), an edge row by w_dst — summed in
    // decimal, order-free, so the per-round totals are bit-identical
    // to the old fromAdj ∪ fromSelf union.
    val bidirPlus = eng.materialize(
      bidir.withColumn("_self", lit(false))
        .unionByName(deg.select(col("node").as("src"),
          col("node").as("dst"), lit(true).as("_self"))))
    var t = 0
    while (t < rounds) {
      // Lazy round chaining (see pageRankFx) — fixed rounds, one job.
      // Each class's per-member contribution, then the weighted sum a
      // member of `src` receives: (w_src−1) copies of its own class's
      // contribution plus w_B copies from each adjacent class B.
      val contrib = pr
        .join(deg.select(col("node").as("id"), col("_w"), col("_deg")),
          Seq("id"))
        .select(col("id"), col("_w"),
          expr("pr_fx div _deg").as("_c"))
      // Both factors widen to decimal BEFORE the multiply: a LongType
      // product of a large class weight and a concentrated rank can
      // wrap silently under non-ANSI eval, breaking bit-equality with
      // the member-grain iteration (which sums per-member contributions
      // in decimal/HUGEINT). decimal(19,0) holds any long exactly and
      // the product of two longs always fits decimal(38,0).
      pr = bidirPlus
        .join(contrib.select(col("id").as("dst"), col("_w"), col("_c")),
          Seq("dst"))
        .select(col("src").as("id"),
          (when(col("_self"), col("_w") - 1L).otherwise(col("_w"))
            .cast("decimal(19,0)") *
            col("_c").cast("decimal(19,0)")).cast("decimal(38,0)")
            .as("_part"))
        .groupBy(col("id")).agg(sum(col("_part")).as("_s"))
        .select(col("id"),
          (lit(base) +
            expr(s"cast($dampPct * _s div 100 as bigint)"))
            .as("pr_fx"))
      t += 1
    }
    val out = eng.materialize(pr.select(col("id"), col("pr_fx")))
    eng.release(bidirPlus)
    eng.release(bidir)
    eng.release(wts)
    eng.release(deg)
    out
  }

  /** [[labelPropagation]] over the CLIQUE BLOW-UP of a weighted
    * supernode graph, computed at SUPERNODE grain — bit-equal to
    * running the member-grain sync LPA on the graph where every
    * supernode is expanded to a `weight`-sized clique (its members,
    * ids ≥ the supernode id with the supernode id as class minimum)
    * and every supernode edge to a complete bipartite bundle. The
    * near-dup use: LPA over clone-expanded pairs pays ~100× the edges
    * of the rep graph for answers that are a deterministic function of
    * the rep graph plus class sizes.
    *
    * Exactness argument, round by round (members of one class always
    * see the identical neighbor multiset — own class ∪ adjacent
    * classes' members):
    *  - Round 1: every member label is its own DISTINCT id, so all
    *    counts are 1 and the smallest-label tie-break picks the
    *    minimum member id over the neighborhood — which is the minimum
    *    SUPERNODE id over {self} ∪ neighbors (each supernode is its
    *    class minimum). One grouped `min` over neighbors-with-self.
    *    All members of a class now share one label, and every label
    *    value is a supernode id.
    *  - Rounds ≥ 2: members of class B all carry label L_B, so label
    *    ℓ's count at any member of A is Σ weight(B) over
    *    B ∈ {A} ∪ adj(A) with L_B = ℓ — a WEIGHTED majority vote at
    *    supernode grain, same (count desc, label asc) ordering.
    *
    * `nodes` is the supernode set as (`node`, `weight`) — weight = the
    * member count the blow-up expands to; nodes in no edge still
    * participate (their members form a self-clique: label = own id,
    * stable). Output: (`id` = supernode, `community`) — expand to
    * members with one id↔class join (members inherit their class
    * label by the argument above). */
  def labelPropagationBlowup(pairs: DataFrame, aCol: String, bCol: String,
                             nodes: DataFrame, rounds: Int): DataFrame = {
    requireRounds("labelPropagationBlowup", rounds)
    val eng = graft.engine.Engine
    val e = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val wts = eng.materialize(
      nodes.select(col("node").cast("long").as("node"),
        col("weight").cast("long").as("_w")))
    val bidir = eng.materialize(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .unionAll(wts.select(col("node").as("src"),
          col("node").as("dst")))
        .distinct())
    // Round 1 closed form: min member id over neighbors-with-self.
    var labels: DataFrame =
      bidir.groupBy(col("src")).agg(min(col("dst")).as("label"))
        .select(col("src").as("id"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("_c").desc, col("label").asc)
    var t = 1
    while (t < rounds) {
      // Lazy round chaining (see labelPropagation) — fixed rounds.
      labels =
        bidir.join(labels.select(col("id").as("dst"), col("label")),
            Seq("dst"))
          .join(wts.select(col("node").as("dst"), col("_w")), Seq("dst"))
          .groupBy(col("src"), col("label"))
          .agg(sum(col("_w")).as("_c"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select(col("src").as("id"), col("label"))
      t += 1
    }
    val out = eng.materialize(
      labels.select(col("id"), col("label").as("community")))
    eng.release(bidir)
    eng.release(wts)
    out
  }
}
