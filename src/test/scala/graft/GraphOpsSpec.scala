package graft

import org.apache.spark.sql.functions._
import graft.ext.GraphOps

class GraphOpsSpec extends SparkSpec {

  test("triangleStats: clique, path, pendant; dup/reversed/self edges " +
    "canonicalize; per-node counts and exact cc ppm") {
    import spark.implicits._
    // K4 on {1,2,3,4}  +  path 5-6-7  +  pendant 8 off node 1
    // with noise: duplicates, reversed orientations, a self loop
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (8L, 1L),
      (2L, 1L), (3L, 1L), // reversed duplicates
      (1L, 2L),           // exact duplicate
      (6L, 6L)            // self loop
    ).toDF("a", "b")
    val got = GraphOps.triangleStats(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // node 1: K4 degree 3 + pendant = 4; its 3 triangles over
    // C(4,2)=6 wedges → cc = 500000
    assert(got(1L) == ((4L, 3L, 500000L)))
    // nodes 2,3,4: degree 3, 3 triangles, cc = 3/3 = 10^6
    Seq(2L, 3L, 4L).foreach(n => assert(got(n) == ((3L, 3L, 1000000L))))
    // path: middle node degree 2, no triangle, cc 0; ends degree 1
    assert(got(6L) == ((2L, 0L, 0L)))
    assert(got(5L) == ((1L, 0L, 0L)) && got(7L) == ((1L, 0L, 0L)))
    assert(got(8L) == ((1L, 0L, 0L)))
    // total triangle credit = 3 per triangle, 4 triangles in K4
    assert(got.values.map(_._2).sum == 3L * 4L)
  }

  test("triangleStats: orientation bound never double-counts under " +
    "skewed degrees; layout-independent") {
    import spark.implicits._
    // star center 0 wired to 1..10, plus rim edges (i, i+1) for
    // i in 1..9 → 9 triangles (0, i, i+1); center degree 10
    val star = (1L to 10L).map(i => (0L, i)) ++
      (1L to 9L).map(i => (i, i + 1))
    val df = star.toDF("a", "b")
    val got = GraphOps.triangleStats(df.repartition(7), "a", "b")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) == ((10L, 9L)))
    // 9 triangles, each crediting 3 corners
    assert(got.values.map(_._2).sum == 27L)
    // interior rim nodes touch two triangles, the rim ends one
    assert(got(5L)._2 == 2L && got(1L)._2 == 1L && got(10L)._2 == 1L)
    // center cc: 9 triangles over C(10,2)=45 wedges = 200000 ppm
    val cc = GraphOps.triangleStats(df, "a", "b")
      .filter(col("node") === 0L).collect()(0).getLong(3)
    assert(cc == 200000L)
  }

  test("kCore: cascading peel — chain collapses, clique and cycle " +
    "survive; k above max degree empties") {
    import spark.implicits._
    // K5 on {1..5} with a pendant chain 5-10-11-12 hanging off it
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val g = (k5 ++ chain).toDF("a", "b")
    val core3 = GraphOps.kCore(g, "a", "b", k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the chain peels away over MULTIPLE rounds (12 → 11 → 10), the
    // clique survives at within-core degree 4 (node 5 loses its pendant)
    assert(core3 == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L,
      5L -> 4L))
    // k = 5 exceeds the max degree after peeling → empty core
    assert(GraphOps.kCore(g, "a", "b", k = 5).isEmpty)
    // a pure path fully cascades at k = 2; a cycle survives intact
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    assert(GraphOps.kCore(path, "a", "b", k = 2).isEmpty)
    val cycle = ((1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq :+
      ((6L, 1L))).toDF("a", "b")
    val c2 = GraphOps.kCore(cycle, "a", "b", k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == (1L to 6L).map(_ -> 2L).toMap)
  }

  test("labelPropagation: bridged triangles keep separate communities " +
    "(where CC merges), hand-traced rounds, layout-independent") {
    import spark.implicits._
    // two triangles joined by one bridge edge 3-4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    def run(df: org.apache.spark.sql.DataFrame, rounds: Int) =
      GraphOps.labelPropagation(df, "id_a", "id_b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand trace round 1: all-distinct labels → min-label tie-break
    // 1:{1,2,3}→1  2:{1,2,3}→1  3:{1,2,3,4}→1  4:{3,4,5,6}→3
    // 5:{4,5,6}→4  6:{4,5,6}→4
    assert(run(edges, 1) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    // by round 3 the split is stable: left triangle 1, right triangle 4
    // — CC would label ALL six nodes 1 through the bridge
    val stable = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L)
    assert(run(edges, 3) == stable)
    assert(run(edges, 6) == stable)
    assert(run(edges.repartition(7), 3) == stable)
    // isolated self-pair keeps its own label
    val plus = edges.unionAll(Seq((9L, 9L)).toDF("id_a", "id_b"))
    assert(run(plus, 3)(9L) == 9L)
  }

  test("pageRankFx: hand-computed round on a path; symmetry, center " +
    "dominance, duplicate/self edges ignored") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 1L), (3L, 3L))
      .toDF("id_a", "id_b") // reversed dup + self-loop must not count
    def run(r: Int) = GraphOps.pageRankFx(edges, "id_a", "id_b", r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // ONE = 2^30; base = floor(15*2^30/100) = 161061273. Round 1 on
    // the 1-2-3 path (deg 1,2,1): leaf gets 85% of 2^30/2, center 85%
    // of 2*2^30 (both floor-by-100 after the *85).
    val r1 = run(1)
    assert(r1(1L) == 161061273L + 85L * (1073741824L / 2) / 100L)
    assert(r1(2L) == 161061273L + 85L * 2147483648L / 100L)
    assert(r1(3L) == r1(1L))
    val r3 = run(3)
    assert(r3(1L) == r3(3L)) // symmetric leaves stay equal
    assert(r3(2L) > r3(1L)) // the center is the most embedded node
    assert(r3.size == 3)
  }

  test("labelPropagationBlowup == member-grain LPA on the expanded " +
    "clique blow-up; weights are load-bearing (unweighted differs)") {
    import spark.implicits._
    // Supernode star: hub A=6 (w1) touching heavy B=5 (w4, members
    // {5,8,9,12}), C=1 (w1), D=2 (w1), E=3 (w1); C–D linked so their
    // labels agree by round 1. Weighted round 2 at the hub: label 5
    // carries weight 4 vs label 1's 3 → hub flips to 5. An UNWEIGHTED
    // supernode vote sees label 1 three times vs label 5 once → 1.
    // The fixture therefore discriminates: only a correctly-weighted
    // blow-up can match the member-grain result.
    val supEdges = Seq((6L, 5L), (6L, 1L), (6L, 2L), (6L, 3L),
      (1L, 2L)).toDF("id_a", "id_b")
    val weights = Seq((5L, 4L), (6L, 1L), (1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("node", "weight")
    // Hand-expanded member grain: B's clique + complete bipartite B×A.
    val expanded = Seq(
      (5L, 8L), (5L, 9L), (5L, 12L), (8L, 9L), (8L, 12L), (9L, 12L),
      (5L, 6L), (8L, 6L), (9L, 6L), (12L, 6L),
      (1L, 6L), (2L, 6L), (3L, 6L), (1L, 2L)).toDF("id_a", "id_b")
    for (rounds <- Seq(1, 2, 4)) {
      val sup = GraphOps.labelPropagationBlowup(supEdges, "id_a", "id_b",
          weights, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // expand supernode labels to members (class members inherit)
      val members = Map(5L -> Seq(5L, 8L, 9L, 12L), 6L -> Seq(6L),
        1L -> Seq(1L), 2L -> Seq(2L), 3L -> Seq(3L))
      val expandedFromSup = sup.flatMap { case (n, l) =>
        members(n).map(_ -> l)
      }
      val direct = GraphOps.labelPropagation(expanded, "id_a", "id_b",
          rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(expandedFromSup == direct, s"rounds=$rounds")
    }
    // Same fixture, PageRank: the supernode iteration with
    // class-shared ranks and class-constant degrees must be bit-equal
    // to the member-grain iteration on the hand-expanded graph.
    val weights2 = Seq((5L, 4L), (6L, 1L), (1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("node", "weight")
    val members2 = Map(5L -> Seq(5L, 8L, 9L, 12L), 6L -> Seq(6L),
      1L -> Seq(1L), 2L -> Seq(2L), 3L -> Seq(3L))
    for (rounds <- Seq(1, 3)) {
      val sup = GraphOps.pageRankBlowupFx(supEdges, "id_a", "id_b",
          weights2, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expandedPr = sup.flatMap { case (n, v) =>
        members2(n).map(_ -> v)
      }
      val direct = GraphOps.pageRankFx(expanded, "id_a", "id_b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(expandedPr == direct, s"pagerank rounds=$rounds")
    }

    // Discriminating power: hub ends at 5 under the weighted vote,
    // but at 1 under the unweighted supernode LPA.
    val weighted = GraphOps.labelPropagationBlowup(supEdges, "id_a",
        "id_b", weights, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unweighted = GraphOps.labelPropagation(supEdges, "id_a", "id_b", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(6L) == 5L)
    assert(unweighted(6L) == 1L)
  }

  test("lazy fixed-round loops reject rounds above MaxLazyRounds, " +
      "naming the limit") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val nodes = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "weight")
    val over = GraphOps.MaxLazyRounds + 1
    val calls = Seq[(String, () => Any)](
      "labelPropagation" ->
        (() => GraphOps.labelPropagation(edges, "id_a", "id_b", over)),
      "pageRankFx" ->
        (() => GraphOps.pageRankFx(edges, "id_a", "id_b", over)),
      "labelPropagationBlowup" -> (() => GraphOps.labelPropagationBlowup(
        edges, "id_a", "id_b", nodes, over)),
      "pageRankBlowupFx" -> (() => GraphOps.pageRankBlowupFx(
        edges, "id_a", "id_b", nodes, over)))
    calls.foreach { case (op, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(op) &&
        e.getMessage.contains(s"[1, ${GraphOps.MaxLazyRounds}]"),
        e.getMessage)
    }
    // the limit itself is accepted
    assert(GraphOps.labelPropagation(edges, "id_a", "id_b",
      GraphOps.MaxLazyRounds).columns.nonEmpty)
  }
}
