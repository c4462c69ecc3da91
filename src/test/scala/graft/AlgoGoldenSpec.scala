package graft

import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.pregel._
import graft.algos._

/** Golden micro-graph tests (FIXTURES.md §4) — hand-checkable expectations
 * plus comparisons against the independent RefOracle interpreter. */
class AlgoGoldenSpec extends SparkTestBase {

  private def pregel(mode: ExchangeMode = Hybrid) =
    new Pregel(spark, PregelConfig(numPartitions = 4, mode = mode))

  private def ccOf(n: Long, undirected: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.labels(pregel(), vertDF(n), edgeDF(undirected), 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K3: one triangle, single component, symmetric PageRank") {
    val canon = Seq((0L, 1L), (0L, 2L), (1L, 2L))
    val tri = TriangleCount.perVertexAll(edgeDF(canon), vertDF(3).withColumnRenamed("vid", "vid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))

    val sym = LinkGraph.symmetrize(edgeDF(canon))
    assert(ccOf(3, Seq((0L,1L),(1L,0L),(0L,2L),(2L,0L),(1L,2L),(2L,1L))) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))

    val prEdges = LinkGraph.withSelfLoops(sym, vertDF(3))
    val scores = PageRank.scores(pregel(), new PageRank(3, 8), vertDF(3), prEdges, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.values.toSet.size == 1, s"K3 PR must be symmetric: $scores")
  }

  test("K4 minus an edge: two triangles") {
    val canon = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L)) // missing (2,3)
    val tri = TriangleCount.perVertexAll(edgeDF(canon), vertDF(4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
    val global = TriangleCount.global(edgeDF(canon)).head().getLong(0)
    assert(global == 2L)
  }

  test("two components: min-label per component") {
    val sym = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
    assert(ccOf(5, sym) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L))
  }

  test("dangling vertex PageRank: self-loop rule matches RefOracle") {
    // 0 -> 1, vertex 1 dangling -> gets self-loop at derivation
    val directed = edgeDF(Seq((0L, 1L)))
    val prEdges = LinkGraph.withSelfLoops(directed, vertDF(2))
    val got = PageRank.scores(pregel(), new PageRank(2, 6), vertDF(2), prEdges, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = RefOracle.pagerank(Seq(0L, 1L), Seq((0L, 1L), (1L, 1L)), 6)
    for ((v, x) <- want) assert(math.abs(got(v) - x * 2) < 1e-6, s"v=$v got=${got(v)} want=${x * 2}")
  }

  test("path LPA matches RefOracle (deterministic max-label tie-break)") {
    val sym = Seq((0L,1L),(1L,0L),(1L,2L),(2L,1L),(2L,3L),(3L,2L))
    val got = LabelPropagation.labels(pregel(), vertDF(4), edgeDF(sym), 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = RefOracle.lpa((0L until 4L).toSeq, sym, 6)
    assert(got == want, s"got=$got want=$want")
  }

  test("MIS: independent and maximal on random graphs") {
    for (seed <- Seq(4L, 9L)) {
      val (vids, directed) = RefOracle.randomGraph(25, 45, seed)
      val sym = (directed ++ directed.map(_.swap)).distinct
      val st = MIS.statuses(pregel(), vertDF(vids.size.toLong), edgeDF(sym), 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(st.values.forall(v => v == 1L || v == 2L), s"undecided vertices remain: $st")
      val inS = st.filter(_._2 == 1L).keySet
      // independent: no edge inside S
      assert(!sym.exists { case (a, b) => inS(a) && inS(b) }, "S is not independent")
      // maximal: every excluded vertex has a neighbour in S
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (v <- st.keys if st(v) == 2L)
        assert(adj.getOrElse(v, Set()).exists(inS), s"vertex $v excluded without S-neighbour")
    }
  }

  test("SSSP deterministic weights match RefOracle") {
    val sym = Seq((0L,1L),(1L,0L),(1L,2L),(2L,1L),(0L,3L),(3L,0L),(3L,2L),(2L,3L))
    val got = SSSP.distances(pregel(), vertDF(4), edgeDF(sym), 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = RefOracle.sssp((0L until 4L).toSeq, sym, 0L, 10).filter(_._2 < 1e299)
    assert(got == want, s"got=$got want=$want")
  }

  test("k-core: path cascade peels one endpoint layer per round") {
    // path 0-1-2-3, k=2: endpoints die in the first peel round, the two
    // middle vertices only in the SECOND (their degree drops when the
    // endpoints stop responding) — the cascade the peel loop exists for
    def sym(pairs: (Long, Long)*) = pairs.flatMap(p => Seq(p, p.swap))
    val path = sym((0L,1L), (1L,2L), (2L,3L))
    // after 2 update rounds (K=3 supersteps incl. init) everyone is dead
    val full = KCore.membership(pregel(), vertDF(4), edgeDF(path), 2, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full == Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 0))
    // after only 1 update round (K=2) the middle still looks alive —
    // pinning the per-round semantics, not just the fixpoint
    val mid = KCore.membership(pregel(), vertDF(4), edgeDF(path), 2, 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(mid == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 0))
    // triangle + pendant, k=2: the triangle survives as the 2-core
    val triPend = sym((0L,1L), (1L,2L), (2L,0L), (0L,3L))
    val kc = KCore.membership(pregel(), vertDF(4), edgeDF(triPend), 2, 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kc == Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 0))
  }

  test("HITS: star hub ranks highest hub score, leaves share authority") {
    // directed star 0 -> {1,2,3}: vertex 0 is the pure hub (auth 0),
    // leaves are pure authorities (hub 0)
    val star = Seq((0L,1L), (0L,2L), (0L,3L))
    val got = HITS.scores(pregel(), vertDF(4), edgeDF(star), 4L, 6)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(0L)._1 == 4.0 && got(0L)._2 == 0.0, s"hub vertex: $got")
    for (v <- 1L to 3L)
      assert(got(v)._1 == 0.0 && math.abs(got(v)._2 - 4.0/3) < 1e-6, s"leaf $v: $got")
    // cross-check the general recurrence on a cycle-with-chord graph
    val g = Seq((0L,1L), (1L,2L), (2L,0L), (0L,2L))
    val got2 = HITS.scores(pregel(), vertDF(3), edgeDF(g), 3L, 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = RefOracle.hits((0L until 3L).toSeq, g, 8)
    for (v <- 0L until 3L) {
      assert(math.abs(got2(v)._1 - want(v)._1) < 1e-6, s"hub v=$v ${got2(v)} vs ${want(v)}")
      assert(math.abs(got2(v)._2 - want(v)._2) < 1e-6, s"auth v=$v ${got2(v)} vs ${want(v)}")
    }
  }

  test("personalized PageRank: all mass reachable from the source only") {
    // two components: source's component holds all nonzero mass
    val e = Seq((0L,1L), (1L,0L), (2L,3L), (3L,2L))
    val got = PageRank.scores(pregel(), PageRank.personalized(0L, 8), vertDF(4), edgeDF(e), 4L, "ppr_scaled")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(2L) == 0.0 && got(3L) == 0.0, s"unreachable mass must be 0: $got")
    assert(got(0L) > got(1L) && got(1L) > 0.0, s"source-adjacent ordering: $got")
    val want = RefOracle.ppr((0L until 4L).toSeq, e, 0L, 8)
    for (v <- 0L until 4L)
      assert(math.abs(got(v) - want(v) * 4) < 1e-6, s"PPR v=$v ${got(v)} vs ${want(v) * 4}")
  }
}
