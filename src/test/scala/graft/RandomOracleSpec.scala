package graft

import graft.graph.LinkGraph
import graft.pregel._
import graft.algos._

/** Seeded random graphs: engine vs the independent RefOracle interpreter
 * of the reference semantics (PR allclose 1e-6 scaled, others exact). */
class RandomOracleSpec extends SparkTestBase {

  private def pregel(mode: ExchangeMode) =
    new Pregel(spark, PregelConfig(numPartitions = 4, mode = mode))

  for (seed <- Seq(1L, 2L, 7L); mode <- Seq(ForcePush, ForcePull)) {
    test(s"random graph seed=$seed mode=$mode: all algorithms match RefOracle") {
      val (vids, directed) = RefOracle.randomGraph(24, 50, seed)
      val n = vids.size.toLong
      val sym = (directed ++ directed.map(_.swap)).distinct
      val canon = directed.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val verts = vertDF(n)
      val p = pregel(mode)

      // PageRank (with dangling self-loops) — allclose 1e-6 on scaled score
      val withLoops = {
        val srcs = directed.map(_._1).toSet
        directed ++ vids.filterNot(srcs).map(v => (v, v))
      }
      val pr = PageRank.scores(p, new PageRank(n, 8), verts, edgeDF(withLoops), n)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prWant = RefOracle.pagerank(vids, withLoops, 8)
      for (v <- vids)
        assert(math.abs(pr(v) - prWant(v) * n) < 1e-6, s"PR v=$v ${pr(v)} vs ${prWant(v) * n}")

      // CC exact (engine converges; oracle fixpoint)
      val cc = ConnectedComponents.labels(p, verts, edgeDF(sym), 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == RefOracle.cc(vids, sym))

      // LPA exact at fixed K
      val lpa = LabelPropagation.labels(p, verts, edgeDF(sym), 7)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lpa == RefOracle.lpa(vids, sym, 7))

      // SSSP exact doubles at fixed K
      val sssp = SSSP.distances(p, verts, edgeDF(sym), vids.head, 12)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(sssp == RefOracle.sssp(vids, sym, vids.head, 12).filter(_._2 < 1e299))

      // Triangles exact
      val tri = TriangleCount.perVertexAll(edgeDF(canon), verts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tri == RefOracle.triangles(vids, canon))

      // k-core exact at fixed K (peel cascade included)
      val kc = KCore.membership(p, verts, edgeDF(sym), 2, 6)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(kc == RefOracle.kcore(vids, sym, 2, 6))

      // HITS — allclose 1e-6 on the end-normalized scaled scores
      val hitsGot = HITS.scores(p, verts, edgeDF(directed), n, 8)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val hitsWant = RefOracle.hits(vids, directed, 8)
      for (v <- vids) {
        assert(math.abs(hitsGot(v)._1 - hitsWant(v)._1) < 1e-6, s"HITS hub v=$v")
        assert(math.abs(hitsGot(v)._2 - hitsWant(v)._2) < 1e-6, s"HITS auth v=$v")
      }

      // personalized PageRank — allclose 1e-6 on the scaled score
      val pprGot = PageRank.scores(p, PageRank.personalized(vids.head, 8), verts, edgeDF(withLoops), n, "ppr_scaled")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val pprWant = RefOracle.ppr(vids, withLoops, vids.head, 8)
      for (v <- vids)
        assert(math.abs(pprGot(v) - pprWant(v) * n) < 1e-6, s"PPR v=$v ${pprGot(v)} vs ${pprWant(v) * n}")
    }
  }
}
