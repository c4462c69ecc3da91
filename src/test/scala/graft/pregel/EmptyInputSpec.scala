package graft.pregel

import org.apache.spark.sql.functions._
import graft.algos.{ConnectedComponents, PageRank}
import graft.graph.AdjacencyText

/** Degenerate-input hardening (VERDICT r3 #7): empty vertex/edge tables and
 * empty adjacency-text files must fail soft (empty results), not NPE. */
class EmptyInputSpec extends graft.SparkTestBase {

  test("Pregel on an empty vertex table returns an empty state, no supersteps") {
    val (state, metrics) = new Pregel(spark, PregelConfig(numPartitions = 2))
      .run(new ConnectedComponents(5), vertDF(0), edgeDF(Nil))
    assert(state.count() == 0L)
    assert(metrics.isEmpty)
    assert(state.columns.contains("label"), "state must keep the program schema")
  }

  test("Pregel with vertices but no edges converges immediately") {
    val (state, metrics) = new Pregel(spark, PregelConfig(numPartitions = 2))
      .run(new ConnectedComponents(5), vertDF(4), edgeDF(Nil))
    val labels = state.select("vid", "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(metrics.nonEmpty && metrics.last.respondCount == 0L)
  }

  test("PageRank on isolated vertices (all-dangling, self-loop input) runs") {
    // caller contract: dangling vertices carry self-loops (LinkGraph.withSelfLoops)
    val loops = (0L until 3L).map(v => (v, v))
    val (state, _) = new Pregel(spark, PregelConfig(numPartitions = 2))
      .run(new PageRank(3L, 4), vertDF(3), edgeDF(loops))
    assert(state.count() == 3L)
  }

  test("AdjacencyText on an empty file yields empty edges (both variants)") {
    val f = java.nio.file.Files.createTempFile("graft-empty", ".txt")
    assert(AdjacencyText.edges(spark, f.toString).count() == 0L)
    assert(AdjacencyText.weightedEdges(spark, f.toString).count() == 0L)
  }

  test("barrier report decode: null reads as 0, any type other than the cast one throws") {
    val r = BarrierReport.decode(Map("_respond" -> 5L, "_vagg" -> null, "_rb0" -> 3L, "_rb3" -> Long.MinValue))
    assert(r == BarrierReport(5L, 0L, 0.0, 0L, 0L, Seq(0L, 1L, 255L)))
    assert(BarrierReport.decode(Map("_vagg" -> 2.5)).jobAgg == 2.5)
    for (bad <- Seq[(String, Any)]("_vagg" -> 1, "_respond" -> 2.0, "_rb1" -> BigDecimal(1)))
      intercept[IllegalStateException](BarrierReport.decode(Map(bad)))
  }
}
