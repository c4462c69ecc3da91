package graft

import graft.graph.{LinkGraph, Transcripts}
import graft.algos._

/** Assembles DuckDB-compatible oracle SQL for the driver's correctness
 * gate. Every oracle is built from the same CTE fragments the Spark
 * queries mirror, so both engines compute over identical derived rows.
 * The driver registers each parquet table by name (`events`, `documents`,
 * `embeddings`, ...). */
object Oracles {
  /** WITH prefix: events -> transcripts -> vertices -> dedges. */
  private val graphCtes: String =
    Transcripts.fromEventsSql + ",\n" + LinkGraph.verticesSql + ",\n" + LinkGraph.directedEdgesSql

  /** DuckDB inlines CTEs, so a CTE referenced twice per unrolled iteration
   * re-evaluates exponentially (and re-opens the parquet each time).
   * Force single evaluation of every CTE. */
  private def materialize(sql: String): String =
    sql.replaceAll("""(\w+) AS \(""", "$1 AS MATERIALIZED (")

  def withGraph(extraCtes: Seq[String], body: String): String =
    materialize("WITH " + (graphCtes +: extraCtes).mkString(",\n") + "\n" + body)

  /** body already contains its own CTE chain continuation + final SELECT. */
  def withGraphChain(extraCtes: Seq[String], chainAndSelect: String): String =
    materialize("WITH " + (graphCtes +: extraCtes).mkString(",\n") + ",\n" + chainAndSelect)

  val transcripts: String =
    "WITH " + Transcripts.fromEventsSql +
      "\nSELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us FROM transcripts ORDER BY conv_id, turn_idx"

  val vertices: String = withGraph(Nil,
    "SELECT vid, conv_id, turn_idx, role, tool, turns FROM vertices ORDER BY vid")

  val edges: String = withGraph(Nil,
    "SELECT src, dst, kind FROM dedges ORDER BY src, dst, kind")

  val degrees: String = withGraph(Seq(LinkGraph.undirectedSql),
    """SELECT v.vid, coalesce(d.degree, 0) AS degree
      |FROM vertices v LEFT JOIN (SELECT src AS vid, CAST(count(*) AS BIGINT) AS degree FROM uedges GROUP BY src) d
      |  ON v.vid = d.vid ORDER BY v.vid""".stripMargin)

  def pagerank(iters: Int): String =
    withGraphChain(Seq(LinkGraph.prEdgesSql), PageRank.oracleSql(iters))

  def cc(k: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql), ConnectedComponents.oracleSql(k))

  def lpa(k: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql), LabelPropagation.oracleSql(k))

  def sssp(source: Long, k: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql), SSSP.oracleSql(source, k))

  def mis(k: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql), MIS.oracleSql(k))

  def mm(k: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql), MM.oracleSql(k))

  /** Standalone oracle over the committed reference-format text fixture. */
  def ssspWeighted(path: String, source: Long, k: Int): String =
    materialize("WITH " + graft.graph.AdjacencyText.weightedOracleCtes(path) +
      ",\n" + SSSP.relaxSql(source, k))

  /** CC over the committed UNWEIGHTED reference text fixture — gates the
   * reference's primary input format (io/EdgeParser.java:134-157). */
  def ccAdjText(path: String, k: Int): String =
    materialize("WITH " + graft.graph.AdjacencyText.unweightedOracleCtes(path) +
      ",\n" + ConnectedComponents.oracleSql(k))

  /** MM over the committed bipartite text fixture — gates the bipartite
   * parse rule (io/EdgeParser.java:51-83; MM.oracleSql applies the
   * parity-crossing filter to the parsed `uedges`). */
  def mmAdjText(path: String, k: Int): String =
    materialize("WITH " + graft.graph.AdjacencyText.unweightedOracleCtes(path) +
      ",\n" + MM.oracleSql(k))

  def sa(source: Long, k: Int): String =
    withGraphChain(Seq(LinkGraph.prEdgesSql), SA.oracleSql(source, k))

  def kcore(k: Int, iters: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql), KCore.oracleSql(k, iters))

  def ppr(source: Long, iters: Int): String =
    withGraphChain(Seq(LinkGraph.prEdgesSql),
      PageRank.oracleSql(iters, s"CASE WHEN vid = $source THEN 0.15 ELSE 0.0 END", "ppr_scaled"))

  def hits(iters: Int): String =
    withGraphChain(Nil, HITS.oracleSql(iters))

  /** Dedup-cluster composite: the MinHash-LSH pair chain feeds a
   * vertices/uedges pair over doc_ids, then the unrolled CC min-label
   * chain labels each document with its duplicate-cluster id. */
  def dedupClusters(k: Int, bands: Int, minJ: Double, iters: Int): String =
    materialize(
      s"""WITH ${graft.pipeline.Dedup.minhashPairCtes(k, bands, minJ)},
         |vertices AS (SELECT doc_id AS vid FROM documents),
         |uedges AS (SELECT a AS src, b AS dst FROM mhpairs
         |           UNION ALL SELECT b AS src, a AS dst FROM mhpairs),
         |${ConnectedComponents.oracleChainSql(iters)}
         |SELECT vid AS doc_id, lbl AS cluster FROM c$iters ORDER BY doc_id""".stripMargin)

  /** Random-walk corpus: unrolled argmin-transition chain over predges. */
  def walks(steps: Int): String =
    withGraphChain(Seq(LinkGraph.prEdgesSql), RandomWalks.oracleSql(steps))

  def walksBiased(steps: Int, wRet: Int, wIn: Int, wOut: Int): String =
    withGraphChain(Seq(LinkGraph.prEdgesSql),
      RandomWalks.biasedOracleSql(steps, wRet, wIn, wOut))

  /** Skip-gram (center, context) pairs over the walk corpus. */
  def skipgramPairs(steps: Int, window: Int): String =
    withGraphChain(Seq(LinkGraph.prEdgesSql),
      RandomWalks.skipGramOracleSql(steps, window))

  val clusteringCoeff: String = withGraph(
    Seq(LinkGraph.undirectedSql, LinkGraph.canonicalSql,
      TriangleCount.trisCteSql, TriangleCount.tcountsCteSql),
    ClusteringCoefficient.oracleBodySql)

  /** Per-edge link-prediction features (common/Jaccard/Adamic–Adar). */
  val edgeFeatures: String = withGraphChain(
    Seq(LinkGraph.undirectedSql, LinkGraph.canonicalSql),
    LinkFeatures.oracleBodySql)

  /** k-source truncated Brandes betweenness. */
  def betweenness(seeds: Seq[Long], levels: Int): String =
    withGraphChain(Seq(LinkGraph.undirectedSql),
      Betweenness.oracleSql(seeds, levels))

  val triangles: String = withGraph(
    Seq(LinkGraph.canonicalSql, TriangleCount.trisCteSql, TriangleCount.tcountsCteSql),
    """SELECT v.vid, coalesce(t.triangles, 0) AS triangles
      |FROM vertices v LEFT JOIN tcounts t ON v.vid = t.vid ORDER BY v.vid""".stripMargin)

  val triangleCount: String = withGraph(
    Seq(LinkGraph.canonicalSql, TriangleCount.trisCteSql),
    "SELECT CAST(count(*) AS BIGINT) AS triangles FROM tris")
}
