package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-edge link-prediction features — common-neighbor count, Jaccard
 * neighbor similarity, and Adamic–Adar — the classic feature triple a
 * link-graph engine feeds to a link-prediction / edge-ranking trainer.
 * No reference analog (HybridGraph's library stops at PR/SSSP/CC/LPA/
 * MIS/MM/SA, /root/reference/src/examples/hybridgraph/examples/driver/
 * ExampleDriver.java:26-62); this is a training-data-pipeline addition
 * on the same derived link graph.
 *
 * Scale design: enumerating common neighbors of edge (u,w) from either
 * endpoint naively costs Σ_edges deg(endpoint) — hub-quadratic on our
 * tool hubs. Each edge is ORIENTED by (degree, vid) rank (the
 * per-edge degrees are needed for Jaccard anyway, so unlike
 * [[TriangleCount]]'s hub split the degree joins cost nothing extra)
 * and candidates are enumerated ONLY from the
 * lower-rank endpoint's adjacency, bounding the wedge volume by
 * Σ_edges min(deg_u, deg_w) = O(m^1.5) with no hot key; the closure
 * check and the degree lookup are plain equi-joins (sort-merge /
 * shuffle-hash under AQE, never a cross product). A common neighbor has
 * degree ≥ 2 by construction, so 1/ln(deg) is always finite.
 */
object LinkFeatures {

  /** @param canonical distinct undirected edges with src < dst (by vid)
   * @param undirected symmetrized distinct edge set (both directions) */
  def edgeFeatures(canonical: DataFrame, undirected: DataFrame): DataFrame = {
    val deg = undirected.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))

    val e = canonical
      .join(deg.select(col("v").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddst")), "dst")
    val srcLower = col("dsrc") < col("ddst") ||
      (col("dsrc") === col("ddst") && col("src") < col("dst"))
    val oriented = e.select(col("src"), col("dst"), col("dsrc"), col("ddst"),
      when(srcLower, col("src")).otherwise(col("dst")).as("lo"),
      when(srcLower, col("dst")).otherwise(col("src")).as("hi"))

    // candidate common neighbors from the LOW-rank endpoint's adjacency;
    // closure = (hi, v) is also an edge. v == lo/hi is impossible (the
    // edge sets carry no self-loops).
    val cands = oriented
      .join(undirected.select(col("src").as("lo"), col("dst").as("v")), "lo")
      .join(undirected.select(col("src").as("hi"), col("dst").as("v")), Seq("hi", "v"))
    val scored = cands
      .join(deg.select(col("v"), col("deg").as("degv")), "v")
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("cn"), sum(lit(1.0) / log(col("degv"))).as("aa"))

    e.join(scored, Seq("src", "dst"), "left_outer")
      .select(col("src"), col("dst"),
        coalesce(col("cn"), lit(0L)).as("common_neighbors"),
        round(coalesce(col("cn"), lit(0L)).cast("double") /
          (col("dsrc") + col("ddst") - coalesce(col("cn"), lit(0L))), 6).as("jaccard"),
        round(coalesce(col("aa"), lit(0.0)), 6).as("adamic_adar"))
  }

  /** DuckDB oracle body; requires `uedges`,`cedges` CTEs (the naive
   * two-join enumeration — same result set as the oriented plan). */
  val oracleBodySql: String =
    """vdeg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM uedges GROUP BY src),
      |feats AS (
      |  SELECT c.src, c.dst, CAST(count(*) AS BIGINT) AS cn, sum(1.0 / ln(dv.deg)) AS aa
      |  FROM cedges c
      |  JOIN uedges a ON a.src = c.src
      |  JOIN uedges b ON b.src = c.dst AND b.dst = a.dst
      |  JOIN vdeg dv ON dv.v = a.dst
      |  GROUP BY c.src, c.dst
      |)
      |SELECT c.src, c.dst,
      |       coalesce(f.cn, 0) AS common_neighbors,
      |       round(CAST(coalesce(f.cn, 0) AS DOUBLE) / (du.deg + dw.deg - coalesce(f.cn, 0)), 6) AS jaccard,
      |       round(coalesce(f.aa, 0.0), 6) AS adamic_adar
      |FROM cedges c
      |JOIN vdeg du ON du.v = c.src
      |JOIN vdeg dw ON dw.v = c.dst
      |LEFT JOIN feats f ON f.src = c.src AND f.dst = c.dst
      |ORDER BY c.src, c.dst""".stripMargin
}
