package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
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
 * Scale design: the common neighbours of edge (u,w) are exactly the third
 * vertices of the triangles on it, so the features read
 * [[TriangleCount.closures]] — its hub-split oriented, packed sorted-set
 * intersection (O(m^1.5) wedge volume, no hub-quadratic key) — instead of
 * enumerating wedges a second time. A closure row (v, w, common) credits
 * each c in common to the edges (v,w), (v,c) and (w,c), each time with the
 * triangle's remaining vertex as the third; grouping by the canonical pair
 * gives the common-neighbour count and Σ 1/ln(deg(third)). The only joins
 * against `undirected` are for degrees. A common neighbour has degree ≥ 2
 * by construction, so 1/ln(deg) is always finite.
 */
object LinkFeatures {

  /** @param canonical distinct undirected edges with src < dst (by vid)
   * @param undirected symmetrized distinct edge set (both directions) */
  def edgeFeatures(canonical: DataFrame, undirected: DataFrame): DataFrame = {
    val deg = undirected.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val e = canonical
      .join(deg.select(col("v").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddst")), "dst")

    // the edge (a,b) of triangle {a, b, third}, as a canonical pair
    def credit(a: Column, b: Column, third: Column): Column =
      struct(least(a, b).as("src"), greatest(a, b).as("dst"), third.as("v"))
    val scored = TriangleCount.closures(canonical)
      .select(col("v"), col("w"), explode(col("common")).as("c"))
      .select(inline(array(credit(col("v"), col("w"), col("c")),
        credit(col("v"), col("c"), col("w")), credit(col("w"), col("c"), col("v")))))
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
   * two-join enumeration — same result set as the closure plan). */
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
