package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Local clustering coefficient: coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
 * 0 for deg < 2. Composes the per-vertex triangle count
 * ([[TriangleCount]]) with the undirected degree aggregate — no reference
 * analog (see TriangleCount's header); standard link-graph analytics the
 * north rule's triangle requirement implies.
 *
 * Scale: inherits TriangleCount's hub-split orientation (no out-array
 * longer than ⌈√(2m)⌉, O(m^1.5) intersection work); the degree aggregate
 * is one partial-agg'd shuffle; the final join is vid-keyed equi-join
 * over |V| rows per side.
 */
object ClusteringCoefficient {

  /** @param canonical distinct undirected edges with src < dst
   *  @param undirected symmetrized edge set (for degrees)
   *  @param vertices   all vertices (coeff 0 when triangle- or degree-free) */
  def local(canonical: DataFrame, undirected: DataFrame, vertices: DataFrame): DataFrame = {
    val deg = undirected.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    val tri = TriangleCount.perVertex(canonical)
    vertices.select("vid")
      .join(deg, Seq("vid"), "left_outer")
      .join(tri, Seq("vid"), "left_outer")
      .select(col("vid"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          round((lit(2L) * coalesce(col("triangles"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Oracle body; requires `vertices`,`uedges`,`cedges`,`tris`,`tcounts`. */
  val oracleBodySql: String =
    """SELECT v.vid,
      |       CASE WHEN coalesce(d.deg, 0) >= 2
      |            THEN round(CAST(2 * coalesce(t.triangles, 0) AS DOUBLE) / (d.deg * (d.deg - 1)), 6)
      |            ELSE 0.0 END AS coeff
      |FROM vertices v
      |LEFT JOIN (SELECT src AS vid, CAST(count(*) AS BIGINT) AS deg FROM uedges GROUP BY src) d ON v.vid = d.vid
      |LEFT JOIN tcounts t ON v.vid = t.vid
      |ORDER BY v.vid""".stripMargin
}
