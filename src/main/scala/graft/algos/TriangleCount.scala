package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Triangle counting — north-rule addition (absent from the reference,
 * whose algorithm library is PR/SSSP/CC/LPA/MIS/MM/SA:
 * /root/reference/src/examples/hybridgraph/examples/driver/
 * ExampleDriver.java:26-62). Pure DataFrame plan over ONE oriented,
 * packed adjacency relation and ONE equi-join.
 *
 * Orient (hub split, as the Hybrid Edge Partitioner's degree threshold
 * τ): a vertex is hot when its degree is ≥ τ = ⌈√(2m)⌉. At most 2m/τ ≤ τ
 * vertices qualify, so the hot vids are a handful of driver-held literals
 * (the same pattern as the kernel's hot-source list) and every edge is
 * oriented by an expression — no degree join. Rank = (hot, vid); each
 * edge points from its lower-rank endpoint to the higher one.
 *
 * Pack: out(v) is one rank-sorted array per vertex. A cold vertex has
 * fewer than τ neighbours in total; a hot vertex points only at hot
 * vertices. Either way |out(v)| ≤ τ, so no row ever holds a hub's full
 * neighbour list.
 *
 * Intersect (packed sorted-set intersection in the style of HERO): a
 * triangle with ranks a < b < c is found exactly once, from the oriented
 * edge a→b, as c ∈ (suffix of out(a) after b) ∩ out(b). Each oriented
 * edge v→w is exploded with its suffix; empty suffixes are dropped before
 * the exchange (a hub is the last element of most lists, so its key stays
 * out of the exchange); one join on w with out(w) closes the triangles
 * in-row. The wedge volume is Σ|suffix| = O(m^1.5), never hub-quadratic.
 */
object TriangleCount {

  /** The oriented, packed adjacency: (v, out) with out(v) the rank-sorted
   * out-neighbours of v, |out(v)| ≤ ⌈√(2m)⌉.
   * @param canonical distinct undirected edges with src < dst */
  private[graft] def oriented(canonical: DataFrame): DataFrame = {
    val m = canonical.count()
    val tau = math.ceil(math.sqrt(2.0 * m)).toLong
    val hot: Seq[Long] = canonical.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("v").count().filter(col("count") >= tau)
      .collect().map(_.getLong(0)).toSeq
    def isHot(c: String) = col(c).isin(hot: _*)

    // src < dst, so (hot, vid) rank flips the edge only when src alone is hot
    val flip = isHot("src") && !isHot("dst")
    canonical
      .select(when(flip, col("dst")).otherwise(col("src")).as("v"),
        when(flip, col("src")).otherwise(col("dst")).as("w"))
      .groupBy("v")
      // collect_list skips nulls: cold then hot, each vid-sorted = rank order
      .agg(concat(sort_array(collect_list(when(!isHot("w"), col("w")))),
        sort_array(collect_list(when(isHot("w"), col("w"))))).as("out"))
  }

  /** One row per oriented edge v→w with a non-empty suffix: (v, w, common)
   * where common = suffix(out(v), w) ∩ out(w), the third vertex of every
   * triangle found at v→w. */
  private[algos] def closures(canonical: DataFrame): DataFrame = {
    val out = oriented(canonical)
    val wedges = out
      .select(col("v"), col("out"), posexplode(col("out")).as(Seq("i", "w")))
      .filter(col("i") < size(col("out")) - 1)
      .select(col("v"), col("w"),
        slice(col("out"), col("i") + 2, size(col("out")) - col("i") - 1).as("suffix"))
    wedges.join(out.select(col("v").as("w"), col("out").as("wout")), "w")
      .select(col("v"), col("w"), array_intersect(col("suffix"), col("wout")).as("common"))
  }

  /** Per-vertex triangle counts; vertices in no triangle are absent.
   * @param canonical distinct undirected edges with src < dst */
  def perVertex(canonical: DataFrame): DataFrame =
    closures(canonical)
      .filter(size(col("common")) > 0)
      // v and w close every common neighbour; each common neighbour once
      .select(size(col("common")).cast("long").as("n"),
        posexplode(concat(array(col("v"), col("w")), col("common"))).as(Seq("i", "vid")))
      .groupBy("vid")
      .agg(sum(when(col("i") < 2, col("n")).otherwise(1L)).as("triangles"))

  /** Global triangle count (one row; 0 on an empty or triangle-free graph). */
  def global(canonical: DataFrame): DataFrame =
    closures(canonical)
      .agg(coalesce(sum(size(col("common")).cast("long")), lit(0L)).as("triangles"))

  /** Per-vertex count over all vertices (0 for triangle-free vertices). */
  def perVertexAll(canonical: DataFrame, vertices: DataFrame): DataFrame =
    vertices.select("vid").join(perVertex(canonical), Seq("vid"), "left_outer")
      .select(col("vid"), coalesce(col("triangles"), lit(0L)).as("triangles"))

  /** DuckDB oracle CTEs: naive 3-way join on canonical edges (same result
   * set as the oriented plan). Require a preceding `cedges` CTE. */
  val trisCteSql: String =
    """tris AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM cedges e1
      |  JOIN cedges e2 ON e1.dst = e2.src
      |  JOIN cedges e3 ON e3.src = e1.src AND e3.dst = e2.dst
      |)""".stripMargin

  val tcountsCteSql: String =
    """tcounts AS (
      |  SELECT vid, CAST(count(*) AS BIGINT) AS triangles FROM (
      |    SELECT a AS vid FROM tris UNION ALL
      |    SELECT b AS vid FROM tris UNION ALL
      |    SELECT c AS vid FROM tris
      |  ) GROUP BY vid
      |)""".stripMargin
}
