package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pregel._

/**
 * PageRank with the reference's exact semantics
 * (/root/reference/src/examples/hybridgraph/examples/pagerank/
 * PageRankBSP.java:30-86, PageRankUserTool.java:38-50, 106-109):
 *  - superstep 1: value = 0.15/N for every vertex;
 *  - superstep t>1: value = 0.15/N + 0.85 * sum(incoming messages),
 *    or 0.15/N when no message arrived;
 *  - the STORED per-vertex value is value/outDegree and messages carry the
 *    stored value (so a message is rank/outdeg); the final reported score
 *    multiplies back (getFinalValue = value*outDegree) — we keep both
 *    columns (`value` = reported rank, `stored` = message payload);
 *  - dangling vertices received a self-loop at edge derivation
 *    (PageRankUserTool.java:42-46), so outdeg >= 1 always;
 *  - every vertex responds every superstep (VBlockUpdateRule.UPDATE);
 *    runs a FIXED number of supersteps; jobAgg = sum of scores.
 *
 * The teleport term (0.15/N above) is a per-vertex column, so personalized
 * PageRank is this program with the teleport concentrated on one vertex
 * ([[PageRank.personalized]]).
 *
 * Message combine is a float sum — reduction order differs between
 * engines, so parity versus the oracle is allclose 1e-6 (north rule), not
 * bitwise.
 */
final class PageRank(teleport: Column, iterations: Int, val name: String) extends VertexProgram {
  def this(n: Long, iterations: Int) = this(lit(0.15) / lit(n.toDouble), iterations, "pagerank")

  def initState(vertices: DataFrame): DataFrame =
    vertices.select(col("vid"), col("outdeg"),
      lit(0.0).as("value"), lit(0.0).as("stored"), lit(false).as("respond"))

  val msgExpr: Column = col("stored")

  def aggregate(msgs: DataFrame): DataFrame =
    msgs.groupBy("vid").agg(sum(col("msg")).as("magg"))

  def emptyInboxCols: Seq[(String, Column)] =
    Seq("magg" -> lit(null).cast("double"))

  def update(joined: DataFrame, superstep: Int, jobAgg: Double): DataFrame = {
    val value =
      if (superstep == 1) teleport
      else teleport + lit(0.85) * coalesce(col("magg"), lit(0.0))
    joined.select(col("vid"), col("outdeg"),
      value.as("value"),
      (value / greatest(col("outdeg"), lit(1L))).as("stored"),
      lit(true).as("respond"))
  }

  override def vertexAggCol: Column = col("value")
  override def usesPriorState: Boolean = false // new rank = f(messages, outdeg) only
  val updateRule: UpdateRule = UpdateAll
  val maxSupersteps: Int = iterations
}

object PageRank {
  /** Personalized PageRank (random walk with restart to one source; no
   * reference analog): the teleport is 0.15 at `source` and 0 elsewhere.
   * Most of the graph holds exactly 0.0 until the walk frontier reaches
   * it. Named "ppr", so its snapshots never mix with PageRank's. */
  def personalized(source: Long, iterations: Int): PageRank =
    new PageRank(when(col("vid") === source, lit(0.15)).otherwise(lit(0.0)), iterations, "ppr")

  /** Run `program` and report (vid, `out`) where `out` = rank * N rounded
   * to 6dp — N-normalized so the 1e-6 tolerance is relative to a ~1.0
   * score, and rounding absorbs cross-engine float reduction order. */
  def scores(pregel: Pregel, program: PageRank, vertices: DataFrame, prEdges: DataFrame, n: Long,
             out: String = "pr_scaled"): DataFrame = {
    val (state, _) = pregel.run(program, vertices, prEdges)
    state.select(col("vid"), round(col("value") * lit(n.toDouble), 6).as(out))
  }

  /** Unrolled-CTE DuckDB oracle body; requires `vertices` and `predges`
   * CTEs. Emits sK chain s1..s<iters> then the final select. `teleport` is
   * the SQL teleport term over the vertex's `vid` and `nv.n`. */
  def oracleSql(iterations: Int, teleport: String = "0.15/nv.n", out: String = "pr_scaled"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""pdeg AS (SELECT src, count(*) AS d FROM predges GROUP BY src),
        |nv AS (SELECT count(*) AS n FROM vertices),
        |s1 AS (SELECT vid, $teleport AS pr FROM vertices CROSS JOIN nv)""".stripMargin)
    for (t <- 2 to iterations) {
      sb.append(s""",
        |s$t AS (
        |  SELECT v.vid, $teleport + 0.85*coalesce(m.s, 0.0) AS pr
        |  FROM vertices v CROSS JOIN nv
        |  LEFT JOIN (
        |    SELECT e.dst, sum(p.pr/dg.d) AS s
        |    FROM s${t - 1} p JOIN predges e ON e.src = p.vid JOIN pdeg dg ON dg.src = p.vid
        |    GROUP BY e.dst
        |  ) m ON m.dst = v.vid
        |)""".stripMargin)
    }
    sb.append(s"""
      |SELECT s.vid, round(s.pr * nv.n, 6) AS $out
      |FROM s$iterations s CROSS JOIN nv ORDER BY s.vid""".stripMargin)
    sb.toString
  }
}
