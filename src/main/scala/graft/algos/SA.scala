package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pregel._

/**
 * Simulated advertisements, reference semantics
 * (/root/reference/src/examples/hybridgraph/examples/sa/SABSP.java:45-163,
 * initial value (verId, 1) SAUserTool.java:46-56; concat messages):
 *  - superstep 1: only the source vertex responds (broadcasts its ad id);
 *  - superstep t>1: a messaged vertex computes the most frequent incoming
 *    ad id (popularity), ties broken deterministically by MAX ad id
 *    (SABSP.findNewValue:147-155), and adopts it when the id differs from
 *    its current ad OR the popularity is strictly higher; adopting
 *    vertices respond; everyone votes to halt (stop at respond==0).
 * Uses the directed edge set with dangling self-loops (same parse rule as
 * PageRank). The fixed-K oracle must model the respond set explicitly
 * (popularity counts are not monotone, unlike min-combiners), which the
 * `resp` column does.
 */
final class SA(source: Long, maxIters: Int) extends VertexProgram {
  val name = "sa"

  def initState(vertices: DataFrame): DataFrame =
    vertices.select(col("vid"), col("outdeg"),
      col("vid").as("aid"), lit(1L).as("cnt"), lit(false).as("respond"))

  val msgExpr: Column = col("aid")

  // popularity argmax with max-id tie-break (SABSP.findNewValue:147-155)
  def aggregate(msgs: DataFrame): DataFrame =
    LabelPropagation.vote(msgs).select(col("vid"), col("m.cnt").as("mcnt"), col("m.msg").as("maid"))

  def emptyInboxCols: Seq[(String, Column)] =
    Seq("mcnt" -> lit(null).cast("long"), "maid" -> lit(null).cast("long"))

  def update(joined: DataFrame, superstep: Int, jobAgg: Double): DataFrame =
    if (superstep == 1)
      joined.select(col("vid"), col("outdeg"),
        col("vid").as("aid"), lit(1L).as("cnt"),
        (col("vid") === source).as("respond"))
    else {
      val adopt = col("maid").isNotNull &&
        (col("maid") =!= col("aid") || col("cnt") < col("mcnt"))
      joined.select(col("vid"), col("outdeg"),
        when(adopt, col("maid")).otherwise(col("aid")).as("aid"),
        when(adopt, col("mcnt")).otherwise(col("cnt")).as("cnt"),
        adopt.as("respond"))
    }

  override def vertexAggCol: Column = when(col("respond"), 1.0).otherwise(0.0)
  // messaged-only updates: unmessaged rows keep (aid, cnt), respond=false
  override val deltaFilter: Option[Column] = Some(col("maid").isNotNull)
  val updateRule: UpdateRule = MsgDepend
  val maxSupersteps: Int = maxIters
}

object SA {
  def run(pregel: Pregel, vertices: DataFrame, prEdges: DataFrame,
          source: Long, maxIters: Int): DataFrame = {
    val (state, _) = pregel.run(new SA(source, maxIters), vertices, prEdges)
    state.select(col("vid"), col("aid"), col("cnt"))
  }

  /** Fixed-K unrolled oracle with explicit respond tracking; requires
   * `vertices`,`predges` CTEs. The popularity argmax mirrors the engine's
   * max(struct(count, id)) via a row_number window (count DESC, id DESC). */
  def oracleSql(source: Long, k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"a1 AS (SELECT vid, vid AS aid, CAST(1 AS BIGINT) AS cnt, (vid = $source) AS resp FROM vertices)")
    for (t <- 2 to k) {
      sb.append(s""",
        |a$t AS (
        |  SELECT s.vid,
        |         CASE WHEN m.maid IS NOT NULL AND (m.maid <> s.aid OR s.cnt < m.mcnt)
        |              THEN m.maid ELSE s.aid END AS aid,
        |         CASE WHEN m.maid IS NOT NULL AND (m.maid <> s.aid OR s.cnt < m.mcnt)
        |              THEN m.mcnt ELSE s.cnt END AS cnt,
        |         (m.maid IS NOT NULL AND (m.maid <> s.aid OR s.cnt < m.mcnt)) AS resp
        |  FROM a${t - 1} s
        |  LEFT JOIN (
        |    SELECT dst, aid AS maid, c AS mcnt FROM (
        |      SELECT e.dst, p.aid, count(*) AS c,
        |             row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, p.aid DESC) AS rn
        |      FROM a${t - 1} p JOIN predges e ON e.src = p.vid
        |      WHERE p.resp GROUP BY e.dst, p.aid
        |    ) WHERE rn = 1
        |  ) m ON m.dst = s.vid
        |)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, aid, cnt FROM a$k ORDER BY vid")
    sb.toString
  }
}
