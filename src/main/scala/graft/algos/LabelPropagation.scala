package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pregel._

/**
 * Community detection by label propagation, reference semantics
 * (/root/reference/src/examples/hybridgraph/examples/lpa/
 * LPABSP.java:36-135; messages are concatenate-only, isAccumulated=false,
 * LPAUserTool.java:158-160):
 *  - superstep 1: label = own vid;
 *  - superstep t>1: adopt the most frequent incoming label; ties broken
 *    deterministically by the MAXIMUM label (LPABSP.findLabel:118-135);
 *    vertices with no incoming message keep their label;
 *  - every vertex responds (broadcasts its label) every superstep until
 *    the global update count (jobAgg) of the previous superstep is 0, then
 *    all vote to halt (LPABSP.java:69-74);
 *  - runs at most `maxIters` supersteps (synchronous LPA can oscillate on
 *    bipartite substructures, so the cap is part of the semantics).
 *
 * Scale note: the reference ships whole label LISTS (MsgBundle) to each
 * destination; we instead pre-aggregate (dst, label) counts — a two-level
 * hash aggregate with map-side partial combine, so a hub vertex receives
 * at most numPartitions * distinctLabels rows instead of deg(hub)
 * messages. The argmax is max(struct(count, label)) — lexicographic
 * struct comparison gives max-count with max-label tie-break and is valid
 * for the full 64-bit vid range (the round-2 count*10^8+label packing
 * capped vids at 10^8; the oracle mirrors it with a row_number window).
 */
final class LabelPropagation(maxIters: Int) extends VertexProgram {
  val name = "lpa"

  def initState(vertices: DataFrame): DataFrame =
    vertices.select(col("vid"), col("outdeg"),
      col("vid").as("label"), lit(false).as("respond"))

  val msgExpr: Column = col("label")

  def aggregate(msgs: DataFrame): DataFrame =
    LabelPropagation.vote(msgs).select(col("vid"), col("m.msg").as("magg"))

  def emptyInboxCols: Seq[(String, Column)] =
    Seq("magg" -> lit(null).cast("long"))

  def update(joined: DataFrame, superstep: Int, jobAgg: Double): DataFrame =
    if (superstep == 1)
      // reference step 1: label=id, isUpdated=true, respond
      joined.select(col("vid"), col("outdeg"),
        col("vid").as("label"), lit(true).as("respond"), lit(true).as("_updated"))
    else {
      val newLabel = coalesce(col("magg"), col("label"))
      joined.select(col("vid"), col("outdeg"),
        newLabel.as("label"),
        lit(true).as("respond"), // always broadcast until global halt
        (newLabel =!= col("label")).as("_updated"))
    }

  override def vertexAggCol: Column =
    when(col("_updated"), 1.0).otherwise(0.0)

  override def halted(jobAgg: Double, superstep: Int): Boolean =
    superstep > 1 && jobAgg == 0.0

  val updateRule: UpdateRule = UpdateAll
  val maxSupersteps: Int = maxIters
}

object LabelPropagation {
  /** The popularity vote of LPA and SA: (vid, m = struct(cnt, msg)) with
   * msg the most frequent incoming message and cnt its count. The
   * lexicographic struct max gives max-count with max-msg tie-break and is
   * valid for the full 64-bit vid range. */
  private[algos] def vote(msgs: DataFrame): DataFrame =
    msgs.groupBy(col("vid"), col("msg")).agg(count(lit(1)).as("cnt"))
      .groupBy("vid").agg(max(struct(col("cnt"), col("msg"))).as("m"))

  def labels(pregel: Pregel, vertices: DataFrame, undirected: DataFrame, iters: Int): DataFrame = {
    val (state, _) = pregel.run(new LabelPropagation(iters), vertices, undirected)
    state.select(col("vid"), col("label"))
  }

  /** Fixed-K unrolled oracle; requires `vertices`,`uedges` CTEs. Matches
   * the engine exactly at every superstep (full-broadcast formula). */
  def oracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append("l1 AS (SELECT vid, vid AS lbl FROM vertices)")
    for (t <- 2 to k) {
      sb.append(s""",
        |l$t AS (
        |  SELECT s.vid, coalesce(m.nl, s.lbl) AS lbl
        |  FROM l${t - 1} s
        |  LEFT JOIN (
        |    SELECT dst, lbl AS nl FROM (
        |      SELECT e.dst, p.lbl, count(*) AS cnt,
        |             row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, p.lbl DESC) AS rn
        |      FROM l${t - 1} p JOIN uedges e ON e.src = p.vid
        |      GROUP BY e.dst, p.lbl
        |    ) WHERE rn = 1
        |  ) m ON m.dst = s.vid
        |)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, lbl AS label FROM l$k ORDER BY vid")
    sb.toString
  }
}
