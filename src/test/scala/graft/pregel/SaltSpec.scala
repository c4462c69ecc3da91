package graft.pregel

import org.apache.spark.sql.functions._
import graft.algos.ConnectedComponents

/** Hub-salting invariants (round 3 hot/cold split): salting must never
 * re-shuffle the senders relation — the cold join keeps the plain (src)
 * key and the hot side joins a BROADCAST of the few hub senders against
 * the pre-salted hot chunks. Round 2's whole-relation salting put the
 * salt into the join key and re-exchanged all |V| senders every superstep
 * (driver-measured slower than unsalted, BENCH_r02 skew). */
class SaltSpec extends graft.SparkTestBase {

  // star hub 0 <-> 1..200 plus a chain 201..220: with p=8 the hub's
  // degree (200) clears the 2|E|/p cut (~110), so Pregel salts exactly {0}
  private def starEdges: Seq[(Long, Long)] = {
    val star = (1L to 200L).flatMap(i => Seq((0L, i), (i, 0L)))
    val chain = (201L until 220L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    star ++ chain
  }

  test("salted CC equals unsalted CC (push and pull)") {
    val verts = vertDF(221)
    def cc(saltMinDeg: Long, mode: ExchangeMode) = ConnectedComponents.labels(
      new Pregel(spark, PregelConfig(numPartitions = 8, mode = mode, saltMinDeg = saltMinDeg)),
      verts, edgeDF(starEdges), 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unsalted = cc(0L, Hybrid)
    assert(cc(1L, Hybrid) == unsalted, "salted hybrid != unsalted")
    assert(cc(1L, ForcePush) == unsalted, "salted push != unsalted")
    assert(cc(1L, ForcePull) == unsalted, "salted pull != unsalted")
  }

  test("hot relation builds from flat edges: parallel chunks, no packed-row explode") {
    import spark.implicits._
    val p = 4
    val edges = starEdges.toDF("src", "dst")
    val hotLazy = Pregel.saltedHot(edges, Seq(0L), p, struct(col("dst")))
    // The 100x-scale contract (VERDICT r3 #1): the hub's adjacency must
    // never exist as one row or pass through one task. Built from flat
    // edges grouped by (src, salt), the plan has NO Generate (explode) —
    // the round-3 build exploded a single packed hub row in one task.
    val plan = hotLazy.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"hot build must not explode a packed row:\n$plan")
    // and the hub's chunks actually spread: p chunk rows, each ~deg/p
    val chunks = hotLazy.collect()
    assert(chunks.length == p, s"expected $p salted chunks, got ${chunks.length}")
    val sizes = chunks.map(_.getSeq[Any](2).size)
    assert(sizes.sum == 200, s"chunk sizes $sizes must cover all 200 hub edges")
    assert(sizes.max <= 200 / p * 3, s"chunks must be balanced, got $sizes")
  }

  test("salted PUSH plan: no extra shuffle exchange, hot senders broadcast") {
    import spark.implicits._
    val p = 4
    val edges = starEdges.toDF("src", "dst")
    val pack = struct(col("dst"))
    // mimic run()'s packed relations, materialized with fixed partitioning
    val coldAll = edges.groupBy(col("src")).agg(collect_list(pack).as("_adj"))
      .repartition(p, col("src")).localCheckpoint(true)
    val cold = edges.filter(col("src") =!= 0L)
      .groupBy(col("src")).agg(collect_list(pack).as("_adj"))
      .repartition(p, col("src")).localCheckpoint(true)
    val hot = Pregel.saltedHot(edges, Seq(0L), p, pack).localCheckpoint(true)
    // kernel-shaped state: hash(vid)-partitioned, materialized
    val state = (0L until 221L).toDF("vid")
      .withColumn("outdeg", lit(1L)).withColumn("label", col("vid"))
      .withColumn("respond", lit(true))
      .repartition(p, col("vid")).localCheckpoint(true)
    val pregel = new Pregel(spark, PregelConfig(numPartitions = p))
    val prog = new ConnectedComponents(5)
    def plan(adj: PackedAdj): String =
      pregel.exchange(prog, state.filter(col("respond")), adj, Push, Nil, 100L)
        .queryExecution.executedPlan.toString
    val unsaltedPlan = plan(PackedAdj(coldAll, None, Array.empty, hasWeight = false))
    val saltedPlan = plan(PackedAdj(cold, Some(hot), Array(0L), hasWeight = false))
    def shuffles(s: String): Int = "(?<!Broadcast)Exchange".r.findAllIn(s).length
    assert(saltedPlan.contains("BroadcastHashJoin"),
      s"hot senders must broadcast-join the salted chunks:\n$saltedPlan")
    assert(shuffles(saltedPlan) == shuffles(unsaltedPlan),
      s"salting must add no shuffle exchange: salted=${shuffles(saltedPlan)} " +
        s"unsalted=${shuffles(unsaltedPlan)}\n$saltedPlan")
  }
}
