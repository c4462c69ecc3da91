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

  // star hub 0 <-> 1..200 plus a chain 201..220 (438 edges): at p = 8 the
  // hub's degree (200) clears the 2|E|/p cut (109), so Pregel salts
  // exactly {0}. The kernel runs at p = 8 only with the edges-per-partition
  // adaptivity off: the default 32,768 would give p = 1 and a cut of 876.
  private def starEdges: Seq[(Long, Long)] = {
    val star = (1L to 200L).flatMap(i => Seq((0L, i), (i, 0L)))
    val chain = (201L until 220L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    star ++ chain
  }

  test("salted CC equals unsalted CC (push and pull)") {
    val verts = vertDF(221)
    // (labels, whether any executed plan read the salted hot relation)
    def cc(saltMinDeg: Long, mode: ExchangeMode): (Map[Long, Long], Boolean) = {
      val cfg = PregelConfig(numPartitions = 8, targetEdgesPerPartition = 0, mode = mode, saltMinDeg = saltMinDeg)
      val (labels, salted) = executedPlans(_.contains("_salt")) {
        ConnectedComponents.labels(new Pregel(spark, cfg), verts, edgeDF(starEdges), 6)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      (labels, salted.nonEmpty)
    }
    val (unsalted, unsaltedSalts) = cc(0L, Hybrid)
    assert(!unsaltedSalts, "saltMinDeg = 0 must not salt")
    for (mode <- Seq(Hybrid, ForcePush, ForcePull)) {
      val (labels, salts) = cc(1L, mode)
      assert(salts, s"salted $mode: no executed plan reads the salted hot relation")
      assert(labels == unsalted, s"salted $mode != unsalted")
    }
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
    val unsaltedPlan = plan(new PackedAdj(coldAll, None, Array.empty, hasWeight = false, ???))
    val saltedPlan = plan(new PackedAdj(cold, Some(hot), Array(0L), hasWeight = false, ???))
    def shuffles(s: String): Int = "(?<!Broadcast)Exchange".r.findAllIn(s).length
    assert(saltedPlan.contains("BroadcastHashJoin"),
      s"hot senders must broadcast-join the salted chunks:\n$saltedPlan")
    assert(shuffles(saltedPlan) == shuffles(unsaltedPlan),
      s"salting must add no shuffle exchange: salted=${shuffles(saltedPlan)} " +
        s"unsalted=${shuffles(unsaltedPlan)}\n$saltedPlan")
  }
}
