package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.graph.{LinkGraph, Transcripts}

/** Transcript-table invariants (BASELINE.json input_hint) and edge/vertex
 * derivation properties. */
class DerivationSpec extends SparkTestBase {

  test("synthetic transcripts are deterministic pure functions of the seed") {
    val a = Transcripts.synthetic(spark, 20, 10, seed = 5L).collect().map(_.toString).sorted
    val b = Transcripts.synthetic(spark, 20, 10, seed = 5L).collect().map(_.toString).sorted
    val c = Transcripts.synthetic(spark, 20, 10, seed = 6L).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering after round-trip") {
    val t = Transcripts.synthetic(spark, 15, 8, seed = 42L)
    val dir = Files.createTempDirectory("graft-roundtrip").toString
    t.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // stable ordering key is unique...
    assert(back.groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).isEmpty)
    // ...and text matches the original row-for-row under that ordering
    val joined = t.as("a").join(back.as("b"),
      col("a.conv_id") === col("b.conv_id") && col("a.turn_idx") === col("b.turn_idx"))
    assert(joined.filter(col("a.text") =!= col("b.text")).isEmpty)
    assert(joined.count() == t.count())
  }

  test("vertex ids are dense 0..n-1 and respect (conv_id, turn_idx) order") {
    val t = Transcripts.synthetic(spark, 12, 6, seed = 1L)
    val v = LinkGraph.vertices(t)
    val n = v.count()
    val stats = v.agg(min("vid"), max("vid"), countDistinct("vid")).head()
    assert(stats.getLong(0) == 0L && stats.getLong(1) == n - 1 && stats.getLong(2) == n)
    // order isomorphism: sorting by vid == sorting by (conv_id, turn_idx)
    val byVid = v.orderBy("vid").select("conv_id", "turn_idx").collect()
    val byKey = v.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx").collect()
    assert(byVid.sameElements(byKey))
  }

  test("edge derivation: adjacency chains + tool hub stars, dangling self-loops") {
    val t = Transcripts.synthetic(spark, 10, 6, seed = 9L)
    val v = LinkGraph.vertices(t).cache()
    val e = LinkGraph.directedEdges(v).cache()
    // adjacency edge count = sum(len-1) per conversation
    val adjCount = e.filter(col("kind") === "adj").count()
    val expect = v.groupBy("conv_id").agg(max("turn_idx").as("m")).agg(sum("m")).head().getLong(0)
    assert(adjCount == expect)
    // tool stars: every tool-turn except the hub links to the hub
    val toolCount = e.filter(col("kind") === "tool").count()
    val toolTurns = v.filter(col("tool").isNotNull).count()
    val hubs = v.filter(col("tool").isNotNull).select("tool").distinct().count()
    assert(toolCount == toolTurns - hubs)
    // withSelfLoops: every vertex has outdeg >= 1
    val pr = LinkGraph.withSelfLoops(e, v)
    val outless = v.select("vid").join(pr.select(col("src").as("vid")).distinct(), Seq("vid"), "left_anti")
    assert(outless.isEmpty)
  }

  test("bucketed convOffsets == naive global-window prefix sum") {
    val t = Transcripts.synthetic(spark, 137, 5, seed = 3L) // non-multiple of bucket count
    val fast = LinkGraph.convOffsets(t).orderBy("conv_id").collect()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("conv_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = t.groupBy(col("conv_id")).agg(count(lit(1)).as("turns"))
      .select(col("conv_id"), col("turns"),
        coalesce(sum(col("turns")).over(w), lit(0L)).as("off"))
      .orderBy("conv_id").collect()
    assert(fast.sameElements(naive))
  }

  test("fromEvents (conv_id, turn_idx) is unique — lpad width cannot truncate user ids") {
    val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    assert(t.groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).isEmpty)
  }

  test("fixed-K oracle horizon: CC and SSSP converge well before the pinned K at test scale") {
    val g = SparkEntry.graphOf(spark, "/root/testdata/sf0.001")
    import graft.pregel.{Pregel, PregelConfig}
    val p = new Pregel(spark, PregelConfig(numPartitions = 4))
    val (_, mcc) = p.run(new graft.algos.ConnectedComponents(SparkEntry.CC_ITERS), g.verts.select("vid"), g.undirected)
    assert(mcc.last.respondCount == 0, s"CC must converge within ${SparkEntry.CC_ITERS} supersteps at sf0.001")
    val weighted = g.undirected.select(col("src"), col("dst"), graft.algos.SSSP.weightCol)
    val (_, ms) = p.run(new graft.algos.SSSP(0L, SparkEntry.SSSP_ITERS), g.verts.select("vid"), weighted)
    assert(ms.last.respondCount == 0, s"SSSP must converge within ${SparkEntry.SSSP_ITERS} supersteps at sf0.001")
  }

  test("graphOf: two concurrent first calls leave verts and dedges cached") {
    // a fresh events table, so both calls miss the session's graph map and
    // race to derive; the loser adopts the winner's bundle and releases
    // only its own duplicate cache entries
    val dir = Files.createTempDirectory("graft-race").toString
    spark.range(400).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000L).as("ts"),
        (col("id") % 20).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("error"), lit("purchase")),
          (col("id") % 4 + 1).cast("int")).as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val start = new java.util.concurrent.CountDownLatch(1)
    val calls = (1 to 2).map(_ => java.util.concurrent.CompletableFuture.supplyAsync { () =>
      start.await(); SparkEntry.graphOf(spark, dir)
    })
    start.countDown()
    val gs = calls.map(_.get())
    assert(gs.distinct.size == 1, "both calls must return the winner's bundle")
    val storage = org.apache.spark.storage.StorageLevel.NONE
    assert(gs.head.verts.storageLevel != storage, "verts lost its cache")
    assert(gs.head.dedges.storageLevel != storage, "dedges lost its cache")
    assert(gs.head.verts.count() == gs.head.n)
  }
}
