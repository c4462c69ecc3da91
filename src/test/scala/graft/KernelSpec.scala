package graft

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.CacheEntries
import graft.pregel._
import graft.algos._

/** Superstep-kernel behaviors: checkpoint/resume, hybrid cost-model
 * switching discipline (SURVEY.md §5 item 5), metrics. */
class KernelSpec extends SparkTestBase {

  test("checkpoint + resume mid-iteration reproduces the uninterrupted run") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val (vids, directed) = RefOracle.randomGraph(30, 55, 11L)
    val sym = (directed ++ directed.map(_.swap)).distinct
    val verts = vertDF(vids.size.toLong)

    // uninterrupted
    val full = ConnectedComponents.labels(
      new Pregel(spark, PregelConfig(numPartitions = 4)), verts, edgeDF(sym), 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // phase 1: run only 3 supersteps, checkpointing every 2 (so step 2 + final step 3 are snapshotted)
    val cfg1 = PregelConfig(numPartitions = 4, checkpointDir = Some(dir), checkpointEvery = 2)
    val (_, m1) = new Pregel(spark, cfg1).run(new ConnectedComponents(3), verts, edgeDF(sym))
    assert(m1.exists(_.checkpointed), "phase 1 must checkpoint")

    // phase 2: resume from the snapshot and run to convergence
    val cfg2 = cfg1.copy(resume = true)
    val (state2, m2) = new Pregel(spark, cfg2).run(new ConnectedComponents(50), verts, edgeDF(sym))
    assert(m2.head.superstep == 4, s"resume must continue at superstep 4, got ${m2.head.superstep}")
    val resumed = state2.select("vid", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full, "resumed run must equal uninterrupted run")
  }

  test("injected mid-run failure resumes from the last dynamic checkpoint, overlays in flight") {
    val dir = Files.createTempDirectory("graft-fail").toString
    // path graph: CC converges over ~29 supersteps with a 1-2 vertex
    // frontier, so the steps between checkpoint boundaries run in DELTA
    // mode (overlays over the base state) — the failure lands mid-overlay
    val sym = (0L until 29L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val verts = vertDF(30)

    // uninterrupted truth + proof that delta overlays are in flight at the
    // failure point (deterministic: same graph, same config)
    val probeCfg = PregelConfig(numPartitions = 4, checkpointDir = Some(dir + "-probe"),
      checkpointEvery = 3)
    val (fullState, probeMetrics) =
      new Pregel(spark, probeCfg).run(new ConnectedComponents(40), verts, edgeDF(sym))
    val full = fullState.select("vid", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probeMetrics.exists(m => m.superstep == 28 && m.delta),
      s"superstep 28 must be a delta overlay (in flight at the step-29 crash): " +
        probeMetrics.map(m => s"${m.superstep}${if (m.delta) "d" else ""}").mkString(","))

    // phase 1: crash at superstep 29 (reference BSPJob.setFailedIteration)
    val cfg = PregelConfig(numPartitions = 4, checkpointDir = Some(dir),
      checkpointEvery = 3, failAtSuperstep = Some(29))
    val ex = intercept[RuntimeException] {
      new Pregel(spark, cfg).run(new ConnectedComponents(40), verts, edgeDF(sym))
    }
    assert(ex.getMessage.contains("superstep 29"))

    // phase 2: resume and run to convergence
    val (state2, m2) = new Pregel(spark, cfg.copy(resume = true, failAtSuperstep = None))
      .run(new ConnectedComponents(40), verts, edgeDF(sym))
    assert(m2.head.superstep > 1 && m2.head.superstep <= 29,
      s"must resume from the snapshot, not restart: first=${m2.head.superstep}")
    val resumed = state2.select("vid", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full, "resumed run must equal the uninterrupted run")

    // the final archive's metrics lineage is continuous from superstep 1
    // (pre-failure history rides the snapshot metadata across the resume)
    val meta = new Checkpoint(spark, dir, "cc").latest()
    assert(meta.isDefined)
    val lineage = meta.get._4.map(_.superstep)
    assert(lineage.nonEmpty && lineage.head == 1 &&
      lineage == (1 to lineage.max).toSeq,
      s"metrics lineage must be continuous from superstep 1, got $lineage")
  }

  test("CC snapshots at >= 8 partitions: saved and resumed state keep the hash(vid, p) layout") {
    // a snapshot re-read has its parquet files' split layout, not
    // hash(vid, 9); a delta superstep after a save or a resume must not
    // build on it as if it were stamped ("Can't zip RDDs with unequal
    // numbers of partitions"). Path graph: CC's tail supersteps run in
    // delta mode; push style, so a delta step's senders meet the packed
    // adjacency in a co-partitioned join instead of a broadcast.
    val dir = Files.createTempDirectory("graft-ckpt-wide").toString
    val sym = (0L until 39L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val verts = vertDF(40)
    def labels(cfg: PregelConfig): Map[Long, Long] =
      new Pregel(spark, cfg).run(new ConnectedComponents(50), verts, edgeDF(sym))._1
        .select("vid", "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = PregelConfig(numPartitions = 9, targetEdgesPerPartition = 0, mode = ForcePush)
    val full = labels(wide)
    assert(full.values.toSet == Set(0L))

    val cfg = wide.copy(checkpointDir = Some(dir), checkpointEvery = 3, dynamicCheckpoint = false)
    assert(labels(cfg.copy(checkpointDir = Some(dir + "-clean"))) == full,
      "an uninterrupted checkpointed run must equal the plain run")
    val ex = intercept[RuntimeException](labels(cfg.copy(failAtSuperstep = Some(12))))
    assert(ex.getMessage.contains("superstep 12"))
    assert(labels(cfg.copy(resume = true)) == full, "resumed run must equal the uninterrupted run")
  }

  test("failAtSuperstep fires inside a fused group; the resume equals the uninterrupted run") {
    val dir = Files.createTempDirectory("graft-fused-fail").toString
    val (vids, directed) = RefOracle.randomGraph(30, 60, 21L)
    val srcs = directed.map(_._1).toSet
    val prEdges = edgeDF(directed ++ vids.filterNot(srcs).map(v => (v, v)))
    val verts = vertDF(vids.size.toLong)
    def scores(cfg: PregelConfig): (Map[Long, Double], Seq[SuperstepMetrics]) = {
      val (state, metrics) = new Pregel(spark, cfg).run(new PageRank(vids.size.toLong, 12), verts, prEdges)
      (state.select("vid", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap, metrics)
    }
    // fuse 4: the barriers close supersteps 4, 8 and 12, so superstep 7 is
    // inside the second group; the snapshot interval 3 saves superstep 4
    val cfg = PregelConfig(numPartitions = 4, fusedSupersteps = 4, fuseMinEdges = 0L,
      checkpointDir = Some(dir), checkpointEvery = 3, dynamicCheckpoint = false)
    val (full, _) = scores(cfg.copy(checkpointDir = None))
    val ex = intercept[RuntimeException](scores(cfg.copy(failAtSuperstep = Some(7))))
    assert(ex.getMessage.contains("superstep 7"), ex.getMessage)
    val (resumed, m) = scores(cfg.copy(resume = true))
    assert(m.head.superstep == 5, s"must resume after the superstep-4 snapshot, got ${m.head.superstep}")
    for (v <- vids) assert(math.abs(full(v) - resumed(v)) < 1e-9, s"v=$v ${full(v)} vs ${resumed(v)}")
  }

  test("a fused run's first barrier group sends in the mode's style, fresh and resumed") {
    // the in-group sends of the first group run before any barrier has
    // chosen a style; they must not broadcast under ForcePush nor past the
    // broadcast cap
    val dir = Files.createTempDirectory("graft-fused-style").toString
    val (vids, directed) = RefOracle.randomGraph(30, 60, 21L)
    val srcs = directed.map(_._1).toSet
    val prEdges = edgeDF(directed ++ vids.filterNot(srcs).map(v => (v, v)))
    val verts = vertDF(vids.size.toLong)
    def run(cfg: PregelConfig) = new Pregel(spark, cfg).run(new PageRank(vids.size.toLong, 12), verts, prEdges)
    def broadcastingBarriers(cfg: PregelConfig): Seq[Int] = {
      val (metrics, plans) = executedPlans(plan => plan.contains("CollectMetrics") && plan.contains("_respond"))(run(cfg)._2)
      assert(plans.nonEmpty && plans.length * 4 >= metrics.length, s"${plans.length} barriers, ${metrics.length} supersteps")
      plans.zipWithIndex.collect { case (plan, i) if plan.contains("BroadcastExchange") => i }
    }
    val fused = PregelConfig(numPartitions = 4, fusedSupersteps = 4, fuseMinEdges = 0L)
    val push = fused.copy(mode = ForcePush)
    assert(broadcastingBarriers(push).isEmpty, "ForcePush: barriers with a BroadcastExchange")
    val ckpt = push.copy(checkpointDir = Some(dir), checkpointEvery = 3, dynamicCheckpoint = false)
    intercept[RuntimeException](run(ckpt.copy(failAtSuperstep = Some(7))))
    assert(broadcastingBarriers(ckpt.copy(resume = true)).isEmpty,
      "ForcePush resumed leg: barriers with a BroadcastExchange")
    assert(broadcastingBarriers(fused.copy(mode = Hybrid, broadcastCapBytes = 1L)).isEmpty,
      "Hybrid with a 1-byte broadcast cap: barriers with a BroadcastExchange")
  }

  test("PageRank and personalized PageRank keep separate checkpoints in one directory") {
    val dir = Files.createTempDirectory("graft-pr-ppr").toString
    val (vids, directed) = RefOracle.randomGraph(30, 60, 21L)
    val srcs = directed.map(_._1).toSet
    val prEdges = edgeDF(directed ++ vids.filterNot(srcs).map(v => (v, v)))
    val verts = vertDF(vids.size.toLong)
    val cfg = PregelConfig(numPartitions = 4, checkpointDir = Some(dir), checkpointEvery = 2)
    new Pregel(spark, cfg).run(new PageRank(vids.size.toLong, 8), verts, prEdges)
    assert(new Checkpoint(spark, dir, "pagerank").latest().isDefined, "PageRank saved no snapshot")
    def ppr(cfg: PregelConfig): (Map[Long, Double], Seq[SuperstepMetrics]) = {
      val (state, metrics) = new Pregel(spark, cfg).run(PageRank.personalized(vids.head, 8), verts, prEdges)
      (state.select("vid", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap, metrics)
    }
    val (resumed, metrics) = ppr(cfg.copy(resume = true))
    assert(metrics.head.superstep == 1, s"PPR resumed PageRank's snapshot at superstep ${metrics.head.superstep}")
    assert(resumed == ppr(PregelConfig(numPartitions = 4))._1, "PPR must equal an uncheckpointed PPR run")
  }

  test("a checkpointed run that halts on a delta step saves the merged view") {
    val dir = Files.createTempDirectory("graft-halt").toString
    // path graph of 25: CC halts at superstep 26, a delta step that is
    // neither a snapshot-interval boundary nor an overlay compaction
    val sym = (0L until 24L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val cfg = PregelConfig(numPartitions = 4, checkpointDir = Some(dir), checkpointEvery = 100)
    val (state, metrics) = new Pregel(spark, cfg).run(new ConnectedComponents(60), vertDF(25), edgeDF(sym))
    val last = metrics.last
    assert(last.delta && last.checkpointed,
      s"superstep ${last.superstep}: delta=${last.delta} checkpointed=${last.checkpointed}")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("vid", "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saved = new Checkpoint(spark, dir, "cc").latest()
    assert(saved.map(_._1).contains(last.superstep), s"latest snapshot ${saved.map(_._1)}")
    assert(labels(saved.get._2) == labels(state), "the saved snapshot must equal the returned state")
  }

  test("a failed resume load restores the session's AQE and shuffle-width conf") {
    // a complete-looking snapshot (_SUCCESS + meta.json) whose state is not parquet
    val dir = Files.createTempDirectory("graft-corrupt").toString
    val step = java.nio.file.Paths.get(dir, "cc", "step=3")
    Files.createDirectories(step.resolve("state"))
    Files.writeString(step.resolve("state").resolve("part-00000.parquet"), "not parquet")
    Files.writeString(step.resolve("state").resolve("_SUCCESS"), "")
    Files.writeString(step.resolve("meta.json"), """{"algo":"cc","superstep":3,"jobAgg":0.0}""")
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.getOption)
    val cfg = PregelConfig(numPartitions = 9, targetEdgesPerPartition = 0,
      checkpointDir = Some(dir), resume = true)
    val sym = (0L until 9L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    intercept[Exception](new Pregel(spark, cfg).run(new ConnectedComponents(10), vertDF(10), edgeDF(sym)))
    assert(keys.map(spark.conf.getOption) == before)
  }

  test("a setup failure releases every relation the run cached so far") {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val edges = edgeDF(Seq((0L, 1L), (1L, 0L)))
    val before = CacheEntries.count(spark)
    // no `vid` column: the max(vid) probe fails after the staged edges and
    // the degree relation are already persisted
    intercept[AnalysisException] {
      new Pregel(spark, PregelConfig(numPartitions = 4))
        .run(new ConnectedComponents(3), vertDF(2).withColumnRenamed("vid", "id"), edges)
    }
    assert(cm.lookupCachedData(edges.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
      "the staged edge relation is still cached")
    val after = CacheEntries.count(spark)
    assert(after == before, s"cache entries: $before before, $after after")
  }

  test("every superstep from 2 on runs exactly one shuffle Exchange: the message combine") {
    // the barrier's eager localCheckpoint is an action, so the listener sees
    // its executed plan; the observe() carrying the superstep report marks it
    def barrierPlans(run: => Seq[SuperstepMetrics]): (Seq[SuperstepMetrics], Seq[String]) =
      executedPlans(plan => plan.contains("CollectMetrics") && plan.contains("_respond"))(run)
    def shuffles(plan: String): Int = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    val (vids, directed) = RefOracle.randomGraph(60, 150, 5L)
    val sym = (directed ++ directed.map(_.swap)).distinct
    val srcs = directed.map(_._1).toSet
    val prEdges = edgeDF(directed ++ vids.filterNot(srcs).map(v => (v, v)))
    val weighted = edgeDF(sym).select(col("src"), col("dst"), SSSP.weightCol)
    val verts = vertDF(vids.size.toLong)
    for (mode <- Seq(ForcePush, Hybrid)) {
      val pregel = new Pregel(spark, PregelConfig(numPartitions = 4, mode = mode))
      for ((name, exchanges, run) <- Seq[(String, Int, () => Seq[SuperstepMetrics])](
          ("pagerank", 1, () => pregel.run(new PageRank(vids.size.toLong, 6), verts, prEdges)._2),
          ("cc", 1, () => pregel.run(new ConnectedComponents(20), verts, edgeDF(sym))._2),
          // delta steps (overlay view, inbox broadcast) and, in Hybrid, the
          // broadcast pull
          ("sssp", 1, () => pregel.run(new SSSP(0L, 30), verts, weighted)._2),
          // LPA's aggregate runs two: the (vid, label) count aggregate
          // shuffles on (vid, msg), then the per-vid arg-max on vid
          ("lpa", 2, () => pregel.run(new LabelPropagation(8), verts, edgeDF(sym))._2))) {
        val (metrics, barriers) = barrierPlans(run())
        assert(barriers.length == metrics.length, s"$name $mode: one barrier per superstep")
        barriers.zip(metrics).drop(1).foreach { case (plan, m) =>
          assert(shuffles(plan) == exchanges,
            s"$name $mode superstep ${m.superstep} (${m.style}): ${shuffles(plan)} shuffle exchanges\n$plan")
        }
        if (name == "sssp") {
          assert(metrics.exists(_.delta), s"sssp $mode: expected delta supersteps")
          if (mode == Hybrid) assert(metrics.exists(_.style == "pull"), "sssp Hybrid: expected pull exchanges")
        }
      }
    }
  }

  test("respond-block bitmap decodes all four words: one block per vertex below vid 256") {
    // vids < 256 give blkLen = 1, so every vertex is its own block and the
    // respond set's blocks span bitmap words 0-3
    val (vids, directed) = RefOracle.randomGraph(250, 400, 13L)
    val sym = (directed ++ directed.map(_.swap)).distinct
    val (_, metrics) = new Pregel(spark, PregelConfig(numPartitions = 4))
      .run(new ConnectedComponents(3), vertDF(vids.size.toLong), edgeDF(sym))
    val first = metrics.head
    assert(first.superstep == 1 && first.numBlocks == 256)
    assert(first.respondCount == 250L, "every vertex responds in CC's first superstep")
    assert(first.activeBlocks == first.respondCount,
      s"activeBlocks ${first.activeBlocks} != responding vertices ${first.respondCount}")
  }

  test("checkpoint metadata carries per-partition lineage and metrics") {
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    val verts = vertDF(10)
    val sym = (0L until 9L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val cfg = PregelConfig(numPartitions = 4, checkpointDir = Some(dir), checkpointEvery = 100)
    new Pregel(spark, cfg).run(new ConnectedComponents(5), verts, edgeDF(sym))
    val metaFiles = Files.walk(java.nio.file.Paths.get(dir)).iterator()
    var meta = ""
    metaFiles.forEachRemaining(p => if (p.getFileName.toString == "meta.json") meta = Files.readString(p))
    assert(meta.contains("\"partitions\":[{\"pid\":"), s"per-partition lineage missing: $meta")
    assert(meta.contains("\"metrics\":[{\"superstep\":1"), "metrics history missing")
    assert(meta.contains("\"style\":"), "exchange style missing from metrics")
  }

  test("SnapshotStore seam: parquet impl round-trips through the interface") {
    val dir = Files.createTempDirectory("graft-snap").toString
    val store: SnapshotStore = new ParquetSnapshotStore(spark)
    val ident = s"$dir/algo/step=3/state"
    assert(!store.complete(ident))
    store.write(vertDF(7), ident)
    assert(store.complete(ident))
    assert(store.read(ident).collect().map(_.getLong(0)).sorted.sameElements(0L until 7L))
  }

  test("cost model: dead-band keeps style, switch locks for w supersteps, cap forces push") {
    val cm = new CostModel(Hybrid, broadcastCapBytes = 1000)
    // superstep <= 2: never switches (starts Pull)
    assert(cm.choose(1, 10, 10, 10, 1.0) == Pull)
    assert(cm.choose(2, 10, 10, 10, 1.0) == Pull)
    // big respond relation: exceeds broadcast cap -> Push regardless
    assert(cm.choose(3, 1000, 10, 10, 1.0) == Push)
    // small respond, huge message volume -> push still cheaper? q<0 keeps push;
    // tiny messages and tiny respond -> |q| inside dead-band keeps current (Push)
    assert(cm.choose(4, 10, 10, 10, 1.0) == Push)
    // strongly pull-favored (huge est msgs, small respond) but switch-locked until step 5+2
    val s5 = cm.choose(5, 9, 100000000L, 10, 1.0)
    assert(s5 == Pull, s"expected switch to Pull at step 5, got $s5")
    // immediately try to force back: locked
    val s6 = cm.choose(6, 8, 0, 10, 1.0)
    assert(s6 == Pull, "switch interval must lock the style")
  }

  test("dynamic checkpoint policy: first boundary archives, cheap steps skip, recompute debt re-arms") {
    val p = new CheckpointPolicy
    // no history yet -> archive (averageCheckpointTime()==0 <= accumulated)
    p.recordStep(100)
    assert(p.required, "first eligible boundary must archive")
    p.recordCheckpoint(1000) // expensive snapshot; accumulator resets
    p.recordStep(100)
    assert(!p.required, "100ms recompute debt < 1000ms avg snapshot cost -> skip")
    (1 to 9).foreach(_ => p.recordStep(100))
    assert(p.required, "1000ms accumulated recompute >= avg snapshot cost -> archive")
    p.recordCheckpoint(500) // avg cost now 750ms
    p.recordStep(600)
    assert(!p.required)
    p.recordStep(200)
    assert(p.required)
  }

  test("fused supersteps produce identical PageRank results") {
    val (vids, directed) = RefOracle.randomGraph(30, 60, 21L)
    val srcs = directed.map(_._1).toSet
    val withLoops = directed ++ vids.filterNot(srcs).map(v => (v, v))
    val verts = vertDF(vids.size.toLong)
    def pr(fuse: Int) = PageRank.scores(
      new Pregel(spark, PregelConfig(numPartitions = 4, fusedSupersteps = fuse,
        fuseMinEdges = 0L)), // floor off: the test must exercise real fusing
      new PageRank(vids.size.toLong, 9), verts, edgeDF(withLoops), vids.size.toLong)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = pr(1); val b = pr(4)
    for (v <- vids) assert(math.abs(a(v) - b(v)) < 1e-9, s"v=$v ${a(v)} vs ${b(v)}")
  }

  test("push and pull exchanges produce identical supersteps (style parity)") {
    val (vids, directed) = RefOracle.randomGraph(20, 40, 3L)
    val sym = (directed ++ directed.map(_.swap)).distinct
    val verts = vertDF(vids.size.toLong)
    val a = LabelPropagation.labels(new Pregel(spark, PregelConfig(4, mode = ForcePush)), verts, edgeDF(sym), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = LabelPropagation.labels(new Pregel(spark, PregelConfig(4, mode = ForcePull)), verts, edgeDF(sym), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }
}
