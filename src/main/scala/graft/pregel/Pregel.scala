package graft.pregel

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.PartitionedCheckpoint.localCheckpointHashed
import org.apache.spark.storage.StorageLevel

/** One superstep's telemetry — the Spark analog of the reference's
 * SuperStepReport/SuperStepCommand pair (comm/SuperStepCommand.java:15-335):
 * collected at the barrier action, fed to the cost model, persisted with
 * checkpoints as the convergence-metrics lineage the north rule requires. */
case class SuperstepMetrics(
    superstep: Int,
    style: String,
    respondCount: Long,
    estMsgs: Long,
    jobAgg: Double,
    q: Double,
    activeBlocks: Int,
    numBlocks: Int,
    wallMs: Long,
    checkpointed: Boolean,
    /** true = delta/active-set superstep (only touched rows materialized) */
    delta: Boolean = false)

case class PregelConfig(
    numPartitions: Int = 32,
    mode: ExchangeMode = Hybrid,
    broadcastCapBytes: Long = 16L << 20, // broadcast build is driver-bound; pull only pays off for small respond sets
    checkpointDir: Option[String] = None,
    checkpointEvery: Int = 10,
    /** Cost-based checkpoint gating on top of the interval (reference
     * JobInProgress.isCheckPoint + JobMonitor.isDynCheckPointRequired):
     * at an interval boundary, archive only when the runtime accumulated
     * since the last snapshot has reached the average snapshot cost.
     * false = archive at every boundary. Halting always snapshots. */
    dynamicCheckpoint: Boolean = true,
    resume: Boolean = false,
    /** Test hook mirroring the reference's failure injection
     * (BSPJob.setFailedIteration:584-595, used BSPTask.java:828-833):
     * throw at the START of the barrier group holding this superstep (the
     * superstep itself when unfused), before its barrier — the
     * recovery spec kills a run between dynamic-policy checkpoints with
     * delta overlays in flight and resumes it. */
    failAtSuperstep: Option[Int] = None,
    /** Fuse k supersteps into one Spark action (barrier every k) for
     * UpdateAll programs that don't read prior state (PageRank): k
     * supersteps become one pipelined plan, dividing per-superstep driver
     * overhead by k. The reference's mini-superstep batching analog
     * (BSPTask.runIteration:675-711) in reverse. */
    fusedSupersteps: Int = 1,
    /** Hub salting: a source vertex whose out-degree reaches
     * max(saltMinDeg, 2 * edges/partition) would otherwise land its whole
     * out-edge explosion in ONE task of the PUSH senders->edges join. Such
     * sources' edges are split across all partitions by hash(dst) and the
     * (few) hot senders are replicated to every salt value — bounded task
     * size at the cost of re-shuffling the respond relation, so the path
     * activates only when hot sources exist. saltMinDeg <= 0 disables. */
    saltMinDeg: Long = 1L << 16,
    /** Delta/active-set updates (reference C2 VBlock skip): when a
     * program declares a deltaFilter and the upcoming superstep's
     * activity bound (est. messages + active set) is below this fraction
     * of |V|, only the touched rows are materialized as an overlay over
     * the untouched base state — tail supersteps stop rewriting all |V|
     * rows. <= 0 disables. */
    deltaThreshold: Double = 0.3,
    /** Overlays accumulated before compacting back to a full base state
     * (compaction = one full-update superstep). */
    maxOverlays: Int = 4,
    /** Superstep fusing only engages at or above this edge count: below it
     * the per-barrier fixed cost being amortized is smaller than the
     * fused plan's own optimization/codegen overhead (measured r6). */
    fuseMinEdges: Long = 1L << 20,
    /** Scale-adaptive partitioning (guide §2): the effective partition
     * count is min(numPartitions, ceil(edges / targetEdgesPerPartition))
     * so a small graph doesn't pay numPartitions tasks per stage per
     * superstep (25-superstep fixture runs were ~90% task-launch
     * overhead at 32 partitions). numPartitions stays the cap — on a
     * cluster it is sized to cores/executors and big graphs use all of
     * it. <= 0 disables adaptivity (always numPartitions). */
    targetEdgesPerPartition: Long = 32768L)

/**
 * The superstep kernel — Spark-native analog of the reference's BSP driver
 * loop (/root/reference/src/java/org/apache/hama/bsp/BSPTask.java:822-839).
 *
 * One superstep = exactly one Spark action (the metrics aggregate on the
 * persisted new state); the action IS the barrier. Message exchange is a
 * declarative plan chosen per superstep by [[CostModel]]:
 *   PUSH  -> shuffle join senders->edges, partial+final combine on dst
 *            (shuffle = the reference's push buffers/spill, C10-C11);
 *   PULL  -> broadcast-hash gather: respond values broadcast to the
 *            partitioned edge relation (b-PULL, GraphDataServerDisk
 *            .getMsg:857-944), with source-block pruning mirroring the
 *            master's pull-route matrix (JobInformation
 *            .getActualRouteTable:318-350) as a block-membership filter
 *            pushed into the edge scan;
 *   PULL_SHUFFLE -> the same gather for respond sets above the broadcast
 *            cap: the respond relation shuffles once on src into the
 *            dst-keyed in-edge FRAGMENT relation (one row per (dst,
 *            source block) — the reference's VBlock x EBlock grid),
 *            scanned only for responding source blocks.
 *
 * Scale notes: out-edges are packed once into a per-source CSR-style
 * adjacency relation (src -> array of (dst[, weight])), hash-partitioned
 * on src and persisted — every superstep's sender join reuses that
 * partitioning and builds its hash table from |V| packed rows instead of
 * |E| edge rows; the array is exploded after the match inside the same
 * codegen stage. Vertex state is partitioned on vid so the inbox join
 * co-partitions. The only per-step shuffle is the message combine
 * (unavoidable: it IS the exchange). Skewed hub vertices are absorbed on
 * the inbox side by map-side partial aggregation (each hub receives <=
 * numPartitions partially-combined rows, not deg(hub) rows) and on the
 * scatter side by hub salting (high-out-degree sources' arrays split
 * across numPartitions salt groups).
 */
final class Pregel(spark: SparkSession, cfg: PregelConfig = PregelConfig()) {

  /** @param vertices (vid: long) one row per vertex
   *  @param edges    (src: long, dst: long [, weight: double]) directed
   *  @return (final state, per-superstep metrics) */
  def run(program: VertexProgram, vertices: DataFrame, edges: DataFrame): (DataFrame, Seq[SuperstepMetrics]) = {
    import Pregel.{NumBlocks, StateRowBytes}
    // Every relation this run pins in the block manager is registered here
    // the moment it is created; the one finally below releases them all on
    // every exit path (normal, empty input, crash in setup or in the loop).
    // Eagerly localCheckpointed relations are freed through their RDD: their
    // storage never enters the CacheManager, so Dataset.unpersist can't
    // reach it and ContextCleaner GC leaked it into the surviving session
    // (ADVICE r4).
    val held = scala.collection.mutable.ArrayBuffer[() => Unit]()
    def hold(df: DataFrame, release: DataFrame => Unit = Pregel.unpersistCheckpointed): DataFrame = {
      held += (() => release(df))
      df
    }
    // Superstep-loop execution regime: AQE OFF and shuffle width = p for
    // the loop, restored by the same finally. AQE's per-query-stage
    // re-optimization adds driver round-trips to every superstep's
    // critical path for zero benefit on plans whose shapes the kernel
    // already pins (the same reason Bench's scaling sessions run AQE-off),
    // and pinning the shuffle width keeps the combine output exactly
    // co-partitioned with the hash(vid, p) state. Setup (derivation
    // aggregates, packing) stays under the session's own regime — its
    // explicit repartition(p, keys) exchanges fix the checkpointed
    // layouts regardless, and AQE's coalescing helps the derivation.
    val confKeys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val priorConf = confKeys.map(k => k -> spark.conf.getOption(k))
    val store = new StateStore
    try {
      // Stage the input edges once: both the degree aggregation and the CSR
      // packing read them, and the caller usually hands us a lazy derivation
      // (symmetrize/self-loops over the transcript graph) that would
      // otherwise execute twice. Unpersisted right after the packed relation
      // materializes below.
      // If the caller already cached the edge relation (e.g. a shared
      // derivation bundle reused across queries), don't re-persist it here —
      // and, more importantly, don't unpersist it at the end: evicting a
      // caller's cache would silently re-derive the relation for the next
      // query that shares it.
      val callerCached = edges.storageLevel != StorageLevel.NONE
      val ec =
        if (callerCached) edges
        else hold(edges.persist(StorageLevel.MEMORY_AND_DISK), _.unpersist(blocking = false))
      // per-source out-degree in ONE aggregation: the degree relation, the
      // global degree stats AND the L5 per-block stats all derive from this
      // single |E| pass (block aggregates roll up from the per-source rows —
      // no second scan of the edge relation)
      val deg = hold(ec.groupBy(col("src").as("vid")).agg(count(lit(1)).as("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK), _.unpersist(blocking = false))
      // Empty-vertex guard: fail soft (empty result, no supersteps) instead of
      // an NPE out of head() below — a user's first empty partition should not
      // be a 500-line stack trace.
      val maxVidRow = vertices.agg(max(col("vid"))).head()
      if (maxVidRow.isNullAt(0)) {
        val emptyState = program.initState(
          vertices.join(deg, Seq("vid"), "left_outer")
            .withColumn("outdeg", coalesce(col("outdeg"), lit(0L))))
        return (emptyState, Seq.empty)
      }
      val maxVid = maxVidRow.getLong(0)
      val blkLen = math.max(1L, (maxVid + NumBlocks) / NumBlocks)
      // L5 edge-bound stats (reference EdgeHashBucMgr.java:25-51): per-source-
      // block edge count, rolled up from the per-source degree relation and
      // held on the driver (<= NumBlocks rows). Feeds the cost model's
      // pull-fragment volume (sum of edge counts over responding blocks) —
      // the reference's dependency-matrix sizing. The same collect yields
      // the global edge count and max out-degree (the hub cut), so setup
      // pays ONE stats job, not three.
      val blkRows = deg.groupBy(expr(s"vid div $blkLen").as("blk"))
        .agg(sum(col("outdeg")).as("cnt"), max(col("outdeg")).as("maxdeg"))
        .collect()
      val blkEdges: Map[Long, Long] = blkRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val edgeCount = blkEdges.valuesIterator.sum
      val maxOutdeg = if (blkRows.isEmpty) 0L else blkRows.iterator.map(_.getLong(2)).max
      // Scale-adaptive effective partition count (guide §2): derived from
      // the measured edge count, capped at the configured parallelism. Every
      // relation the superstep loop touches (packed adjacency, fragments,
      // state, overlays) is partitioned at this width.
      val p =
        if (cfg.targetEdgesPerPartition <= 0) cfg.numPartitions
        else math.min(cfg.numPartitions.toLong,
          math.max(1L, (edgeCount + cfg.targetEdgesPerPartition - 1) / cfg.targetEdgesPerPartition)).toInt
      val hubCut = math.max(cfg.saltMinDeg, 2L * edgeCount / math.max(1, p))
      // At most p/2 sources can have out-degree >= 2*edges/p (they'd exceed
      // the edge total otherwise), so the hot list is always a handful of
      // driver-held literals. Literals — NOT a joined DataFrame: a hot-list
      // relation appearing on BOTH sides of the exchange join trips Spark's
      // self-join deduplication, which rewrites one side's attribute ids and
      // silently breaks the persisted edge cache's plan matching (measured:
      // the whole edge derivation re-ran every superstep).
      val hotVids: Array[Long] =
        if (cfg.saltMinDeg > 0 && maxOutdeg >= hubCut)
          deg.filter(col("outdeg") >= hubCut).collect().map(_.getLong(0))
        else Array.empty[Long]
      // Packed per-source adjacency (the reference's VBlock/CSR layout,
      // graph/GraphDataServerMem.java adjacency arrays; SURVEY §7.2): one row
      // per src holding the out-edge array. The exchange joins this instead
      // of the flat edge list — the hash-join build side shrinks from |E|
      // rows to |V| rows (measured ~15% faster per exchange round at 10M
      // edges) and per-sender edges arrive as one contiguous array (the CSR
      // gather), exploded after the join inside the same codegen stage.
      //
      // Hot/cold split (round 3; round 2 salted the WHOLE relation, which
      // put (src, salt) into the join key and re-exchanged every sender each
      // superstep — driver-measured slower than unsalted, BENCH_r02 skew):
      // the cold relation keeps the plain (src) join key, so the senders
      // side keeps its hash(vid) partitioning and the PUSH join stays
      // exchange-free; only the ≤ p/2 hub sources move to a salted hot
      // relation whose per-(src, salt) chunks spread over all partitions,
      // joined against a BROADCAST of the (few) hot senders — salting then
      // costs nothing for the cold 99.99% of the graph.
      val hasWeight = edges.columns.contains("weight")
      val edgeStruct =
        if (hasWeight) struct(col("dst"), col("weight"))
        else struct(col("dst"))
      // Pack the adjacency WITHOUT ever materializing a hub's full out-edge
      // list in one row or one task (round-3 plan packed ALL sources —
      // including hubs — with one collect_list row per source, then built the
      // salted hot relation by exploding that one row in ONE task: a
      // 1.9M-struct array at sf0.1, gigabytes / a guaranteed 2 GB-array
      // failure at 100x hub degrees, and the 17.4s straggler in the driver's
      // r3 skew run). hotVids is decided from `deg` BEFORE packing, so:
      //   cold = flat edges of non-hub sources, one collect_list row per
      //          source, each bounded by the hub cut (~2|E|/p);
      //   hot  = flat edges of hub sources grouped DIRECTLY by
      //          (src, pmod(hash(dst), p)) — the hub's adjacency arrives
      //          pre-split into p chunks of ~deg/p built by p parallel tasks;
      //          no giant row ever exists anywhere in the plan.
      // Lineage discipline (DeduplicateRelations cache-bust, round 2/3):
      // The packed relation materializes as a LogicalRDD (eager ONE-ARG
      // localCheckpoint via localCheckpointHashed — lineage-free, hash(src)
      // layout stamped), NOT as a persist()ed view of its derivation: a persisted plan is matched by
      // lineage, and any OTHER occurrence of the same source relations in a
      // superstep plan (PageRank's staticBase shares the vertex lineage)
      // trips DeduplicateRelations' attribute-id rewrite, after which the
      // cache lookup misses and the WHOLE edge derivation re-runs inside
      // every superstep (measured: 2.9s/superstep vs 0.25s at sf0.1 —
      // r6 probe; the same cache-bust class as the round-2/3 hot-list bug).
      // A LogicalRDD has no lineage to rewrite, so no plan can unhitch it.
      val hotSeq = hotVids.toIndexedSeq
      val cold = hold(localCheckpointHashed(
        (if (hotVids.isEmpty) ec else ec.filter(!col("src").isin(hotSeq: _*)))
          .groupBy(col("src")).agg(collect_list(edgeStruct).as("_adj"))
          .repartition(p, col("src")), Seq("src"), p))
      val hot = if (hotVids.isEmpty) None else Some(hold(localCheckpointHashed(
        Pregel.saltedHot(ec, hotSeq, p, edgeStruct), Seq("src", "_salt"), p)))
      if (!callerCached) ec.unpersist(blocking = false)
      // In-edge fragment relation for the shuffle-gather pull path (built
      // lazily on the first PullShuffle superstep — most runs never pay for
      // it): dst-keyed fragments indexed by SOURCE block, rebuilt from the
      // already-packed out-adjacency and materialized as a LogicalRDD so no
      // overlapping lineage with the cold relation ever enters a superstep
      // plan (DeduplicateRelations cache-bust, rounds 2-3).
      val adj = new PackedAdj(cold, hot, hotVids, hasWeight, {
        val flat = (cold +: hot.toSeq).map(_.select(col("src"), explode(col("_adj")).as("_e")))
          .reduce(_ unionByName _)
        val cols = Seq(col("src"), col("_e.dst").as("dst")) ++
          (if (hasWeight) Seq(col("_e.weight").as("weight")) else Nil)
        hold(localCheckpointHashed(
          Pregel.packInFragments(flat.select(cols: _*), blkLen, p, hasWeight), Seq("dst"), p))
      })
      val cost = new CostModel(cfg.mode, cfg.broadcastCapBytes)
      val ckpt = cfg.checkpointDir.map(d => new Checkpoint(spark, d, program.name))
      val ckptPolicy = new CheckpointPolicy

      val vertsWithDeg = vertices.join(deg, Seq("vid"), "left_outer")
        .withColumn("outdeg", coalesce(col("outdeg"), lit(0L)))

      // Programs whose update() is a pure function of (static vertex cols,
      // inbox) join against this cached, pre-partitioned relation instead of
      // the prior state: the join is exchange-free (inbox comes out of the
      // combine already hash(vid)-partitioned) and plan growth is linear.
      // LogicalRDD for the same reason as the packed adjacency above: its
      // vertex lineage would otherwise coexist with the adjacency's in every
      // superstep plan and feed the DeduplicateRelations cache-bust.
      val staticBase =
        if (program.usesPriorState) None
        else Some(hold(localCheckpointHashed(
          vertsWithDeg.repartition(p, col("vid")), Seq("vid"), p)))

      // The loop regime holds from here to the finally, which covers the
      // resume load and inbox regeneration too: a failed resume cannot leave
      // the session AQE-off at width p.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      val nApprox = (maxVid + 1).toDouble // dense-id |V| proxy (upper-biased when sparse)
      val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetrics]()
      val resumed = if (cfg.resume) ckpt.flatMap(_.latest()) else None
      // A checkpoint-loaded relation has its parquet files' split layout, not
      // hash(vid, p): re-stamp it through an explicit exchange. States the
      // loop itself saved never come back from disk (save only writes).
      store.replace(localCheckpointHashed(
        resumed.map(_._2).getOrElse(program.initState(vertsWithDeg)).repartition(p, col("vid")),
        Seq("vid"), p, eager = false))

      val startStep = resumed.map(_._1 + 1).getOrElse(1)
      // metrics lineage up to the snapshot: prefixed to every subsequent
      // archive (continuous history from superstep 1 across failures);
      // run() itself returns only THIS run's supersteps.
      val priorMetrics: Seq[SuperstepMetrics] = resumed.map(_._4).getOrElse(Seq.empty)

      // deltaFilter programs must not fuse: a delta superstep applies
      // update() exactly once, so fuse>1 would skip supersteps (today all
      // deltaFilter programs are MsgDepend and land at 1 anyway — this makes
      // the invariant structural rather than accidental).
      // Fusing amortizes the per-barrier fixed cost (driver round-trip +
      // full-state materialization) and pays a 4x-sized plan per action; the
      // trade only wins when per-superstep data volume dwarfs the plan
      // overhead. Below `fuseMinEdges` the barrier is NOT the bottleneck
      // (r6 probe at 159k edges: fuse=1 5.7s vs fuse=4 9.9s for 10-superstep
      // PageRank) while above it the r5 scaling evidence favors fuse=4 —
      // so the floor keeps fusing scale-adaptive rather than constant.
      val fuse =
        if (program.usesPriorState || program.updateRule != UpdateAll ||
          program.deltaFilter.isDefined || edgeCount < cfg.fuseMinEdges) 1
        else math.max(1, cfg.fusedSupersteps)
      val reportCols = BarrierReport.columns(program, blkLen)

      // the exchange from `from`'s responding rows, combined into an inbox
      def send(from: DataFrame, style: Style, blocks: Seq[Long]): DataFrame =
        program.aggregate(exchange(program, from.filter(col("respond")), adj, style, blocks, blkLen))
      // hash join, not sort-merge: both sides are already hash(vid, p)
      // co-partitioned, so SMJ's only addition is two per-superstep sorts
      // (r6 plan audit); a small inbox broadcasts instead.
      def withInbox(left: DataFrame, inbox: Option[DataFrame], bcast: Boolean): DataFrame = inbox match {
        case Some(ib) =>
          val renamed = ib.withColumnRenamed("vid", "_mvid")
          left.join(if (bcast) broadcast(renamed) else renamed.hint("shuffle_hash"),
            col("vid") === col("_mvid"), "left_outer").drop("_mvid")
        case None => program.emptyInboxCols.foldLeft(left)((df, c) => df.withColumn(c._1, c._2))
      }

      // One barrier: supersteps t..tEnd (fused into one lazy plan) run
      // against `inbox`, sent in `style` by the previous barrier.
      @scala.annotation.tailrec
      def superstep(t: Int, inbox: Option[DataFrame], style: Style, jobAgg: Double,
                    prev: Option[BarrierReport]): Unit = if (t <= program.maxSupersteps) {
        val t0 = System.nanoTime()
        val tEnd = math.min(t + fuse - 1, program.maxSupersteps)
        cfg.failAtSuperstep.filter(f => t <= f && f <= tEnd).foreach { f =>
          throw new RuntimeException(s"injected failure at superstep $f (failAtSuperstep test hook)")
        }
        val willCkptBoundary = ckpt.isDefined &&
          tEnd / cfg.checkpointEvery > (t - 1) / cfg.checkpointEvery
        // Delta superstep (C2 skip): only when the program declares the
        // contract, the upcoming activity bound is a small fraction of |V|,
        // and the overlay budget holds (else this step runs full = compacts).
        // fuse == 1 is structural here (deltaFilter programs force fuse=1
        // above): a delta step applies update() exactly once, so running it
        // under fuse>1 would silently skip supersteps — guard it anyway.
        val deltaStep = cfg.deltaThreshold > 0 && program.deltaFilter.isDefined &&
          fuse == 1 && !willCkptBoundary && store.hasRoom(cfg.maxOverlays, nApprox) &&
          prev.exists(r => r.estMsgs + r.active <= cfg.deltaThreshold * nApprox)
        // A delta step materializes only the touched rows, as an overlay; a
        // full step rewrites the whole state (or, for a static-base program,
        // rebuilds it from the static columns).
        val stepped =
          if (deltaStep)
            program.update(withInbox(store.view, inbox, bcast = prev.get.estMsgs <= 100000L)
              .filter(program.deltaFilter.get), t, jobAgg)
          else {
            def fused(tt: Int, st: DataFrame, in: Option[DataFrame]): DataFrame = {
              val updated = program.update(withInbox(staticBase.getOrElse(st), in, bcast = false), tt, jobAgg)
              if (tt == tEnd) updated else fused(tt + 1, updated, Some(send(updated, style, Nil)))
            }
            fused(t, store.view, inbox)
          }
        // ONE action per barrier: the eager localCheckpoint materializes
        // the state (and truncates lineage — the reference's double-buffered
        // value files, GraphDataServerDisk.java:1222-1258) and the observed
        // report rides the same job. The stamped checkpoint pins hash(vid, p)
        // (the one-arg localCheckpoint; the two-arg form yields
        // UnknownPartitioning and re-exchanges the state in every join).
        val obs = Observation()
        val next = localCheckpointHashed(
          stepped.observe(obs, reportCols.head, reportCols.tail: _*), Seq("vid"), p)
        // obs.get blocks until the listener delivers this execution's
        // metrics — the action above has already run, so this is a
        // listener-bus round-trip, not a job.
        val rep = BarrierReport.decode(obs.get)

        val halt = rep.respondCount == 0L || program.halted(rep.jobAgg, tEnd) || tEnd == program.maxSupersteps
        // L5 fragment volume for the shuffle-gather pull estimate: exact edge
        // count over responding source blocks, from the driver-held stats.
        val nextStyle = cost.choose(tEnd, rep.respondCount, rep.estMsgs, StateRowBytes,
          combineRatio = math.min(1.0, (maxVid + 1).toDouble / math.max(1L, rep.estMsgs)),
          respondBlockEdges = rep.respondBlocks.iterator.map(b => blkEdges.getOrElse(b, 0L)).sum)

        val wallMs = (System.nanoTime() - t0) / 1000000
        ckptPolicy.recordStep(wallMs)
        val doCkpt = ckpt.isDefined &&
          ((willCkptBoundary && (!cfg.dynamicCheckpoint || ckptPolicy.required)) || halt)
        val m = SuperstepMetrics(tEnd, nextStyle.tag, rep.respondCount, rep.estMsgs, rep.jobAgg,
          cost.lastQ, rep.respondBlocks.length, NumBlocks, wallMs / (tEnd - t + 1), doCkpt, deltaStep)
        for (tt <- t to tEnd) metrics += m.copy(superstep = tt)

        if (deltaStep) store.push(next, rep.rows)
        if (doCkpt) {
          val c0 = System.nanoTime()
          // a delta step snapshots only at halt: the merged view, which
          // becomes the new base
          ckpt.get.save(if (deltaStep) store.compact(p) else next, tEnd, rep.jobAgg, priorMetrics ++ metrics)
          ckptPolicy.recordCheckpoint((System.nanoTime() - c0) / 1000000)
        }
        if (!deltaStep) store.replace(next)
        if (!halt) superstep(tEnd + 1, Some(send(next, nextStyle, rep.respondBlocks)), nextStyle, rep.jobAgg, Some(rep))
      }

      // The first group's in-group sends run before any barrier has
      // reported. A resumed run sends them in the style it chose for the
      // inbox its snapshot step had already sent (and regenerates here); a
      // fresh run asks a throwaway model — `cost` keeps its state — for an
      // all-responding step, so forced modes and the broadcast cap hold.
      val (resumedInbox, openStyle) = resumed match {
        case Some(_) =>
          val style = cost.choose(startStep, store.view.filter(col("respond")).count(), 0, StateRowBytes, 1.0)
          (Some(send(store.view, style, Nil)), style)
        case None =>
          (None, new CostModel(cfg.mode, cfg.broadcastCapBytes).choose(startStep, maxVid + 1, edgeCount,
            StateRowBytes, math.min(1.0, (maxVid + 1).toDouble / math.max(1L, edgeCount)), edgeCount))
      }
      superstep(startStep, resumedInbox, openStyle, resumed.map(_._3).getOrElse(0.0), None)
      (store.view, metrics.toSeq)
    } catch {
      case e: Throwable =>
        // a crashed run also drops the state it was building (the caller
        // never sees it)
        store.retire()
        throw e
    } finally {
      priorConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      held.foreach(_())
    }
  }

  /** Build the raw message relation msgs(vid, msg) for one exchange.
   * Sender state columns keep their names (msgExpr may reference `vid`,
   * the sender's own id — e.g. MIS broadcasts it); the edge's dst is
   * aliased out FIRST and renamed in a second projection so it can never
   * shadow the sender's `vid` via lateral column aliasing. */
  private[pregel] def exchange(program: VertexProgram, senders: DataFrame, adj: PackedAdj,
                               style: Style, respondBlocks: Seq[Long], blkLen: Long): DataFrame = {
    // pull-route pruning (C13): when fewer than half the source blocks
    // respond, push a block-membership predicate into the (big) edge
    // relation scan.
    val pruneBlocks = respondBlocks.nonEmpty && respondBlocks.length < Pregel.NumBlocks / 2
    def prune(e: DataFrame, blk: Column = expr(s"src div $blkLen")): DataFrame =
      if (pruneBlocks) e.filter(blk.isin(respondBlocks: _*)) else e
    // Name-based (not Dataset-qualified) refs: the edge relation appears
    // once per fused superstep in a single plan tree, and qualified refs
    // would trip the ambiguous-self-join detector. `_graft_src` keeps the
    // sender's own `vid` visible to msgExpr (MIS broadcasts it).
    val s2 = senders.withColumn("_graft_src", col("vid"))
    val cond = col("_graft_src") === col("src")
    val cold = prune(adj.cold)
    // CSR gather: unpack the matched source's out-edge array (one explode
    // per sender row, inside the same codegen stage as the join).
    def unpack(joined: DataFrame): DataFrame = {
      val perEdge0 = joined.withColumn("_edge", explode(col("_adj")))
        .withColumn("dst", col("_edge.dst"))
      if (adj.hasWeight) perEdge0.withColumn("weight", col("_edge.weight")) else perEdge0
    }
    val perEdge = style match {
      case Pull =>
        // b-PULL: gather on the edge side; the hot relation (same schema
        // minus the salt key) unions in and gathers from the same
        // broadcast — edge rows never move either way.
        val all = adj.hot.map(h => cold.unionByName(prune(h).drop("_salt"))).getOrElse(cold)
        unpack(all.join(broadcast(s2), cond))
      case PullShuffle =>
        // Non-broadcast b-PULL (GraphDataServerDisk.getMsg:857-944): scan
        // the dst-keyed in-edge fragments of RESPONDING source blocks
        // (dependency-matrix prune), explode to flat in-edges, and join
        // the respond relation — the senders shuffle once on src, the
        // fragment scan stays local, and no broadcast cap applies.
        val ia = prune(adj.inAdj, col("_sblk"))
        val fcols = Seq(col("dst"), col("_ie.src").as("src")) ++
          (if (adj.hasWeight) Seq(col("_ie.weight").as("weight")) else Nil)
        val flat = ia.select(col("dst"), explode(col("_iadj")).as("_ie")).select(fcols: _*)
        flat.join(s2.hint("shuffle_hash"), cond)
      case Push =>
        // PUSH scatter over the cold graph: plain (src) key, senders keep
        // their hash(vid) partitioning — exchange-free.
        val coldJ = s2.join(cold.hint("shuffle_hash"), cond)
        adj.hot match {
          case None => unpack(coldJ)
          case Some(h) =>
            // Hot hubs: the ≤ p/2 hot senders (driver-known vids, literal
            // isin) BROADCAST against the salted hot chunks, which stay
            // partitioned by (src, salt) — the hub's out-edge explosion
            // runs in p tasks and no sender row is ever re-shuffled.
            val hotSenders = s2.filter(col("vid").isin(adj.hotVids.toIndexedSeq: _*))
            val hotJ = prune(h).drop("_salt").join(broadcast(hotSenders), cond)
            unpack(coldJ.unionByName(hotJ))
        }
    }
    perEdge.select(col("dst").as("_graft_dst"), program.msgExpr.as("msg"))
      .select(col("_graft_dst").as("vid"), col("msg"))
  }
}

private[graft] object Pregel {
  /** VBlock count (reference Constants.java:84): vids split into this many
   * contiguous source blocks for the L5 edge stats, the barrier's
   * respond-block bitmap and pull-route pruning. */
  private[pregel] val NumBlocks = 256
  /** Estimated bytes per respond-relation row (cost-model input). */
  private val StateRowBytes = 32

  /** Free the block-manager storage behind an eagerly localCheckpointed
   * DataFrame. `Dataset.unpersist` can't: the storage belongs to the
   * checkpoint's RDD, which never enters the CacheManager — it must be
   * unpersisted through the LogicalRDD the checkpoint produced. No-op for
   * any other plan shape. */
  private[graft] def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** The salted hot adjacency, built DIRECTLY from flat edges: hub sources'
   * edges grouped by (src, pmod(hash(dst), p)) so each hub's adjacency is
   * assembled as p independent ~deg/p chunks by p parallel tasks. No
   * intermediate packs the full adjacency into one row, and no single-task
   * explode of a packed row exists anywhere in the plan (the round-3 build
   * did both — fatal at 100x hub degrees). Extracted for SaltSpec's
   * plan-shape assertion. */
  private[pregel] def saltedHot(flatEdges: DataFrame, hotVids: Seq[Long],
                                p: Int, edgeStruct: Column): DataFrame =
    flatEdges.filter(col("src").isin(hotVids: _*))
      .withColumn("_salt", pmod(hash(col("dst")), lit(p)))
      .groupBy(col("src"), col("_salt")).agg(collect_list(edgeStruct).as("_adj"))
      .repartition(p, col("src"), col("_salt"))

  /** The in-edge fragment relation for shuffle-gather PULL: one row per
   * (dst, source block[, sub-chunk]) holding that block's in-edges to
   * dst — the Spark analog of the reference's (VBlock x EBlock) fragment
   * grid (graph/EdgeFragmentBuc.java, GraphDataServerDisk
   * .getMsgFromOneVBlock:959-1041). Keyed and partitioned by dst; `_sblk`
   * lets the gather scan prune to responding SOURCE blocks (the
   * dependency matrix).
   *
   * Fragment rows are bounded STRUCTURALLY, not just by the block's
   * vertex count: the per-(dst, block) grouping alone caps a fragment at
   * blkLen = |V|/numBlocks in-edges, which at 10^9 vertices lets a
   * 10^8-in-degree hub build ~4x10^5-struct rows (VERDICT r4 #3). A
   * row_number sub-split chunks any fragment above `fragCap` into
   * ceil(cnt/fragCap) rows of <= fragCap structs each — the in-edge
   * mirror of the hot/cold out-adjacency split, exact (not hash-
   * probabilistic) so the cap is a hard bound. Chunk membership does not
   * affect results: the gather explodes every fragment of a responding
   * block, so the edge multiset is identical however it is chunked.
   * Fragments below the cap (every fragment in a small graph) get
   * `_fsub = 0` and the relation is row-for-row the round-4 one. */
  private[pregel] def packInFragments(flatEdges: DataFrame, blkLen: Long,
                                      p: Int, hasWeight: Boolean,
                                      fragCap: Long = 1L << 15): DataFrame = {
    val srcStruct =
      if (hasWeight) struct(col("src"), col("weight")) else struct(col("src"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dst"), col("_sblk")).orderBy(col("src"))
    flatEdges
      .withColumn("_sblk", expr(s"src div $blkLen"))
      .withColumn("_rn", row_number().over(w))
      // grouping on (dst, _sblk, _fsub) needs no extra exchange: the
      // window already hash-partitioned on (dst, _sblk), a superset-
      // compatible clustering for the aggregation
      .withColumn("_fsub", expr(s"cast((_rn - 1) div ${fragCap}L as int)"))
      .groupBy(col("dst"), col("_sblk"), col("_fsub"))
      .agg(collect_list(srcStruct).as("_iadj"))
      .drop("_fsub")
      .repartition(p, col("dst"))
  }
}

/** Packed CSR adjacency: `cold` = (src, _adj) hash-partitioned on src;
 * `hot` = the hub sources' edges as (src, _salt, _adj) chunks spread over
 * all partitions by hash(dst) salt (present only when hubs exist);
 * `hasWeight` = the `_adj` structs carry an edge weight; `inAdj` = the
 * dst-keyed in-edge fragment relation for shuffle-gather PULL, built from
 * `fragments` on first use. */
private[pregel] final class PackedAdj(
    val cold: DataFrame, val hot: Option[DataFrame], val hotVids: Array[Long], val hasWeight: Boolean,
    fragments: => DataFrame) {
  lazy val inAdj: DataFrame = fragments
}

/** The vertex state (round 3, reference C2 VBlock-skip analog): `base` is
 * the last fully-materialized state; `overlays` is a short list of small
 * materialized deltas (full state schema, one per delta superstep, newest
 * last). The logical state is base overridden by overlays newest-first;
 * respond comes from the NEWEST overlay alone (a vertex responds only in
 * the superstep that updated it). */
private[pregel] final class StateStore {
  private var base: DataFrame = null
  private var overlays = Vector.empty[(DataFrame, Long)] // (delta, rows)

  def view: DataFrame =
    if (overlays.isEmpty) base
    else {
      val cols = base.columns.toSeq
      val last = overlays.length - 1
      val merged = overlays.zipWithIndex.foldLeft(base) { case (df, ((ov, rows), i)) =>
        val renamed = ov.select(col("vid") +: cols.filterNot(_ == "vid").map(c => col(c).as(s"_o${i}_$c")): _*)
        // overlays are hash(vid)-partitioned like base, so these joins
        // are exchange-free; tiny overlays broadcast instead (skips the
        // per-partition hash-table build on default-config sessions)
        df.join(if (rows <= 100000L) broadcast(renamed) else renamed, Seq("vid"), "left_outer")
      }
      merged.select(cols.map {
        case "vid" => col("vid")
        case "respond" => coalesce(col(s"_o${last}_respond"), lit(false)).as("respond")
        case c => coalesce((last to 0 by -1).map(i => col(s"_o${i}_$c")) :+ col(c): _*).as(c)
      }: _*)
    }

  /** Overlay budget: another delta step may add an overlay while fewer
   * than `maxOverlays` exist and they hold at most a quarter of |V| rows. */
  def hasRoom(maxOverlays: Int, nApprox: Double): Boolean =
    overlays.length < maxOverlays && overlays.iterator.map(_._2).sum <= 0.25 * nApprox

  def push(delta: DataFrame, rows: Long): Unit = overlays :+= ((delta, rows))

  /** `full` becomes the base; the old base and every overlay retire. */
  def replace(full: DataFrame): Unit = {
    retire()
    base = full
  }

  /** Materialize the merged view as the new base, stamped hash(vid, p)
   * (the overlay joins keep base's layout), and return it. */
  def compact(p: Int): DataFrame = {
    val merged = localCheckpointHashed(view, Seq("vid"), p)
    replace(merged)
    merged
  }

  /** Blocking: bounds block-manager storage — async unpersist let retired
   * states pile up over long runs. */
  def retire(): Unit = {
    if (base != null) base.unpersist(blocking = true)
    overlays.foreach(_._1.unpersist(blocking = true))
    overlays = Vector.empty
  }
}

/** One barrier's superstep report (VerBlockBeta analog): respond count,
 * est. messages (sum of respond out-degrees), task aggregate, row count,
 * active count, and the responding source blocks. */
private[pregel] final case class BarrierReport(respondCount: Long, estMsgs: Long, jobAgg: Double,
                                               rows: Long, active: Long, respondBlocks: Seq[Long])

private[pregel] object BarrierReport {
  private val Words = (Pregel.NumBlocks + 63) / 64

  /** The report as OBSERVED metrics on the barrier's materialization
   * (df.observe), so one superstep costs exactly ONE job — round 3 ran a
   * second groupBy(blk)+collect job per barrier, ~half the fixed cost of
   * the 150-row 25-superstep adjtext fixtures (VERDICT r3 #5). The
   * responding-block set is a bit_or bitmap (NumBlocks bits in
   * ceil(NumBlocks/64) longs): bitwise aggregation is deterministic, which
   * CollectMetrics requires, where collect_set is not. Numeric columns are
   * cast EXPLICITLY (long/double): the Observation map hands back whatever
   * type the aggregate produced, and a program whose vertexAggCol/activeCol
   * is Int/Decimal would otherwise be silently read as 0 (ADVICE r4). */
  def columns(program: VertexProgram, blkLen: Long): Seq[Column] =
    Seq(
      sum(when(col("respond"), 1L).otherwise(0L)).cast("long").as("_respond"),
      sum(when(col("respond"), col("outdeg")).otherwise(0L)).cast("long").as("_estMsgs"),
      sum(program.vertexAggCol).cast("double").as("_vagg"),
      count(lit(1)).cast("long").as("_rows"),
      sum(program.activeCol).cast("long").as("_active")) ++
      // integer div: exact beyond 2^53 vids
      (0 until Words).map(w => expr(
        s"bit_or(if(respond and (vid div $blkLen) div 64 = $w, " +
          s"shiftleft(1L, cast((vid div $blkLen) % 64 as int)), 0L))").as(s"_rb$w"))

  def decode(m: Map[String, Any]): BarrierReport = {
    // null = empty input (sum over zero rows); any OTHER unexpected type
    // is a bug in columns' casts and must throw, not read as 0 and
    // silently corrupt halting/convergence
    def get[T](k: String, zero: T, boxed: Class[_]): T = m.get(k) match {
      case Some(null) | None => zero
      case Some(v) if boxed.isInstance(v) => v.asInstanceOf[T]
      case Some(v) => throw new IllegalStateException(
        s"superstep report $k: expected ${boxed.getSimpleName}, got ${v.getClass.getName} ($v)")
    }
    def long(k: String): Long = get(k, 0L, classOf[java.lang.Long])
    val blocks = (0 until Words).flatMap { w =>
      val bits = long(s"_rb$w")
      (0 until 64).collect { case b if (bits >> b & 1L) == 1L => w * 64L + b }
    }
    BarrierReport(long("_respond"), long("_estMsgs"), get("_vagg", 0.0, classOf[java.lang.Double]),
      long("_rows"), long("_active"), blocks)
  }
}
