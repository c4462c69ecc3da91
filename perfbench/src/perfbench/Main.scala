package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The benchmark's JVM side; perfbench/run.py builds and launches it.
 *
 * One run: start a local[4] session; derive the workload's graph three
 * times from its seeded transcripts (set-up, reported as a median); print
 * the graph's shape; run a host canary and an untimed warm-up; then run
 * rounds of the workload's jobs, another while a whole one fits in
 * `--seconds`, each job timed from the call to its collected result and
 * then checked against a driver-side reference; run the canary again;
 * print the report and, last, the result object.
 *
 * With `--trace 1` the set-ups and rounds are traced and the run reports
 * the per-layer metrics, among them its own jobs_s as trace.jobs_s: over
 * an untraced run's jobs_s it is the tracing overhead.
 */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        workDir: String, traceDir: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"), need("trace-dir"))
    require(Workloads.all.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // the engine's own session settings (graft.Bench.session)
      .config("spark.sql.shuffle.partitions", 16)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.shuffle.compress", "true")
      .config("spark.shuffle.spill.compress", "true")
      .config("spark.rdd.compress", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      // everything the session writes stays in the run's work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A fixed small shuffle + aggregation, median of 3: host speed at this
   * moment, for telling a slow window from a slow engine. */
  private def canary(spark: SparkSession): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 1000000, 1, 8).groupBy((col("id") % 50000).as("k")).agg(sum("id"))
      .agg(count(lit(1))).head()
    secsSince(t0)
  })

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not in /proc/self/status"))

  /** One executed job. */
  final case class Outcome(job: Job, round: Int, traced: Boolean, span: Int, wallS: Double,
                           recoveryS: Option[Double], finalS: Double, error: Option[String],
                           threw: Boolean) {
    def ok: Boolean = error.isEmpty
  }

  private def errorText(e: Throwable): String = {
    val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    (e.getClass.getSimpleName + ": " + msg).take(300)
  }

  /** Units of the end-to-end metrics. */
  val endToEnd: Map[String, String] = Map("setup_s" -> "s", "jobs_s" -> "s", "peak_rss_mb" -> "MB")

  /** Unit of a per-layer metric, from its name. */
  def unitOf(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("_ms_")) "ms"
    else if (name.endsWith("_util") || name.endsWith("_ratio") || name.endsWith("_skew")) "ratio"
    else "count"

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spec = Workloads.all(a.workload)
    val spark = session(a.workDir)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try run(a, spec, spark, sessionS)
    finally spark.stop()
  }

  private def run(a: Args, spec: Workloads.Spec, spark: SparkSession, sessionS: Double): Unit = {
    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val tracer = new Tracer(spark, runId, Cores)
    tracer.enable(a.trace)

    // ---- set-up, three times; the jobs use the last graph ----
    var g: Graph = null
    val setups = (1 to 3).map { _ =>
      if (g != null) g.release()
      tracer.span("setup") {
        g = Graph.derive(spark, tracer, spec.conversations, a.seed, spec.views)
        (g.deriveS, g.viewsS, if (tracer.on) tracer.shuffleBytesUnder(tracer.current) else 0.0)
      }
    }
    tracer.enable(false)
    val ref = new Refs(g)
    val ctx = new Ctx(tracer, g, ref, spec.cfg, a.workDir)
    // the input's shape, so that a run on another seed can be audited
    val main = if (spec.views.contains("und_hub")) "und_hub" else "und"
    println(s"shape workload=${a.workload} seed=${a.seed} conversations=${spec.conversations} " +
      s"vertices=${g.n} " + g.viewNames.map(v => s"edges_$v=${g.view(v).count()}").mkString(" ") +
      s" max_degree_$main=${ref.maxDegree(main)} triangles_$main=${ref.triangles(main)}")

    val outcomes = ArrayBuffer[Outcome]()
    def execute(job: Job, round: Int): Outcome = {
      val t0 = System.nanoTime()
      val o = try tracer.span("job." + job.name) {
        val span = tracer.current
        val r = job.run()
        Outcome(job, round, tracer.on, span, r.wallS, r.recoveryS, r.finalS, r.error, threw = false)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${job.name} threw:")
          e.printStackTrace()
          Outcome(job, round, tracer.on, -1, secsSince(t0), None, 0.0, Some(errorText(e)), threw = true)
      }
      o.error.foreach(err => System.err.println(s"[perfbench] ${job.name} failed: $err"))
      outcomes += o
      o
    }

    val canaryBefore = canary(spark)
    val warmT0 = System.nanoTime()
    spec.warmup(ctx).foreach(j => execute(j, 0))
    val warmupS = secsSince(warmT0)

    // ---- measured rounds: start another while a whole one still fits ----
    val jobs = spec.jobs(ctx)
    val roundWalls = ArrayBuffer[Double]()
    val layerRounds = ArrayBuffer[Map[String, Double]]()
    val gc0 = gcSeconds
    val mT0 = System.nanoTime()
    var round = 1
    tracer.enable(a.trace)
    while (round == 1 || secsSince(mT0) + roundWalls.sum / roundWalls.size <= a.seconds) {
      val r0 = System.nanoTime()
      val span = tracer.span("round") {
        jobs.foreach(execute(_, round))
        tracer.current
      }
      roundWalls += secsSince(r0)
      if (a.trace) layerRounds += tracer.layers(span)
      round += 1
    }
    tracer.enable(false)
    val rounds = round - 1
    val gcPerRound = (gcSeconds - gc0) / rounds
    val canaryAfter = canary(spark)

    // ---- report ----
    val timed = outcomes.filter(_.round > 0)
    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    val kinds = jobs.map(_.name)
    for (k <- kinds) {
      val os = timed.filter(_.job.name == k)
      val good = os.filter(_.ok)
      val median = if (good.isEmpty) "none" else med(good.map(_.wallS)).toString
      println(s"job ${k}_s median=$median s n=${good.size} failed=${os.size - good.size}")
      if (os.exists(_.recoveryS.isDefined))
        println(s"job ${k.stripSuffix("_ckpt")}_recovery_s median=${med(good.flatMap(_.recoveryS))} s n=${good.size}")
      os.filterNot(_.ok).map(_.error.get).distinct.foreach(e => println(s"error $k: $e"))
    }
    // A traced job's wall time against its parts: Pregel set-up, barriers,
    // the rest of each Pregel.run (snapshot writes, teardown) and the final
    // collect; the residual leaves out the rest.
    for (k <- kinds; o <- timed.filter(o => o.job.name == k && o.traced && o.ok)) {
      val calls = tracer.callsUnder(o.span)
      if (calls.nonEmpty) {
        val setup = calls.map(_.setupS).sum
        val barriers = calls.map(_.barrierS).sum
        val rest = calls.map(c => c.afterSetupS - c.barrierS).sum
        val sum = setup + barriers + o.finalS
        println(f"layer_sum ${k}_s round=${o.round} pregel_setup=$setup%.4f barriers=$barriers%.4f " +
          f"final=${o.finalS}%.4f sum=$sum%.4f job=${o.wallS}%.4f " +
          f"residual=${(o.wallS - sum) / o.wallS * 100}%.2f%% pregel_rest=$rest%.4f")
      }
    }

    val failed = outcomes.count(!_.ok)
    val correct = !outcomes.exists(o => !o.threw && o.error.isDefined)
    val failRatio = failed.toDouble / outcomes.size
    val setupS = sessionS + med(setups.map(s => s._1 + s._2))
    // a gated job that failed still counts with the time it took: a
    // failure must not read as a faster job
    val jobsS = kinds.filter(k => jobs.exists(j => j.name == k && j.gated))
      .map(k => med(timed.filter(_.job.name == k).map(_.wallS))).sum

    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq("setup_s" -> setupS, "jobs_s" -> jobsS, "peak_rss_mb" -> peakRssMb)
      else {
        val names = layerRounds.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
        Seq(
          "graph.derive_s" -> med(setups.map(_._1)),
          "graph.edge_views_s" -> med(setups.map(_._2)),
          "graph.shuffle_bytes" -> med(setups.map(_._3))) ++
          names.map(n => n -> med(layerRounds.map(_(n)))) ++
          Seq(
            "jvm.gc_s" -> gcPerRound,
            "jvm.warmup_s" -> warmupS,
            "jvm.heap_peak_mb" -> heapPeakMb,
            "host.canary_s" -> (canaryBefore + canaryAfter) / 2,
            "job_fail_ratio" -> failRatio,
            // jobs_s of this traced run: over the untraced run's jobs_s
            // (same workload and seed) it is the tracing overhead
            "trace.jobs_s" -> jobsS)
      }
    println(f"run rounds=$rounds measured_s=${secsSince(mT0)}%.2f session_s=$sessionS%.3f " +
      f"setups=${setups.map(s => f"${s._1 + s._2}%.3f").mkString(",")} warmup_s=$warmupS%.3f " +
      f"canary_before_s=$canaryBefore%.4f canary_after_s=$canaryAfter%.4f " +
      f"job_fail_ratio=$failed/${outcomes.size}")
    metrics.foreach { case (n, v) => println(s"metric $n $v ${if (a.trace) unitOf(n) else endToEnd(n)}") }
    if (a.trace) tracer.writeJson(s"${a.traceDir}/$runId.json")

    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (n, v) =>
      val unit = if (a.trace) unitOf(n) else endToEnd(n)
      s""""$n":{"value":${num(v)},"unit":"$unit"}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${outcomes.size},"failed":$failed,"metrics":{$body}}""")
  }
}
