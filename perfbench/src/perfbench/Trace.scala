package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.pregel.{Pregel, PregelConfig, SuperstepMetrics, UpdateRule, VertexProgram}

/** One call into a layer, as the benchmark saw it. */
final case class Span(id: Int, name: String, parent: Int, runId: String, startNs: Long) {
  var endNs: Long = 0L
  def secs: Double = (endNs - startNs) / 1e9
}

/** One Pregel.run call seen from outside the kernel: its set-up ends when
 * the kernel first asks the program for an update (superstep 1, or the
 * first superstep after a resume); `metrics` is what the call returned
 * (empty when it threw). */
final class PregelCall(val span: Int, val resume: Boolean, val startNs: Long) {
  var firstUpdateNs = 0L
  var endNs = 0L
  var metrics: Seq[SuperstepMetrics] = Nil
  def setupS: Double = ((if (firstUpdateNs > 0) firstUpdateNs else endNs) - startNs) / 1e9
  def barrierS: Double = metrics.map(_.wallMs).sum / 1000.0
  def afterSetupS: Double = if (firstUpdateNs > 0) (endNs - firstUpdateNs) / 1e9 else 0.0
  /** Barriers with their superstep count: a fused group of k supersteps
   * is one barrier whose metrics the kernel repeats k times, each with
   * wallMs / k. */
  def barriers: Seq[(SuperstepMetrics, Int)] =
    metrics.foldLeft(List.empty[(SuperstepMetrics, Int)]) {
      case ((m0, k) :: rest, m) if m0.copy(superstep = m.superstep) == m => (m0, k + 1) :: rest
      case (acc, m) => (m, 1) :: acc
    }.reverse
}

/** Counters of one stage, summed over its tasks. */
final class StageCounters {
  val taskMs = ArrayBuffer[Long]()
  var cpuNs, shuffleRead, shuffleWrite, spill, outputBytes = 0L
}

final case class JobRecord(id: Int, span: Int, phase: String, stageIds: Seq[Int], startMs: Long) {
  var endMs: Long = startMs
}

/** Attributes Spark's task metrics to the span (and Pregel phase) that
 * was current on the calling thread when each job was submitted. */
final class TaskCounters extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  val stageOwner = mutable.HashMap[Int, Int]()
  val stages = mutable.HashMap[Int, StageCounters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRecord(e.jobId, span, prop(Tracer.PhaseKey).getOrElse(""), e.stageIds, e.time)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) {
      val c = stages.getOrElseUpdate(e.stageId, new StageCounters)
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** The stages a job ran itself (a stage shared with an earlier job
   * belongs to that job). */
  def ownStages(j: JobRecord): Seq[StageCounters] =
    j.stageIds.filter(s => stageOwner.get(s).contains(j.id)).flatMap(stages.get)
}

/**
 * The benchmark's tracing. When on, every call into a layer runs inside a
 * span; the span id (and, inside Pregel.run, the phase) travels to Spark
 * as a local property of the submitting thread, so the listener can add
 * each job's task metrics to the span that caused it. Spans stay in
 * memory and are written as JSON at the end. When off, calls go straight
 * to the engine: no listener, no properties, no program wrapper.
 */
final class Tracer(spark: SparkSession, runId: String, cores: Int) {
  import Tracer._
  private val sc = spark.sparkContext
  private val counters = new TaskCounters
  private val spans = ArrayBuffer[Span]()
  private val calls = ArrayBuffer[PregelCall]()
  private var stack: List[Int] = Nil
  private var active = false

  def on: Boolean = active

  /** The innermost open span, -1 outside spans or with tracing off. */
  def current: Int = stack.headOption.getOrElse(-1)

  def enable(b: Boolean): Unit = if (b != active) {
    if (b) sc.addSparkListener(counters)
    else { ListenerBus.drain(sc); sc.removeSparkListener(counters) }
    active = b
  }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), runId, System.nanoTime())
      spans += s
      stack ::= s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Pregel.run, inside a "pregel.run" span whose jobs are tagged with the
   * phase: "setup" until the kernel first calls update(), "loop" after. */
  def pregel(cfg: PregelConfig, program: VertexProgram, vertices: DataFrame,
             edges: DataFrame): (DataFrame, Seq[SuperstepMetrics]) =
    if (!active) new Pregel(spark, cfg).run(program, vertices, edges)
    else span("pregel.run") {
      val call = new PregelCall(stack.head, cfg.resume, System.nanoTime())
      calls += call
      val traced = new Traced(program, () => if (call.firstUpdateNs == 0L) {
        call.firstUpdateNs = System.nanoTime()
        sc.setLocalProperty(PhaseKey, "loop")
      })
      sc.setLocalProperty(PhaseKey, "setup")
      try {
        val out = new Pregel(spark, cfg).run(traced, vertices, edges)
        call.metrics = out._2
        out
      } finally {
        call.endNs = System.nanoTime()
        sc.setLocalProperty(PhaseKey, null)
      }
    }

  private def under(root: Int): Set[Int] = {
    val ids = mutable.Set(root)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id) // parents precede children
    ids.toSet
  }

  def callsUnder(root: Int): Seq[PregelCall] = {
    val ids = under(root)
    calls.filter(c => ids(c.span)).toSeq
  }

  /** Shuffle bytes written by the jobs below `root`. */
  def shuffleBytesUnder(root: Int): Double = {
    ListenerBus.drain(sc)
    val ids = under(root)
    counters.synchronized {
      counters.jobs.values.filter(j => ids(j.span)).flatMap(counters.ownStages).map(_.shuffleWrite).sum.toDouble
    }
  }

  /** The per-layer metrics of the spans below `root` (one round of jobs). */
  def layers(root: Int): Map[String, Double] = {
    ListenerBus.drain(sc)
    val ids = under(root)
    val named = spans.filter(s => ids(s.id))
    val triIds = named.filter(_.name == "triangles").map(s => under(s.id)).foldLeft(Set.empty[Int])(_ ++ _)
    val cs = callsUnder(root)
    // loop counters come from calls that returned: a call that threw (the
    // injected failures of the resume workload) returns no barrier times
    val done = cs.filter(_.metrics.nonEmpty)
    val doneSpans = done.map(_.span).toSet
    val callSpans = cs.map(_.span).toSet
    counters.synchronized {
      val jobs = counters.jobs.values.filter(j => ids(j.span)).toSeq
      val writes = jobs.filter(j => counters.ownStages(j).exists(_.outputBytes > 0))
      val setup = jobs.filter(j => callSpans(j.span) && j.phase == "setup").flatMap(counters.ownStages)
      val loop = jobs.filter(j => doneSpans(j.span) && j.phase == "loop" && !writes.contains(j))
        .flatMap(counters.ownStages)
      val tri = jobs.filter(j => triIds(j.span)).flatMap(counters.ownStages)
      val ms = done.flatMap(_.metrics)
      val bars = done.flatMap(_.barriers)
      val loopS = done.map(_.barrierS).sum
      val triS = named.filter(_.name == "triangles").map(_.secs).sum
      val loopTasks = loop.flatMap(_.taskMs)
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      Map(
        "pregel.setup_s" -> cs.map(_.setupS).sum,
        "pregel.setup_shuffle_bytes" -> setup.map(_.shuffleWrite).sum.toDouble,
        "pregel.setup_jobs" -> jobs.count(j => callSpans(j.span) && j.phase == "setup").toDouble,
        "pregel.barriers" -> bars.size.toDouble,
        "pregel.supersteps" -> ms.size.toDouble,
        "pregel.barrier_ms_p50_full" -> Stats.median(bars.filterNot(_._1.delta).map(b => b._1.wallMs.toDouble * b._2)),
        "pregel.barrier_ms_p50_delta" -> Stats.median(bars.filter(_._1.delta).map(b => b._1.wallMs.toDouble * b._2)),
        "pregel.loop_s" -> loopS,
        "pregel.other_s" -> done.map(c => c.afterSetupS - c.barrierS).sum,
        "pregel.loop_shuffle_read_bytes" -> loop.map(_.shuffleRead).sum.toDouble,
        "pregel.loop_shuffle_write_bytes" -> loop.map(_.shuffleWrite).sum.toDouble,
        "pregel.loop_spill_bytes" -> loop.map(_.spill).sum.toDouble,
        "pregel.loop_stages" -> loop.size.toDouble,
        "pregel.loop_cpu_util" -> ratio(loop.map(_.cpuNs).sum / 1e9, loopS * cores),
        // messages sent: each barrier's estMsgs feeds the next superstep,
        // so the final barrier's is never sent
        "pregel.edge_steps_per_s" -> ratio(done.map(_.metrics.dropRight(1).map(_.estMsgs).sum).sum.toDouble, loopS),
        "pregel.style_push" -> ms.count(_.style == "push").toDouble,
        "pregel.style_pull" -> ms.count(_.style == "pull").toDouble,
        "pregel.style_pull_shuffle" -> ms.count(_.style == "pull_shuffle").toDouble,
        "pregel.delta_steps" -> ms.count(_.delta).toDouble,
        "pregel.tasks" -> loopTasks.size.toDouble,
        "pregel.task_ms_max" -> (if (loopTasks.isEmpty) 0.0 else loopTasks.max.toDouble),
        "pregel.task_ms_p50" -> Stats.median(loopTasks.map(_.toDouble)),
        // critical path over typical work, summed over the loop's stages
        "pregel.task_skew" -> ratio(loop.map(s => s.taskMs.max.toDouble).sum,
          loop.map(s => Stats.median(s.taskMs.map(_.toDouble))).sum),
        "triangles.shuffle_bytes" -> tri.map(_.shuffleWrite).sum.toDouble,
        "triangles.spill_bytes" -> tri.map(_.spill).sum.toDouble,
        "triangles.stages" -> tri.size.toDouble,
        "triangles.task_ms_max" -> (if (tri.isEmpty) 0.0 else tri.flatMap(_.taskMs).max.toDouble),
        "triangles.cpu_util" -> ratio(tri.map(_.cpuNs).sum / 1e9, triS * cores),
        "checkpoint.snapshots" -> writes.size.toDouble,
        "checkpoint.bytes" -> writes.flatMap(counters.ownStages).map(_.outputBytes).sum.toDouble,
        "checkpoint.write_s" -> writes.map(j => (j.endMs - j.startMs) / 1000.0).sum,
        "resume.setup_s" -> cs.filter(_.resume).map(_.setupS).sum)
    }
  }

  /** Writes the spans and Pregel calls as one JSON document. */
  def writeJson(path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"run":${q(s.runId)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val pc = calls.map(c =>
      s"""{"span":${c.span},"resume":${c.resume},"start_ns":${c.startNs},""" +
        s""""first_update_ns":${c.firstUpdateNs},"end_ns":${c.endNs},"supersteps":[""" +
        c.metrics.map(m =>
          s"""{"superstep":${m.superstep},"style":${q(m.style)},"wall_ms":${m.wallMs},""" +
            s""""respond":${m.respondCount},"est_msgs":${m.estMsgs},"delta":${m.delta},""" +
            s""""checkpointed":${m.checkpointed}}""").mkString(",") + "]}")
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path),
      s"""{"run":${q(runId)},"spans":[${sp.mkString(",\n")}],"pregel_calls":[${pc.mkString(",\n")}]}""" + "\n")
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
}

/** Delegates to `p`, calling `onUpdate` before every update(): the first
 * call marks the end of the kernel's set-up. */
private final class Traced(p: VertexProgram, onUpdate: () => Unit) extends VertexProgram {
  def name: String = p.name
  def initState(vertices: DataFrame): DataFrame = p.initState(vertices)
  def msgExpr: Column = p.msgExpr
  def aggregate(msgs: DataFrame): DataFrame = p.aggregate(msgs)
  def update(joined: DataFrame, superstep: Int, jobAgg: Double): DataFrame = {
    onUpdate()
    p.update(joined, superstep, jobAgg)
  }
  override def vertexAggCol: Column = p.vertexAggCol
  def emptyInboxCols: Seq[(String, Column)] = p.emptyInboxCols
  override def usesPriorState: Boolean = p.usesPriorState
  def updateRule: UpdateRule = p.updateRule
  def maxSupersteps: Int = p.maxSupersteps
  override def deltaFilter: Option[Column] = p.deltaFilter
  override def activeCol: Column = p.activeCol
  override def halted(jobAgg: Double, superstep: Int): Boolean = p.halted(jobAgg, superstep)
}

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
