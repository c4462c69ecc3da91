package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkEntry
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, SSSP, TriangleCount}
import graft.graph.{LinkGraph, Transcripts}
import graft.pregel.{Hybrid, PregelConfig, VertexProgram}

/** The derived graph of one workload: the vertex relation and the edge
 * views its jobs read, all cached, as a user running several algorithms
 * over one transcript table would hold them. */
final class Graph(val verts: DataFrame, val n: Long, views: Map[String, DataFrame],
                  cached: Seq[DataFrame], val deriveS: Double, val viewsS: Double) {
  def view(name: String): DataFrame = views(name)
  def viewNames: Seq[String] = views.keys.toSeq.sorted
  def release(): Unit = cached.foreach(_.unpersist(blocking = true))

  /** (src, dst) of a view as int arrays, for the reference checks. */
  def collectEdges(name: String): (Array[Int], Array[Int]) = {
    val rows = views(name).select(col("src").cast("int"), col("dst").cast("int")).collect()
    (rows.map(_.getInt(0)), rows.map(_.getInt(1)))
  }
}

object Graph {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seeded transcripts -> vertices and directed edges (graph.derive),
   * then the edge views (graph.edge_views):
   *  - pr: PageRank's edges, with self-loops on dangling vertices;
   *  - und: the symmetrized simple graph;
   *  - und_hub: und plus vertex 0 linked both ways to every vertex
   *    (graft.Bench's skew construction);
   *  - weighted: und with SSSP's deterministic weights;
   *  - canonical: und as src < dst pairs, for the triangle count. */
  def derive(spark: SparkSession, tracer: Tracer, conversations: Long, seed: Long,
             views: Seq[String]): Graph = {
    def keep(df: DataFrame) = df.persist(StorageLevel.MEMORY_AND_DISK)
    val ((v, de), deriveS) = timed(tracer.span("graph.derive") {
      val t = Transcripts.synthetic(spark, conversations, 12, seed)
      val v = keep(LinkGraph.vertices(t).select("vid", "turns", "turn_idx", "tool"))
      val de = keep(LinkGraph.directedEdges(v))
      v.count(); de.count()
      (v, de)
    })
    val (made, viewsS) = timed(tracer.span("graph.edge_views") {
      lazy val und = keep(LinkGraph.symmetrize(de))
      lazy val undHub = keep {
        val star = v.filter(col("vid") =!= 0L).select(lit(0L).as("src"), col("vid").as("dst"))
        und.unionByName(star).unionByName(star.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
      }
      val all = views.map {
        case "pr" => "pr" -> keep(LinkGraph.withSelfLoops(de, v))
        case "und" => "und" -> und
        case "und_hub" => "und_hub" -> undHub
        case "weighted" => "weighted" -> keep(und.select(col("src"), col("dst"), SSSP.weightCol))
        case "canonical" => "canonical" -> keep(LinkGraph.canonical(und))
      }.toMap
      all.values.foreach(_.count())
      all
    })
    new Graph(v.select("vid"), v.count(), made, Seq(v, de) ++ made.values, deriveS, viewsS)
  }
}

/** One job of a round: `run` times the job from the call to the collected
 * result, then checks the result (untimed) and returns the check's error. */
final case class Job(name: String, gated: Boolean, run: () => JobResult)

final case class JobResult(wallS: Double, recoveryS: Option[Double], finalS: Double,
                           error: Option[String])

/** Reference results over the collected edges, computed once per process
 * and view. `weighted` and `canonical` are checked against their source
 * view, und. */
final class Refs(g: Graph) {
  val n: Int = g.n.toInt
  private val memo = scala.collection.mutable.Map[String, Any]()
  private def of[A](key: String)(f: => A): A = memo.getOrElseUpdate(key, f).asInstanceOf[A]
  private def source(view: String) = if (view == "weighted" || view == "canonical") "und" else view
  def edges(view: String): (Array[Int], Array[Int]) = of("edges " + source(view))(g.collectEdges(source(view)))

  def pagerank(view: String): Array[Double] = of("pagerank " + view) {
    val (s, d) = edges(view); Reference.pagerank(n, s, d, Workloads.PrIters)
  }
  def components(view: String, cap: Int): Array[Long] = of(s"cc $view $cap") {
    val (s, d) = edges(view); Reference.components(n, s, d, cap)
  }
  def sssp(view: String, cap: Int): Array[Double] = of(s"sssp $view $cap") {
    val (s, d) = edges(view); Reference.sssp(n, s, d, Workloads.SsspSource.toInt, cap)
  }
  def lpa(view: String, cap: Int): Array[Long] = of(s"lpa $view $cap") {
    val (s, d) = edges(view); Reference.lpa(n, s, d, cap)
  }
  def triangles(view: String): Long = of("triangles " + view) {
    val (s, d) = edges(view); Reference.triangles(n, s, d)
  }
  def maxDegree(view: String): Int = {
    val d = new Array[Int](n)
    edges(view)._1.foreach(s => d(s) += 1)
    d.max
  }
}

/** Everything a workload's jobs need. */
final class Ctx(val tracer: Tracer, val g: Graph, val ref: Refs,
                val cfg: PregelConfig, work: String) {
  /** Outputs of uninterrupted runs that passed their check; a resumed run
   * of the same algorithm and view must equal them. */
  val baseline = scala.collection.mutable.Map[String, Map[Long, Any]]()
  private var dirs = 0

  def checkpointDir(job: String): String = { dirs += 1; s"$work/checkpoints/$job-$dirs" }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)) finally s.close()
    }
  }
}

/**
 * The workloads. A run of either must fit, with its JVM start, three
 * set-ups and a warm-up, in about a minute on a 4-core box, so each runs
 * one round of jobs that exercises its own layers and bypasses the
 * other's:
 *
 *  - hub-skew: 5,500 conversations, so that vertex 0 linked to every
 *    vertex (70,788 vertices) clears the kernel's 2^16 hot-source cut and
 *    LPA runs the salted hub path; and SSSP over the same graph without
 *    the hub: many short barriers, delta overlays, the cost model's pull
 *    path. No checkpoints, no triangles.
 *  - resume: 2,000 conversations, a small working set where per-barrier
 *    cost and snapshot I/O dominate. PageRank and CC each run with a
 *    snapshot at every 3rd superstep, an injected failure and a resume;
 *    then the global triangle count (wedge-join operator). No salting.
 *    The kernel's partition width is pinned to about 8k edges per
 *    partition (CC runs 9 partitions wide): at the default the small graph
 *    runs CC 3 wide, which hides the CC checkpoint defect that graphs of
 *    8 or more partitions hit on most seeds.
 */
object Workloads {
  // the engine's own pinned superstep counts
  val PrIters: Int = SparkEntry.PR_ITERS
  val LpaIters: Int = SparkEntry.LPA_ITERS
  val CcCap: Int = SparkEntry.CC_ITERS
  val SsspCap: Int = SparkEntry.SSSP_ITERS
  val SsspSource: Long = SparkEntry.SSSP_SOURCE

  final case class Spec(name: String, conversations: Long, views: Seq[String],
                        cfg: PregelConfig, warmup: Ctx => Seq[Job], jobs: Ctx => Seq[Job])

  /** The engine's own kernel settings (graft.SparkEntry's Pregel). */
  val engineCfg: PregelConfig = PregelConfig(numPartitions = 16, mode = Hybrid, fusedSupersteps = 4)

  val all: Map[String, Spec] = Seq(
    Spec("hub-skew", 5500, Seq("und", "und_hub", "weighted"), engineCfg,
      warmup = c => Seq(run(c, "lpa", "und_hub", cap = 3)),
      // SSSP capped at 12 supersteps: the graph's SSSP needs 16 to 25 to
      // converge depending on the seed, so a converged run's work would
      // swing with the seed; capped, every seed runs the same schedule.
      jobs = c => Seq(run(c, "lpa", "und_hub"), run(c, "sssp", "weighted", cap = 12, name = "sssp"))),
    Spec("resume", 2000, Seq("pr", "und", "canonical"), engineCfg.copy(targetEdgesPerPartition = 8192),
      warmup = c => Seq(run(c, "pagerank", "pr")),
      jobs = c => Seq(
        resumed(c, "pagerank_ckpt", "pagerank", "pr", gated = true, failAt = 7),
        // Not gated: with a checkpoint directory CC currently fails in the
        // kernel ("Can't zip RDDs with unequal numbers of partitions");
        // once it passes it adds its own metrics instead of inflating jobs_s.
        resumed(c, "cc_ckpt", "cc", "und", gated = false, failAt = 12),
        triangles(c)))
  ).map(s => s.name -> s).toMap

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** How a Pregel algorithm is built (with its superstep cap), how its
   * output is collected, and how it is checked on a view. */
  private final case class Algo(defaultCap: Int, program: (Ctx, Int) => VertexProgram,
                                output: DataFrame => DataFrame,
                                check: (Ctx, String, Int, Map[Long, Any]) => Option[String])

  private def doubles(m: Map[Long, Any]) = m.map { case (k, v) => k -> v.asInstanceOf[Double] }
  private def longs(m: Map[Long, Any]) = m.map { case (k, v) => k -> v.asInstanceOf[Long] }

  private val algos: Map[String, Algo] = Map(
    "pagerank" -> Algo(PrIters, (c, cap) => new PageRank(c.g.n, cap),
      _.select("vid", "value"),
      (c, view, _, out) => {
        val mass = doubles(out).values.sum
        val want = 1 - math.pow(0.85, PrIters)
        Reference.compareDoubles("pagerank", doubles(out), c.ref.pagerank(view), 1e-9).orElse(
          if (math.abs(mass - want) > 1e-9) Some(s"pagerank: rank mass $mass, expected $want") else None)
      }),
    "cc" -> Algo(CcCap, (_, cap) => new ConnectedComponents(cap),
      _.select("vid", "label"),
      (c, view, cap, out) => Reference.compareLabels("cc", longs(out), c.ref.components(view, cap))),
    "sssp" -> Algo(SsspCap, (_, cap) => new SSSP(SsspSource, cap),
      _.filter(col("dist") < 1e299).select("vid", "dist"),
      (c, view, cap, out) => Reference.compareDoubles("sssp", doubles(out), c.ref.sssp(view, cap), 1e-9)),
    "lpa" -> Algo(LpaIters, (_, cap) => new LabelPropagation(cap),
      _.select("vid", "label"),
      (c, view, cap, out) => Reference.compareLabels("lpa", longs(out), c.ref.lpa(view, cap))))

  private def collect(c: Ctx, a: Algo, state: DataFrame): (Map[Long, Any], Double) = {
    val t0 = System.nanoTime()
    val rows = c.tracer.span("final")(a.output(state).collect())
    (rows.map((r: Row) => r.getLong(0) -> r.get(1)).toMap, secsSince(t0))
  }

  /** An uninterrupted run of `algo` over `view`. A full-length run's
   * output becomes the baseline resumed runs must equal. */
  private def run(c: Ctx, algo: String, view: String, cap: Int = 0, name: String = ""): Job = {
    val a = algos(algo)
    val steps = if (cap > 0) cap else a.defaultCap
    val jobName = if (name.nonEmpty) name else if (cap > 0) s"${algo}_cap$cap" else algo
    Job(jobName, gated = true, () => {
      val t0 = System.nanoTime()
      val (state, _) = c.tracer.pregel(c.cfg, a.program(c, steps), c.g.verts, c.g.view(view))
      val (out, finalS) = collect(c, a, state)
      val wall = secsSince(t0)
      val err = a.check(c, view, steps, out)
      if (err.isEmpty && steps == a.defaultCap) c.baseline(s"$algo $view") = out
      JobResult(wall, None, finalS, err)
    })
  }

  /** The failing leg (checkpoints every 3 supersteps, injected failure at
   * `failAt`) plus the resume leg; the job's recovery time is the resume
   * leg alone. The resumed output must pass the reference check and,
   * when this process ran the same algorithm uninterrupted (resume's
   * warm-up PageRank), equal that run's output. */
  private def resumed(c: Ctx, name: String, algo: String, view: String, gated: Boolean,
                      failAt: Int): Job =
    Job(name, gated, () => {
      val a = algos(algo)
      val dir = c.checkpointDir(name)
      // Snapshot at every interval boundary: the default dynamic policy
      // decides from measured wall times, so the snapshot count (and with
      // it the job's work and whether CC's defect triggers) would vary
      // from run to run.
      val ck = c.cfg.copy(checkpointDir = Some(dir), checkpointEvery = 3, dynamicCheckpoint = false)
      val injected = s"injected failure at superstep $failAt"
      val t0 = System.nanoTime()
      try {
        c.tracer.pregel(ck.copy(failAtSuperstep = Some(failAt)), a.program(c, a.defaultCap),
          c.g.verts, c.g.view(view))
        throw new IllegalStateException(s"$name: the run ended without the failure injected at superstep $failAt")
      } catch {
        case e: RuntimeException if Option(e.getMessage).exists(_.startsWith(injected)) => ()
      }
      val t1 = System.nanoTime()
      val (state, _) = c.tracer.pregel(ck.copy(resume = true), a.program(c, a.defaultCap),
        c.g.verts, c.g.view(view))
      val (out, finalS) = collect(c, a, state)
      val wall = secsSince(t0)
      val recovery = secsSince(t1)
      c.deleteDir(dir)
      val err = a.check(c, view, a.defaultCap, out).orElse(c.baseline.get(s"$algo $view") match {
        case Some(base) if algo == "pagerank" =>
          val b = doubles(base)
          Reference.compareDoubles(s"$name vs uninterrupted", doubles(out),
            Array.tabulate(c.ref.n)(i => b.getOrElse(i.toLong, Double.NaN)), 1e-9)
        case Some(base) if base != out => Some(s"$name: resumed output differs from the uninterrupted run")
        case _ => None
      })
      JobResult(wall, Some(recovery), finalS, err)
    })

  private def triangles(c: Ctx): Job = Job("triangles", gated = true, () => {
    val t0 = System.nanoTime()
    val count = c.tracer.span("triangles") {
      TriangleCount.global(c.g.view("canonical")).collect().head.getLong(0)
    }
    val wall = secsSince(t0)
    val want = c.ref.triangles("canonical")
    JobResult(wall, None, 0.0, if (count == want) None else Some(s"triangles: $count, reference $want"))
  })
}
