package graft

/**
 * Driver-local plain-Scala interpreter of the reference's Pregel semantics
 * (SURVEY.md §2.5) — an implementation INDEPENDENT of the DataFrame engine,
 * used to validate it on micro-graphs and seeded random graphs. Stands in
 * for "matches the reference's outputs" since the reference's
 * Hama/Hadoop-0.20 stack cannot run here.
 *
 * Semantics sources:
 *  - PageRank: examples/pagerank/PageRankBSP.java:30-86 (value=0.15/N at
 *    step 1, else 0.15/N + 0.85*sum(msgs); message = value/outdeg; final =
 *    value; dangling self-loops added at parse)
 *  - CC: examples/cc/CCBSP.java:33-70 (min-label, send on change)
 *  - LPA: examples/lpa/LPABSP.java:36-135 (argmax count, tie -> max label,
 *    keep label when no msgs; fixed K or stop when no update)
 *  - SSSP determ: examples/sssp/determ + SPBSP relax-on-smaller
 */
object RefOracle {

  private def outAdj(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Directed edges MUST already include dangling self-loops. */
  def pagerank(vids: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val n = vids.size.toDouble
    val adj = outAdj(edges)
    val outdeg = adj.view.mapValues(_.size).toMap
    var value = vids.map(v => v -> 0.15 / n).toMap // superstep 1
    for (_ <- 2 to iters) {
      val stored = value.map { case (v, x) => v -> x / math.max(1, outdeg.getOrElse(v, 0)) }
      val inbox = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- vids; d <- adj.getOrElse(v, Nil)) inbox(d) += stored(v)
      value = vids.map(v => v -> (0.15 / n + 0.85 * inbox(v))).toMap
    }
    value
  }

  /** Symmetrized edges expected. Runs to fixpoint; returns labels. */
  def cc(vids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = outAdj(edges)
    var lbl = vids.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      changed = false
      val next = vids.map { v =>
        val in = adj.keys.filter(u => adj(u).contains(v)).map(lbl) // in-neighbors
        val m = if (in.isEmpty) lbl(v) else math.min(lbl(v), in.min)
        if (m != lbl(v)) changed = true
        v -> m
      }.toMap
      lbl = next
    }
    lbl
  }

  /** Fixed-K LPA with max-count/max-label tie-break. */
  def lpa(vids: Seq[Long], edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val adj = outAdj(edges)
    val inN = vids.map(v => v -> edges.collect { case (u, d) if d == v => u }).toMap
    var lbl = vids.map(v => v -> v).toMap // superstep 1
    var agg = vids.size.toDouble
    var t = 2
    while (t <= k && agg != 0.0) {
      var updates = 0
      val next = vids.map { v =>
        val msgs = inN(v).map(lbl)
        if (msgs.isEmpty) v -> lbl(v)
        else {
          val counts = msgs.groupBy(identity).view.mapValues(_.size)
          val maxC = counts.values.max
          val nl = counts.collect { case (l, c) if c == maxC => l }.max
          if (nl != lbl(v)) updates += 1
          v -> nl
        }
      }.toMap
      lbl = next; agg = updates.toDouble; t += 1
    }
    val _ = adj
    lbl
  }

  def ssspWeight(src: Long, dst: Long): Double = ((src * 31 + dst * 17) % 97 + 1) / 10.0

  def sssp(vids: Seq[Long], edges: Seq[(Long, Long)], source: Long, k: Int): Map[Long, Double] = {
    val INF = 1e300
    var dist = vids.map(v => v -> (if (v == source) 0.0 else INF)).toMap
    for (_ <- 2 to k) {
      val next = scala.collection.mutable.Map(dist.toSeq: _*)
      for ((u, v) <- edges; if dist(u) < 1e299) {
        val cand = dist(u) + ssspWeight(u, v)
        if (cand < next(v)) next(v) = cand
      }
      dist = next.toMap
    }
    dist
  }

  /** Brute-force per-vertex triangle counts over canonical (src<dst) edges. */
  def triangles(vids: Seq[Long], canonical: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = canonical.toSet
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val vs = vids.sorted
    for {
      (a, b) <- canonical
      c <- vs if c > b && es.contains((a, c)) && es.contains((b, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    vids.map(v => v -> counts(v)).toMap
  }

  /** Brute-force link features per canonical (src<dst) edge: (common
   * neighbours, Jaccard, Adamic–Adar), unrounded. */
  def edgeFeatures(canonical: Seq[(Long, Long)]): Map[(Long, Long), (Long, Double, Double)] = {
    val nbrs = (canonical ++ canonical.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    canonical.map { case (u, w) =>
      val common = nbrs(u) intersect nbrs(w)
      val cn = common.size.toLong
      (u, w) -> ((cn, cn.toDouble / (nbrs(u).size + nbrs(w).size - cn),
        common.toSeq.map(c => 1.0 / math.log(nbrs(c).size.toDouble)).sum))
    }.toMap
  }

  /** Fixed-K synchronous k-core peel (a1 = all alive; a_t = alive AND
   * count of alive in-neighbors >= k). Symmetrized distinct edges. */
  def kcore(vids: Seq[Long], edges: Seq[(Long, Long)], k: Int, iters: Int): Map[Long, Int] = {
    var alive = vids.map(v => v -> true).toMap
    for (_ <- 2 to iters) {
      val next = vids.map { v =>
        val d = edges.count { case (u, dst) => dst == v && alive(u) }
        v -> (alive(v) && d >= k)
      }.toMap
      alive = next
    }
    vids.map(v => v -> (if (alive(v)) 1 else 0)).toMap
  }

  /** Personalized PageRank: PageRank with the teleport vector concentrated
   * at `source`. Directed edges MUST already include dangling self-loops. */
  def ppr(vids: Seq[Long], edges: Seq[(Long, Long)], source: Long, iters: Int): Map[Long, Double] = {
    val adj = outAdj(edges)
    val outdeg = adj.view.mapValues(_.size).toMap
    def tele(v: Long): Double = if (v == source) 0.15 else 0.0
    var value = vids.map(v => v -> tele(v)).toMap // superstep 1
    for (_ <- 2 to iters) {
      val stored = value.map { case (v, x) => v -> x / math.max(1, outdeg.getOrElse(v, 0)) }
      val inbox = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- vids; d <- adj.getOrElse(v, Nil)) inbox(d) += stored(v)
      value = vids.map(v => v -> (tele(v) + 0.85 * inbox(v))).toMap
    }
    value
  }

  /** HITS synchronous power iteration (simultaneous update from the
   * previous values), end-normalized: value / global sum * N. Edges are
   * deduplicated like the engine's taggedEdges. */
  def hits(vids: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, (Double, Double)] = {
    val e = edges.distinct
    var hub = vids.map(v => v -> 1.0).toMap
    var auth = hub
    for (_ <- 2 to iters) {
      val na = vids.map(v => v -> e.filter(_._2 == v).map(x => hub(x._1)).sum).toMap
      val nh = vids.map(v => v -> e.filter(_._1 == v).map(x => auth(x._2)).sum).toMap
      hub = nh; auth = na
    }
    val (sh, sa, n) = (hub.values.sum, auth.values.sum, vids.size.toDouble)
    vids.map(v => v -> ((if (sh == 0) 0.0 else hub(v) / sh * n),
                        (if (sa == 0) 0.0 else auth(v) / sa * n))).toMap
  }

  /** Deterministic random graph: pure function of seed. */
  def randomGraph(n: Int, extraEdges: Int, seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val vids = (0L until n).toSeq
    val edges = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    for (_ <- 0 until extraEdges) {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      if (a != b) edges += ((a, b))
    }
    (vids, edges.toSeq)
  }
}
