package perfbench

/**
 * Driver-side reference implementations the benchmark checks every job
 * against. They share no code with the engine: plain arrays over the
 * collected edge lists, with the semantics the engine's programs document
 * (graft.algos.*). Vertex ids are dense 0 until n (LinkGraph derives
 * them that way), so every per-vertex value lives in an array.
 */
object Reference {

  /** Adjacency of the edges (src -> dst) grouped by src, CSR-style. */
  final class Csr(n: Int, src: Array[Int], dst: Array[Int]) {
    val offsets: Array[Int] = {
      val o = new Array[Int](n + 1)
      src.foreach(s => o(s + 1) += 1)
      for (i <- 0 until n) o(i + 1) += o(i)
      o
    }
    val targets: Array[Int] = {
      val t = new Array[Int](src.length)
      val next = offsets.clone()
      for (e <- src.indices) { t(next(src(e))) = dst(e); next(src(e)) += 1 }
      t
    }
    def degree(v: Int): Int = offsets(v + 1) - offsets(v)
  }

  /** PageRank as graft.algos.PageRank defines it: value_1 = 0.15/n, then
   * value_t = 0.15/n + 0.85 * sum over in-edges of value_{t-1}/outdeg. */
  def pagerank(n: Int, src: Array[Int], dst: Array[Int], iters: Int): Array[Double] = {
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)
    val base = 0.15 / n
    var v = Array.fill(n)(base)
    for (_ <- 2 to iters) {
      val acc = new Array[Double](n)
      for (e <- src.indices) acc(dst(e)) += v(src(e)) / math.max(outdeg(src(e)), 1)
      v = acc.map(a => base + 0.85 * a)
    }
    v
  }

  /** Connected components as graft.algos.ConnectedComponents computes them
   * in at most `supersteps` supersteps: every vertex starts with its own
   * vid and each later superstep takes the minimum label among itself and
   * its in-neighbours (synchronous min-label propagation). Once it stops
   * changing, every label is its component's minimum vid, the union-find
   * answer. */
  def components(n: Int, src: Array[Int], dst: Array[Int], supersteps: Int): Array[Long] = {
    var label = Array.tabulate(n)(_.toLong)
    var round = 1
    var changed = true
    while (round < supersteps && changed) {
      val next = label.clone()
      changed = false
      for (e <- src.indices) if (label(src(e)) < next(dst(e))) { next(dst(e)) = label(src(e)); changed = true }
      label = next
      round += 1
    }
    label
  }

  /** graft.algos.SSSP's deterministic edge weight. */
  def weight(src: Long, dst: Long): Double = ((src * 31 + dst * 17) % 97 + 1).toDouble / 10.0

  /** SSSP as graft.algos.SSSP computes it in `supersteps` supersteps:
   * superstep 1 sets the source to 0 and every later superstep relaxes
   * the edges out of the previous superstep's distances (synchronous
   * Bellman-Ford), so the result is the shortest distance over paths of
   * at most supersteps - 1 edges; unreached vertices get +infinity. */
  def sssp(n: Int, src: Array[Int], dst: Array[Int], source: Int, supersteps: Int): Array[Double] = {
    val w = Array.tabulate(src.length)(e => weight(src(e), dst(e)))
    var dist = Array.fill(n)(Double.PositiveInfinity)
    dist(source) = 0.0
    var round = 1
    var changed = true
    while (round < supersteps && changed) {
      val next = dist.clone()
      changed = false
      for (e <- src.indices) {
        val d = dist(src(e)) + w(e)
        if (d < next(dst(e))) { next(dst(e)) = d; changed = true }
      }
      dist = next
      round += 1
    }
    dist
  }

  /** Synchronous label propagation as graft.algos.LabelPropagation defines
   * it: label_1 = vid; each later superstep adopts the most frequent
   * in-neighbour label, ties to the larger label, and keeps its label
   * without messages; it stops after the first superstep > 1 that changes
   * nothing, or after `cap` supersteps. */
  def lpa(n: Int, src: Array[Int], dst: Array[Int], cap: Int): Array[Long] = {
    val in = new Csr(n, dst, src) // grouped by receiver
    var label = Array.tabulate(n)(_.toLong)
    var t = 2
    var changed = true
    while (t <= cap && changed) {
      val next = new Array[Long](n)
      var updated = 0
      for (v <- 0 until n) {
        val d = in.degree(v)
        next(v) =
          if (d == 0) label(v)
          else {
            val ls = new Array[Long](d)
            for (i <- 0 until d) ls(i) = label(in.targets(in.offsets(v) + i))
            java.util.Arrays.sort(ls)
            var best = ls(0); var bestCnt = 0
            var i = 0
            while (i < d) {
              var j = i
              while (j < d && ls(j) == ls(i)) j += 1
              if (j - i >= bestCnt) { best = ls(i); bestCnt = j - i } // ascending: >= keeps the larger label
              i = j
            }
            best
          }
        if (next(v) != label(v)) updated += 1
      }
      label = next
      changed = updated > 0
      t += 1
    }
    label
  }

  /** Global triangle count by the forward algorithm: orient each
   * undirected edge from the lower to the higher (degree, vid) endpoint and
   * intersect the sorted forward lists of both endpoints. */
  def triangles(n: Int, src: Array[Int], dst: Array[Int]): Long = {
    val keep = src.indices.filter(e => src(e) < dst(e)).toArray
    val deg = new Array[Int](n)
    keep.foreach { e => deg(src(e)) += 1; deg(dst(e)) += 1 }
    def before(a: Int, b: Int): Boolean = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val fs = keep.map(e => if (before(src(e), dst(e))) src(e) else dst(e))
    val fd = keep.map(e => if (before(src(e), dst(e))) dst(e) else src(e))
    val fwd = new Csr(n, fs, fd)
    for (v <- 0 until n) java.util.Arrays.sort(fwd.targets, fwd.offsets(v), fwd.offsets(v + 1))
    var count = 0L
    for (e <- fs.indices) {
      val a = fs(e); val b = fd(e)
      var i = fwd.offsets(a); var j = fwd.offsets(b)
      while (i < fwd.offsets(a + 1) && j < fwd.offsets(b + 1)) {
        val x = fwd.targets(i); val y = fwd.targets(j)
        if (x == y) { count += 1; i += 1; j += 1 } else if (x < y) i += 1 else j += 1
      }
    }
    count
  }

  /** None when every vertex's value matches within `relTol` (relative to
   * the reference); otherwise the first mismatch. */
  def compareDoubles(what: String, got: Map[Long, Double], want: Array[Double],
                     relTol: Double): Option[String] = {
    val expected = want.indices.filter(i => !want(i).isInfinite)
    if (got.size != expected.size)
      return Some(s"$what: ${got.size} vertices, reference has ${expected.size}")
    expected.iterator.map { i =>
      got.get(i.toLong) match {
        case None => Some(s"$what: vertex $i missing")
        case Some(g) if math.abs(g - want(i)) > relTol * math.abs(want(i)) =>
          Some(s"$what: vertex $i = $g, reference ${want(i)}")
        case _ => None
      }
    }.collectFirst { case Some(err) => err }
  }

  def compareLabels(what: String, got: Map[Long, Long], want: Array[Long]): Option[String] =
    if (got.size != want.length) Some(s"$what: ${got.size} vertices, reference has ${want.length}")
    else want.indices.iterator.collectFirst {
      case i if !got.get(i.toLong).contains(want(i)) =>
        s"$what: vertex $i = ${got.get(i.toLong).fold("missing")(_.toString)}, reference ${want(i)}"
    }
}
