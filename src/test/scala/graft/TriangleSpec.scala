package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import graft.algos.{ClusteringCoefficient, LinkFeatures, TriangleCount}

/** Triangle counts (global, per vertex, per vertex over all vertices), the
 * edge features built on the same closures and the clustering coefficient
 * against brute-force RefOracle results, on random graphs and on the
 * shapes the hub-split orientation has to get right: a hub above √(2m),
 * degree ties among cold and among hot vertices, Kₙ, a triangle-free
 * graph and the empty graph. */
class TriangleSpec extends SparkTestBase {

  private def canonical(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** None when the triangle counts, the edge features and the clustering
   * coefficient all agree with the brute-force oracle, else the mismatch.
   * Common-neighbour counts compare exactly; Jaccard, Adamic–Adar and the
   * coefficient after the engine's 6-dp rounding. */
  private def mismatch(n: Long, canon: Seq[(Long, Long)]): Option[String] = {
    val vids = (0L until n).toSeq
    val want = RefOracle.triangles(vids, canon)
    val e = edgeDF(canon)
    val und = edgeDF(canon ++ canon.map(_.swap))
    val global = TriangleCount.global(e).head().getLong(0)
    val per = TriangleCount.perVertex(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = TriangleCount.perVertexAll(e, vertDF(n)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val feats = LinkFeatures.edgeFeatures(e, und).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val wantFeats = RefOracle.edgeFeatures(canon).map { case (k, (cn, j, aa)) => k -> ((cn, round6(j), round6(aa))) }
    val coeff = ClusteringCoefficient.local(e, und, vertDF(n)).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val deg = canon.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
    val wantCoeff = vids.map { v =>
      val d = deg.getOrElse(v, 0L)
      v -> (if (d >= 2) round6((2L * want(v)).toDouble / (d * (d - 1))) else 0.0)
    }.toMap
    if (global != want.values.sum / 3) Some(s"global $global, want ${want.values.sum / 3}")
    else if (per != want.filter(_._2 > 0)) Some(s"perVertex $per, want ${want.filter(_._2 > 0)}")
    else if (all != want) Some(s"perVertexAll $all, want $want")
    else if (feats != wantFeats) Some(s"edgeFeatures $feats, want $wantFeats")
    else if (coeff != wantCoeff) Some(s"clustering coefficient $coeff, want $wantCoeff")
    else None
  }

  private def star(leaves: Int): Seq[(Long, Long)] = (1L to leaves).map(l => (0L, l))
  private def complete(n: Int): Seq[(Long, Long)] =
    for (a <- 0L until n; b <- a + 1 until n) yield (a, b)

  /** n vertices, each pair an edge with probability `density`, plus
   * optionally a hub (vertex 0) joined to every other vertex. */
  private val graphs: Gen[(Long, Seq[(Long, Long)])] = for {
    n <- Gen.choose(0, 36)
    density <- Gen.choose(0.0, 0.4)
    hub <- Gen.oneOf(true, false)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val random = complete(n).filter(_ => rnd.nextDouble() < density)
    (n.toLong, canonical(random ++ (if (hub && n > 1) star(n - 1) else Nil)))
  }

  test("global, perVertex and perVertexAll equal the brute-force count on random graphs") {
    val prop = Prop.forAll(graphs) { case (n, canon) =>
      val err = mismatch(n, canon)
      err.isEmpty :| s"n=$n edges=$canon: ${err.getOrElse("")}"
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1).withInitialSeed(20261017L), prop)
    assert(res.passed, res.status.toString)
  }

  test("star hub above sqrt(2m): exact counts, no out-array longer than ceil(sqrt(2m))") {
    // 40 leaves, every 4th leaf pair closed: the hub is in every triangle
    val canon = canonical(star(40) ++ (1L to 40L by 4).map(l => (l, l + 1)))
    val tau = math.ceil(math.sqrt(2.0 * canon.size)).toLong
    assert(canon.count(_._1 == 0L) >= tau, "the hub must clear the hot threshold")
    assert(mismatch(41, canon).isEmpty, mismatch(41, canon))
    val widest = TriangleCount.oriented(edgeDF(canon)).agg(max(size(col("out")))).head().getInt(0)
    assert(widest <= tau, s"widest out-array $widest > ceil(sqrt(2m)) = $tau")
  }

  test("degree ties: two equal hot hubs and equal cold leaves") {
    // K_{2,12} plus the hub edge: hubs 0 and 1 (degree 13) are both hot,
    // every leaf has degree 2; each leaf closes one triangle with the hubs
    val canon = canonical((0L, 1L) +: (2L until 14L).flatMap(l => Seq((0L, l), (1L, l))))
    val tau = math.ceil(math.sqrt(2.0 * canon.size)).toLong
    assert(canon.count(e => e._1 == 0L || e._2 == 0L) >= tau)
    assert(mismatch(14, canon).isEmpty, mismatch(14, canon))
    assert(TriangleCount.global(edgeDF(canon)).head().getLong(0) == 12L)
  }

  test("K_n: every vertex in C(n-1, 2) triangles, C(n, 3) in total") {
    val canon = complete(7)
    assert(mismatch(7, canon).isEmpty, mismatch(7, canon))
    assert(TriangleCount.global(edgeDF(canon)).head().getLong(0) == 35L)
    val per = TriangleCount.perVertex(edgeDF(canon)).collect().map(_.getLong(1)).toSet
    assert(per == Set(15L))
  }

  test("triangle-free and empty graphs: global is 0, not null") {
    val cycle = canonical((0L until 8L).map(i => (i, (i + 1) % 8)))
    assert(mismatch(8, cycle).isEmpty, mismatch(8, cycle))
    assert(TriangleCount.global(edgeDF(cycle)).head().getLong(0) == 0L)
    assert(mismatch(3, Nil).isEmpty, mismatch(3, Nil))
    val empty = edgeDF(Seq.empty)
    val g = TriangleCount.global(empty).head()
    assert(!g.isNullAt(0) && g.getLong(0) == 0L)
    assert(TriangleCount.perVertex(empty).isEmpty)
    assert(TriangleCount.perVertexAll(empty, vertDF(3)).collect().map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L))
  }
}
