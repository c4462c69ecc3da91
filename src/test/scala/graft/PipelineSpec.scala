package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** Training-data pipeline operators over the driver testdata (sf0.001). */
class PipelineSpec extends SparkTestBase {
  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("exact dedup: every doc belongs to exactly one group; canonical is group min") {
    val e = Dedup.exact(docs)
    assert(e.count() == docs.count())
    val bad = e.groupBy("dup_group")
      .agg(min("doc_id").as("m"), sum(when(col("is_canonical"), 1).otherwise(0)).as("c"))
      .filter(col("c") =!= 1)
    assert(bad.isEmpty)
  }

  test("minhash LSH candidates are a superset of high-jaccard pairs it reports") {
    val out = Dedup.minhashLsh(docs, 16, 4, 0.2).collect()
    assert(out.forall(r => r.getDouble(2) >= 0.2 && r.getLong(0) < r.getLong(1)))
  }

  test("dedup clusters: components of the pair graph labeled min doc_id; singletons self") {
    val p = new graft.pregel.Pregel(spark,
      graft.pregel.PregelConfig(numPartitions = 4))
    val cl = Dedup.clusters(p, docs, 16, 4, 0.2, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size == docs.count())
    // independent union-find over the same verified pairs
    val pairs = Dedup.minhashLsh(docs, 16, 4, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val px = parent.getOrElse(x, x)
      if (px == x) x else { val r = find(px); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // root stays the min
    }
    val touched = pairs.flatMap(t => Seq(t._1, t._2)).toSet
    for (d <- cl.keys) {
      val want = if (touched(d)) find(d) else d
      assert(cl(d) == want, s"doc $d: got ${cl(d)} want $want")
    }
  }

  test("simhash: near-identical docs collide, hamming is symmetric-free (a<b)") {
    val pairs = Dedup.simhashPairs(docs, 16, 3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1) && r.getLong(2) <= 3))
    val sh = Dedup.simhash(docs, 16).collect()
    assert(sh.forall(r => r.getLong(1) >= 0 && r.getLong(1) < (1L << 16)))
  }

  test("ann_topk: k neighbors per vector, ranked by rounded cosine") {
    val k = 3
    val out = Similarity.annTopK(emb, k)
    val n = emb.count()
    assert(out.count() == n * k)
    val perVec = out.groupBy("vec_id").agg(count(lit(1)).as("c"), max("rank").as("mr"))
    assert(perVec.filter(col("c") =!= k || col("mr") =!= k).isEmpty)
    // rank 1 neighbor has max rounded cosine
    val r1 = out.filter(col("rank") === 1).select("vec_id", "cos")
    val mx = out.groupBy("vec_id").agg(max("cos").as("mc"))
    assert(r1.join(mx, "vec_id").filter(col("cos") =!= col("mc")).isEmpty)
  }

  test("ann_lsh buckets: every reported neighbor shares >= 1 LSH table bucket") {
    val out = Similarity.annLsh(emb, 3, 8, 4).collect()
    val bkts = (0 until 4).map(t => emb.select(col("vec_id"),
      lit(t).as("t"), Similarity.bucketExpr(col("embedding"), 8, t * 8).as("bkt")))
      .reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.forall(r => (0 until 4).exists(t =>
      bkts((r.getLong(0), t)) == bkts((r.getLong(2), t))))) // (vec_id, rank, neighbor, cos)
  }

  test("banded simhashPairs == brute-force all-pairs (pigeonhole is lossless)") {
    val banded = Dedup.simhashPairs(docs, 32, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val s = Dedup.simhash(docs, 32)
    val brute = s.select(col("doc_id").as("a"), col("simhash").as("ha"))
      .join(s.select(col("doc_id").as("b"), col("simhash").as("hb")), col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("ngram hot-gram cap: bounded, measured recall effect at gate thresholds") {
    val capped = Dedup.ngramJaccard(docs, 3, 0.8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.ngramJaccard(docs, 3, 0.8, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The cap re-weights borderline pairs in BOTH directions (removing a
    // corpus-wide gram shrinks numerator for pairs that shared it, shrinks
    // denominator for pairs that didn't) — measured at sf0.001: 2 of 28
    // pairs move below the 0.8 threshold, none enter. Assert the effect
    // stays a sliver rather than pretending it is nil.
    val overlap = (capped intersect uncapped).size.toDouble / math.max(1, uncapped.size)
    info(f"pair-set overlap capped-vs-uncapped: $overlap%.3f " +
      s"(only-capped=${(capped -- uncapped).size}, only-uncapped=${(uncapped -- capped).size})")
    assert(overlap >= 0.9, s"cap moved more than 10% of pairs: $overlap")
  }

  test("ngram PPJoin prefix filter is lossless vs the full gram join") {
    val fast = Dedup.ngramJaccard(docs, 3, 0.8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: full (capped) gram join, no prefix filtering
    val grams = docs
      .select(col("doc_id"), col("text"),
        explode(when(length(col("text")) >= 3, sequence(lit(1), length(col("text")) - 2))
          .otherwise(array())).as("pos"))
      .select(col("doc_id"), expr("substring(text, pos, 3)").as("g")).distinct()
    val nd = docs.count()
    val hot = grams.groupBy("g").count().filter(col("count") > nd * 0.5).select("g")
    val kept = grams.join(hot, Seq("g"), "left_anti").cache()
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = kept.select(col("doc_id").as("a"), col("g"))
      .join(kept.select(col("doc_id").as("b"), col("g")), Seq("g")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute, s"prefix filter lost/added pairs: ${(brute -- fast)} / ${(fast -- brute)}")
  }

  /** Planted-cluster embeddings: 40 clusters x 10 vectors, per-dim center
   * magnitude bounded away from 0 (|c| in [0.2, 1.0]) with +-0.05 noise —
   * the realistic regime for trained embeddings (stable sign patterns).
   * The driver's synthetic embeddings are isotropic noise (pair cosines
   * concentrate near 0), where NO sublinear index can track exact top-k;
   * recall there is printed for the record, asserted only here. */
  private def plantedEmb = {
    val cdiv = expr("id div 10")
    spark.range(400).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), d => {
        val h1 = abs(hash(cdiv, d, lit(7)))
        val sign = when(h1 % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
        val mag = lit(0.2) + (h1 % 1000).cast("double") / 1250.0
        val noise = (abs(hash(col("id"), d, lit(13))) % 100).cast("double") / 1000.0 - 0.05
        (sign * mag + noise).cast("float")
      }).as("embedding"))
  }

  test("multi-table LSH ANN: recall >= 0.9 vs exact top-k on clustered embeddings") {
    val pe = plantedEmb.cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.annTopK(pe, 3))
    val approx = pairs(Similarity.annLsh(pe, 3, 8, 4))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered recall $recall < 0.9")
    // isotropic driver data: report, don't assert (worst case for any index)
    val exactIso = pairs(Similarity.annTopK(emb, 3))
    val approxIso = pairs(Similarity.annLsh(emb, 3, 8, 4))
    info(f"isotropic-data recall: ${(exactIso intersect approxIso).size.toDouble / exactIso.size}%.3f")
  }

  test("IVF ANN: recall >= 0.9 vs exact top-k on clustered embeddings, cell-local candidates") {
    val pe = plantedEmb.cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.annTopK(pe, 3))
    val approx = pairs(Similarity.annIvf(pe, 3, 16, 2))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered IVF recall $recall < 0.9")
    // 100 TB path: the quantizer trained on a 25% deterministic sample
    // (seeding + Lloyd see ~100 of 400 vectors) must keep recall — the
    // codebook is a property of the distribution, not the corpus size
    val sampled = pairs(Similarity.annIvf(pe, 3, 16, 2, trainFraction = 0.25))
    val recallS = (exact intersect sampled).size.toDouble / exact.size
    assert(recallS >= 0.9, s"sample-trained IVF recall $recallS < 0.9")
    pe.unpersist(false)
  }

  test("cosinePairs candidates: every reported pair shares >= 1 LSH table bucket") {
    val out = Similarity.cosinePairs(emb, 0.2, 4, 8).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1) && r.getDouble(2) >= 0.2))
    val bkts = (0 until 4).map(t => emb.select(col("vec_id"),
      lit(t).as("t"), Similarity.bucketExpr(col("embedding"), 8, t * 8).as("bkt")))
      .reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.forall(r => (0 until 4).exists(t =>
      bkts((r.getLong(0), t)) == bkts((r.getLong(1), t)))))
  }

  test("language id is deterministic and defaults to 'und' on no hits") {
    val out = TextAnalysis.langId(docs)
    assert(out.count() == docs.count())
    import spark.implicits._
    val empty = Seq((99L, "zzz qqq xxx")).toDF("doc_id", "text")
    assert(TextAnalysis.langId(empty).head().getString(1) == "und")
  }

  test("quality metrics are bounded ratios") {
    val q = TextAnalysis.quality(docs)
    assert(q.filter(col("alpha_ratio") < 0 || col("alpha_ratio") > 1).isEmpty)
    assert(q.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).isEmpty)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).isEmpty)
  }

  test("multimodal decode plumbing: mapPartitions batch transform with stubbed codec") {
    val out = Multimodal.decodeFeatures(docs)
    assert(out.count() == docs.count())
    val row = out.orderBy("doc_id").head()
    assert(row.getInt(2) >= 16 && row.getInt(3) >= 16) // fake dims
    assert(row.getSeq[Double](4).length == 8) // feature vector shape
    // deterministic: same input -> same features
    val again = Multimodal.decodeFeatures(docs).orderBy("doc_id").head()
    assert(row == again)
    // video assets sample >1 frame
    assert(out.filter(col("kind") === "video" && col("frames_sampled") <= 1).isEmpty)
  }
}
