package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{LinkGraph, Transcripts}
import graft.pregel.{Pregel, PregelConfig, Hybrid, ForcePullShuffle}
import graft.algos._
import graft.pipeline.{Dedup, Similarity, TextAnalysis, Multimodal}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * The engine's working input is the transcript table (BASELINE.json
 * input_hint) derived deterministically from the driver-provided `events`
 * parquet, so the DuckDB oracle reproduces every derivation step in ANSI
 * SQL over the same bytes. Iterative algorithms are pinned to a fixed
 * superstep count K in BOTH engines: the Spark kernel's delta propagation
 * provably equals the oracle's full-formula iterate at every superstep,
 * so results match whether or not the graph converged by K (convergence
 * itself is asserted in the ScalaTest suite). */
object SparkEntry {

  // superstep counts pinned engine<->oracle
  val PR_ITERS = 10
  val CC_ITERS = 25
  val LPA_ITERS = 10
  val SSSP_ITERS = 25
  val SSSP_SOURCE = 0L
  val MIS_ITERS = 20 // even; pinned engine<->oracle
  val SA_ITERS = 15
  val SA_SOURCE = 2L // reference default source.vertex.id=2 (SABSP.java:52)
  val MM_ITERS = 25 // == 1 (mod 3): both engines stop on a phase boundary
  val KC_K = 3; val KC_ITERS = 8 // k-core peel rounds pinned engine<->oracle
  val HITS_ITERS = 10 // power-iteration supersteps pinned engine<->oracle
  val DC_ITERS = 8 // dedup-cluster CC supersteps pinned engine<->oracle
  val WALK_STEPS = 6 // random-walk length pinned engine<->oracle
  // node2vec biases pinned engine<->oracle: integer weights (return, in, out)
  // ~ (1/p, 1, 1/q) scaled by 4 with p=4, q=2
  val N2V_STEPS = 5; val N2V_RET = 1; val N2V_IN = 4; val N2V_OUT = 2
  val SG_WINDOW = 2 // skip-gram context window pinned engine<->oracle
  // truncated-Brandes betweenness: seed sample + BFS depth pinned both engines
  val BC_SEEDS: Seq[Long] = Seq(0L, 1L, 2L); val BC_LEVELS = 4
  val WEIGHTED_FIXTURE = "/root/repo/fixtures/weighted_adj.txt"
  val UNWEIGHTED_FIXTURE = "/root/repo/fixtures/unweighted_adj.txt"
  val BIPARTITE_FIXTURE = "/root/repo/fixtures/bipartite_adj.txt"

  private def pregel(spark: SparkSession): Pregel = {
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // fuse=4: semantically identity (KernelSpec); UpdateAll programs that
    // don't read prior state (PageRank) amortize 4 supersteps per barrier —
    // LPA/delta programs force fuse=1 in the kernel (usesPriorState /
    // deltaFilter)
    new Pregel(spark, PregelConfig(numPartitions = p, mode = Hybrid,
      fusedSupersteps = 4))
  }

  /** Derivation bundle reused by the graph queries. The three derived edge
   * relations are cached like `verts`: six queries share `undirected` and
   * four share `prEdges`, and re-deriving the symmetrize/distinct chain per
   * query cost ~1-2s each at sf0.1 (r6 measurement). First use pays the
   * derivation inside its own timing; later queries reuse the cache —
   * the same session-shared-input discipline as the vertex cache. */
  final case class G(verts: DataFrame, dedges: DataFrame, n: Long) {
    lazy val undirected: DataFrame = LinkGraph.symmetrize(dedges).cache()
    lazy val prEdges: DataFrame = LinkGraph.withSelfLoops(dedges, verts).cache()
    lazy val canonical: DataFrame = LinkGraph.canonical(dedges).cache()
  }

  // One derived graph per (session, dir): every algorithm query over the
  // same table reuses the cached vertex relation instead of re-deriving
  // the transcript graph (exactly what a user running PR then CC does).
  private val graphs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), G]()

  def graphOf(spark: SparkSession, dir: String): G = {
    // drop entries of stopped sessions: their cached plans are unusable
    // and would otherwise pin the session object for the JVM's lifetime
    graphs.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (spark, dir)
    val existing = graphs.get(key)
    if (existing != null) existing
    else {
      // derive OUTSIDE the map lock — the derivation runs Spark jobs and
      // computeIfAbsent would hold the bin lock for their whole duration;
      // a racing loser unpersists its duplicate cache and adopts the winner.
      // The duplicate never shares the winner's cache entry: convOffsets'
      // localCheckpoint gives every derivation its own plan leaf, so no
      // plan match links the two (pinned by DerivationSpec's race test).
      // dedges is cached too: it is read directly (edges, hits) AND is the
      // base every derived edge relation (undirected/prEdges/canonical)
      // materializes from on first use
      val verts = LinkGraph.vertices(Transcripts.fromEvents(spark, dir)).cache()
      val g = G(verts, LinkGraph.directedEdges(verts).cache(), verts.count())
      val prev = graphs.putIfAbsent(key, g)
      if (prev != null) {
        verts.unpersist(blocking = false); g.dedges.unpersist(blocking = false)
        prev
      } else g
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val g = graphOf(spark, "/root/testdata/sf0.001")
    PageRank.scores(pregel(spark), new PageRank(g.n, PR_ITERS), g.verts.select("vid"), g.prEdges, g.n)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "transcripts" -> ((s, dir) =>
      Transcripts.fromEvents(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us")) // parquet ts is NTZ; session tz is UTC
        .orderBy("conv_id", "turn_idx")),
    "vertices" -> ((s, dir) => graphOf(s, dir).verts.orderBy("vid")),
    "edges" -> ((s, dir) => graphOf(s, dir).dedges.orderBy("src", "dst", "kind")),
    "degrees" -> ((s, dir) => {
      val g = graphOf(s, dir)
      val d = g.undirected.groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))
      g.verts.select("vid").join(d, Seq("vid"), "left_outer")
        .select(col("vid"), coalesce(col("degree"), lit(0L)).as("degree"))
        .orderBy("vid")
    }),
    "pagerank" -> ((s, dir) => {
      val g = graphOf(s, dir)
      PageRank.scores(pregel(s), new PageRank(g.n, PR_ITERS), g.verts.select("vid"), g.prEdges, g.n)
        .orderBy("vid")
    }),
    "cc" -> ((s, dir) => {
      val g = graphOf(s, dir)
      ConnectedComponents.labels(pregel(s), g.verts.select("vid"), g.undirected, CC_ITERS).orderBy("vid")
    }),
    // same CC, forced through the NON-BROADCAST shuffle-gather pull path
    // (respond relation shuffled once into the dst-keyed in-edge fragment
    // relation) — gates the above-cap b-PULL plan end-to-end against the
    // same oracle, not just its specs
    "cc_gather" -> ((s, dir) => {
      val g = graphOf(s, dir)
      val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      ConnectedComponents.labels(
        new Pregel(s, PregelConfig(numPartitions = p, mode = ForcePullShuffle)),
        g.verts.select("vid"), g.undirected, CC_ITERS).orderBy("vid")
    }),
    "lpa" -> ((s, dir) => {
      val g = graphOf(s, dir)
      LabelPropagation.labels(pregel(s), g.verts.select("vid"), g.undirected, LPA_ITERS).orderBy("vid")
    }),
    "sssp" -> ((s, dir) => {
      val g = graphOf(s, dir)
      SSSP.distances(pregel(s), g.verts.select("vid"), g.undirected, SSSP_SOURCE, SSSP_ITERS).orderBy("vid")
    }),
    // reference text-format path, end-to-end: parse the committed weighted
    // adjacency fixture (io/EdgeParser.java:166-200 semantics) and run
    // weighted SSSP over it — gates the S5 reader, not just its spec
    "sssp_weighted" -> ((s, dir) => {
      val e = graph.AdjacencyText.weightedEdges(s, WEIGHTED_FIXTURE)
      val verts = e.select(col("src").as("vid")).distinct()
      SSSP.weightedDistances(pregel(s), verts, e, SSSP_SOURCE, SSSP_ITERS).orderBy("vid")
    }),
    // reference PRIMARY input (unweighted `src \t dst:dst…`,
    // io/EdgeParser.java:134-157), end-to-end: parse the committed fixture
    // and run CC over it — the first path a user loading an existing
    // HybridGraph dataset hits
    "cc_adjtext" -> ((s, dir) => {
      val e = graph.AdjacencyText.edges(s, UNWEIGHTED_FIXTURE)
      val verts = e.select(col("src").as("vid"))
        .union(e.select(col("dst").as("vid"))).distinct()
      ConnectedComponents.labels(pregel(s), verts, e, CC_ITERS).orderBy("vid")
    }),
    // reference bipartite parse rule (io/EdgeParser.java:51-83): drop
    // same-parity edges from the parsed file, then run maximal matching
    "mm_adjtext" -> ((s, dir) => {
      val e = graph.AdjacencyText.edges(s, BIPARTITE_FIXTURE)
      val verts = e.select(col("src").as("vid"))
        .union(e.select(col("dst").as("vid"))).distinct()
      MM.matching(pregel(s), verts, graph.AdjacencyText.bipartite(e), MM_ITERS).orderBy("vid")
    }),
    "sa" -> ((s, dir) => {
      val g = graphOf(s, dir)
      SA.run(pregel(s), g.verts.select("vid"), g.prEdges, SA_SOURCE, SA_ITERS).orderBy("vid")
    }),
    "mis" -> ((s, dir) => {
      val g = graphOf(s, dir)
      MIS.statuses(pregel(s), g.verts.select("vid"), g.undirected, MIS_ITERS).orderBy("vid")
    }),
    "mm" -> ((s, dir) => {
      val g = graphOf(s, dir)
      MM.matching(pregel(s), g.verts.select("vid"),
        graph.AdjacencyText.bipartite(g.undirected), MM_ITERS).orderBy("vid")
    }),
    // k-core membership (peeling on the same kernel) — no reference
    // analog; standard link-graph analytics a reference user would expect
    "kcore" -> ((s, dir) => {
      val g = graphOf(s, dir)
      KCore.membership(pregel(s), g.verts.select("vid"), g.undirected, KC_K, KC_ITERS).orderBy("vid")
    }),
    // personalized PageRank (random walk with restart to one source) —
    // the reference PageRank with a point teleport vector
    "ppr" -> ((s, dir) => {
      val g = graphOf(s, dir)
      PageRank.scores(pregel(s), PageRank.personalized(SSSP_SOURCE, PR_ITERS),
        g.verts.select("vid"), g.prEdges, g.n, "ppr_scaled").orderBy("vid")
    }),
    // HITS hubs & authorities — the other canonical link-analysis ranking;
    // both directions ride one direction-tagged edge relation
    "hits" -> ((s, dir) => {
      val g = graphOf(s, dir)
      HITS.scores(pregel(s), g.verts.select("vid"), g.dedges, g.n, HITS_ITERS).orderBy("vid")
    }),
    "triangles" -> ((s, dir) => {
      val g = graphOf(s, dir)
      TriangleCount.perVertexAll(g.canonical, g.verts).orderBy("vid")
    }),
    "triangle_count" -> ((s, dir) => TriangleCount.global(graphOf(s, dir).canonical)),
    // local clustering coefficient — composes the oriented triangle plan
    // with the degree aggregate
    "clustering_coeff" -> ((s, dir) => {
      val g = graphOf(s, dir)
      ClusteringCoefficient.local(g.canonical, g.undirected, g.verts).orderBy("vid")
    }),
    // per-edge link-prediction features: common neighbors, Jaccard,
    // Adamic-Adar (degree-oriented wedge enumeration, O(m^1.5) bound)
    "edge_features" -> ((s, dir) => {
      val g = graphOf(s, dir)
      LinkFeatures.edgeFeatures(g.canonical, g.undirected).orderBy("src", "dst")
    }),
    // k-source truncated Brandes betweenness (sampled-source estimator)
    "betweenness" -> ((s, dir) => {
      val g = graphOf(s, dir)
      val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      Betweenness.truncated(g.verts.select("vid"), g.undirected,
        BC_SEEDS, BC_LEVELS, p).orderBy("vid")
    }),
    // deterministic random-walk corpus (DeepWalk-style) — the link-graph →
    // embedding-training handoff; one length-WALK_STEPS walk per vertex
    "walks" -> ((s, dir) => {
      val g = graphOf(s, dir)
      val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      RandomWalks.walks(g.verts.select("vid"), g.prEdges, WALK_STEPS, p)
        .orderBy("walk_id", "step")
    }),
    // node2vec second-order biased walks: exact integer-weight sampling
    // (replica-argmin), uniform first hop
    "walks_biased" -> ((s, dir) => {
      val g = graphOf(s, dir)
      val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      RandomWalks.biasedWalks(g.verts.select("vid"), g.prEdges, N2V_STEPS,
        N2V_RET, N2V_IN, N2V_OUT, p).orderBy("walk_id", "step")
    }),
    // skip-gram (center, context) training pairs over the walk corpus —
    // one window pass, no corpus self-join
    "skipgram_pairs" -> ((s, dir) => {
      val g = graphOf(s, dir)
      val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val corpus = RandomWalks.walks(g.verts.select("vid"), g.prEdges, WALK_STEPS, p)
      RandomWalks.skipGramPairs(corpus, SG_WINDOW).orderBy("walk_id", "step", "off")
    }),

    // -------- training-data pipeline operators (documents/embeddings) ----
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir)).orderBy("doc_id")),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashLsh(docs(s, dir), MH_K, MH_BANDS, MH_MINJ)),
    "text_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir), SH_BITS).orderBy("doc_id")),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir), SH_BITS, SH_MAXHAM)),
    "dedup_ngram" -> ((s, dir) => Dedup.ngramJaccard(docs(s, dir), NG_N, NG_MINJ, NG_MAXDF)),
    // composite: LSH pairs -> CC over the pair graph = per-doc duplicate
    // cluster id (the pipeline+kernel integration a dedup pipeline ships)
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(pregel(s), docs(s, dir), MH_K, MH_BANDS, MH_MINJ, DC_ITERS).orderBy("doc_id")),
    "dedup_embedding" -> ((s, dir) =>
      Similarity.cosinePairs(emb(s, dir), EMB_MINCOS, LSH_TABLES, LSH_BITS, LSH_MAXBKT)),
    "ann_topk" -> ((s, dir) => Similarity.annTopK(emb(s, dir), ANN_K)),
    "ann_lsh" -> ((s, dir) =>
      Similarity.annLsh(emb(s, dir), ANN_LSH_K, LSH_BITS, LSH_TABLES, LSH_MAXBKT)),
    "ann_ivf" -> ((s, dir) =>
      Similarity.annIvf(emb(s, dir), ANN_LSH_K, IVF_CELLS, IVF_PROBES)),
    "text_langid" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    "text_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),
    "text_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir))),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    // corpus curation: deterministic per-source quota sample (data mixing)
    // and global vocabulary top-K
    "sample_stratified" -> ((s, dir) => pipeline.Sampling.stratified(docs(s, dir), SAMPLE_Q)),
    "vocab_topk" -> ((s, dir) => pipeline.Sampling.vocabTopK(docs(s, dir), VOCAB_K).orderBy("rnk")),
    "multimodal_meta" -> ((s, dir) => Multimodal.meta(docs(s, dir))),
    // decode/feature-extract via mapPartitions with the deterministic fake
    // codec — gates the batch-transform plumbing, not just its spec
    "multimodal_decode" -> ((s, dir) => Multimodal.decodeFeaturesFlat(docs(s, dir)))
  )

  // pipeline knobs pinned engine<->oracle
  val MH_K = 16; val MH_BANDS = 4; val MH_MINJ = 0.2
  val SH_BITS = 32; val SH_MAXHAM = 3
  val NG_N = 3; val NG_MINJ = 0.8; val NG_MAXDF = 0.5
  val EMB_MINCOS = 0.2; val LSH_TABLES = 4; val LSH_BITS = 8; val LSH_MAXBKT = 10000
  val ANN_K = 5; val ANN_LSH_K = 3; val IVF_CELLS = 16; val IVF_PROBES = 2
  val SAMPLE_Q = 10; val VOCAB_K = 100

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "transcripts" -> Oracles.transcripts,
    "vertices" -> Oracles.vertices,
    "edges" -> Oracles.edges,
    "degrees" -> Oracles.degrees,
    "pagerank" -> Oracles.pagerank(PR_ITERS),
    "cc" -> Oracles.cc(CC_ITERS),
    "cc_gather" -> Oracles.cc(CC_ITERS), // same semantics, shuffle-gather plan
    "lpa" -> Oracles.lpa(LPA_ITERS),
    "sssp" -> Oracles.sssp(SSSP_SOURCE, SSSP_ITERS),
    "sssp_weighted" -> Oracles.ssspWeighted(WEIGHTED_FIXTURE, SSSP_SOURCE, SSSP_ITERS),
    "cc_adjtext" -> Oracles.ccAdjText(UNWEIGHTED_FIXTURE, CC_ITERS),
    "mm_adjtext" -> Oracles.mmAdjText(BIPARTITE_FIXTURE, MM_ITERS),
    "mis" -> Oracles.mis(MIS_ITERS),
    "mm" -> Oracles.mm(MM_ITERS),
    "sa" -> Oracles.sa(SA_SOURCE, SA_ITERS),
    "kcore" -> Oracles.kcore(KC_K, KC_ITERS),
    "ppr" -> Oracles.ppr(SSSP_SOURCE, PR_ITERS),
    "hits" -> Oracles.hits(HITS_ITERS),
    "dedup_clusters" -> Oracles.dedupClusters(MH_K, MH_BANDS, MH_MINJ, DC_ITERS),
    "triangles" -> Oracles.triangles,
    "triangle_count" -> Oracles.triangleCount,
    "clustering_coeff" -> Oracles.clusteringCoeff,
    "walks" -> Oracles.walks(WALK_STEPS),
    "walks_biased" -> Oracles.walksBiased(N2V_STEPS, N2V_RET, N2V_IN, N2V_OUT),
    "skipgram_pairs" -> Oracles.skipgramPairs(WALK_STEPS, SG_WINDOW),
    "edge_features" -> Oracles.edgeFeatures,
    "betweenness" -> Oracles.betweenness(BC_SEEDS, BC_LEVELS),
    "sample_stratified" -> pipeline.Sampling.stratifiedSql(SAMPLE_Q),
    "vocab_topk" -> pipeline.Sampling.vocabTopKSql(VOCAB_K),
    "dedup_exact" -> Dedup.exactSql,
    "dedup_minhash" -> Dedup.minhashLshSql(MH_K, MH_BANDS, MH_MINJ),
    "text_simhash" -> Dedup.simhashSql(SH_BITS),
    "dedup_simhash" -> Dedup.simhashPairsSql(SH_BITS, SH_MAXHAM),
    "dedup_ngram" -> Dedup.ngramJaccardSql(NG_N, NG_MINJ, NG_MAXDF),
    "dedup_embedding" -> Similarity.cosinePairsSql(EMB_MINCOS, LSH_TABLES, LSH_BITS, LSH_MAXBKT),
    "ann_topk" -> Similarity.annTopKSql(ANN_K),
    "ann_lsh" -> Similarity.annLshSql(ANN_LSH_K, LSH_BITS, LSH_TABLES, LSH_MAXBKT),
    "ann_ivf" -> Similarity.annIvfSql(ANN_LSH_K, IVF_CELLS, IVF_PROBES),
    "text_langid" -> TextAnalysis.langIdSql,
    "text_quality" -> TextAnalysis.qualitySql,
    "text_tokens" -> TextAnalysis.tokenCountsSql,
    "text_fingerprint" -> TextAnalysis.fingerprintSql,
    "multimodal_meta" -> Multimodal.metaSql,
    "multimodal_decode" -> Multimodal.decodeFeaturesSql()
  )
}
