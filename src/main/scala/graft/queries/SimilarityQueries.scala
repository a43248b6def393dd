package graft.queries

import graft.Tables
import graft.operators.SimilarityOps
import graft.sources.TempStores
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings`: exact brute-force cosine
  * top-k (correctness anchor) and SRP-LSH approximate top-k (the scale
  * path). The query set is the first 8 vectors — stands in for a
  * broadcast-able probe batch.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private val NQ = 8
  /** PQ codebook seed range for the recall gate: 64 entries per subspace
    * (vs the 8-entry oracle-replay configuration) — the resolution a
    * production index would use, and the measured recalls below depend
    * on it.
    */
  private val PQSEEDS = 100 until 164
  /** Pinned recall@K floors for `sim_recall_at_k`, per index family.
    * The synthetic embeddings are near-random, so absolute recall is
    * bounded by cell coverage (nprobe/ncells) and quantizer resolution:
    * measured at sf0.01 — ivf_probe2 (exact in-cell scoring) 0.275,
    * pq64 (codes only) 0.25, ivfpq64_probe2 0.075, srp_multiprobe 0.175
    * (7 of 64 buckets probed), vs a random-retrieval
    * baseline of K/N ≈ 0.01. The floors are REGRESSION TRIPWIRES 2.5-12×
    * above chance, not absolute quality claims: any candidate-join /
    * encode / ranking bug drives recall to ~chance and flips recall_ok.
    * The exception is sq8 (measured 0.95): int8 scalar quantization
    * perturbs cosine only at the 8-bit resolution, so near-exact recall
    * IS the absolute claim and its floor (0.8) has real teeth.
    */
  private val RecallFloors: Seq[(String, Double)] = Seq(
    "ivf_probe2" -> 0.12, "pq64" -> 0.10, "ivfpq64_probe2" -> 0.025,
    "srp_multiprobe" -> 0.05, "sq8" -> 0.8)
  // IVF centroid seeds: a fixed corpus subset, disjoint from the queries
  private val SEEDS = 100 until 108
  // k-NN graph degree
  private val KnnK = 3
  // range search radius (cosine floor; random 64-dim cosines sit near
  // 0 ± 0.12, so 0.25 keeps single-digit genuine neighbors per query)
  private val RsTheta = 0.25
  // refine pattern: ADC candidates per query before the exact re-rank
  private val RefineCoarse = 20
  // BFS origin seeds + hop bound over the k-NN graph
  private val BfsSeeds = Seq(100L, 101L)
  private val BfsRounds = 4
  // PageRank iterations + fixed-point scale over the k-NN graph
  private val PrIters = 3
  private val PrScale = 1000000000000L
  // MMR re-rank: candidate window, picks, trade-off weights. The
  // penalty is a separate literal (NOT 1−λ: 1−0.7 is
  // 0.30000000000000004 in IEEE — both engines must share the exact
  // written constant).
  private val MmrWindow = 10
  private val MmrK = 5
  private val MmrLambda = 0.7
  private val MmrPenalty = 0.3
  // k-core peel threshold + fixed rounds over the same graph. The
  // symmetrized 3-NN graph has degree ≥ 3 everywhere, so k must exceed
  // 3 for the peel to do work: k=4 keeps ~half of sf0.01 after round 1
  // and the second round peels further (non-vacuous at every sf).
  private val KcK = 4
  private val KcIters = 2
  // link prediction: result size + Jaccard fixed-point scale
  private val LpTopN = 20
  private val LpScale = 1000000L
  // farthest-first traversal: center count + fixed seed vector
  private val FfK = 8
  private val FfSeed = 42L
  // clustering-coefficient fixed-point scale
  private[queries] val CcScale = 1000000L
  // PCA power iteration: rounds, embedding quantization scale, direction
  // fixed-point scale (see SimilarityOps.pcaPower for the overflow story)
  private val PcaIters = 6
  private val PcaQ = 10000L
  private val PcaV = 100000L

  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
  private def queriesOf(df: DataFrame): DataFrame =
    df.filter(col("vec_id") < NQ)

  /** Lloyd training memoized per (session, sf-dir) for the IVF-search
    * consumer — a real pipeline trains once and reuses the k-row model.
    * `sim_kmeans_cells` deliberately does NOT use the cache: it is in the
    * bench's pinned standing basket, and letting a newer query absorb its
    * training cost would turn cost-shifting into a fake round-over-round
    * speedup.
    */
  private val lloydCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  private def train(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeansOps.lloyd(embs(s, dir), "vec_id", "embedding",
      seedIds = SEEDS.map(_.toLong), iters = 2)

  /** Shared with DedupQueries (dedup_semantic clusters under the SAME
    * trained model — train once, consume many).
    */
  private[queries] def trained(s: SparkSession, dir: String): DataFrame =
    lloydCache.getOrElseUpdate((s, dir),
      train(s, dir).localCheckpoint(false))

  /** Seed-centroid frame shared by every seeded-index builder. */
  private def seedCents(e: DataFrame): DataFrame =
    e.filter(col("vec_id").isInCollection(SEEDS.map(_.toLong)))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  /** Persisted IVF index (build-once/search-many), memoized per
    * (session, sf-dir) like the Lloyd model: the build cost is paid on
    * first use, searches after that only read the probed cell
    * partitions.
    */
  private def builtIndex(s: SparkSession, dir: String): String =
    TempStores.memo("graft-ivf-index", s, dir) { root =>
      val e = embs(s, dir)
      SimilarityOps.buildIndex(e, seedCents(e), root)
    }

  /** Persisted index under the TRAINED Lloyd model (the seed-centroid
    * index above serves the IVF search family; the graph family's cell
    * model is the trained one) — the store corpus_hard_negatives_persisted
    * reads its assignments and norms from.
    */
  private def builtTrainedIndex(s: SparkSession, dir: String): String =
    TempStores.memo("graft-knn-index", s, dir)(
      SimilarityOps.buildIndex(embs(s, dir),
        trained(s, dir).select(col("cell").as("cent_id"),
          col("centroid").as("cent_emb")), _))

  private def builtIvfPqIndex(s: SparkSession, dir: String): String =
    TempStores.memo("graft-ivfpq-index", s, dir) { root =>
      val e = embs(s, dir)
      SimilarityOps.buildIvfPqIndex(e, seedCents(e),
        SimilarityOps.pqBooksOf(e, SEEDS.map(_.toLong), m = 4, dim = 64),
        root)
    }

  /** Per-subspace PQ codebook training, memoized per (session, sf-dir)
    * like the Lloyd model (4 × 1-iteration trainings on first use).
    */
  private val pqBookCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[Seq[Seq[Double]]]]

  private def trainedBooks(s: SparkSession, dir: String)
      : Seq[Seq[Seq[Double]]] =
    pqBookCache.getOrElseUpdate((s, dir),
      SimilarityOps.trainPqBooks(embs(s, dir),
        seedIds = SEEDS.map(_.toLong), m = 4, dim = 64, iters = 1))

  /** The recall gate's 64-entry seed-sliced books, memoized like the
    * other model caches: both PQ families under one gate share one
    * seed-slice collect.
    */
  private val seededBookCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[Seq[Seq[Double]]]]

  private def seededBooks64(s: SparkSession, dir: String)
      : Seq[Seq[Seq[Double]]] =
    seededBookCache.getOrElseUpdate((s, dir),
      SimilarityOps.pqBooksOf(embs(s, dir), PQSEEDS.map(_.toLong),
        m = 4, dim = 64))

  /** SQ8 model (2×64 doubles — bounded by construction) memoized per
    * (session, sf-dir): an index trains its quantizer once.
    */
  private val sq8Cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[Double], Seq[Double])]

  private def sq8ModelOf(s: SparkSession, dir: String)
      : (Seq[Double], Seq[Double]) =
    sq8Cache.getOrElseUpdate((s, dir),
      SimilarityOps.sq8Model(embs(s, dir)))

  private def builtSq8Index(s: SparkSession, dir: String): String =
    TempStores.memo("graft-sq8-index", s, dir)(
      SimilarityOps.buildSq8Index(embs(s, dir), sq8ModelOf(s, dir), _))

  /** Shared tail of the hard-negative miners: sort each anchor's k-NN
    * edges into (pa, pb) pair keys, flag textual near-dups via the
    * given edge test and embedding near-dups via the SRP-bucket +
    * edge-cosine test (the knn cos IS the pair cosine — same dot/norm
    * kernels, and dot is a sequential fold so it is exactly
    * symmetric), drop flagged edges, re-rank per anchor.
    */
  private def hardNegativesFrom(s: SparkSession, edges: DataFrame,
      flagText: DataFrame => DataFrame, vecs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val pairs = edges
      .withColumn("pa", least(col("vec_id"), col("neighbor_id")))
      .withColumn("pb", greatest(col("vec_id"), col("neighbor_id")))
    graft.operators.DedupOps.embeddingPairFlags(
        flagText(pairs), vecs, threshold = 0.35, planes = 4)
      .filter(!col("is_textdup") && !col("is_embdup"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 2)
      .select(col("vec_id").as("doc_id"), col("neg_rank"),
        col("neighbor_id").as("negative_id"), col("cos"))
  }

  val all: Map[String, Q] = Map(
    "sim_bruteforce_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.bruteForceTopK(e, queriesOf(e), K)
    }),
    "sim_srp_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.srpTopK(e, queriesOf(e), K, planes = 6)
    }),
    // multi-probe SRP: each query also searches its Hamming-1 buckets —
    // higher recall at (planes+1)× probed buckets, corpus untouched.
    "sim_srp_multiprobe" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.srpTopK(e, queriesOf(e), K, planes = 6,
        multiProbe = true)
    }),
    "sim_ivf_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.ivfTopK(e, queriesOf(e), K, seedIds = SEEDS.map(_.toLong))
    }),
    // IVF with the recall knob turned: each query probes its 2 nearest
    // cells instead of 1 — the standard recall/cost trade of an IVF index.
    "sim_ivf_probe2" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.ivfTopK(e, queriesOf(e), K, seedIds = SEEDS.map(_.toLong),
        nprobe = 2)
    }),

    // Product quantization: m=4 subspaces of 16 dims, 8-entry seed
    // codebooks, asymmetric-distance top-k — the compressed-scoring half
    // of the IVF+PQ recipe. Oracle replays encode + table lookups.
    "sim_pq_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.pqTopK(e, queriesOf(e), K,
        seedIds = SEEDS.map(_.toLong))
    }),

    // The faiss refine pattern: ADC coarse top-20 candidates from the
    // same seeded codebooks as sim_pq_topk, exactly re-scored and
    // re-ranked — compressed-domain recall, exact-domain precision;
    // only |Q|·20 raw vectors are touched (broadcast candidate probe,
    // the corpus never shuffles). See SimilarityOps.pqRefineTopK.
    "sim_pq_refine" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.pqRefineTopK(e, queriesOf(e), RefineCoarse, K,
        seedIds = SEEDS.map(_.toLong))
    }),

    // PQ over TRAINED codebooks: per-subspace spherical k-means
    // (KMeansOps.lloyd on the sliced column, 1 iteration) supplies the
    // model; encode + ADC identical to sim_pq_topk. The oracle replays
    // all four subspace trainings AND the search.
    "sim_pq_kmeans" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.pqTopKWithBooks(e, queriesOf(e), K,
        trainedBooks(s, dir))
    }),

    // k-NN graph under the SAME trained Lloyd model as sim_ivf_kmeans /
    // dedup_semantic (train once, consume many): every vector's top-3
    // within-cell neighbors — the SemDeDup/graph-sampling substrate.
    "sim_knn_graph" -> ((s, dir) =>
      SimilarityOps.knnGraph(trained(s, dir), KnnK)(embs(s, dir))),

    // PageRank over the k-NN graph (the centrality view of the corpus:
    // which vectors sit in dense neighborhoods) — exact integer
    // fixed-point, see GraphOps.pageRank. Edges rebuilt from the same
    // trained cells as sim_knn_graph (honest per-query cost).
    "graph_pagerank" -> ((s, dir) => {
      val edges = SimilarityOps.knnGraph(trained(s, dir), KnnK)(
        embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.GraphOps.pageRank(edges,
        embs(s, dir).select(col("vec_id").as("id")), PrIters, PrScale)
        .select(col("id").as("vec_id"), col("rank_fp"))
    }),

    // Triangle count + local clustering coefficient over the same graph
    // (density view: which vectors sit in tight neighborhoods) — exact
    // ordered-wedge closure, integer fixed-point coefficient.
    "graph_clustering" -> ((s, dir) => {
      val edges = SimilarityOps.knnGraph(trained(s, dir), KnnK)(
        embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.GraphOps.triangleStats(edges,
        embs(s, dir).select(col("vec_id").as("id")), CcScale)
        .select(col("id").as("vec_id"), col("deg"), col("n_tri"),
          col("cc_fp"))
    }),

    // MMR diversity re-rank (Carbonell-Goldstein): greedy
    // relevance-vs-redundancy selection over the exact-cosine top-10
    // window — the re-rank between retrieval and a RAG prompt. Each of
    // the 5 rounds is replayed exactly by the oracle (argmax of
    // λ·rel − penalty·max-sim-to-selected, ties to smaller id).
    "sim_mmr_rerank" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.mmrRerank(e, queriesOf(e), MmrWindow, MmrK,
        MmrLambda, MmrPenalty)
    }),

    // Fixed-round k-core peel over the k-NN graph (the density-core
    // complement of rare_terms: which vectors survive repeated "drop
    // everything with < k surviving neighbors" rounds). Same edge
    // construction as graph_pagerank/graph_clustering; see
    // GraphOps.kCore for the fixed-iteration contract.
    "graph_kcore" -> ((s, dir) => {
      val edges = SimilarityOps.knnGraph(trained(s, dir), KnnK)(
        embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.GraphOps.kCore(edges,
        embs(s, dir).select(col("vec_id").as("id")), KcK, KcIters)
        .select(col("id").as("vec_id"), col("in_core"), col("core_deg"))
    }),

    // Radius search: all corpus vectors within cosine ≥ RsTheta of each
    // query — the ES knn-with-similarity-threshold shape. Zero
    // exchanges: one corpus scan + broadcast queries + filter (strictly
    // cheaper than any top-k; see SimilarityOps.rangeSearch).
    "sim_range_search" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.rangeSearch(e, queriesOf(e), RsTheta)
    }),

    // Simplified (centroid-form) silhouette per trained cell — the
    // clustering-quality certificate over the SAME Lloyd model the IVF
    // family searches (train once, consume many): mean/min/max of
    // (b − a)/max(a, b) on cosine distances to own vs next-best
    // centroid. Pure-map scoring; one cell-grain aggregate.
    "sim_silhouette" -> ((s, dir) =>
      SimilarityOps.silhouette(trained(s, dir))(embs(s, dir))),

    // Bounded-hop BFS over the k-NN graph from two fixed seed vectors:
    // hop distance as semantic "degrees of separation" (the reachability
    // view next to graph_pagerank's centrality). Same edge construction
    // as the other graph_* queries; 4 unrolled frontier rounds.
    "graph_bfs_hops" -> ((s, dir) => {
      val edges = SimilarityOps.knnGraph(trained(s, dir), KnnK)(
        embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.GraphOps.bfsHops(edges, BfsSeeds, BfsRounds)
        .select(col("id").as("vec_id"), col("dist"))
    }),

    // Per-source centroid similarity matrix: mean embedding per source
    // (docs joined to their embeddings on doc_id = vec_id, the tables'
    // 1:1 linkage) through the exact-DECIMAL mean discipline of
    // KMeansOps, then all-pairs cosine between the 20 source centroids
    // via the shared left-to-right fold kernel — "which sources are
    // semantically interchangeable", the mixture-design view a curation
    // team reads next to corpus_source_quality. Scale shape: one
    // corpus-sized join + one (source, dim) aggregate; everything after
    // runs at |sources|² grain (the self-join is model-sized).
    "sim_source_centroids" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val e = embs(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val joined = d.join(e, Seq("doc_id"))
        .localCheckpoint(false) // consumed by the means AND the counts
      val perDim = joined
        .select(col("source"), posexplode(col("embedding")))
        .groupBy(col("source"), col("pos").cast("long").as("dim"))
        .agg((sum(col("col").cast("double").cast("decimal(38,10)"))
          .cast("double") / count(lit(1)).cast("double")).as("m"))
      val cents = perDim.groupBy(col("source"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, m)))," +
          " x -> x.m)").as("cent"))
        .localCheckpoint(false) // both sides of the pair self-join
      val ns = joined.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val a = cents.select(col("source").as("src_a"), col("cent").as("ca"))
      val b = cents.select(col("source").as("src_b"), col("cent").as("cb"))
      // broadcast the (model-grain) right side: the inequality pair
      // join plans as BNLJ-over-broadcast, not a shuffled
      // CartesianProduct — PlanSpec's global sweep keeps its
      // CartesianProduct allowlist EMPTY on the back of this
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .join(broadcast(ns.select(col("source").as("src_a"),
          col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(ns.select(col("source").as("src_b"),
          col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          graft.operators.DedupOps.cosine(col("ca"), col("cb")).as("cos"))
    }),

    // Top principal component of the embedding matrix (power iteration,
    // exact integer/decimal arithmetic end to end — see
    // SimilarityOps.pcaPower): the anisotropy/"embedding health" axis.
    // The per-dim centered sums ride along (sum_q), so the output shows
    // both where the mass sits and which dims carry the dominant
    // direction. The oracle unrolls all 6 rounds in HUGEINT.
    "sim_pca_power" -> ((s, dir) =>
      SimilarityOps.pcaPower(embs(s, dir), PcaIters, PcaQ, PcaV)),

    // Farthest-first center seeding (the deterministic k-means++
    // analogue): 8 centers from a fixed seed, each round picking the
    // vector farthest (argmin max-cos, ties to smaller id) from the
    // selected set — the principled alternative to the fixed SEEDS ids
    // the IVF family trains from, with the per-round coverage radius
    // as the k-center quality certificate. The oracle unrolls all 7
    // selection rounds.
    "sim_kmeanspp" -> ((s, dir) =>
      SimilarityOps.farthestFirst(embs(s, dir), FfK, FfSeed)),

    // Link prediction over the k-NN graph: the top-20 NON-adjacent
    // pairs by neighborhood Jaccard (common-neighbor wedges, integer
    // fixed-point) — "which near-neighbors did the k-NN cutoff miss",
    // the candidate-generation step of graph-based retrieval expansion.
    // Same edge construction as the other graph_* consumers; the kernel
    // is wedge-bounded and the top-20 is a TakeOrdered.
    "graph_link_prediction" -> ((s, dir) => {
      val edges = SimilarityOps.knnGraph(trained(s, dir), KnnK)(
        embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.GraphOps.linkPrediction(edges, LpTopN, LpScale)
    }),

    // Embedding-distribution drift monitor: the corpus split into a
    // deterministic reference/live pair (vec_id parity — stands in for
    // yesterday's snapshot vs today's ingest), both assigned to the
    // SAME trained cells, per-cell counts and share deltas reported —
    // the dashboard that catches a shifted embedding model or a
    // changed upstream corpus before an index rebuild bakes it in.
    // Assignment is the pure-map IVF kernel; one cell-grain groupBy;
    // the 1-row totals aggregate broadcasts back (Q22 shape,
    // allowlisted).
    "sim_drift" -> ((s, dir) => {
      val cells = SimilarityOps.assignCells(trained(s, dir))(embs(s, dir))
        .select(col("vec_id"), col("cell"),
          (col("vec_id") % 2 === 0).as("is_ref"))
      val per = cells.groupBy(col("cell")).agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_live"))
      val tot = per.agg(sum(col("n_ref")).as("t_ref"),
        sum(col("n_live")).as("t_live"))
      val shareRef = col("n_ref").cast("double") /
        col("t_ref").cast("double")
      val shareLive = col("n_live").cast("double") /
        col("t_live").cast("double")
      per.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_ref"), col("n_live"),
          shareRef.as("share_ref"), shareLive.as("share_live"),
          (shareLive - shareRef).as("share_delta"))
    }),

    // Edge reciprocity of the k-NN graph: the share of directed edges
    // whose reverse also exists — high reciprocity means neighborhoods
    // agree in both directions (a denser, more clusterable graph; the
    // symmetrize step of kcore/assortativity inflates less). One
    // self-semi-join on the reversed key + a 1-row aggregate
    // (allowlisted); edges rebuilt from the shared trained cells.
    "graph_reciprocity" -> ((s, dir) => {
      val e = SimilarityOps.knnGraph(trained(s, dir), KnnK)(embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        .localCheckpoint(false) // both sides of the reverse probe
      val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
        .select(col("n_edges"), col("n_mutual"),
          (col("n_mutual").cast("double") / col("n_edges").cast("double"))
            .as("reciprocity"))
    }),

    // Degree assortativity of the k-NN graph (Newman's r): the Pearson
    // correlation of endpoint degrees over the SYMMETRIZED edge list —
    // positive r = hubs link hubs (a clustered, redundant neighborhood
    // structure), negative = hub-and-spoke. Out-degree alone is the
    // constant k, so symmetrization is what makes the statistic
    // non-degenerate. Exact DECIMAL moment sums + the matrix_stats
    // corr tree; one 1-row aggregate (allowlisted); edges rebuilt from
    // the shared trained cells (honest per-query cost).
    "graph_assortativity" -> ((s, dir) => {
      def dec38(c: org.apache.spark.sql.Column) =
        c.cast("decimal(38,10)")
      val e0 = SimilarityOps.knnGraph(trained(s, dir), KnnK)(embs(s, dir))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      val und = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .localCheckpoint(false) // degree frame + both endpoint joins
      val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val ed = und
        .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")),
          Seq("dst"))
      val m = ed.agg(count(lit(1)).as("n"),
        sum(dec38(col("dx"))).as("sxd"),
        sum(dec38(col("dy"))).as("syd"),
        sum(dec38(col("dx") * col("dx"))).as("sxxd"),
        sum(dec38(col("dy") * col("dy"))).as("syyd"),
        sum(dec38(col("dx") * col("dy"))).as("sxyd"))
      val nD = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      m.select(col("n").as("n_edges"),
        (d("sxd") / nD).as("mean_deg"),
        ((nD * d("sxyd") - d("sxd") * d("syd")) /
          (sqrt(nD * d("sxxd") - d("sxd") * d("sxd")) *
            sqrt(nD * d("syyd") - d("syd") * d("syd"))))
          .as("assortativity"))
    }),

    // Hard-negative mining for contrastive training (the retrieval-
    // model data step): for each anchor doc, its 2 most embedding-
    // similar neighbors that are NOT near-duplicates (textual MinHash
    // ∪ embedding-cosine — a too-similar pair is a likely positive
    // either way, not a hard negative). Exclusion semantics are the
    // registered dedup queries' own parameters, but applied as an
    // EDGE FILTER (r15): membership of a SPECIFIC pair in the near-dup
    // set needs only its two docs' fingerprints, so the N·k edges are
    // tested with O(edges) joins instead of mining the FULL corpus
    // pair set and anti-joining — the r14 100× probe priced the mined
    // exclusion sets at ~0.25 s/copy, the dominant term of the query's
    // 0.42-0.54 s/copy. Same result by construction at every scale
    // where the sub-bucket guardrail is inert (all verify scales);
    // where it engages, the edge filter excludes the pairs the mined
    // set would have LOST to splitting — strictly better.
    "corpus_hard_negatives" -> ((s, dir) => hardNegativesFrom(s,
      SimilarityOps.knnGraph(trained(s, dir), KnnK)(embs(s, dir)),
      p => graft.operators.DedupOps.minhashPairFlags(
        p, Tables.documents(s, dir), k = 2, bands = 8, rows = 2,
        threshold = 0.5),
      embs(s, dir))),

    // Hard-negative mining served from PERSISTED stores — the standing-
    // pipeline shape of the query above (which pays every model per
    // run): k-NN candidates come from the stored trained-cell index
    // (assignments + norms precomputed at ingest, cell-partitioned
    // layout — the self-join scan arrives clustered), and the textual
    // edge test reads the stored MinHash fingerprints (text never
    // re-shingled; band geometry from the store's persisted params).
    // Same models, same edge-filter tail — same oracle replay verbatim.
    "corpus_hard_negatives_persisted" -> ((s, dir) => hardNegativesFrom(s,
      SimilarityOps.knnGraphIndex(s, builtTrainedIndex(s, dir), KnnK),
      p => graft.operators.DedupOps.minhashPairFlagsStore(s,
        DedupQueries.builtFullMinhashStore(s, dir), p, threshold = 0.5),
      SimilarityOps.readIndex(s, builtTrainedIndex(s, dir)))),

    // Cluster topic labeling (the naming step after embedding
    // clustering): each trained cell labeled by its 3 most DISTINCTIVE
    // terms — score = ⌊10⁶ · cell_df / corpus_df⌋, the exact-integer
    // concentration ratio (a term scores high when its documents all
    // land in this cell; plain counts would just echo stopwords).
    // Embeddings join documents on the shared vec_id = doc_id key; the
    // doc-distinct token frame materializes once and feeds both the
    // corpus df and the per-cell counts; the top-3 window partitions
    // by cell. Rides the SAME trained Lloyd model + cell3 replay as
    // sim_drift/dedup_semantic.
    "sim_topic_labels" -> ((s, dir) => {
      val cells = SimilarityOps.assignCells(trained(s, dir))(embs(s, dir))
        .select(col("vec_id").as("doc_id"), col("cell"))
      val tok = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(array_distinct(
          graft.operators.TextOps.tokens(col("text")))).as("term"))
        .localCheckpoint(false) // corpus df + cell counts share it
      val dfreq = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val ct = tok.join(cells, Seq("doc_id"))
        .groupBy(col("cell"), col("term"))
        .agg(count(lit(1)).as("cell_df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell"))
        .orderBy(col("score").desc, col("term"))
      ct.join(dfreq, Seq("term"))
        .withColumn("score", expr("(1000000 * cell_df) DIV df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("cell"), col("rk"), col("term"), col("cell_df"),
          col("df"), col("score"))
    }),

    // One-hop label propagation over the k-NN graph (semi-supervised
    // auto-labeling / weak supervision): each vector takes the majority
    // label of its graph neighbors, ties broken by smallest label —
    // deterministic at any partitioning. Scale shape: the edge frame is
    // |V|·k rows; the label join shuffles on neighbor_id (both sides
    // corpus-scale — sort-merge is the right plan, nothing to
    // broadcast); the vote agg is one map-side-combined groupBy; the
    // argmax window partitions by vec_id with ≤ |labels| rows per
    // partition. Vectors in singleton cells have no neighbors: they get
    // prop_label NULL / n_votes 0 (an honest "no evidence", not a
    // default), and `agrees` is three-valued accordingly.
    "sim_label_propagation" -> ((s, dir) => {
      val e = embs(s, dir)
      val edges = SimilarityOps.knnGraph(trained(s, dir), KnnK)(e)
      val votes = edges
        .join(e.select(col("vec_id").as("nid"),
          col("label").cast("long").as("nlabel")),
          col("neighbor_id") === col("nid"))
        .groupBy(col("vec_id"), col("nlabel"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("n").desc, col("nlabel"))
      val top = votes
        .withColumn("rk", org.apache.spark.sql.functions.row_number.over(w))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("nlabel").as("prop_label"),
          col("n").as("n_votes"))
      e.select(col("vec_id"), col("label").cast("long").as("own_label"))
        .join(top, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("own_label"), col("prop_label"),
          coalesce(col("n_votes"), lit(0L)).as("n_votes"),
          (col("prop_label") === col("own_label")).as("agrees"))
    }),

    // Scalar quantization (faiss SQ8): per-dim affine int8 codes — the
    // light-compression point on the quality/size curve (4× smaller,
    // 0.95 recall@5 vs PQ64's 0.25; both measured by sim_recall_at_k).
    // Model is 2×64 doubles from one min/max aggregate; encode is a pure
    // map; the one shuffle is the top-k window.
    "sim_sq8_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.sq8TopK(e, queriesOf(e), K, sq8ModelOf(s, dir))
    }),

    // ...and its PERSISTED form: stored quantizer + uint8 code table
    // (¼ the raw bytes); the search dequantizes the code scan and never
    // reopens a raw corpus embedding. Same model/codes/tail ⇒ the
    // in-memory oracle replays it unchanged.
    "sim_sq8_persisted" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.searchSq8Index(s, builtSq8Index(s, dir),
        queriesOf(e), K)
    }),

    // IVF+PQ composed — the canonical billion-scale index: IVF prunes
    // candidates to the probed cell, PQ scores them by table lookups.
    "sim_ivfpq_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.ivfPqTopK(e, queriesOf(e), K,
        ivfSeedIds = SEEDS.map(_.toLong), pqSeedIds = SEEDS.map(_.toLong))
    }),

    // ...and its PERSISTED form: codes live partitionBy(cell) on disk,
    // the search scans only probed cells and never touches a raw
    // embedding on the corpus side. Same cells/codes/tail ⇒ the
    // composed oracle replays it unchanged.
    "sim_ivfpq_persisted" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.searchIvfPqIndex(s, builtIvfPqIndex(s, dir),
        queriesOf(e), K)
    }),

    // The build-once/search-many index shape: the cell assignment is
    // materialized partitionBy(cell) on disk and the search reads ONLY
    // the probed cell directories (partition pruning — pinned in
    // PlanSpec). Same cells, same tail ⇒ bit-identical to sim_ivf_topk,
    // so the same oracle replays it.
    "sim_ivf_persisted" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.searchIndex(s, builtIndex(s, dir), queriesOf(e), K)
    }),

    // ...and the persisted search with the recall knob turned: nprobe=2
    // reads two cell directories per query instead of one — same
    // cells/tail as sim_ivf_probe2, so the same oracle replays it.
    "sim_ivf_persisted_probe2" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.searchIndex(s, builtIndex(s, dir), queriesOf(e), K,
        nprobe = 2)
    }),

    // The production IVF shape: cells from the Lloyd-TRAINED centroids
    // (KMeansOps → SimilarityOps.ivfTopKCentroids), not corpus seeds —
    // training and search composed end-to-end, oracle replaying both.
    "sim_ivf_kmeans" -> ((s, dir) => {
      val e = embs(s, dir)
      SimilarityOps.ivfTopKCentroids(e, queriesOf(e), K, trained(s, dir))
    }),

    // Recall gate: CORRECTNESS entries prove the approximate algorithms
    // replay exactly, not that they retrieve well. This query measures
    // macro recall@K against the brute-force anchor for the five index
    // families (exact-scored IVF at nprobe=2; PQ-only with 64-entry
    // books; composed IVF+PQ; SRP multi-probe; SQ8) and pins per-family
    // floors as error-bound booleans (same pattern as
    // approx_user_stats) — an index-quality regression flips
    // `recall_ok` to false and fails the oracle hash. See RecallFloors
    // for why the floors sit where they do.
    // NOTE ON SHARING: model state (Lloyd centroids, seeded PQ books,
    // the SQ8 affine model) is memoized across queries — a real
    // pipeline trains once. The family TOP-K RESULT frames are
    // deliberately NOT shared with the standalone sim_* queries, even
    // though that would roughly halve this gate's cost: result-frame
    // reuse shifts each family's kernel cost onto whichever query runs
    // first and turns the standing bench into an ordering artifact
    // (same reasoning as sim_kmeans_cells staying uncached). The gate
    // re-runs each kernel so its 1.1 s price stays honest.
    "sim_recall_at_k" -> ((s, dir) => {
      val e = embs(s, dir)
      val exact = SimilarityOps.bruteForceTopK(e, queriesOf(e), K)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // consumed by every recall family
      def recallOf(family: String, floor: Double, approx: DataFrame)
          : DataFrame = {
        val total = lit((K * NQ).toDouble)
        exact.join(approx
            .select(col("query_id").as("a_qid"),
              col("neighbor_id").as("a_nid"), lit(1L).as("hit")),
            col("query_id") === col("a_qid") &&
              col("neighbor_id") === col("a_nid"), "left_outer")
          .agg(count(col("hit")).as("hits"))
          .select(lit(family).as("family"), col("hits"),
            (col("hits").cast("double") / total).as("recall"),
            lit(floor).as("floor"),
            (col("hits").cast("double") / total >= lit(floor))
              .as("recall_ok"))
      }
      val floors = RecallFloors.toMap
      recallOf("ivf_probe2", floors("ivf_probe2"),
          SimilarityOps.ivfTopK(e, queriesOf(e), K,
            seedIds = SEEDS.map(_.toLong), nprobe = 2))
        .unionAll(recallOf("pq64", floors("pq64"),
          SimilarityOps.pqTopKWithBooks(e, queriesOf(e), K,
            seededBooks64(s, dir))))
        .unionAll(recallOf("ivfpq64_probe2", floors("ivfpq64_probe2"),
          SimilarityOps.ivfPqTopKWithBooks(e, queriesOf(e), K,
            ivfSeedIds = SEEDS.map(_.toLong),
            books = seededBooks64(s, dir), nprobe = 2)))
        .unionAll(recallOf("srp_multiprobe", floors("srp_multiprobe"),
          SimilarityOps.srpTopK(e, queriesOf(e), K, planes = 6,
            multiProbe = true)))
        .unionAll(recallOf("sq8", floors("sq8"),
          SimilarityOps.sq8TopK(e, queriesOf(e), K, sq8ModelOf(s, dir))))
    }),

    // The recall-vs-nprobe tuning curve for the seeded IVF index:
    // recall@K against the shared brute-force ground truth at nprobe
    // 1 / 2 / 4 over the 8 seed cells — the plot that picks the
    // latency/recall operating point before deployment. Recall is
    // provably monotone in nprobe (the candidate set only grows and
    // scoring is exact within it), so the curve doubles as an index
    // sanity check. Ground truth computed ONCE (checkpointed); each
    // curve point pays its own probed search honestly (the
    // sim_recall_at_k discipline); three 1-row hit-count aggregates
    // (allowlisted).
    "sim_recall_curve" -> ((s, dir) => {
      val e = embs(s, dir)
      val exact = SimilarityOps.bruteForceTopK(e, queriesOf(e), K)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // consumed by every curve point
      def point(np: Int): DataFrame =
        exact.join(
            SimilarityOps.ivfTopK(e, queriesOf(e), K,
                seedIds = SEEDS.map(_.toLong), nprobe = np)
              .select(col("query_id").as("a_qid"),
                col("neighbor_id").as("a_nid"), lit(1L).as("hit")),
            col("query_id") === col("a_qid") &&
              col("neighbor_id") === col("a_nid"), "left_outer")
          .agg(count(col("hit")).as("hits"))
          .select(lit(np.toLong).as("nprobe"), col("hits"),
            (col("hits").cast("double") / lit((K * NQ).toDouble))
              .as("recall"))
      point(1).unionAll(point(2)).unionAll(point(4))
    }),

    // Lloyd-trained centroids (graft.operators.KMeansOps): the IVF
    // training step, emitted as exploded (cell, dim, mean) rows. The
    // operator is bit-deterministic by construction (seeded init,
    // exact-DECIMAL(38,10) means, first-max tie break), which is exactly
    // what makes a DuckDB dual expressible: the oracle replays both Lloyd
    // iterations as CTEs with the same decimal sums.
    "sim_kmeans_cells" -> ((s, dir) =>
      train(s, dir) // uncached: standing-basket timing must include training
        .select(col("cell").cast("long").as("cell"),
          posexplode(col("centroid")).as(Seq("dim", "m")))
        .select(col("cell"), col("dim").cast("long").as("dim"), col("m")))
  )

  import Duck._

  val oracles: Map[String, String] = Map(
    "sim_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                     FROM embeddings WHERE vec_id < $NQ),
          scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                       ${cosine("qe", "e.embedding")} AS cos
                     FROM q CROSS JOIN embeddings e
                     WHERE e.vec_id <> query_id)
          SELECT query_id, neighbor_id, rank, cos FROM (
            SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
          WHERE rank <= $K""",
    "sim_srp_topk" ->
      s"""WITH g AS (SELECT vec_id, embedding,
                  ${srpBucket("embedding", 6, 64)} AS bucket
                FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
                FROM g WHERE vec_id < $NQ),
          scored AS (SELECT query_id, g.vec_id AS neighbor_id,
                       ${cosine("qe", "g.embedding")} AS cos
                     FROM q JOIN g USING (bucket)
                     WHERE g.vec_id <> query_id)
          SELECT query_id, neighbor_id, rank, cos FROM (
            SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
          WHERE rank <= $K""",
    "sim_srp_multiprobe" ->
      s"""WITH g AS (SELECT vec_id, embedding,
                  ${srpBucket("embedding", 6, 64)} AS bucket
                FROM embeddings),
          q0 AS (SELECT vec_id AS query_id, embedding AS qe, bucket
                 FROM g WHERE vec_id < $NQ),
          q AS (SELECT query_id, qe,
                  CASE WHEN r.i = 6 THEN bucket
                       ELSE xor(bucket, (1::BIGINT << r.i)) END AS bucket
                FROM q0 CROSS JOIN range(0, 7) r(i)),
          scored AS (SELECT query_id, g.vec_id AS neighbor_id,
                       ${cosine("qe", "g.embedding")} AS cos
                     FROM q JOIN g USING (bucket)
                     WHERE g.vec_id <> query_id)
          SELECT query_id, neighbor_id, rank, cos FROM (
            SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
          WHERE rank <= $K""",
    "sim_ivf_topk" -> ivfTopkSql,
    // persisted index: same cells, same search tail — same replay
    "sim_ivf_persisted" -> ivfTopkSql,
    "sim_pq_topk" -> pqTopkSql,
    "sim_pq_refine" -> pqRefineSql,
    "sim_pq_kmeans" -> pqKmeansSql,
    "sim_ivfpq_topk" -> ivfPqTopkSql,
    "sim_ivfpq_persisted" -> ivfPqTopkSql,
    "sim_sq8_topk" -> sq8TopkSql,
    // persisted search: stored model + codes, same dequantize/tail —
    // same replay
    "sim_sq8_persisted" -> sq8TopkSql,
    // k-NN graph replay: the shared Lloyd + trained-cells chain, then
    // within-cell pairs ranked per source vector
    "sim_knn_graph" ->
      s"""WITH $knnEdgeCtes
          SELECT vec_id, neighbor_id, rank, cos FROM knn""",
    "graph_pagerank" -> pageRankSql,
    "graph_clustering" -> clusteringSql,
    "graph_kcore" -> kcoreSql,
    "graph_link_prediction" -> lpSql,
    "graph_bfs_hops" -> bfsSql,
    "sim_range_search" ->
      s"""SELECT query_id, neighbor_id, cos FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ${cosine("q.embedding", "e.embedding")} AS cos
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < $NQ) q
            JOIN embeddings e ON e.vec_id <> q.vec_id)
          WHERE cos >= $RsTheta""",
    "sim_silhouette" ->
      s"""WITH $lloydCtes,
          $trainedCellsCtes,
          sil_r AS (
            SELECT vec_id, cell, cscore,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY cscore DESC, cell) AS rn
            FROM asn3),
          sil_own AS (SELECT vec_id, cell, cscore AS cos_own
                      FROM sil_r WHERE rn = 1),
          sil_nxt AS (SELECT vec_id, cscore AS cos_next
                      FROM sil_r WHERE rn = 2),
          sil_v AS (
            SELECT o.cell,
              CASE WHEN greatest(1.0 - cos_own, 1.0 - cos_next) = 0.0
                   THEN 0.0
                   ELSE ((1.0 - cos_next) - (1.0 - cos_own)) /
                        greatest(1.0 - cos_own, 1.0 - cos_next)
              END AS sil
            FROM sil_own o JOIN sil_nxt USING (vec_id))
          SELECT cell, count(*) AS n_vecs,
                 CAST(CAST(sum(CAST(sil AS DECIMAL(38,10))) AS VARCHAR)
                   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_sil,
                 min(sil) AS min_sil, max(sil) AS max_sil
          FROM sil_v GROUP BY 1""",
    "sim_kmeanspp" -> ffSql,
    "sim_pca_power" -> pcaSql,
    "sim_source_centroids" ->
      s"""WITH sc_j AS (
              SELECT d.source, e.embedding
              FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
          sc_m AS (
              SELECT source, d.i::BIGINT AS dim,
                     sum(embedding[d.i+1]::DOUBLE::VARCHAR
                       ::DECIMAL(38,10))::DOUBLE
                       / count(*)::DOUBLE AS m
              FROM sc_j CROSS JOIN range(0, 64) d(i) GROUP BY 1, 2),
          sc_c AS (SELECT source, list(m ORDER BY dim) AS cent
                FROM sc_m GROUP BY 1),
          sc_n AS (SELECT source, count(*)::BIGINT AS n FROM sc_j
                GROUP BY 1)
          SELECT a.source AS src_a, b.source AS src_b,
                 na.n AS n_a, nb.n AS n_b,
                 ${cosine("a.cent", "b.cent")} AS cos
          FROM sc_c a JOIN sc_c b ON a.source < b.source
          JOIN sc_n na ON na.source = a.source
          JOIN sc_n nb ON nb.source = b.source""",
    "sim_mmr_rerank" -> mmrSql,
    "sim_drift" ->
      s"""WITH $lloydCtes,
          $trainedCellsCtes,
          dr_a AS (SELECT vec_id, cell, (vec_id % 2 = 0) AS is_ref
                 FROM cell3),
          dr_per AS (SELECT cell,
                   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_ref,
                   CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_live
                 FROM dr_a GROUP BY cell),
          dr_tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                   CAST(sum(n_live) AS BIGINT) AS t_live FROM dr_per)
          SELECT cell, n_ref, n_live,
            n_ref::DOUBLE / t_ref::DOUBLE AS share_ref,
            n_live::DOUBLE / t_live::DOUBLE AS share_live,
            n_live::DOUBLE / t_live::DOUBLE
              - n_ref::DOUBLE / t_ref::DOUBLE AS share_delta
          FROM dr_per CROSS JOIN dr_tot""",
    "sim_label_propagation" ->
      s"""WITH $knnEdgeCtes,
          lp_votes AS (SELECT k.vec_id, e.label::BIGINT AS nlabel,
                   count(*)::BIGINT AS n
                 FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
                 GROUP BY 1, 2),
          lp_top AS (SELECT vec_id, nlabel AS prop_label, n AS n_votes
                 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY n DESC, nlabel) AS rk FROM lp_votes)
                 WHERE rk = 1)
          SELECT v.vec_id, v.label::BIGINT AS own_label, t.prop_label,
            COALESCE(t.n_votes, 0)::BIGINT AS n_votes,
            (t.prop_label = v.label::BIGINT) AS agrees
          FROM embeddings v
          LEFT JOIN lp_top t ON t.vec_id = v.vec_id""",
    "sim_recall_at_k" -> recallSql,
    "sim_recall_curve" -> recallCurveSql,
    "graph_reciprocity" ->
      s"""WITH $knnEdgeCtes,
          ed AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
          mu AS (SELECT count(*) AS n_mutual FROM ed a
                 WHERE EXISTS (SELECT 1 FROM ed b
                   WHERE b.src = a.dst AND b.dst = a.src)),
          tot AS (SELECT count(*) AS n_edges FROM ed)
          SELECT n_edges, n_mutual,
                 CAST(n_mutual AS DOUBLE) / CAST(n_edges AS DOUBLE)
                   AS reciprocity
          FROM tot CROSS JOIN mu""",
    "graph_assortativity" ->
      s"""WITH $knnEdgeCtes,
          und AS (SELECT DISTINCT src, dst FROM (
                    SELECT vec_id AS src, neighbor_id AS dst FROM knn
                    UNION ALL
                    SELECT neighbor_id AS src, vec_id AS dst FROM knn)),
          dg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
          ed AS (SELECT a.deg AS dx, b.deg AS dy
                 FROM und JOIN dg a ON und.src = a.src
                      JOIN dg b ON und.dst = b.src),
          m AS (SELECT count(*) AS n,
                  ${ddS("sum(CAST(dx AS DECIMAL(38,10)))")} AS sx,
                  ${ddS("sum(CAST(dy AS DECIMAL(38,10)))")} AS sy,
                  ${ddS("sum(CAST(dx * dx AS DECIMAL(38,10)))")} AS sxx,
                  ${ddS("sum(CAST(dy * dy AS DECIMAL(38,10)))")} AS syy,
                  ${ddS("sum(CAST(dx * dy AS DECIMAL(38,10)))")} AS sxy
                FROM ed)
          SELECT n AS n_edges, sx / CAST(n AS DOUBLE) AS mean_deg,
                 (CAST(n AS DOUBLE) * sxy - sx * sy) /
                   (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
                    sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
                   AS assortativity
          FROM m""",
    "corpus_hard_negatives" ->
      s"""WITH $knnEdgeCtes,
          hn_dup AS (SELECT DISTINCT a, b FROM (
                     SELECT a, b FROM (${DedupQueries.minhashPairsSql})
                     UNION ALL
                     SELECT a, b
                     FROM (${DedupQueries.embCosinePairsSql}))),
          hn_keep AS (
            SELECT k.vec_id, k.neighbor_id, k.cos
            FROM knn k LEFT JOIN hn_dup d
              ON least(k.vec_id, k.neighbor_id) = d.a
                AND greatest(k.vec_id, k.neighbor_id) = d.b
            WHERE d.a IS NULL)
          SELECT vec_id AS doc_id, neg_rank,
                 neighbor_id AS negative_id, cos
          FROM (SELECT vec_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, neighbor_id) AS neg_rank
                FROM hn_keep)
          WHERE neg_rank <= 2""",
    // persisted variant: stored assignments/fingerprints hold exactly
    // the values the in-memory path computes — same replay verbatim
    "corpus_hard_negatives_persisted" ->
      s"""WITH $knnEdgeCtes,
          hn_dup AS (SELECT DISTINCT a, b FROM (
                     SELECT a, b FROM (${DedupQueries.minhashPairsSql})
                     UNION ALL
                     SELECT a, b
                     FROM (${DedupQueries.embCosinePairsSql}))),
          hn_keep AS (
            SELECT k.vec_id, k.neighbor_id, k.cos
            FROM knn k LEFT JOIN hn_dup d
              ON least(k.vec_id, k.neighbor_id) = d.a
                AND greatest(k.vec_id, k.neighbor_id) = d.b
            WHERE d.a IS NULL)
          SELECT vec_id AS doc_id, neg_rank,
                 neighbor_id AS negative_id, cos
          FROM (SELECT vec_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, neighbor_id) AS neg_rank
                FROM hn_keep)
          WHERE neg_rank <= 2""",
    "sim_topic_labels" ->
      s"""WITH $lloydCtes,
          $trainedCellsCtes,
          tl_tok AS (
            SELECT doc_id, unnest(list_distinct(${Duck.toks})) AS term
            FROM documents WHERE text IS NOT NULL),
          tl_df AS (SELECT term, count(*) AS df FROM tl_tok GROUP BY 1),
          tl_ct AS (
            SELECT c.cell, t.term, count(*) AS cell_df
            FROM tl_tok t JOIN cell3 c ON c.vec_id = t.doc_id
            GROUP BY 1, 2)
          SELECT cell, rk, term, cell_df, df,
                 ((1000000 * cell_df) // df)::BIGINT AS score
          FROM (SELECT ct.cell, ct.term, ct.cell_df, d.df,
                  row_number() OVER (PARTITION BY ct.cell
                    ORDER BY (1000000 * ct.cell_df) // d.df DESC,
                      ct.term) AS rk
                FROM tl_ct ct JOIN tl_df d ON ct.term = d.term)
          WHERE rk <= 3""",
    "sim_ivf_probe2" -> ivfProbe2Sql,
    // persisted nprobe=2 search: same cells, same tail — same replay
    "sim_ivf_persisted_probe2" -> ivfProbe2Sql,
    // Lloyd replay: KMeansOps is bit-deterministic (seeded init, DECIMAL
    // sums, one double division, first-max tie break), so both iterations
    // are expressible as CTEs. Assignment mirrors array_position-of-max
    // (row_number ORDER BY score DESC, cell); means mirror
    // sum(x::DECIMAL(38,10))::DOUBLE / count; empty cells COALESCE to the
    // previous centroid exactly like `means.getOrElse(cell, prev)`.
    // The decimal cast goes through VARCHAR deliberately: Spark's
    // double→decimal cast rounds the SHORTEST string representation
    // (scala BigDecimal(double) = Double.toString), while DuckDB's direct
    // ::DECIMAL rounds the exact binary expansion — the two differ by one
    // 1e-10 unit on ~1/500 embedding values; ::VARCHAR::DECIMAL replays
    // Spark's exact conversion (both engines print shortest round-trip).
    "sim_kmeans_cells" ->
      s"""WITH $lloydCtes
          SELECT c1e.cell, c1e.dim, COALESCE(m2.m, c1e.m) AS m
          FROM c1e LEFT JOIN m2
            ON c1e.cell = m2.cell AND c1e.dim = m2.dim""",
    // IVF search over the Lloyd-trained centroids: the kmeans replay
    // feeds the IVF assign/search CTEs — same composition as the Spark
    // side (KMeansOps.lloyd → ivfTopKCentroids).
    "sim_ivf_kmeans" ->
      s"""WITH $lloydCtes,
          $trainedCellsCtes,
          q3 AS (SELECT vec_id AS query_id, embedding AS q_emb, cell
                 FROM cell3 WHERE vec_id < $NQ),
          scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                       ${cosine("q_emb", "c.embedding")} AS cos
                     FROM q3 JOIN cell3 c USING (cell)
                     WHERE c.vec_id <> query_id)
          SELECT query_id, neighbor_id, rank, cos FROM (
            SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
          WHERE rank <= $K"""
  )

  /** The nprobe=2 seed-centroid IVF replay, shared by `sim_ivf_probe2`
    * and the persisted-index variant.
    */
  private def ivfProbe2Sql: String = {
    val seedList = SEEDS.mkString("(", ", ", ")")
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                       FROM embeddings WHERE vec_id IN $seedList),
        asn AS (SELECT vec_id, embedding, cent_id,
                  ${cosine("embedding", "cent_emb")} AS cscore
                FROM embeddings CROSS JOIN cents),
        ranked AS (SELECT vec_id, embedding, cent_id AS cell,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY cscore DESC, cent_id) AS crn
                   FROM asn),
        cell AS (SELECT vec_id, embedding, cell FROM ranked WHERE crn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, cell
              FROM ranked WHERE crn <= 2 AND vec_id < $NQ),
        scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                     ${cosine("q_emb", "c.embedding")} AS cos
                   FROM q JOIN cell c USING (cell)
                   WHERE c.vec_id <> query_id)
        SELECT query_id, neighbor_id, rank, cos FROM (
          SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= $K"""
  }

  /** The seed-centroid IVF replay, shared by `sim_ivf_topk` and the
    * persisted-index variant (same cells, same tail, same result).
    */
  private def ivfTopkSql: String = {
    val seedList = (100 until 108).mkString("(", ", ", ")")
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                       FROM embeddings WHERE vec_id IN $seedList),
        asn AS (SELECT vec_id, embedding, cent_id,
                  ${cosine("embedding", "cent_emb")} AS cscore
                FROM embeddings CROSS JOIN cents),
        cell AS (SELECT vec_id, embedding, cent_id AS cell FROM (
                   SELECT vec_id, embedding, cent_id, cscore,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY cscore DESC, cent_id) AS crn
                   FROM asn) WHERE crn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, cell
              FROM cell WHERE vec_id < $NQ),
        scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                     ${cosine("q_emb", "c.embedding")} AS cos
                   FROM q JOIN cell c USING (cell)
                   WHERE c.vec_id <> query_id)
        SELECT query_id, neighbor_id, rank, cos FROM (
          SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= $K"""
  }

  /** PQ replay: seed-slice codebooks, L2 code assignment (norm-cancelled
    * `cc − 2·x·c`, subtraction only), asymmetric table-lookup scores
    * summed left-associated exactly like the Spark reduce.
    */
  /** PQ encode/table/ADC-score chain up through `sc(query_id,
    * neighbor_id, score)` — shared by the plain top-k and the refine
    * replay.
    */
  private def pqScoreCtes: String = {
    val seedList = SEEDS.mkString("(", ", ", ")")
    val (m, sub) = (4, 16)
    def slice(e: String) = s"$e[c.j*$sub+1 : c.j*$sub+$sub]"
    s"""js AS (SELECT unnest(range(0, $m)) AS j),
        cb AS (SELECT j.j AS j,
                 row_number() OVER (PARTITION BY j.j ORDER BY e.vec_id)
                   AS code,
                 e.embedding[j.j*$sub+1 : j.j*$sub+$sub] AS cvec
               FROM embeddings e CROSS JOIN js j
               WHERE e.vec_id IN $seedList),
        cb2 AS (SELECT j, code, cvec, ${dot("cvec", "cvec")} AS cc
                FROM cb),
        enc AS (SELECT vec_id, j, code FROM (
                  SELECT e.vec_id, c.j, c.code,
                    row_number() OVER (PARTITION BY e.vec_id, c.j
                      ORDER BY c.cc
                        - 2 * ${dot(slice("e.embedding"), "c.cvec")},
                        c.code) AS rn
                  FROM embeddings e CROSS JOIN cb2 c) WHERE rn = 1),
        qt AS (SELECT e.vec_id AS query_id, c.j, c.code,
                 ${dot(slice("e.embedding"), "c.cvec")} AS t
               FROM embeddings e CROSS JOIN cb2 c WHERE e.vec_id < $NQ),
        sc AS (SELECT q.query_id, x.vec_id AS neighbor_id,
                 ((max(CASE WHEN x.j = 0 THEN q.t END)
                   + max(CASE WHEN x.j = 1 THEN q.t END))
                   + max(CASE WHEN x.j = 2 THEN q.t END))
                   + max(CASE WHEN x.j = 3 THEN q.t END) AS score
               FROM enc x JOIN qt q ON q.j = x.j AND q.code = x.code
               WHERE x.vec_id <> q.query_id
               GROUP BY q.query_id, x.vec_id)"""
  }

  private def pqTopkSql: String =
    s"""WITH $pqScoreCtes
        SELECT query_id, neighbor_id, rank, score FROM (
          SELECT query_id, neighbor_id, score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM sc)
        WHERE rank <= $K"""

  /** Refine replay: coarse ADC top-RefineCoarse from the shared score
    * chain, then exact cosine re-rank of exactly those candidates.
    */
  private def pqRefineSql: String =
    s"""WITH $pqScoreCtes,
        cand AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS crank
            FROM sc) WHERE crank <= $RefineCoarse),
        re AS (SELECT c.query_id, c.neighbor_id,
                 ${cosine("q.embedding", "e.embedding")} AS cos
               FROM cand c
               JOIN embeddings e ON e.vec_id = c.neighbor_id
               JOIN embeddings q ON q.vec_id = c.query_id)
        SELECT query_id, neighbor_id, rank, cos FROM (
          SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM re)
        WHERE rank <= $K"""

  /** IVFPQ replay: the IVF home-cell CTEs composed with the PQ
    * encode/table CTEs — candidates are same-cell pairs, scores are the
    * left-associated ADC lookup sums.
    */
  private def ivfPqTopkSql: String =
    s"""WITH ${ivfPqCtes(nprobe = 1)}
        SELECT query_id, neighbor_id, rank, score FROM apx"""

  /** PQ code CTEs (codebooks from `seeds`, corpus encode, query lookup
    * tables); every CTE name carries prefix `p` so multiple chains can
    * coexist in one WITH. Ends at `${p}qt`.
    */
  private def pqCodeCtes(p: String, seeds: Seq[Int]): String = {
    val seedList = seeds.mkString("(", ", ", ")")
    val (m, sub) = (4, 16)
    def slice(e: String) = s"$e[c.j*$sub+1 : c.j*$sub+$sub]"
    s"""${p}js AS (SELECT unnest(range(0, $m)) AS j),
        ${p}cb AS (SELECT j.j AS j,
                 row_number() OVER (PARTITION BY j.j ORDER BY e.vec_id)
                   AS code,
                 e.embedding[j.j*$sub+1 : j.j*$sub+$sub] AS cvec
               FROM embeddings e CROSS JOIN ${p}js j
               WHERE e.vec_id IN $seedList),
        ${p}cb2 AS (SELECT j, code, cvec, ${dot("cvec", "cvec")} AS cc
                FROM ${p}cb),
        ${p}enc AS (SELECT vec_id, j, code FROM (
                  SELECT e.vec_id, c.j, c.code,
                    row_number() OVER (PARTITION BY e.vec_id, c.j
                      ORDER BY c.cc
                        - 2 * ${dot(slice("e.embedding"), "c.cvec")},
                        c.code) AS rn
                  FROM embeddings e CROSS JOIN ${p}cb2 c) WHERE rn = 1),
        ${p}qt AS (SELECT e.vec_id AS query_id, c.j, c.code,
                 ${dot(slice("e.embedding"), "c.cvec")} AS t
               FROM embeddings e CROSS JOIN ${p}cb2 c
               WHERE e.vec_id < $NQ)"""
  }

  /** Left-associated 4-subspace ADC sum (the Spark reduce order). */
  private def adcScore: String =
    """((max(CASE WHEN x.j = 0 THEN q.t END)
         + max(CASE WHEN x.j = 1 THEN q.t END))
         + max(CASE WHEN x.j = 2 THEN q.t END))
         + max(CASE WHEN x.j = 3 THEN q.t END)"""

  /** The IVFPQ CTE chain, parameterized by the query-side probe count
    * (corpus vectors always live in their home cell; a query at
    * nprobe=n searches its n nearest cells), the PQ codebook seeds, and
    * a name prefix. Ends at `${p}apx(query_id, neighbor_id, rank,
    * score)`.
    */
  private def ivfPqCtes(nprobe: Int, pqSeeds: Seq[Int] = SEEDS,
      p: String = ""): String = {
    val seedList = SEEDS.mkString("(", ", ", ")")
    s"""${p}cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                  FROM embeddings WHERE vec_id IN $seedList),
        ${p}asn AS (SELECT vec_id, cent_id,
                  ${cosine("embedding", "cent_emb")} AS cscore
                FROM embeddings CROSS JOIN ${p}cents),
        ${p}rnk AS (SELECT vec_id, cent_id,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cscore DESC, cent_id) AS crn
                FROM ${p}asn),
        ${p}cellv AS (SELECT vec_id, cent_id AS cell FROM ${p}rnk
                      WHERE crn = 1),
        ${p}qcell AS (SELECT vec_id AS query_id, cent_id AS cell
                  FROM ${p}rnk WHERE crn <= $nprobe AND vec_id < $NQ),
        ${pqCodeCtes(p, pqSeeds)},
        ${p}sc AS (SELECT q.query_id, x.vec_id AS neighbor_id,
                 $adcScore AS score
               FROM ${p}enc x
               JOIN ${p}cellv cx ON cx.vec_id = x.vec_id
               JOIN ${p}qcell qc ON qc.cell = cx.cell
               JOIN ${p}qt q ON q.query_id = qc.query_id
                        AND q.j = x.j AND q.code = x.code
               WHERE x.vec_id <> q.query_id
               GROUP BY q.query_id, x.vec_id),
        ${p}apx AS (
          SELECT query_id, neighbor_id, rank, score FROM (
            SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM ${p}sc)
          WHERE rank <= $K)"""
  }

  /** PQ-only chain (all-corpus ADC, no cell pruning), prefix `p`; ends
    * at `${p}apx`.
    */
  private def pqOnlyCtes(p: String, seeds: Seq[Int]): String =
    s"""${pqCodeCtes(p, seeds)},
        ${p}sc AS (SELECT q.query_id, x.vec_id AS neighbor_id,
                 $adcScore AS score
               FROM ${p}enc x
               JOIN ${p}qt q ON q.j = x.j AND q.code = x.code
               WHERE x.vec_id <> q.query_id
               GROUP BY q.query_id, x.vec_id),
        ${p}apx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM ${p}sc)
          WHERE rank <= $K)"""

  /** DECIMAL→DOUBLE through VARCHAR (the house oracle rule). */
  private def ddS(e: String): String =
    s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"

  /** The recall-curve replay: the shared ground truth + three renamed
    * IVF chains, one hit-count row per nprobe.
    */
  private def recallCurveSql: String = {
    def pointRow(p: String, np: Int): String =
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
            count(a.neighbor_id) AS hits,
            CAST(count(a.neighbor_id) AS DOUBLE)
              / CAST(${K * NQ} AS DOUBLE) AS recall
          FROM bft b LEFT JOIN ${p}apx a
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"""
    s"""WITH $bftCtes,
        ${ivfExactCtes("n1_", nprobe = 1)},
        ${ivfExactCtes("n2_", nprobe = 2)},
        ${ivfExactCtes("n4_", nprobe = 4)}
        ${pointRow("n1_", 1)}
        UNION ALL
        ${pointRow("n2_", 2)}
        UNION ALL
        ${pointRow("n4_", 4)}"""
  }

  /** Brute-force ground-truth chain ending at `bft` (query_id,
    * neighbor_id) — shared by the recall gate and the recall curve.
    */
  private def bftCtes: String =
    s"""bq AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < $NQ),
        bscored AS (SELECT query_id, e.vec_id AS neighbor_id,
                      ${cosine("qe", "e.embedding")} AS cos
                    FROM bq CROSS JOIN embeddings e
                    WHERE e.vec_id <> query_id),
        bft AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS rank
                 FROM bscored)
               WHERE rank <= $K)"""

  /** Exact-cosine IVF chain at `nprobe` probed cells, prefix `p`; ends
    * at `${p}apx` (the sim_ivf_probe2 replay, renamed).
    */
  private def ivfExactCtes(p: String, nprobe: Int): String = {
    val seedList = SEEDS.mkString("(", ", ", ")")
    s"""${p}cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                  FROM embeddings WHERE vec_id IN $seedList),
        ${p}asn AS (SELECT vec_id, embedding, cent_id,
                  ${cosine("embedding", "cent_emb")} AS cscore
                FROM embeddings CROSS JOIN ${p}cents),
        ${p}rnk AS (SELECT vec_id, embedding, cent_id AS cell,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cscore DESC, cent_id) AS crn
                FROM ${p}asn),
        ${p}cell AS (SELECT vec_id, embedding, cell FROM ${p}rnk
                     WHERE crn = 1),
        ${p}q AS (SELECT vec_id AS query_id, embedding AS q_emb, cell
              FROM ${p}rnk WHERE crn <= $nprobe AND vec_id < $NQ),
        ${p}scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                     ${cosine("q_emb", "c.embedding")} AS cos
                   FROM ${p}q JOIN ${p}cell c USING (cell)
                   WHERE c.vec_id <> query_id),
        ${p}apx AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS rank
                 FROM ${p}scored) WHERE rank <= $K)"""
  }

  /** SRP multi-probe chain (6 planes, home + 6 Hamming-1 buckets),
    * prefix `p`; ends at `${p}apx` — the sim_srp_multiprobe replay,
    * renamed.
    */
  private def srpMultiprobeCtes(p: String): String =
    s"""${p}g AS (SELECT vec_id, embedding,
              ${srpBucket("embedding", 6, 64)} AS bucket
            FROM embeddings),
        ${p}q0 AS (SELECT vec_id AS query_id, embedding AS qe, bucket
               FROM ${p}g WHERE vec_id < $NQ),
        ${p}q AS (SELECT query_id, qe,
                CASE WHEN r.i = 6 THEN bucket
                     ELSE xor(bucket, (1::BIGINT << r.i)) END AS bucket
              FROM ${p}q0 CROSS JOIN range(0, 7) r(i)),
        ${p}scored AS (SELECT query_id, g.vec_id AS neighbor_id,
                     ${cosine("qe", "g.embedding")} AS cos
                   FROM ${p}q JOIN ${p}g g USING (bucket)
                   WHERE g.vec_id <> query_id),
        ${p}apx AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS rank
                 FROM ${p}scored) WHERE rank <= $K)"""

  /** SQ8 replay chain, prefix `p`: per-dim min/max model → encode +
    * dequantize in one list_zip pass (the CASE/clamp/floor arithmetic
    * mirrors SimilarityOps.sq8Codes∘sq8Dequantize shape-for-shape) →
    * cosine of the raw query against the dequantized corpus. Ends at
    * `${p}rnk` (with cos + rank) and `${p}apx` (ids only, rank ≤ K).
    */
  private def sq8Ctes(p: String): String =
    s"""${p}dims AS (
          SELECT i, min(v::DOUBLE) AS mn, max(v::DOUBLE) AS mx
          FROM (SELECT unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)
          GROUP BY i),
        ${p}model AS (SELECT list(mn ORDER BY i) AS mns,
                             list(mx ORDER BY i) AS mxs
                      FROM ${p}dims),
        ${p}deq AS (
          SELECT vec_id,
            list_transform(list_zip(embedding, mns, mxs),
              x -> CASE WHEN x[3]::DOUBLE = x[2]::DOUBLE THEN x[2]::DOUBLE
                   ELSE x[2]::DOUBLE
                     + (least(greatest(floor((x[1]::DOUBLE - x[2]::DOUBLE)
                          / (x[3]::DOUBLE - x[2]::DOUBLE) * 255.0),
                          0.0), 255.0)
                        * (x[3]::DOUBLE - x[2]::DOUBLE)) / 255.0
                   END) AS dq
          FROM embeddings CROSS JOIN ${p}model),
        ${p}q AS (SELECT vec_id AS query_id, embedding AS qe
                  FROM embeddings WHERE vec_id < $NQ),
        ${p}scored AS (SELECT query_id, d.vec_id AS neighbor_id,
                         ${cosine("qe", "d.dq")} AS cos
                       FROM ${p}q CROSS JOIN ${p}deq d
                       WHERE d.vec_id <> query_id),
        ${p}rnk AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS rank
                    FROM ${p}scored),
        ${p}apx AS (SELECT query_id, neighbor_id FROM ${p}rnk
                    WHERE rank <= $K)"""

  /** The SQ8 top-k replay — shared verbatim by the in-memory and
    * persisted registrations (same model, codes, and tail).
    */
  private def sq8TopkSql: String =
    s"""WITH ${sq8Ctes("z_")}
        SELECT query_id, neighbor_id, rank, cos FROM z_rnk
        WHERE rank <= $K"""

  /** Recall replay: brute-force top-k left-joined to each family's
    * top-k, macro hits over K·NQ, per-family floor booleans.
    */
  private def recallSql: String = {
    val floors = RecallFloors.toMap
    def famRow(p: String, fam: String, floor: Double): String =
      s"""SELECT '$fam' AS family, count(a.neighbor_id) AS hits,
            CAST(count(a.neighbor_id) AS DOUBLE)
              / CAST(${K * NQ} AS DOUBLE) AS recall,
            CAST($floor AS DOUBLE) AS floor,
            CAST(count(a.neighbor_id) AS DOUBLE)
              / CAST(${K * NQ} AS DOUBLE)
              >= CAST($floor AS DOUBLE) AS recall_ok
          FROM bft b LEFT JOIN ${p}apx a
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"""
    s"""WITH $bftCtes,
        ${ivfExactCtes("i_", nprobe = 2)},
        ${pqOnlyCtes("p_", PQSEEDS)},
        ${ivfPqCtes(nprobe = 2, pqSeeds = PQSEEDS, p = "v_")},
        ${srpMultiprobeCtes("s_")},
        ${sq8Ctes("z_")}
        ${famRow("i_", "ivf_probe2", floors("ivf_probe2"))}
        UNION ALL
        ${famRow("p_", "pq64", floors("pq64"))}
        UNION ALL
        ${famRow("v_", "ivfpq64_probe2", floors("ivfpq64_probe2"))}
        UNION ALL
        ${famRow("s_", "srp_multiprobe", floors("srp_multiprobe"))}
        UNION ALL
        ${famRow("z_", "sq8", floors("sq8"))}"""
  }

  /** One-iteration spherical-k-means replay for PQ subspace `j` (the
    * KMeansOps contract on the 16-dim slice: seeded init, cosine argmax
    * assignment with DESC/cell tie-break, DECIMAL(38,10) means through
    * VARCHAR, empty cells keep their seed). Ends at `cbk_j` =
    * (code, cvec double-list).
    */
  private def pqLloydCtes(j: Int): String = {
    val sub = 16
    val lo = j * sub
    val seedList = SEEDS.mkString("(", ", ", ")")
    val dims = s"range(0, $sub) d(i)"
    def sl(e: String) = s"$e[$lo+1 : $lo+$sub]"
    s"""c0_$j AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                 ${sl("embedding")} AS cent
          FROM embeddings WHERE vec_id IN $seedList),
        c0e_$j AS (
          SELECT cell, d.i AS dim, cent[d.i+1]::DOUBLE AS m
          FROM c0_$j CROSS JOIN $dims),
        a1_$j AS (
          SELECT e.vec_id, ${sl("e.embedding")} AS sv, c.cell,
                 ${cosine(sl("e.embedding"), "c.cent")} AS s
          FROM embeddings e CROSS JOIN c0_$j c),
        g1_$j AS (
          SELECT vec_id, sv, cell FROM (
            SELECT vec_id, sv, cell,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cell) AS rn
            FROM a1_$j) WHERE rn = 1),
        m1_$j AS (
          SELECT cell, d.i AS dim,
                 sum(sv[d.i+1]::DOUBLE::VARCHAR::DECIMAL(38,10))::DOUBLE
                   / count(*)::DOUBLE AS m
          FROM g1_$j CROSS JOIN $dims GROUP BY cell, d.i),
        cbk_$j AS (
          SELECT c0e.cell AS code,
                 list(COALESCE(m1.m, c0e.m) ORDER BY c0e.dim) AS cvec
          FROM c0e_$j c0e LEFT JOIN m1_$j m1
            ON c0e.cell = m1.cell AND c0e.dim = m1.dim
          GROUP BY c0e.cell)"""
  }

  /** Trained-PQ replay: four subspace trainings feeding the same
    * encode/table/score CTEs as [[pqTopkSql]].
    */
  private def pqKmeansSql: String = {
    val (m, sub) = (4, 16)
    def slice(e: String) = s"$e[c.j*$sub+1 : c.j*$sub+$sub]"
    val training = (0 until m).map(pqLloydCtes).mkString(",\n        ")
    val cbUnion = (0 until m).map(j =>
      s"SELECT $j AS j, code, cvec FROM cbk_$j").mkString(
      "\n               UNION ALL ")
    s"""WITH $training,
        cbu AS ($cbUnion),
        cb2 AS (SELECT j, code, cvec, ${dot("cvec", "cvec")} AS cc
                FROM cbu),
        enc AS (SELECT vec_id, j, code FROM (
                  SELECT e.vec_id, c.j, c.code,
                    row_number() OVER (PARTITION BY e.vec_id, c.j
                      ORDER BY c.cc
                        - 2 * ${dot(slice("e.embedding"), "c.cvec")},
                        c.code) AS rn
                  FROM embeddings e CROSS JOIN cb2 c) WHERE rn = 1),
        qt AS (SELECT e.vec_id AS query_id, c.j, c.code,
                 ${dot(slice("e.embedding"), "c.cvec")} AS t
               FROM embeddings e CROSS JOIN cb2 c WHERE e.vec_id < $NQ),
        sc AS (SELECT q.query_id, x.vec_id AS neighbor_id,
                 ((max(CASE WHEN x.j = 0 THEN q.t END)
                   + max(CASE WHEN x.j = 1 THEN q.t END))
                   + max(CASE WHEN x.j = 2 THEN q.t END))
                   + max(CASE WHEN x.j = 3 THEN q.t END) AS score
               FROM enc x JOIN qt q ON q.j = x.j AND q.code = x.code
               WHERE x.vec_id <> q.query_id
               GROUP BY q.query_id, x.vec_id)
        SELECT query_id, neighbor_id, rank, score FROM (
          SELECT query_id, neighbor_id, score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM sc)
        WHERE rank <= $K"""
  }

  /** k-NN graph edge replay as a reusable chain ending in `knn`
    * (vec_id, neighbor_id, rank, cos) — shared by `sim_knn_graph` and
    * `graph_pagerank` so the edge set cannot drift from the one Spark
    * graph construction.
    */
  private def knnEdgeCtes: String =
    s"""$lloydCtes,
        $trainedCellsCtes,
        nb AS (SELECT x.vec_id AS vec_id, y.vec_id AS neighbor_id,
                 ${cosine("x.embedding", "y.embedding")} AS cos
               FROM cell3 x JOIN cell3 y
                 ON x.cell = y.cell AND x.vec_id <> y.vec_id),
        knn AS (SELECT vec_id, neighbor_id, rank, cos FROM (
            SELECT vec_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM nb) WHERE rank <= $KnnK)"""

  /** PageRank replay: the knn edge chain, then `PrIters` unrolled
    * iterations of the SAME integer fixed-point arithmetic as
    * GraphOps.pageRank — init scale//n, damping (17·x)//20, teleport
    * (3·(scale//n))//20, all BIGINT `//` (≡ Spark `div` on positives) —
    * so ranks match bit-for-bit with no IEEE accumulation anywhere.
    */
  private def pageRankSql: String = {
    // pr_ prefix: the knn chain already owns short names like c1
    val iterCtes = (1 to PrIters).map { i =>
      s"""pr_c$i AS (SELECT e.dst AS vec_id,
                   sum(r.r // d.deg)::BIGINT AS c
                 FROM pr_edges e JOIN pr_r${i - 1} r ON r.vec_id = e.src
                      JOIN pr_deg d ON d.src = e.src GROUP BY 1),
          pr_r$i AS (SELECT v.vec_id,
                   ((3 * ($PrScale // nn.n)) // 20
                    + (17 * COALESCE(c.c, 0)) // 20)::BIGINT AS r
                 FROM pr_verts v CROSS JOIN nn
                      LEFT JOIN pr_c$i c ON c.vec_id = v.vec_id)"""
    }.mkString(",\n")
    s"""WITH $knnEdgeCtes,
        pr_edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
        nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
        pr_verts AS (SELECT vec_id FROM embeddings),
        pr_deg AS (SELECT src, count(*)::BIGINT AS deg FROM pr_edges
                GROUP BY 1),
        pr_r0 AS (SELECT vec_id, ($PrScale // nn.n)::BIGINT AS r
               FROM pr_verts CROSS JOIN nn),
        $iterCtes
        SELECT vec_id, r AS rank_fp FROM pr_r$PrIters"""
  }

  /** BFS replay: the knn edge chain symmetrized, then `BfsRounds`
    * unrolled frontier rounds — each "(distinct neighbors of the
    * frontier) EXCEPT visited", exactly GraphOps.bfsHops' semi-join +
    * anti-join pair.
    */
  private def bfsSql: String = {
    val seedList = BfsSeeds.mkString("[", ", ", "]")
    val iterCtes = (1 to BfsRounds).map { i =>
      val prevFrontier = if (i == 1) "bf_v0" else s"bf_r${i - 1}"
      val prevVis = if (i == 1) "bf_v0" else s"bf_vis${i - 1}"
      s"""bf_f$i AS (
            (SELECT DISTINCT e.dst AS id FROM bf_e e
             JOIN $prevFrontier v ON v.id = e.src)
            EXCEPT (SELECT id FROM $prevVis)),
          bf_r$i AS (SELECT id, $i AS dist FROM bf_f$i),
          bf_vis$i AS (SELECT * FROM $prevVis
                       UNION ALL SELECT * FROM bf_r$i)"""
    }.mkString(",\n")
    s"""WITH $knnEdgeCtes,
        bf_e AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn
                 UNION
                 SELECT neighbor_id AS src, vec_id AS dst FROM knn),
        bf_v0 AS (SELECT unnest($seedList)::BIGINT AS id, 0 AS dist),
        $iterCtes
        SELECT id AS vec_id, dist FROM bf_vis$BfsRounds"""
  }

  /** MMR replay: exact-cosine candidate window `mmr_mc`, pairwise sims
    * `mmr_mp`, then `MmrK` unrolled greedy rounds — round 1 is the
    * plain relevance argmax; round r scores the not-yet-selected
    * candidates with λ·rel − penalty·max(sim to selected). CTEs are
    * MATERIALIZED (each round references the prior selection twice —
    * default inlining goes exponential over the chain).
    */
  private def mmrSql: String = {
    val (l, p) = (MmrLambda, MmrPenalty)
    val rounds = (2 to MmrK).map { r =>
      s"""mmr_r$r AS MATERIALIZED (
             SELECT query_id, cid, rel, $l * rel - $p * ms AS mmr FROM (
               SELECT query_id, cid, rel, ms,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY $l * rel - $p * ms DESC, cid) AS rk
               FROM (SELECT c.query_id, c.cid, c.rel, max(s.sim) AS ms
                     FROM mmr_mc c
                     JOIN mmr_mp s ON s.query_id = c.query_id
                       AND s.ca = c.cid
                     JOIN mmr_sel${r - 1} x ON x.query_id = s.query_id
                       AND x.cid = s.cb
                     WHERE NOT EXISTS (SELECT 1 FROM mmr_sel${r - 1} e
                       WHERE e.query_id = c.query_id AND e.cid = c.cid)
                     GROUP BY c.query_id, c.cid, c.rel))
             WHERE rk = 1),
          mmr_sel$r AS MATERIALIZED (
             SELECT query_id, cid FROM mmr_sel${r - 1}
             UNION ALL SELECT query_id, cid FROM mmr_r$r)"""
    }.mkString(",\n")
    val finals = (1 to MmrK).map(r =>
      s"""SELECT query_id, cid AS vec_id, $r::BIGINT AS round, rel, mmr
          FROM mmr_r$r""").mkString(" UNION ALL ")
    s"""WITH mmr_q AS (SELECT vec_id AS query_id, embedding AS qe
                     FROM embeddings WHERE vec_id < $NQ),
        mmr_sc AS MATERIALIZED (
             SELECT query_id, e.vec_id AS cid, e.embedding AS ce,
               ${cosine("qe", "e.embedding")} AS rel
             FROM mmr_q CROSS JOIN embeddings e
             WHERE e.vec_id <> query_id),
        mmr_mc AS MATERIALIZED (
             SELECT query_id, cid, ce, rel FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, cid) AS rk FROM mmr_sc)
             WHERE rk <= $MmrWindow),
        mmr_mp AS MATERIALIZED (
             SELECT a.query_id, a.cid AS ca, b.cid AS cb,
               ${cosine("a.ce", "b.ce")} AS sim
             FROM mmr_mc a JOIN mmr_mc b
               ON a.query_id = b.query_id AND a.cid <> b.cid),
        mmr_r1 AS MATERIALIZED (
             SELECT query_id, cid, rel, $l * rel AS mmr FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, cid) AS rk FROM mmr_mc)
             WHERE rk = 1),
        mmr_sel1 AS MATERIALIZED (SELECT query_id, cid FROM mmr_r1),
        $rounds
        $finals"""
  }

  /** k-core replay: symmetrize/dedup the knn edges, then `KcIters`
    * unrolled peel rounds (degree-within-alive semi-joins, drop < KcK)
    * and the final recount — the same fixed-round arithmetic as
    * GraphOps.kCore.
    */
  private def kcoreSql: String = {
    val rounds = (1 to KcIters).map { i =>
      s"""kc_d$i AS (SELECT s.id, count(*)::BIGINT AS deg
                 FROM kc_sym s
                 JOIN kc_a${i - 1} x ON s.id = x.id
                 JOIN kc_a${i - 1} y ON s.nb = y.id
                 GROUP BY s.id),
          kc_a$i AS (SELECT id FROM kc_d$i WHERE deg >= $KcK)"""
    }.mkString(",\n")
    s"""WITH $knnEdgeCtes,
        kc_und AS (SELECT DISTINCT least(vec_id, neighbor_id) AS lo,
                 greatest(vec_id, neighbor_id) AS hi
               FROM knn WHERE vec_id <> neighbor_id),
        kc_sym AS (SELECT lo AS id, hi AS nb FROM kc_und
               UNION ALL SELECT hi AS id, lo AS nb FROM kc_und),
        kc_a0 AS (SELECT vec_id AS id FROM embeddings),
        $rounds,
        kc_f AS (SELECT s.id, count(*)::BIGINT AS deg
               FROM kc_sym s
               JOIN kc_a$KcIters x ON s.id = x.id
               JOIN kc_a$KcIters y ON s.nb = y.id
               GROUP BY s.id)
        SELECT v.vec_id, (a.id IS NOT NULL) AS in_core,
          COALESCE(f.deg, 0)::BIGINT AS core_deg
        FROM embeddings v
        LEFT JOIN kc_a$KcIters a ON a.id = v.vec_id
        LEFT JOIN kc_f f ON f.id = v.vec_id"""
  }

  /** Link-prediction replay: symmetrize/dedup the knn edges, wedge
    * pivots count common neighbors per non-adjacent (a < b) pair, the
    * Jaccard fixed-point is the same integer `//` arithmetic as
    * GraphOps.linkPrediction, top-LpTopN under the identical total
    * order.
    */
  private def lpSql: String =
    s"""WITH $knnEdgeCtes,
        lp_und AS (SELECT DISTINCT least(vec_id, neighbor_id) AS lo,
                     greatest(vec_id, neighbor_id) AS hi
                   FROM knn WHERE vec_id <> neighbor_id),
        lp_sym AS (SELECT lo AS id, hi AS nb FROM lp_und
                   UNION ALL SELECT hi AS id, lo AS nb FROM lp_und),
        lp_deg AS (SELECT id, count(*)::BIGINT AS deg FROM lp_sym
                   GROUP BY 1),
        lp_cn AS (SELECT x.nb AS a, y.nb AS b, count(*)::BIGINT AS cn
                  FROM lp_sym x JOIN lp_sym y
                    ON x.id = y.id AND x.nb < y.nb
                  GROUP BY 1, 2)
        SELECT c.a, c.b, c.cn, da.deg AS deg_a, db.deg AS deg_b,
          (($LpScale * c.cn) // (da.deg + db.deg - c.cn))::BIGINT
            AS jaccard_fp
        FROM lp_cn c
        JOIN lp_deg da ON da.id = c.a
        JOIN lp_deg db ON db.id = c.b
        WHERE NOT EXISTS (SELECT 1 FROM lp_und u
                          WHERE u.lo = c.a AND u.hi = c.b)
        ORDER BY jaccard_fp DESC, cn DESC, a, b LIMIT $LpTopN"""

  /** Farthest-first replay: FfK−1 unrolled selection rounds. Each round
    * joins the running frame against the single newest center row and
    * takes greatest(mc, cos) — the same one-new-center update as
    * SimilarityOps.farthestFirst — then argmin (mc asc, vec_id) LIMIT 1.
    * CTEs MATERIALIZED: each round references the prior pick twice and
    * default inlining goes exponential over the chain (the MMR lesson).
    */
  private def ffSql: String = {
    val rounds = (3 to FfK).map { r =>
      s"""ff_m$r AS MATERIALIZED (
             SELECT e.vec_id, e.embedding,
               greatest(e.mc, ${cosine("e.embedding", "c.embedding")})
                 AS mc
             FROM ff_m${r - 1} e JOIN embeddings c
               ON c.vec_id = (SELECT center_id FROM ff_p${r - 1})
             WHERE e.vec_id <> (SELECT center_id FROM ff_p${r - 1})),
          ff_p$r AS MATERIALIZED (
             SELECT vec_id AS center_id, mc FROM ff_m$r
             ORDER BY mc ASC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val finals = (2 to FfK).map(r =>
      s"SELECT $r::BIGINT AS round, center_id, mc AS max_cos FROM ff_p$r")
      .mkString(" UNION ALL ")
    s"""WITH ff_m2 AS MATERIALIZED (
            SELECT e.vec_id, e.embedding,
              ${cosine("e.embedding", "c.embedding")} AS mc
            FROM embeddings e JOIN embeddings c ON c.vec_id = $FfSeed
            WHERE e.vec_id <> $FfSeed),
        ff_p2 AS MATERIALIZED (
            SELECT vec_id AS center_id, mc FROM ff_m2
            ORDER BY mc ASC, vec_id LIMIT 1),
        $rounds
        SELECT 1::BIGINT AS round, $FfSeed::BIGINT AS center_id,
          CAST(NULL AS DOUBLE) AS max_cos
        UNION ALL $finals"""
  }

  /** Clustering replay: symmetrize/dedup the knn edges, then the shared
    * wedge-closure tail (see [[clusteringTailSql]]).
    */
  private def clusteringSql: String =
    s"""WITH $knnEdgeCtes,
        ${clusteringTailSql(
          "SELECT vec_id AS src, neighbor_id AS dst FROM knn",
          "SELECT vec_id FROM embeddings", "vec_id")}"""

  /** Wedge-closure clustering replay over ANY (src, dst) edge selection
    * — symmetrize/dedup, ordered wedge closure (a<b<c), per-node
    * explode via three unions, and the integer fixed-point coefficient
    * `(2·scale·tri) // (deg·(deg−1))`. ONE SQL definition shared by the
    * k-NN (`graph_clustering`) and near-dup-pair
    * (`DedupQueries.graph_dedup_density`) consumers, mirroring how
    * GraphOps.triangleStats is the one Spark kernel for both — neither
    * replay can drift from the other.
    */
  private[queries] def clusteringTailSql(edgesSql: String,
      vertsSql: String, idCol: String): String =
    s"""und AS (SELECT DISTINCT least(src, dst) AS lo,
                  greatest(src, dst) AS hi
                FROM ($edgesSql) WHERE src <> dst),
        cdeg AS (SELECT id, count(*)::BIGINT AS deg FROM (
                   SELECT lo AS id FROM und
                   UNION ALL SELECT hi AS id FROM und) GROUP BY 1),
        tri AS (SELECT w1.a AS a, w1.b AS b, w2.c AS c
                FROM (SELECT lo AS a, hi AS b FROM und) w1
                JOIN (SELECT lo AS a, hi AS c FROM und) w2
                  ON w1.a = w2.a
                JOIN und cl ON cl.lo = w1.b AND cl.hi = w2.c
                WHERE w1.b < w2.c),
        nt AS (SELECT id, count(*)::BIGINT AS n_tri FROM (
                 SELECT a AS id FROM tri
                 UNION ALL SELECT b AS id FROM tri
                 UNION ALL SELECT c AS id FROM tri) GROUP BY 1)
        SELECT v.$idCol,
          COALESCE(cdeg.deg, 0)::BIGINT AS deg,
          COALESCE(nt.n_tri, 0)::BIGINT AS n_tri,
          (CASE WHEN COALESCE(cdeg.deg, 0) >= 2
            THEN (${2 * CcScale} * COALESCE(nt.n_tri, 0))
                 // (cdeg.deg * (cdeg.deg - 1))
            ELSE 0 END)::BIGINT AS cc_fp
        FROM ($vertsSql) v
        LEFT JOIN cdeg ON cdeg.id = v.$idCol
        LEFT JOIN nt ON nt.id = v.$idCol"""

  /** Trained-centroid cell assignment replay (`fin` → `tc` → `asn3` →
    * `cell3`), appended after [[lloydCtes]] — shared by
    * `sim_ivf_kmeans` and `DedupQueries.dedup_semantic` so the two
    * cannot drift from the one Spark model replay. Consumers read
    * `cell3` (vec_id, embedding, cell).
    */
  private[queries] def trainedCellsCtes: String =
    s"""fin AS (
          SELECT c1e.cell, c1e.dim, COALESCE(m2.m, c1e.m) AS m
          FROM c1e LEFT JOIN m2
            ON c1e.cell = m2.cell AND c1e.dim = m2.dim),
        tc AS (SELECT cell, list(m ORDER BY dim) AS cent
               FROM fin GROUP BY cell),
        asn3 AS (
          SELECT e.vec_id, e.embedding, c.cell,
                 ${cosine("e.embedding", "c.cent")} AS cscore
          FROM embeddings e CROSS JOIN tc c),
        cell3 AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT vec_id, embedding, cell,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY cscore DESC, cell) AS rn
            FROM asn3) WHERE rn = 1)"""

  /** PCA power-iteration replay: quantize → center (×n, no division) →
    * `PcaIters` unrolled t = C·v / w = Cᵀ·t rounds in HUGEINT with the
    * ±(|·|·V) // max|·| renormalizer (sign split off — `//` floors,
    * Spark `div` truncates; they agree on the non-negative magnitudes).
    * CTEs MATERIALIZED: t/w are each referenced by their max AND the
    * next stage (the BPE inlining-blowup lesson).
    */
  private def pcaSql: String = {
    val (q, v) = (PcaQ, PcaV)
    val iterCtes = (1 to PcaIters).map { i =>
      s"""pca_t$i AS MATERIALIZED (
             SELECT c.vec_id, sum(c.c::HUGEINT * v.v)::HUGEINT AS t
             FROM pca_c c JOIN pca_v${i - 1} v USING (dim) GROUP BY 1),
          pca_mt$i AS (SELECT max(abs(t))::HUGEINT AS m FROM pca_t$i),
          pca_tp$i AS MATERIALIZED (
             SELECT vec_id, (CASE WHEN t < 0 THEN -1 ELSE 1 END)
                  * ((abs(t) * $v) // greatest(m.m, 1::HUGEINT)) AS tp
             FROM pca_t$i CROSS JOIN pca_mt$i m),
          pca_w$i AS MATERIALIZED (
             SELECT c.dim, sum(c.c::HUGEINT * t.tp)::HUGEINT AS w
             FROM pca_c c JOIN pca_tp$i t USING (vec_id) GROUP BY 1),
          pca_mw$i AS (SELECT max(abs(w))::HUGEINT AS m FROM pca_w$i),
          pca_v$i AS MATERIALIZED (
             SELECT dim, ((CASE WHEN w < 0 THEN -1 ELSE 1 END)
                  * ((abs(w) * $v) // greatest(m.m, 1::HUGEINT)))
                  ::HUGEINT AS v
             FROM pca_w$i CROSS JOIN pca_mw$i m)"""
    }.mkString(",\n")
    s"""WITH pca_q AS MATERIALIZED (
            SELECT vec_id, d.i::BIGINT AS dim,
                   floor(embedding[d.i+1]::DOUBLE * $q.0)::BIGINT AS q
            FROM embeddings CROSS JOIN range(0, 64) d(i)),
        pca_n AS (SELECT count(*)::BIGINT AS n FROM embeddings),
        pca_s AS (SELECT dim, sum(q)::BIGINT AS s FROM pca_q GROUP BY 1),
        pca_c AS MATERIALIZED (
            SELECT qq.vec_id, qq.dim, (n.n * qq.q - s.s)::BIGINT AS c
            FROM pca_q qq JOIN pca_s s USING (dim) CROSS JOIN pca_n n),
        pca_v0 AS (SELECT dim, $v::HUGEINT AS v FROM pca_s),
        $iterCtes
        SELECT s.dim, s.s AS sum_q, v.v::BIGINT AS v_fp
        FROM pca_s s JOIN pca_v$PcaIters v USING (dim)"""
  }

  /** The 2-iteration Lloyd replay as a reusable CTE chain (ends at `m2`;
    * consumers join `c1e`/`m2` for the final means). See the
    * sim_kmeans_cells comment for the determinism contract.
    */
  private[queries] def lloydCtes: String = {
    val seedList = SEEDS.mkString("(", ", ", ")")
    val dims = s"range(0, 64) d(i)"
    s"""c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                   embedding AS cent
            FROM embeddings WHERE vec_id IN $seedList),
          c0e AS (
            SELECT cell, d.i AS dim, cent[d.i+1]::DOUBLE AS m
            FROM c0 CROSS JOIN $dims),
          a1 AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   ${cosine("e.embedding", "c.cent")} AS s
            FROM embeddings e CROSS JOIN c0 c),
          g1 AS (
            SELECT vec_id, embedding, cell FROM (
              SELECT vec_id, embedding, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY s DESC, cell) AS rn
              FROM a1) WHERE rn = 1),
          m1 AS (
            SELECT cell, d.i AS dim,
                   sum(embedding[d.i+1]::DOUBLE::VARCHAR::DECIMAL(38,10))::DOUBLE
                     / count(*)::DOUBLE AS m
            FROM g1 CROSS JOIN $dims GROUP BY cell, d.i),
          c1e AS (
            SELECT c0e.cell, c0e.dim, COALESCE(m1.m, c0e.m) AS m
            FROM c0e LEFT JOIN m1
              ON c0e.cell = m1.cell AND c0e.dim = m1.dim),
          c1 AS (
            SELECT cell, list(m ORDER BY dim) AS cent
            FROM c1e GROUP BY cell),
          a2 AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   ${cosine("e.embedding", "c.cent")} AS s
            FROM embeddings e CROSS JOIN c1 c),
          g2 AS (
            SELECT vec_id, embedding, cell FROM (
              SELECT vec_id, embedding, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY s DESC, cell) AS rn
              FROM a2) WHERE rn = 1),
          m2 AS (
            SELECT cell, d.i AS dim,
                   sum(embedding[d.i+1]::DOUBLE::VARCHAR::DECIMAL(38,10))::DOUBLE
                     / count(*)::DOUBLE AS m
            FROM g2 CROSS JOIN $dims GROUP BY cell, d.i)"""
  }
}
