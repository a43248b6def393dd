package graft.queries

import graft.Tables
import graft.operators.DedupOps
import graft.sources.TempStores
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication queries over `documents` / `embeddings`, oracle-mirrored
  * in DuckDB. The testdata contains genuine near-duplicate documents
  * (trigram Jaccard ≈ 0.99 pairs), so every near-dup query has a
  * non-trivial result set.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  /** Duplicate-span gate parameters, shared by the operator call, the
    * oracle SQL, and CorpusQueries' quality funnel.
    */
  private[queries] val SpanK = 8
  private[queries] val SpanMaxDup = 0.5

  /** Winnowing candidate-key df cap (boilerplate-fingerprint cutoff),
    * shared by the operator call and the oracle.
    */
  private[queries] val WinnowMaxDf = 50

  /** First-occurrence novelty frame — the `dedup_novelty` construction,
    * shared with `corpus_dedup_report`'s per-source rollup.
    */
  private[queries] def noveltyFrame(d: DataFrame): DataFrame = {
    val sh = d.select(col("doc_id"),
        explode(array_distinct(graft.operators.TextOps.shingleHashes(
          graft.operators.TextOps.tokens(col("text")), SpanK)))
          .as("sh"))
      .localCheckpoint(false)
    val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("fd"))
    sh.join(first, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fd") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        (col("n_seen").cast("double") /
          col("n_shingles").cast("double")).as("seen_share"))
  }

  /** simhash pairs → connected components, memoized per (session, dir):
    * `dedup_clusters` and `dedup_canonical` are two consumers of ONE
    * cluster resolution (exactly how a real dedup pipeline materializes
    * its component table once and both tags and filters from it). The
    * iterative CC loop checkpoints internally; the final frame is tiny
    * (one row per clustered doc).
    */
  private val ccCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  private def simhashComponents(s: SparkSession, dir: String): DataFrame =
    ccCache.getOrElseUpdate((s, dir), {
      val pairs = DedupOps.simhashPairs(maxHamming = 8, chunks = 10)(
        docs(s, dir)).select(col("a"), col("b"))
      graft.operators.GraphOps.connectedComponents(pairs)
        .localCheckpoint(false)
    })

  /** Semantic (embedding-cell) component table, memoized like
    * [[simhashComponents]]: the iterative CC resolution — a Spark
    * action per round — runs once per (session, sf-dir); consumers read
    * the tiny checkpointed frame. Same materialize-once discipline a
    * real pipeline uses for its component table.
    */
  private val semCcCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  private def semanticComponents(s: SparkSession, dir: String): DataFrame =
    semCcCache.getOrElseUpdate((s, dir), {
      val pairs = DedupOps.semanticNearDupPairs(
        SimilarityQueries.trained(s, dir), threshold = 0.35)(embs(s, dir))
        .select(col("a"), col("b"))
      graft.operators.GraphOps.connectedComponents(pairs)
        .localCheckpoint(false)
    })

  /** DBSCAN: cosine-similarity eps floor + core minPts (self excluded).
    * 0.3 sits just below the semantic-dedup pair threshold (same
    * trained cells generate both neighborhoods) — at 0.35 the
    * near-random embeddings max out at degree 3 and the roles collapse;
    * 0.3/minPts 3 splits sf0.01 into 60 core / 118 border / 322 noise
    * over 28 clusters (fixture-tuned tripwire, like the recall floors).
    */
  private val DbEps = 0.3
  private val DbMinPts = 3

  /** Incremental-dedup split point: docs below are "history" (the
    * persisted store), docs at/above are the new ingest batch. Shared
    * with the oracle SQL.
    */
  private val IncrSplitId = 400L

  /** Persisted MinHash store over the history half, memoized per
    * (session, dir) — built once, probed by every incremental batch
    * (the build-once/search-many discipline of the persisted ANN
    * indexes).
    */
  private def builtMinhashStore(s: SparkSession, dir: String): String =
    TempStores.memo("graft-mh-store", s, dir)(DedupOps.buildMinhashStore(
      docs(s, dir).filter(col("doc_id") < IncrSplitId), _))

  /** FULL-corpus persisted MinHash store (vs the history-half store
    * above), memoized per (session, dir) — the fingerprint substrate
    * the index-served pair miners ([[DedupOps.minhashLshPairsStore]])
    * and their consumers (corpus_hard_negatives_persisted) read;
    * shared with SimilarityQueries.
    */
  private[queries] def builtFullMinhashStore(s: SparkSession,
      dir: String): String =
    TempStores.memo("graft-mh-full-store", s, dir)(
      DedupOps.buildMinhashStore(docs(s, dir), _))

  /** Full-corpus winnowing fingerprint store, memoized like the
    * minhash stores (build-once / serve-many).
    */
  private def builtWinnowingStore(s: SparkSession, dir: String): String =
    TempStores.memo("graft-winnow-store", s, dir)(
      DedupOps.buildWinnowingStore(docs(s, dir), _, k = 5, w = 4))

  val all: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on normalized content.
    "dedup_exact" -> ((s, dir) => DedupOps.exactDedup()(docs(s, dir))),

    // Incremental near-dup: the daily-ingest shape — the new batch
    // (doc_id >= 400) is banded once and joined against the PERSISTED
    // fingerprint store of the history (doc_id < 400); history text is
    // never re-shingled. Same bands/verify as dedup_minhash_lsh.
    "dedup_incremental" -> ((s, dir) =>
      DedupOps.incrementalNearDupPairs(
        docs(s, dir).filter(col("doc_id") >= IncrSplitId),
        builtMinhashStore(s, dir))),

    // N-gram Jaccard near-dup via inverted shingle index (no n² pass).
    "dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(k = 3, threshold = 0.5)(docs(s, dir))),

    // MinHash + LSH banding with exact-Jaccard verification.
    "dedup_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashLshPairs(k = 2, bands = 8, rows = 2,
        threshold = 0.5)(docs(s, dir))),

    // Winnowing near-dup pairs: shared sub-boilerplate winnowed
    // fingerprints (df <= 50) generate candidates, exact Jaccard over
    // the same shingle-hash sets verifies. Same 0.5 threshold as the
    // other near-dup paths; see DedupOps.winnowingPairs for the df cap
    // rationale.
    "dedup_winnowing" -> ((s, dir) =>
      DedupOps.winnowingPairs(k = 5, w = 4, threshold = 0.5,
        maxDf = WinnowMaxDf)(docs(s, dir))),

    // Winnowing served from the PERSISTED fingerprint store (the
    // minhash-store idiom): the per-doc sketch — positional shingle
    // hashes, window minima, the sorted distinct shingle sets — is
    // ingest work the scan variant re-paid every run (0.31 s/copy at
    // 100×, all of it fingerprinting); the store path reads postings
    // and sets, applies the df cap at query time (a corpus statistic,
    // not a build param), and is pair-identical by construction —
    // same oracle replay verbatim.
    "dedup_winnowing_persisted" -> ((s, dir) =>
      DedupOps.winnowingPairsStore(s, builtWinnowingStore(s, dir),
        threshold = 0.5, maxDf = WinnowMaxDf)),

    // MinHash threshold-tuning curve: verified pair / involved-doc
    // counts at 0.5 / 0.95 / 0.975 from ONE banding + verification
    // pass (cuts probed against the fixture: verified jaccards span
    // .909-.989, so the upper cuts genuinely thin the pair set)
    // (the knob a curation team turns before committing a dedup
    // threshold; candidates are the SAME 8×2 banding, so the curve
    // reads "what this index finds at each cut", the honest contract —
    // banding recall itself varies with the cut). The verified pair
    // frame materializes once; each threshold is a filter + two
    // bounded aggregates.
    "dedup_minhash_curve" -> ((s, dir) => {
      val pairs = DedupOps.minhashLshPairs(k = 2, bands = 8, rows = 2,
        threshold = 0.3)(docs(s, dir)).localCheckpoint(false)
      val th = pairs.sparkSession.range(1)
        .select(explode(typedlit(Seq(0.5, 0.95, 0.975))).as("threshold"))
      val sel = pairs.join(broadcast(th),
        col("jaccard") >= col("threshold")).localCheckpoint(false)
      val np = sel.groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"))
      val nd = sel.select(col("threshold"), col("a").as("d"))
        .union(sel.select(col("threshold"), col("b").as("d")))
        .distinct()
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
      np.join(nd, Seq("threshold"))
        .select(col("threshold"), col("n_pairs"), col("n_docs"))
    }),

    // SimHash sketch per document.
    "dedup_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        DedupOps.simhash(col("text")).as("sh"))),

    // SimHash near-dup pairs via pigeonhole chunk banding.
    "dedup_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(maxHamming = 8, chunks = 10)(docs(s, dir))),

    // Embedding-cosine near-dup via SRP-LSH buckets + exact verify.
    "dedup_embedding_cosine" -> ((s, dir) =>
      DedupOps.embeddingNearDupPairs(threshold = 0.35, planes = 4)(
        embs(s, dir))),

    // Substring-level duplicate-span coverage (Lee-et-al-style at
    // 8-gram resolution): per-doc duplicated-token count/share with a
    // keep gate at 50%.
    "dedup_duplicate_spans" -> ((s, dir) =>
      DedupOps.duplicateSpans(SpanK, SpanMaxDup)(docs(s, dir))),

    // First-occurrence novelty (the crawl-dedup dashboard): per doc,
    // the share of its distinct k-shingles whose FIRST corpus
    // occurrence (min doc_id) is an earlier document — "how much of
    // this doc had we already seen when it arrived". Works on 60-bit
    // shingle hashes (long keys on the wire, posting-list discipline);
    // the shingle frame is materialized once and consumed by both the
    // first-occurrence aggregate and the rejoin; both are equi-shuffles
    // on the hash key with map-side combine.
    "dedup_novelty" -> ((s, dir) => noveltyFrame(docs(s, dir))),

    // The per-source DEDUP REPORT — the one dashboard a curation team
    // reads before deciding what to re-crawl or drop: exact-dup share
    // (distinct content hashes), mean first-occurrence novelty, mean
    // duplicate-span coverage, and the share of docs in at least one
    // verified near-dup pair. Each signal is the REGISTERED operator's
    // construction (noveltyFrame, duplicateSpans, minhashLshPairs)
    // rolled up by source with exact DECIMAL sums; the oracle splices
    // the same three replay chains as derived tables — one definition
    // per signal, both engines.
    "corpus_dedup_report" -> ((s, dir) => {
      val d = docs(s, dir)
      def dec38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,10)")
      val src = d.select(col("doc_id"), col("source"))
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(graft.operators.TextOps.contentHash(col("text")))
          .as("n_distinct"))
      val nov = noveltyFrame(d).join(src, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(dec38(col("seen_share"))).as("nov_dec"),
          count(lit(1)).as("nov_n"))
      val sp = DedupOps.duplicateSpans(SpanK, SpanMaxDup)(d)
        .join(src, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(dec38(col("dup_ratio"))).as("span_dec"),
          count(lit(1)).as("span_n"))
      val near = DedupOps.minhashLshPairs(k = 2, bands = 8, rows = 2,
          threshold = 0.5)(d)
        .select(explode(array(col("a"), col("b"))).as("doc_id"))
        .distinct()
        .join(src, Seq("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_near"))
      base.join(nov, Seq("source"), "left_outer")
        .join(sp, Seq("source"), "left_outer")
        .join(near, Seq("source"), "left_outer")
        .select(col("source"), col("n_docs"),
          (lit(1.0) - col("n_distinct").cast("double") /
            col("n_docs").cast("double")).as("exact_dup_share"),
          (col("nov_dec").cast("double") /
            col("nov_n").cast("double")).as("avg_seen_share"),
          (col("span_dec").cast("double") /
            col("span_n").cast("double")).as("avg_span_dup_share"),
          (coalesce(col("n_near"), lit(0L)).cast("double") /
            col("n_docs").cast("double")).as("near_dup_doc_share"))
    }),

    // SemDeDup-style semantic dedup: k-means cells (the SAME memoized
    // Lloyd model the IVF family trains) bound the candidate space,
    // exact cosine verifies within each cell, connected components
    // resolve the pairs, and every vector gets its component plus a
    // keep flag (canonical = min id; unclustered vectors keep).
    "dedup_semantic" -> ((s, dir) => {
      val e = embs(s, dir)
      val comp = semanticComponents(s, dir)
      e.select(col("vec_id"))
        .join(comp, col("vec_id") === col("id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"),
          (coalesce(col("component"), col("vec_id")) === col("vec_id"))
            .as("keep"))
    }),

    // DBSCAN over the embedding corpus, neighborhoods generated within
    // the SAME trained cells as dedup_semantic (one model, many
    // consumers — the within-cell recall trade is documented at the
    // kernel). Each vector reports its neighbor count, role
    // (core/border/noise), and cluster (NULL for noise).
    "sim_dbscan" -> ((s, dir) =>
      DedupOps.dbscan(SimilarityQueries.trained(s, dir), DbEps,
        DbMinPts)(embs(s, dir))),

    // Cluster resolution: near-dup PAIRS (simhash banding) → per-document
    // component id via distributed min-label connected components
    // (graft.operators.GraphOps) — the step that turns pairwise matches
    // into "keep one doc per cluster" at corpus scale.
    "dedup_clusters" -> ((s, dir) =>
      simhashComponents(s, dir)
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))),

    // Component-size histogram over the SAME resolved clusters (the
    // Q13 histogram-of-counts shape on the dedup graph): "how big do
    // duplicate families get" — the first chart a dedup report shows.
    // Two bounded aggregates over the memoized component table.
    "graph_component_sizes" -> ((s, dir) =>
      simhashComponents(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_components"))),

    // Near-dup graph DENSITY: triangle count + local clustering
    // coefficient over the simhash pair graph — the document-side
    // consumer of the generic GraphOps kernel (the k-NN embedding graph
    // is the other). Distinguishes tight duplicate CLIQUES (template
    // families, cc→1) from merely chained components (drift series,
    // cc→0) — which dedup_clusters' connectivity view cannot separate.
    // 814 edges / 703 triangles at sf0.01, so the closure does real work.
    "graph_dedup_density" -> ((s, dir) => {
      val pairs = DedupOps.simhashPairs(maxHamming = 8, chunks = 10)(
        docs(s, dir))
        .select(col("a").as("src"), col("b").as("dst"))
      graft.operators.GraphOps.triangleStats(pairs,
        docs(s, dir).select(col("doc_id").as("id")),
        SimilarityQueries.CcScale)
        .select(col("id").as("doc_id"), col("deg"), col("n_tri"),
          col("cc_fp"))
    }),

    // Per-cluster Newman modularity over the simhash near-dup graph —
    // the "are these clusters denser than chance" audit on the SAME
    // memoized component resolution dedup_clusters/dedup_canonical
    // consume (one resolution, many consumers). e_in/d_tot are exact
    // Longs; q_part = e_in/m − (d_tot/2m)² is the identical double
    // expression in both engines; m is the one allowlisted 1-row
    // aggregate. Non-vacuous: template-family cliques score near their
    // d²-penalty bound while chained drift components score lower.
    "graph_modularity" -> ((s, dir) => {
      val pairs = DedupOps.simhashPairs(maxHamming = 8, chunks = 10)(
        docs(s, dir))
        .select(col("a").as("src"), col("b").as("dst"))
      graft.operators.GraphOps.modularity(pairs, simhashComponents(s, dir))
        .select(col("component").as("cluster_id"), col("n_nodes"),
          col("d_tot"), col("e_in"), col("q_part"))
    }),

    // End-to-end dedup: the surviving corpus — every unclustered doc plus
    // the minimum-id representative of each near-dup cluster (pairs →
    // components → anti-join the non-canonical members away).
    "dedup_canonical" -> ((s, dir) => {
      val losers = simhashComponents(s, dir)
        .filter(col("id") =!= col("component"))
        .select(col("id"))
      docs(s, dir)
        .join(losers, col("doc_id") === col("id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    })
  )

  import Duck._

  /** simhash per doc, relational formulation (integer math ⇒ identical to
    * the Spark array-fold formulation regardless of order).
    */
  private val duckSimhash =
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS t FROM documents),
        hx AS (SELECT doc_id, ${h15("t")} AS h FROM tok),
        bits AS (SELECT doc_id, bb.b AS b,
                   sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                 FROM hx CROSS JOIN range(0, 60) bb(b)
                 GROUP BY doc_id, bb.b),
        shv AS (SELECT doc_id,
                  sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
                    AS sh
                FROM bits GROUP BY doc_id)"""

  /** MinHash signature + band replay — mirrors DedupOps.mhSets/mhBands:
    * base = h15(shingle); per permutation rotl60 by (7p mod 60) xor the
    * md5-derived salt; band key = h15 of the '_'-joined 2-slice. Ends at
    * `bd` = (doc_id, sh, band, band_key). Shared by the batch and
    * incremental oracles so the two replays cannot drift.
    */
  private def minhashBandCtes: String = {
    val sigExprs = (0 until 16).map { p =>
      val r = (7 * p) % 60
      val rot =
        if (r == 0) "h"
        else s"(h % ${1L << (60 - r)}) * ${1L << r} + (h >> ${60 - r})"
      s"list_min(list_transform(base, h -> xor($rot, ${graft.operators.DedupOps.permSalt(p)})))"
    }.mkString("[", ", ", "]")
    s"""s AS (SELECT doc_id,
          list_transform(${shingles(2)}, t -> ${h15("t")}) AS sh
        FROM documents),
        g AS (SELECT doc_id, sh, $sigExprs AS sig FROM (
                SELECT doc_id, sh, sh AS base FROM s)),
        bd AS (SELECT doc_id, sh, r.b AS band,
                 ${h15("array_to_string(sig[r.b*2+1:r.b*2+2], '_')")}
                   AS band_key
               FROM g CROSS JOIN range(0, 8) r(b))"""
  }

  /** The full dedup_minhash_lsh replay as one self-contained query —
    * also spliced (as a derived table) into `corpus_dedup_report`.
    */
  /** The dedup_embedding_cosine replay — also spliced (as a derived
    * table) into `corpus_hard_negatives`' exclusion set.
    */
  private[queries] def embCosinePairsSql: String =
    s"""WITH g AS (SELECT vec_id, embedding,
                ${srpBucket("embedding", 4, 64)} AS bucket
              FROM embeddings)
        SELECT x.vec_id AS a, y.vec_id AS b,
          ${cosine("x.embedding", "y.embedding")} AS cos
        FROM g x JOIN g y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE ${cosine("x.embedding", "y.embedding")} >= 0.35"""

  /** The winnowing replay, shared verbatim by the scan and
    * persisted-store registrations (same sketch, same df cap, same
    * exact-Jaccard tail).
    */
  private def winnowingSql: String =
    s"""WITH wd AS (SELECT doc_id, $toks AS tk FROM documents
                    WHERE text IS NOT NULL),
        wh AS (SELECT doc_id, list_transform(
                 range(0, greatest(length(tk) - 5, 0) + 1),
                 i -> ${h15("array_to_string(tk[i+1:i+5], ' ')")})
                 AS hsh
               FROM wd),
        ws AS (SELECT doc_id, list_distinct(hsh) AS sh,
                 unnest(list_distinct(list_transform(
                   range(0, greatest(length(hsh) - 4, 0) + 1),
                   i -> list_min(hsh[i+1:i+4])))) AS fp
               FROM wh),
        wrare AS (SELECT fp FROM (
                 SELECT fp, count(*) AS wdf FROM ws GROUP BY fp)
               WHERE wdf <= $WinnowMaxDf),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                   x.sh AS sha, y.sh AS shb
                 FROM ws x JOIN ws y
                   ON x.fp = y.fp AND x.doc_id < y.doc_id
                 JOIN wrare r ON r.fp = x.fp)
        $mhJaccardSelect"""

  private[queries] def minhashPairsSql: String =
    s"""WITH $minhashBandCtes,
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                   x.sh AS sha, y.sh AS shb
                 FROM bd x JOIN bd y
                   ON x.band = y.band AND x.band_key = y.band_key
                     AND x.doc_id < y.doc_id)
        $mhJaccardSelect"""

  /** The dedup_novelty replay — also spliced into
    * `corpus_dedup_report`.
    */
  private def noveltySql: String =
    s"""WITH shn AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(length(tk) - $SpanK, 0) + 1),
            i -> ${h15(s"array_to_string(tk[i+1 : i+$SpanK], ' ')")})))
            AS sh
          FROM (SELECT doc_id, $toks AS tk FROM documents)),
        fst AS (SELECT sh, min(doc_id) AS fd FROM shn GROUP BY sh)
        SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
          CAST(sum(CASE WHEN f.fd < s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seen,
          CAST(sum(CASE WHEN f.fd < s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT)::DOUBLE / count(*)::DOUBLE AS seen_share
        FROM shn s JOIN fst f USING (sh) GROUP BY s.doc_id"""

  /** Exact-Jaccard verification tail over a `cand(a, b, sha, shb)` CTE —
    * ≡ DedupOps.mhVerify at threshold 0.5.
    */
  private def mhJaccardSelect: String =
    s"""SELECT a, b,
          length(list_intersect(sha, shb))::DOUBLE /
            (length(sha) + length(shb)
             - length(list_intersect(sha, shb)))::DOUBLE AS jaccard
        FROM cand
        WHERE length(list_intersect(sha, shb))::DOUBLE /
            (length(sha) + length(shb)
             - length(list_intersect(sha, shb)))::DOUBLE >= 0.5"""

  val oracles: Map[String, String] = Map(
    "dedup_minhash_curve" ->
      s"""WITH $minhashBandCtes,
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     x.sh AS sha, y.sh AS shb
                   FROM bd x JOIN bd y
                     ON x.band = y.band AND x.band_key = y.band_key
                       AND x.doc_id < y.doc_id),
          pairs AS MATERIALIZED (
            SELECT a, b,
              length(list_intersect(sha, shb))::DOUBLE /
                (length(sha) + length(shb)
                 - length(list_intersect(sha, shb)))::DOUBLE AS jaccard
            FROM cand
            WHERE length(list_intersect(sha, shb))::DOUBLE /
                (length(sha) + length(shb)
                 - length(list_intersect(sha, shb)))::DOUBLE >= 0.3),
          th AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.975::DOUBLE])
                   AS threshold),
          sel AS MATERIALIZED (
            SELECT th.threshold, p.a, p.b
            FROM th JOIN pairs p ON p.jaccard >= th.threshold),
          np AS (SELECT threshold, count(*) AS n_pairs
                 FROM sel GROUP BY 1),
          d2 AS (SELECT threshold, a AS d FROM sel
                 UNION SELECT threshold, b FROM sel),
          nd AS (SELECT threshold, count(*) AS n_docs
                 FROM d2 GROUP BY 1)
          SELECT threshold, n_pairs, n_docs
          FROM np JOIN nd USING (threshold)""",
    "dedup_exact" ->
      s"""SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
            AS content_hash,
          min(doc_id) AS canonical_id, count(*) AS n_copies
          FROM documents GROUP BY 1""",
    "dedup_ngram_jaccard" ->
      s"""WITH s AS (SELECT doc_id,
            list_transform(${shingles(3)}, t -> ${h15("t")}) AS sh
          FROM documents),
          p AS (SELECT doc_id, length(sh) AS sz, unnest(sh) AS shingle FROM s)
          SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
            count(*)::DOUBLE /
              (any_value(a.sz) + any_value(b.sz) - count(*))::DOUBLE AS jaccard
          FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING jaccard >= 0.5""",
    "dedup_minhash_lsh" -> minhashPairsSql,
    // incremental replay: SAME band chain and verify, candidates
    // restricted to (history, new-batch) pairs across the split id
    "dedup_incremental" ->
      s"""WITH $minhashBandCtes,
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     x.sh AS sha, y.sh AS shb
                   FROM bd x JOIN bd y
                     ON x.band = y.band AND x.band_key = y.band_key
                       AND x.doc_id < $IncrSplitId
                       AND y.doc_id >= $IncrSplitId)
          $mhJaccardSelect""",
    // winnowing replay: positional 5-shingle hashes → distinct
    // 4-window minima → fingerprint equi-join → the shared exact-
    // Jaccard tail (sha/shb = the same distinct shingle-hash sets).
    // The persisted variant reads the same sketch from its store —
    // pair-identical, one replay serves both.
    "dedup_winnowing" -> winnowingSql,
    "dedup_winnowing_persisted" -> winnowingSql,
    "dedup_simhash" ->
      s"""$duckSimhash SELECT doc_id, sh FROM shv""",
    "dedup_simhash_pairs" ->
      s"""$duckSimhash,
          bd AS (SELECT doc_id, sh, t.c AS chunk,
                   (sh >> (t.c::INTEGER * 6)) & 63 AS chunk_val
                 FROM shv CROSS JOIN range(0, 10) t(c)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     x.sh AS sha, y.sh AS shb
                   FROM bd x JOIN bd y
                     ON x.chunk = y.chunk AND x.chunk_val = y.chunk_val
                       AND x.doc_id < y.doc_id)
          SELECT a, b, bit_count(xor(sha, shb))::BIGINT AS hamming
          FROM cand WHERE bit_count(xor(sha, shb)) <= 8""",
    "dedup_embedding_cosine" -> embCosinePairsSql,
    // positional shingles → df≥2 hashes → per-doc sorted starts →
    // exact interval merge via lead(); COALESCE 0 for clean docs
    "dedup_duplicate_spans" -> spansSql,
    "dedup_novelty" -> noveltySql,
    "corpus_dedup_report" -> {
      def dec(e: String) = s"CAST(CAST($e AS VARCHAR) AS DECIMAL(38,10))"
      def dd(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
      s"""WITH rep_base AS (SELECT source, count(*)::BIGINT AS n_docs,
                 count(DISTINCT md5(regexp_replace(lower(trim(text)),
                   '\\s+', ' ', 'g'))) AS n_distinct
               FROM documents GROUP BY source),
          rep_nov AS (SELECT d.source,
                 sum(${dec("nv.seen_share")}) AS nov_dec,
                 count(*)::BIGINT AS nov_n
               FROM ($noveltySql) nv
               JOIN documents d USING (doc_id) GROUP BY d.source),
          rep_sp AS (SELECT d.source,
                 sum(${dec("sp.dup_ratio")}) AS span_dec,
                 count(*)::BIGINT AS span_n
               FROM ($spansSql) sp
               JOIN documents d USING (doc_id) GROUP BY d.source),
          rep_pairs AS MATERIALIZED (SELECT a, b FROM ($minhashPairsSql)),
          rep_near AS (SELECT d.source, count(*)::BIGINT AS n_near
               FROM (SELECT DISTINCT id FROM (
                       SELECT a AS id FROM rep_pairs
                       UNION ALL SELECT b AS id FROM rep_pairs)) x
               JOIN documents d ON d.doc_id = x.id GROUP BY d.source)
          SELECT b.source, b.n_docs,
            CAST(1 AS DOUBLE) - b.n_distinct::DOUBLE / b.n_docs::DOUBLE
              AS exact_dup_share,
            ${dd("n.nov_dec")} / n.nov_n::DOUBLE AS avg_seen_share,
            ${dd("s.span_dec")} / s.span_n::DOUBLE AS avg_span_dup_share,
            COALESCE(r.n_near, 0)::DOUBLE / b.n_docs::DOUBLE
              AS near_dup_doc_share
          FROM rep_base b
          LEFT JOIN rep_nov n USING (source)
          LEFT JOIN rep_sp s USING (source)
          LEFT JOIN rep_near r USING (source)"""
    },
    // Lloyd replay (shared CTE chain) → final trained centroids →
    // argmax-cosine cell per vector → within-cell pairs at cos ≥ 0.35 →
    // recursive min-reachable component ≡ GraphOps' fixpoint → keep.
    "dedup_semantic" ->
      s"""WITH RECURSIVE ${SimilarityQueries.lloydCtes},
          ${SimilarityQueries.trainedCellsCtes},
          pr AS (SELECT x.vec_id AS a, y.vec_id AS b
                 FROM cell3 x JOIN cell3 y
                   ON x.cell = y.cell AND x.vec_id < y.vec_id
                 WHERE ${cosine("x.embedding", "y.embedding")} >= 0.35),
          $ccClosureCtes
          SELECT emb.vec_id,
            COALESCE(cc.component, emb.vec_id) AS component,
            (COALESCE(cc.component, emb.vec_id) = emb.vec_id) AS keep
          FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.id""",
    // DBSCAN replay: the SAME cell chain as dedup_semantic, an eps-pair
    // frame, degree/core sets, the recursive component closure over
    // core–core edges only (fed in as `pr`), then border argmin — every
    // step the same arithmetic as DedupOps.dbscan.
    "sim_dbscan" ->
      s"""WITH RECURSIVE ${SimilarityQueries.lloydCtes},
          ${SimilarityQueries.trainedCellsCtes},
          db_pr AS (SELECT x.vec_id AS a, y.vec_id AS b
                 FROM cell3 x JOIN cell3 y
                   ON x.cell = y.cell AND x.vec_id < y.vec_id
                 WHERE ${cosine("x.embedding", "y.embedding")} >= $DbEps),
          db_sym AS (SELECT a AS id, b AS nb FROM db_pr
                 UNION ALL SELECT b AS id, a AS nb FROM db_pr),
          db_deg AS (SELECT id, count(*)::BIGINT AS n_nbrs FROM db_sym
                 GROUP BY 1),
          db_core AS (SELECT id FROM db_deg WHERE n_nbrs >= $DbMinPts),
          pr AS (SELECT a, b FROM db_pr
                 WHERE a IN (SELECT id FROM db_core)
                   AND b IN (SELECT id FROM db_core)),
          $ccClosureCtes,
          db_corecl AS (SELECT c.id,
                   COALESCE(cc.component, c.id) AS cluster
                 FROM db_core c LEFT JOIN cc ON cc.id = c.id),
          db_border AS (SELECT s.id, min(k.cluster) AS cluster
                 FROM db_sym s
                 JOIN db_corecl k ON k.id = s.nb
                 WHERE s.id NOT IN (SELECT id FROM db_core)
                 GROUP BY 1)
          SELECT v.vec_id, COALESCE(d.n_nbrs, 0)::BIGINT AS n_nbrs,
            CASE WHEN c.cluster IS NOT NULL THEN 'core'
                 WHEN b.cluster IS NOT NULL THEN 'border'
                 ELSE 'noise' END AS role,
            COALESCE(c.cluster, b.cluster) AS cluster
          FROM embeddings v
          LEFT JOIN db_corecl c ON c.id = v.vec_id
          LEFT JOIN db_border b ON b.id = v.vec_id
          LEFT JOIN db_deg d ON d.id = v.vec_id""",

    // same simhash pair set, then min-label components as a recursive
    // reachability closure (min over every reachable node ≡ the fixpoint
    // GraphOps.connectedComponents converges to)
    "dedup_clusters" ->
      s"""${duckSimhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
          $simhashPairsCtes,
          $ccClosureCtes
          SELECT id AS doc_id, component AS cluster_id FROM cc""",
    "graph_component_sizes" ->
      s"""${duckSimhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
          $simhashPairsCtes,
          $ccClosureCtes,
          sz AS (SELECT component, count(*) AS size FROM cc GROUP BY 1)
          SELECT size, count(*) AS n_components FROM sz GROUP BY 1""",
    "dedup_canonical" ->
      s"""${duckSimhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
          $simhashPairsCtes,
          $ccClosureCtes
          SELECT doc_id, lang, source FROM documents
          WHERE doc_id NOT IN (
            SELECT id FROM cc WHERE component <> id)""",
    // same simhash pair set + the SAME recursive component closure as
    // dedup_clusters, then the modularity tail: exact Long e_in/d_tot
    // per component, the double formula shaped identically to the Spark
    // expression (every IEEE op exactly rounded ⇒ bit-equal).
    "graph_modularity" ->
      s"""${duckSimhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
          $simhashPairsCtes,
          $ccClosureCtes,
          md_und AS (SELECT DISTINCT least(a, b) AS lo,
                       greatest(a, b) AS hi
                     FROM pr WHERE a <> b),
          md_m AS (SELECT count(*)::BIGINT AS m FROM md_und),
          md_deg AS (SELECT id, count(*)::BIGINT AS deg FROM (
                       SELECT lo AS id FROM md_und
                       UNION ALL SELECT hi AS id FROM md_und) GROUP BY 1),
          md_d AS (SELECT cc.component, count(*)::BIGINT AS n_nodes,
                     sum(d.deg)::BIGINT AS d_tot
                   FROM md_deg d JOIN cc ON cc.id = d.id GROUP BY 1),
          md_e AS (SELECT x.component, count(*)::BIGINT AS e_in
                   FROM md_und u
                   JOIN cc x ON x.id = u.lo
                   JOIN cc y ON y.id = u.hi
                   WHERE x.component = y.component GROUP BY 1)
          SELECT d.component AS cluster_id, d.n_nodes, d.d_tot,
            COALESCE(e.e_in, 0)::BIGINT AS e_in,
            (COALESCE(e.e_in, 0)::DOUBLE / m.m::DOUBLE
              - (d.d_tot::DOUBLE / (CAST(2 AS DOUBLE) * m.m::DOUBLE))
                * (d.d_tot::DOUBLE / (CAST(2 AS DOUBLE) * m.m::DOUBLE)))
              AS q_part
          FROM md_d d
          LEFT JOIN md_e e ON e.component = d.component
          CROSS JOIN md_m m""",
    // same simhash pair set, then the SHARED wedge-closure tail (one
    // SQL definition with graph_clustering's knn replay — see
    // SimilarityQueries.clusteringTailSql)
    "graph_dedup_density" ->
      s"""$duckSimhash,
          $simhashPairsCtes,
          ${SimilarityQueries.clusteringTailSql(
            "SELECT a AS src, b AS dst FROM pr",
            "SELECT doc_id FROM documents", "doc_id")}"""
  )

  /** The duplicate-span oracle, shared with
    * CorpusQueries.corpus_quality_funnel (which composes it verbatim as
    * a subquery — one definition, no drift). Mirrors
    * [[DedupOps.duplicateSpans]] with [[SpanK]]/[[SpanMaxDup]].
    */
  private[queries] def spansSql: String =
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                   WHERE text IS NOT NULL),
        p AS (SELECT doc_id, length(tk)::BIGINT AS n_tokens, t.i AS pos,
                ${h15(s"array_to_string(tk[t.i+1 : t.i+$SpanK], ' ')")} AS sh
              FROM d CROSS JOIN LATERAL (
                SELECT unnest(range(0,
                  greatest(length(tk) - $SpanK, 0) + 1)) AS i) t),
        ds AS (SELECT sh FROM (
                 SELECT sh, count(DISTINCT doc_id) AS df
                 FROM p GROUP BY sh) WHERE df >= 2),
        hit AS (SELECT p.doc_id, p.n_tokens, p.pos
                FROM p JOIN ds USING (sh)),
        cov AS (SELECT doc_id, n_tokens, pos,
                  lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS nxt
                FROM hit),
        agg AS (SELECT doc_id,
                  sum(CASE WHEN nxt IS NULL
                        THEN least($SpanK, n_tokens - pos)
                        ELSE least(nxt - pos, $SpanK) END)::BIGINT
                    AS dup_tokens
                FROM cov GROUP BY doc_id),
        base AS (SELECT doc_id, length(tk)::BIGINT AS n_tokens FROM d)
        SELECT b.doc_id, b.n_tokens,
          COALESCE(a.dup_tokens, 0)::BIGINT AS dup_tokens,
          COALESCE(a.dup_tokens, 0)::DOUBLE / b.n_tokens::DOUBLE
            AS dup_ratio,
          (COALESCE(a.dup_tokens, 0)::DOUBLE / b.n_tokens::DOUBLE)
            <= $SpanMaxDup::DOUBLE AS keep
        FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id"""

  /** SimHash banded candidate pairs over `shv` (from [[duckSimhash]]) —
    * one definition for the two simhash-CC consumers.
    */
  private def simhashPairsCtes: String =
    s"""bd2 AS (SELECT doc_id, sh, t.c AS chunk,
              (sh >> (t.c::INTEGER * 6)) & 63 AS chunk_val
            FROM shv CROSS JOIN range(0, 10) t(c)),
        pr AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM bd2 x JOIN bd2 y
                 ON x.chunk = y.chunk AND x.chunk_val = y.chunk_val
                   AND x.doc_id < y.doc_id
               WHERE bit_count(xor(x.sh, y.sh)) <= 8)"""

  /** Min-reachable connected-components closure over a CTE named `pr`
    * (columns a, b) ≡ the fixpoint [[graft.operators.GraphOps]]
    * converges to. Consumers read `cc` (id, component). One definition
    * for all three CC oracles, so a tie-break change cannot drift.
    */
  private def ccClosureCtes: String =
    s"""e AS (SELECT a AS src, b AS dst FROM pr
          UNION SELECT b, a FROM pr),
        n AS (SELECT DISTINCT src AS id FROM e),
        reach(id, r) AS (
          SELECT id, id FROM n
          UNION
          SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
        cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""
}
