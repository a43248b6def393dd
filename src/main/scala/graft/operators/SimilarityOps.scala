package graft.operators

import graft.functions.PortableHash.h15
import graft.sources.IndexManifest
import java.math.BigInteger
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructField, StructType}
import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), for the `embeddings` table
  * (`vec_id, embedding[64], label`).
  *
  * Two paths, per the scale playbook:
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set
  *    against the corpus, per-partition cosine, global top-k per query via
  *    window rank. Correctness anchor; O(|Q|·n) but embarrassingly
  *    parallel, zero corpus shuffle (queries broadcast).
  *  - [[srpTopK]]: the scale path — sign-random-projection LSH buckets
  *    (deterministic hyperplanes derived from the portable hash, so the
  *    oracle can recompute them); only same-bucket candidates are scored.
  *    Bucket join is an equi-join → shuffle on an 8-bit key; recall is
  *    tunable by `planes` and multi-probe unioning.
  */
object SimilarityOps {

  import DedupOps.{cosine, dot}

  /** Deterministic ±1 hyperplane for plane p: component j is the low bit
    * of the portable hash of "plane<p>:<j>" — reproducible in DuckDB SQL,
    * unlike an RNG. Materialized once at plan build as a literal double
    * array (same md5 the oracle computes).
    */
  def planeVector(p: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { j =>
      md.reset()
      val hex = md.digest(s"plane$p:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** SRP bucket id: bit p = sign(dot(v, plane_p)), `planes` bits. Each
    * projection is the codegen'd [[graft.functions.VectorExprs.DotProduct]]
    * against the literal plane — same left-to-right IEEE fold as the
    * oracle's list_reduce, at primitive-loop speed.
    */
  def srpBucket(v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      val d = dot(v, typedlit(planeVector(p, dim)))
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine top-k: for each query vector (rows of `queries`), the k
    * nearest corpus rows by cosine, deterministic tiebreak on neighbor id.
    * `queries` is expected small → broadcast; the corpus is never shuffled,
    * the only wide op is the per-query top-k (window over ≤ n rows hash-
    * partitioned by query id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norms once per side (n + |Q| rows), not per scored pair (n·|Q|)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      DedupOps.norm(col("embedding")).as("q_nrm")))
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding"), DedupOps.norm(col("embedding")).as("c_nrm"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_emb"), col("embedding")) /
        (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // rank as int64: DuckDB row_number() is BIGINT, and the oracle
      // compare is dtype-sensitive
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  /** Radius (range) search — the ES/Lucene `knn` query with a
    * `similarity` threshold instead of a k cap: every corpus vector
    * within cosine ≥ `theta` of each query. Brute-force exact, and
    * STRICTLY cheaper than top-k: queries broadcast, the corpus is
    * never shuffled, and there is no per-query window — the plan is one
    * scan + filter with ZERO exchanges, so at 100 TB it rides a single
    * corpus pass however many queries are batched into it.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, theta: Double)
      : DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      DedupOps.norm(col("embedding")).as("q_nrm")))
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding"),
        DedupOps.norm(col("embedding")).as("c_nrm"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_emb"), col("embedding")) /
        (col("q_nrm") * col("c_nrm")))
      .filter(col("cos") >= theta)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  /** Simplified silhouette (centroid form — Hruschka et al.): per
    * vector, cosine to its OWN trained centroid vs the best OTHER
    * centroid, scored s = (b − a) / max(a, b) on cosine distances
    * a = 1 − cos_own, b = 1 − cos_next, rolled up per cell — the
    * clustering-quality certificate read next to the trained k-means
    * model (full silhouette is all-pairs; the centroid form is the one
    * that scales, and is exact given the model). Pure map over the
    * k-centroid literal model (same kernel as the IVF assign — zero
    * shuffle), then one cell-grain aggregate; the mean is an exact
    * DECIMAL sum over the shared double scores.
    */
  def silhouette(centroids: DataFrame)(corpus: DataFrame): DataFrame = {
    val cents = collectCents(centroids.select(
      col("cell").cast("long").as("cent_id"),
      col("centroid").as("cent_emb")))
    require(cents.size >= 2, "silhouette needs at least two centroids")
    val base = withNorm(corpus)
    // (−score, id, score) structs sorted ascending ≡ score desc, id asc
    // on ties; NaN (zero-norm guard) ranks first like both engines'
    // ORDER BY score DESC. __s and __r each live in their own
    // projection (non-cheap, referenced more than once — the HOF
    // CollapseProject discipline).
    val ranked = transform(
      array_sort(zip_with(col("__s"), typedlit(cents.map(_._1)),
        (s, id) => struct(
          when(isnan(s), lit(Double.NegativeInfinity)).otherwise(-s)
            .as("negs"),
          id.as("id"), s.as("s")))),
      e => struct(e.getField("id").as("id"), e.getField("s").as("s")))
    val a = lit(1.0) - col("cos_own")
    val b = lit(1.0) - col("cos_next")
    base
      .select(col("vec_id"),
        cscores(cents)(col("embedding"), col("nrm")).as("__s"))
      .select(col("vec_id"), ranked.as("__r"))
      .select(col("vec_id"),
        element_at(col("__r"), 1).getField("id").as("cell"),
        element_at(col("__r"), 1).getField("s").as("cos_own"),
        element_at(col("__r"), 2).getField("s").as("cos_next"))
      .withColumn("sil",
        when(greatest(a, b) === 0.0, lit(0.0))
          .otherwise((b - a) / greatest(a, b)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sil").cast("decimal(38,10)")).as("sum_dec"),
        min(col("sil")).as("min_sil"), max(col("sil")).as("max_sil"))
      .select(col("cell"), col("n_vecs"),
        (col("sum_dec").cast("double") / col("n_vecs").cast("double"))
          .as("mean_sil"),
        col("min_sil"), col("max_sil"))
  }

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein '98):
    * the exact-cosine top-`window` per query, then `k` greedy rounds —
    * each picks argmax of `lambda·rel − penalty·max_sim_to_selected`
    * (ties to the smaller id), the standard diversity re-rank between
    * retrieval and a RAG prompt. The candidate window and its pairwise
    * sims are computed distributed and collected ONCE (|Q|·window and
    * |Q|·window² rows — bounded by the query batch, not the corpus);
    * the k greedy argmax rounds replay on the driver as model state
    * (see the inline note for the exact-arithmetic argument). Each
    * collect is bounded by `cap` rows; a query batch whose window
    * exceeds it fails with [[DriverModel.CapExceeded]]. `penalty` is
    * passed explicitly rather than computed as 1−lambda so both engines
    * share the exact double literal.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, window: Int,
      k: Int, lambda: Double, penalty: Double,
      cap: Int = DriverModel.DefaultCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      DedupOps.norm(col("embedding")).as("q_nrm")))
    val scored = corpus.select(col("vec_id").as("cid"), col("embedding"),
        DedupOps.norm(col("embedding")).as("c_nrm"))
      .join(q, col("cid") =!= col("query_id"))
      .withColumn("rel", DedupOps.dot(col("q_emb"), col("embedding")) /
        (col("q_nrm") * col("c_nrm")))
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cid"))
    val mc = DedupOps.materialize(scored
      .withColumn("__rk", row_number().over(w0))
      .filter(col("__rk") <= window)
      .select(col("query_id"), col("cid"), col("embedding"),
        col("c_nrm"), col("rel")))
    val mp = DedupOps.materialize(
      mc.select(col("query_id"), col("cid").as("ca"),
          col("embedding").as("ea"), col("c_nrm").as("na"))
        .join(mc.select(col("query_id"), col("cid").as("cb"),
          col("embedding").as("eb"), col("c_nrm").as("nb")),
          Seq("query_id"))
        .filter(col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
          (DedupOps.dot(col("ea"), col("eb")) /
            (col("na") * col("nb"))).as("sim")))
    // The greedy tail runs on the DRIVER (r17, guide §1.2 fixed
    // overhead): the candidate window and its pairwise sims are
    // WORKLOAD-bounded (|Q|·window and |Q|·window² rows — 80 and 720 at
    // the registered workload; queries are a workload, not data), while
    // the k chained argmax rounds previously built a ~790-line plan
    // (≈1.3 s of Catalyst per construction — the bench's
    // queries_construct split) plus an anti-join + max-aggregate +
    // window job chain per round. The rounds are MODEL STATE by the
    // engine's own discipline (pcaPower's per-round scalars, BPE's
    // merge loop): collect the two bounded frames once, replay the
    // greedy with IDENTICAL IEEE arithmetic — the same
    // λ·rel − penalty·max-sim double ops on the same values, ordering
    // via java.lang.Double.compare (Spark's sort order: NaN largest)
    // with ±0.0 collapsed (Spark compares -0.0 == 0.0) and ties to the
    // smaller id — and return the picks as a literal frame. The
    // corpus-scale work (the exact top-window scoring and the pairwise
    // sims) stays distributed; only the window²-bounded argmax loop
    // moved, so the 100 TB shape is unchanged. A query batch that is
    // data-sized instead fails here, by name, before it reaches the
    // driver.
    def fetch(df: DataFrame): Array[Row] =
      DriverModel.collectBounded(df, cap).getOrElse {
        val nq = queries.count()
        throw new DriverModel.CapExceeded(s"mmrRerank: the candidate " +
          s"window exceeds the driver cap of $cap rows (|Q|·window = " +
          s"${nq * window}, |Q|·window² = ${nq * window * window})")
      }
    val mcRows = fetch(mc.select(col("query_id"), col("cid"), col("rel")))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sims = fetch(mp.select(col("query_id"), col("ca"), col("cb"),
        col("sim")))
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getDouble(3))).toMap
    // Spark's double sort order: -0.0 == 0.0, NaN greater than anything
    def cmpD(a: Double, b: Double): Int =
      java.lang.Double.compare(if (a == 0.0) 0.0 else a,
        if (b == 0.0) 0.0 else b)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Double)]
    mcRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (qid, cs) =>
      var remaining = cs.map(c => (c._2, c._3)).toVector // (cid, rel)
      var selected = Vector.empty[Long]
      var r = 1
      while (r <= k && remaining.nonEmpty) {
        // round 1 ranks by rel (the old w0 window); later rounds by mmr
        val scoredC = remaining.map { case (cid, rel) =>
          val mmr =
            if (r == 1) lambda * rel
            else {
              val ms = selected.iterator.map(s => sims((qid, cid, s)))
                .reduce((x, y) => if (cmpD(x, y) >= 0) x else y)
              lambda * rel - penalty * ms
            }
          (cid, rel, mmr)
        }
        val best = scoredC.reduce { (x, y) =>
          val c = if (r == 1) cmpD(x._2, y._2) else cmpD(x._3, y._3)
          if (c > 0 || (c == 0 && x._1 < y._1)) x else y
        }
        out += ((qid, best._1, r.toLong, best._2, best._3))
        selected = selected :+ best._1
        remaining = remaining.filterNot(_._1 == best._1)
        r += 1
      }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    out.toSeq.toDF("query_id", "vec_id", "round", "rel", "mmr")
  }

  /** IVF (inverted-file) approximate top-k: partition the corpus into
    * cells around centroid vectors, then search only the cells the query
    * probes. Each corpus vector lives in exactly ONE cell (its argmax-
    * cosine centroid); each query searches its `nprobe` nearest cells —
    * THE recall/cost knob of every IVF index (recall rises with nprobe,
    * scanned volume ≈ nprobe/k_cells of the corpus). Centroids here are a
    * deterministic seed subset of the corpus (so the oracle can recompute
    * the identical assignment); a production deployment would drop in
    * k-means centroids from [[KMeansOps.lloyd]] — the operator shape
    * (centroids collected as k×dim model state → map-side literal-array
    * argmax cell assignment → equi-join on cell → per-query top-k) is
    * unchanged and is the part that scales: the corpus is never shuffled
    * except on the cell key, and cells are searched independently. A (query, neighbor) pair is scored at most
    * once: the neighbor's single home cell either is probed or not.
    *
    * Determinism: cell = argmax cosine over centroids with ties to the
    * LOWEST centroid id; cosines come from the same sequential-fold dot
    * kernel the oracle reproduces bit-exactly.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      seedIds: Seq[Long], nprobe: Int = 1): DataFrame =
    ivfTopKWithCells(corpus, queries, k, nprobe,
      corpus.filter(col("vec_id").isInCollection(seedIds))
        .select(col("vec_id").as("cent_id"),
          col("embedding").as("cent_emb")))

  /** IVF over TRAINED centroids — the production index shape: cells come
    * from [[KMeansOps.lloyd]] (or any (cell, centroid) frame) instead of
    * corpus seed rows. Same scale skeleton: centroids as driver-side
    * model state, corpus shuffled only on the cell key.
    */
  def ivfTopKCentroids(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nprobe: Int = 1): DataFrame =
    ivfTopKWithCells(corpus, queries, k, nprobe,
      centroids.select(col("cell").cast("long").as("cent_id"),
        col("centroid").as("cent_emb")))

  /** Centroids as MODEL STATE (k×dim doubles): materialized once on the
    * driver (the same collect lloyd performs between iterations) and
    * carried to executors as literal arrays. Cell assignment is then a
    * PURE MAP — k codegen'd dot products and an argmax over a k-element
    * array per row, the KMeansOps.step kernel — with zero row
    * amplification and zero shuffle. (A crossJoin+window plan amplifies
    * the corpus ×k and hash-exchanges the amplified frame: invisible at
    * sf0.1, 512× the corpus through the wire at 100 TB.)
    */
  private type Cents = Seq[(Long, Seq[Double])]

  private def collectCents(centFrame: DataFrame): Cents =
    sortCents(centFrame
      .select(col("cent_id").cast("long"),
        col("cent_emb").cast("array<double>"))
      .collect())

  /** (cent_id BIGINT, cent_emb array<double>) rows, in id order. */
  private def sortCents(rows: Array[Row]): Cents = {
    val cents = rows.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, "IVF needs at least one centroid")
    cents
  }

  /** The k cosine scores as ONE array expression; centroid norms are
    * driver-side constants computed with the same left-to-right IEEE
    * fold as the codegen'd dot kernel, so scores stay bit-identical to
    * a centroid-column plan (and to the oracle). Zero norms (degenerate
    * centroid or corpus vector) are NaN explicitly: under ANSI mode a
    * double division by zero ERRORS the job instead of yielding the NaN
    * the pre-ANSI plan produced.
    */
  private def cscores(cents: Cents)(v: Column, nrm: Column): Column =
    array(cents.map { case (_, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) lit(Double.NaN)
      else when(nrm === 0.0, lit(Double.NaN))
        .otherwise(dot(v, typedlit(c)) / (nrm * lit(n)))
    }: _*)

  /** Home cell = argmax: first maximum ≡ lowest cent_id on ties (ids
    * ascending). Two-stage select keeps the k dots evaluated once
    * (__s is non-cheap and referenced twice, so CollapseProject holds).
    * A NaN score (degenerate zero-norm centroid) must rank FIRST like
    * ORDER BY score DESC in both engines, and codegen'd array_position
    * would MISS a NaN needle (Java NaN == NaN is false) leaving
    * element_at an invalid 0 index — so NaN maps to +∞ (unreachable by
    * a real cosine) before the argmax.
    */
  private def assignHome(cents: Cents)(df: DataFrame): DataFrame = {
    val keep = df.columns.map(col)
    val safe = transform(col("__s"),
      s => when(isnan(s), lit(Double.PositiveInfinity)).otherwise(s))
    df.select(keep :+
        cscores(cents)(col("embedding"), col("nrm")).as("__s"): _*)
      .select(keep :+ element_at(typedlit(cents.map(_._1)),
        array_position(safe, array_max(safe)).cast("int"))
        .as("cell"): _*)
  }

  /** Query side: top-`probes` cells from the same k-array — sort
    * (−score, id) structs ascending ≡ score desc / id asc, slice,
    * explode. Still a pure map; the explode multiplies only the
    * (broadcast-sized) query set by nprobe. NaN maps to −∞ so it ranks
    * first like both engines' ORDER BY score DESC (NaN above +∞ in
    * their total orders) — plain negation would leave it ranked last.
    */
  private def assignProbes(cents: Cents, probes: Int)(df: DataFrame)
      : DataFrame = {
    val keep = df.columns.map(col)
    val ranked = transform(
      array_sort(zip_with(col("__s"), typedlit(cents.map(_._1)),
        (s, id) => struct(
          when(isnan(s), lit(Double.NegativeInfinity)).otherwise(-s)
            .as("negs"),
          id.as("id")))),
      e => e.getField("id"))
    df.select(keep :+
        cscores(cents)(col("embedding"), col("nrm")).as("__s"): _*)
      .select(keep :+ explode(slice(ranked, 1, probes)).as("cell"): _*)
  }

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      DedupOps.norm(col("embedding")).as("nrm"))

  /** Cell assignment as a standalone operator: every corpus row gains
    * its argmax-cosine `cell` (plus its precomputed `nrm`) under the
    * given `(cell, centroid)` model — the same pure-map kernel the IVF
    * search runs (centroids as literal model state, zero shuffle, zero
    * row amplification). The clustering building block of SemDeDup-style
    * semantic dedup ([[DedupOps.semanticNearDupPairs]]).
    */
  def assignCells(centroids: DataFrame)(corpus: DataFrame): DataFrame = {
    val cents = collectCents(centroids.select(
      col("cell").cast("long").as("cent_id"),
      col("centroid").as("cent_emb")))
    assignHome(cents)(withNorm(corpus))
  }

  /** Farthest-first traversal (Gonzalez k-center — the deterministic
    * analogue of k-means++ seeding, D²-sampling replaced by the exact
    * argmax so both engines replay it): start from `seedId`, then k−1
    * rounds of "pick the vector FARTHEST from the selected set" in
    * cosine geometry — i.e. the argmin of max-cos-to-selected, ties to
    * the smaller vec_id. Returns the k picks as (round, center_id,
    * max_cos) — max_cos is the picked vector's coverage radius (NULL
    * for the seed), the k-center quality certificate (2-approximation
    * by Gonzalez' theorem). Scale shape: the running max-cos frame is
    * updated against ONLY the newest center each round (one pure map
    * over a literal center + checkpoint — k scans total, not k²); each
    * pick is a TakeOrdered(1); driver state is k ids + one row per
    * round, model-sized like the Lloyd centroids.
    */
  def farthestFirst(df: DataFrame, k: Int, seedId: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1, "farthestFirst: k must be positive")
    val base = withNorm(df)
    def embOf(id: Long): Seq[Double] = base.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    // cosine against a literal center — same driver-side-norm IEEE fold
    // as cscores, same NaN guards
    def cosTo(c: Seq[Double]): Column = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) lit(Double.NaN)
      else when(col("nrm") === 0.0, lit(Double.NaN))
        .otherwise(DedupOps.dot(col("embedding"), typedlit(c)) /
          (col("nrm") * lit(n)))
    }
    var cur = seedId
    var picks = Vector[(Long, Long, Option[Double])]((1L, seedId, None))
    var mc: DataFrame = null
    for (r <- 2 to k) {
      val cosNew = cosTo(embOf(cur))
      mc = (if (mc == null)
          base.filter(col("vec_id") =!= seedId)
            .select(col("vec_id"), col("embedding"), col("nrm"),
              cosNew.as("mc"))
        else
          mc.filter(col("vec_id") =!= cur)
            .select(col("vec_id"), col("embedding"), col("nrm"),
              greatest(col("mc"), cosNew).as("mc")))
        .localCheckpoint(false)
      val row = mc.orderBy(col("mc").asc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("mc")).head()
      cur = row.getLong(0)
      picks = picks :+ ((r.toLong, cur, Some(row.getDouble(1))))
    }
    picks.toDF("round", "center_id", "max_cos")
  }

  /** The search tail shared by in-memory and persisted-index IVF:
    * equi-join assigned cells against the broadcast probe set, exact
    * cosine, per-query top-k.
    */
  private def searchCells(cells: DataFrame, qcells: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cells.join(
        broadcast(qcells.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
          col("cell"))),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      // same ANSI zero-norm guard as cscores: NaN, not a thrown error
      .withColumn("cos", when(col("q_nrm") * col("nrm") === 0.0,
          lit(Double.NaN))
        .otherwise(dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  private def ivfTopKWithCells(corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, centFrame: DataFrame): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val cents = collectCents(centFrame)
    val cells = assignHome(cents)(withNorm(corpus))
    // queries are a broadcast-able probe batch by contract — pin it so
    // the corpus is never shuffled on vec_id to find the query vectors
    val qcells = assignProbes(cents, nprobe)(withNorm(corpus).join(
      broadcast(queries.select(col("vec_id"))), Seq("vec_id")))
    searchCells(cells, qcells, k)
  }

  /** Materialize the IVF index on disk — the build-once/search-many
    * shape of a production ANN deployment: corpus rows (+ their
    * precomputed norms) written to the `rows` table PARTITIONED BY home
    * cell, centroids in the `centroids` model table. A search
    * then reads ONLY the probed cell directories via partition pruning:
    * cost is ~nprobe/k_cells of the corpus per query batch, and the
    * assignment map never re-runs.
    */
  def buildIndex(corpus: DataFrame, centFrame: DataFrame, dir: String)
      : Unit = {
    val cents = collectCents(centFrame)
    val spark = corpus.sparkSession
    IndexManifest.publish(spark, dir) { vdir =>
      assignHome(cents)(withNorm(corpus))
        .write.partitionBy("cell").parquet(s"$vdir/rows")
      writeCents(spark, cents, vdir)
    }
  }

  private def writeCents(spark: org.apache.spark.sql.SparkSession,
      cents: Cents, vdir: String): Unit = {
    import spark.implicits._
    cents.toDF("cent_id", "cent_emb").write.parquet(s"$vdir/centroids")
  }

  /** The stored centroids; `cap` bounds the fetch. */
  private[graft] def storedCents(snap: IndexManifest.Snapshot,
      cap: Int = DriverModel.DefaultCap): Cents =
    sortCents(snap.model("centroids", cap))

  /** The stored rows of an index store, the partition column normalized
    * back to long. Shared by the probed-cell searches and the
    * index-served graph consumers.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    longCell(IndexManifest.snapshot(spark, dir).read("rows"))

  private def longCell(rows: DataFrame): DataFrame =
    rows.withColumn("cell", col("cell").cast("long"))

  /** Scan of an index store restricted to the probed cells: the probed
    * ids are |Q|·nprobe values — driver-side model scale, fetched
    * bounded — and as an IN literal they prune the partition
    * directories.
    */
  private def probedCellScan(snap: IndexManifest.Snapshot,
      qcells: DataFrame): DataFrame = {
    val probed = snap.fetch("rows", DriverModel.DefaultCap)(
        qcells.select(col("cell")).distinct())
      .map(_.getLong(0)).sorted.toSeq
    longCell(snap.read("rows").filter(col("cell").isInCollection(probed)))
  }

  /** Search a [[buildIndex]] directory: assign probe cells to the query
    * vectors map-side (centroids reloaded as model state), then scan
    * only those cells. `queries` supplies (vec_id, embedding).
    */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val snap = IndexManifest.snapshot(spark, dir)
    val qcells = assignProbes(storedCents(snap), nprobe)(withNorm(queries))
    searchCells(probedCellScan(snap, qcells), qcells, k)
  }

  /** Persisted IVF+PQ index: one corpus pass computes home cell + the m
    * PQ codes, written partitionBy(cell) to `rows`; centroids AND
    * codebooks are model tables. A search reads ONLY the
    * probed cell partitions and scores candidates by ADC table lookups —
    * at 100 TB the scan is nprobe/k_cells of a table that holds m small
    * ints per vector instead of the embeddings themselves.
    */
  def buildIvfPqIndex(corpus: DataFrame, centFrame: DataFrame,
      books: Seq[Seq[Seq[Double]]], dir: String): Unit = {
    val cents = collectCents(centFrame)
    val spark = corpus.sparkSession
    IndexManifest.publish(spark, dir) { vdir =>
      // one corpus pass: home cell + the m PQ codes
      assignHome(cents)(withNorm(corpus))
        .select(col("vec_id") +: col("cell") +:
          books.indices.map(j => pqCodeCol(books, j).as(s"__c$j")): _*)
        .write.partitionBy("cell").parquet(s"$vdir/rows")
      writeCents(spark, cents, vdir)
      import spark.implicits._
      books.zipWithIndex
        .flatMap { case (b, j) => b.zipWithIndex.map { case (c, i) =>
          (j, i + 1, c) } }
        .toDF("j", "code", "cvec")
        .write.parquet(s"$vdir/books")
    }
  }

  /** Reload the codebooks model table as driver model state (m × nc ×
    * sub doubles), in (j, code) order.
    */
  private def loadBooks(snap: IndexManifest.Snapshot)
      : Seq[Seq[Seq[Double]]] =
    snap.model("books")
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2): Seq[Double]))
      .sortBy(r => (r._1, r._2)).toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._3))

  /** Search a [[buildIvfPqIndex]] directory: probe cells + ADC tables
    * are computed map-side from the reloaded model state; only the
    * probed cell partitions are scanned (partition pruning), and the
    * candidates carry codes, not vectors.
    */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, nprobe: Int = 1)
      : DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val snap = IndexManifest.snapshot(spark, dir)
    val books = loadBooks(snap)
    val m = books.length
    val qcells = assignProbes(storedCents(snap), nprobe)(withNorm(queries))
    val qt = broadcast(qcells.select(col("vec_id").as("query_id") +:
      col("cell") +:
      (0 until m).map(j => pqTableCol(books, j).as(s"__t$j")): _*))
    pqRank(probedCellScan(snap, qcells).join(qt, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id")), m, k)
  }

  /** Product-quantization (PQ) max-inner-product top-k — the compression
    * half of the billion-scale ANN recipe (IVF prunes WHICH vectors get
    * scored; PQ compresses HOW each one is scored): the embedding splits
    * into `m` subspaces, each encoded as the L2-nearest of the `nc`
    * codebook entries, and a query scores a vector as the sum of m table
    * lookups (asymmetric distance computation) instead of a dim-length
    * dot product. The m·log2(nc)-bit code per vector (vs 4·dim bytes of
    * floats) is what lets a 100 TB corpus's index fit in cluster RAM.
    *
    * Codebooks here are deterministic seed-row slices so the oracle can
    * replay encode+search exactly; production trains each subspace with
    * [[KMeansOps.lloyd]] over the sliced column — identical shapes.
    *
    * Scale shape: encoding is ONE pure map over the corpus (m argmins
    * over nc-entry literal arrays — model state, like the IVF
    * centroids); queries broadcast with their m lookup tables; the only
    * shuffle is the per-query top-k window. Assignment is L2
    * (`||c||² − 2·x_j·c`, the row's own norm cancels in the argmin) —
    * subtraction only, so no ANSI division guards needed.
    */
  /** Codebooks: m × nc × sub doubles of driver-side model state, sliced
    * from the seed rows in vec_id order.
    */
  private def pqBooks(corpus: DataFrame, seedIds: Seq[Long], m: Int,
      dim: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, "dim must divide into m subspaces")
    val sub = dim / m
    val seeds: Seq[Seq[Double]] = corpus
      .filter(col("vec_id").isInCollection(seedIds))
      .orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0)).toSeq
    require(seeds.nonEmpty, "PQ needs at least one codebook seed")
    (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
  }

  private def pqSubVec(books: Seq[Seq[Seq[Double]]], j: Int): Column = {
    val sub = books(j).head.length
    slice(col("embedding"), j * sub + 1, sub)
  }

  /** Corpus code per subspace: argmin over (||c||² − 2·x_j·c) — the
    * row's own norm cancels in the argmin, so subtraction only; first
    * minimum ≡ lowest code id on ties.
    */
  private def pqCodeCol(books: Seq[Seq[Seq[Double]]], j: Int): Column = {
    val dists = array(books(j).map { c =>
      lit(c.map(x => x * x).sum) -
        lit(2.0) * dot(pqSubVec(books, j), typedlit(c))
    }: _*)
    array_position(dists, array_min(dists)).cast("int")
  }

  /** Query-side ADC lookup table: t_j[c] = q_j · codebook_j[c]. */
  private def pqTableCol(books: Seq[Seq[Seq[Double]]], j: Int): Column =
    array(books(j).map(c => dot(pqSubVec(books, j), typedlit(c))): _*)

  /** Left-associated sum of the m lookups (IEEE order fixed for the
    * oracle replay).
    */
  private def pqScore(m: Int): Column = (0 until m)
    .map(j => element_at(col(s"__t$j"), col(s"__c$j"))).reduce(_ + _)

  /** Public accessor for seed-sliced codebooks (the model an index
    * build persists).
    */
  def pqBooksOf(corpus: DataFrame, seedIds: Seq[Long], m: Int, dim: Int)
      : Seq[Seq[Seq[Double]]] = pqBooks(corpus, seedIds, m, dim)

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      seedIds: Seq[Long], m: Int = 4, dim: Int = 64): DataFrame =
    pqTopKWithBooks(corpus, queries, k, pqBooks(corpus, seedIds, m, dim))

  /** Shared ADC ranking tail: score the joined (codes × query tables)
    * candidates by the m lookups, per-query top-k. One home for the
    * tie-break and output dtypes both PQ paths' oracles depend on.
    */
  private def pqRank(candidates: DataFrame, m: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    candidates
      .withColumn("score", pqScore(m))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** PQ search over explicit codebooks (seeded or trained). */
  def pqTopKWithBooks(corpus: DataFrame, queries: DataFrame, k: Int,
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = books.length
    val coded = corpus.select(col("vec_id") +:
      (0 until m).map(j => pqCodeCol(books, j).as(s"__c$j")): _*)
    val qt = broadcast(queries.select(col("vec_id").as("query_id") +:
      (0 until m).map(j => pqTableCol(books, j).as(s"__t$j")): _*))
    pqRank(coded.join(qt, col("vec_id") =!= col("query_id")), m, k)
  }

  /** The faiss `refine` pattern: ADC coarse top-`kCoarse` per query
    * (compressed-domain candidates), then EXACT cosine re-scoring of
    * only those candidates and a final top-`k` — the production
    * coarse-then-refine ANN shape. The index answers cheaply in code
    * space; only |Q|·kCoarse raw vectors are ever touched for exact
    * math, probed by BROADCASTING the tiny candidate set into the
    * corpus scan (the corpus itself never shuffles).
    */
  def pqRefineTopK(corpus: DataFrame, queries: DataFrame, kCoarse: Int,
      k: Int, seedIds: Seq[Long], m: Int = 4, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = pqTopK(corpus, queries, kCoarse, seedIds, m, dim)
      .select(col("query_id"), col("neighbor_id"))
    val e = withNorm(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding"), col("nrm").as("c_nrm"))
    val q = broadcast(withNorm(queries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
    val re = e.join(broadcast(cand), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cos", dot(col("q_emb"), col("embedding")) /
        (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    re.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos"))
  }

  /** TRAIN the per-subspace codebooks with [[KMeansOps.lloyd]] over the
    * sliced embedding column (spherical k-means — the same
    * cosine-assignment/decimal-mean trainer the IVF path composes, run
    * once per subspace). Returns m × nc × sub doubles of model state,
    * codebook entries ordered by cell id so code indices are stable.
    */
  def trainPqBooks(corpus: DataFrame, seedIds: Seq[Long], m: Int,
      dim: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, "dim must divide into m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      val sliced = corpus.select(col("vec_id"),
        slice(col("embedding"), j * sub + 1, sub).as("embedding"))
      KMeansOps.lloyd(sliced, "vec_id", "embedding", seedIds, iters)
        .orderBy(col("cell"))
        .select(col("centroid"))
        .collect().map(_.getSeq[Double](0): Seq[Double]).toSeq
    }
  }

  /** IVF+PQ composed — the canonical billion-scale index (faiss
    * IVFPQ): the IVF side prunes WHICH vectors are scored (each query
    * searches its nprobe cells), the PQ side compresses HOW (m table
    * lookups per candidate instead of a dim-length dot). The corpus
    * pass computes home cell + m codes in ONE pure map over literal
    * model state; candidates equi-join on the cell key; the only other
    * shuffle is the per-query top-k window.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      ivfSeedIds: Seq[Long], pqSeedIds: Seq[Long], nprobe: Int = 1,
      m: Int = 4, dim: Int = 64): DataFrame =
    ivfPqTopKWithBooks(corpus, queries, k, ivfSeedIds,
      pqBooks(corpus, pqSeedIds, m, dim), nprobe)

  /** IVF+PQ over explicit codebooks — lets callers that reuse one book
    * set across searches (the recall gate, a persisted index) pay the
    * seed-slice collect once.
    */
  def ivfPqTopKWithBooks(corpus: DataFrame, queries: DataFrame, k: Int,
      ivfSeedIds: Seq[Long], books: Seq[Seq[Seq[Double]]],
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val m = books.length
    val cents = collectCents(corpus
      .filter(col("vec_id").isInCollection(ivfSeedIds))
      .select(col("vec_id").as("cent_id"),
        col("embedding").as("cent_emb")))
    // one corpus pass: home cell + the m PQ codes
    val coded = assignHome(cents)(withNorm(corpus))
      .select(col("vec_id") +: col("cell") +:
        (0 until m).map(j => pqCodeCol(books, j).as(s"__c$j")): _*)
    val qcells = assignProbes(cents, nprobe)(withNorm(corpus).join(
      broadcast(queries.select(col("vec_id"))), Seq("vec_id")))
    val qt = broadcast(qcells.select(col("vec_id").as("query_id") +:
      col("cell") +:
      (0 until m).map(j => pqTableCol(books, j).as(s"__t$j")): _*))
    pqRank(coded.join(qt, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id")), m, k)
  }

  /** SRP-LSH approximate top-k: score only corpus vectors in the query's
    * bucket. Same output shape as [[bruteForceTopK]]; approximate recall.
    *
    * `multiProbe` turns on Hamming-1 probing — each query also searches
    * the `planes` buckets one sign-flip away (the classic multi-probe LSH
    * recall booster: near neighbors that land just across one hyperplane
    * are recovered without adding tables). Corpus vectors still live in
    * exactly one bucket and probe buckets are distinct, so no
    * (query, neighbor) pair is scored twice; scanned volume grows
    * ~(planes+1)/2^planes of the corpus per query, still a broadcast-side
    * explode — the corpus side is untouched.
    */
  def srpTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 6, dim: Int = 64, multiProbe: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bc = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"),
      DedupOps.norm(col("embedding")).as("c_nrm"),
      srpBucket(col("embedding"), planes, dim).as("bucket"))
    val bq0 = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      DedupOps.norm(col("embedding")).as("q_nrm"),
      srpBucket(col("embedding"), planes, dim).as("bucket"))
    val bq = broadcast(
      if (!multiProbe) bq0
      else bq0.withColumn("bucket", explode(array(
        col("bucket") +:
          (0 until planes).map(p => col("bucket").bitwiseXOR(1L << p)): _*))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    bc.join(bq, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_emb"), col("embedding")) /
        (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  // --------------------------------------------------------- k-NN graph

  /** Bucketed k-NN graph over the WHOLE corpus (every vector is a
    * query): within-cell top-k cosine neighbors under the trained cell
    * model — the substrate of SemDeDup clustering, graph-based
    * diversity sampling, and label propagation. Scale shape: cell
    * assignment is the same pure-map literal-model kernel as IVF (zero
    * corpus shuffle to assign); candidate volume is Σ|cell|² bounded by
    * the cell partitioning instead of the n² all-pairs; the shuffles
    * are the cell equi-join and the per-source top-k window. The
    * deliberate recall trade (shared with [[DedupOps
    * .semanticNearDupPairs]]): cross-cell edges are not produced —
    * nprobe-style multi-cell assignment would recover them at
    * proportionally higher candidate volume.
    */
  def knnGraph(centroids: DataFrame, k: Int,
      cellCap: Long = KnnCellTarget)(corpus: DataFrame): DataFrame =
    knnFromAssigned(k, cellCap)(assignCells(centroids)(corpus))

  /** [[knnGraph]] served from a persisted [[buildIndex]] directory: the
    * stored rows already carry (vec_id, embedding, nrm, cell), so the
    * assignment map and the norm computation never re-run — the graph
    * build is JUST the within-cell self-join plus the top-k window,
    * and the cell-partitioned layout means the scan arrives clustered
    * on the join key. The amortization a standing pipeline wants: the
    * model is applied to each vector once at build ([[buildIndex]])
    * instead of once per downstream graph consumer.
    */
  def knnGraphIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, cellCap: Long = KnnCellTarget): DataFrame =
    knnFromAssigned(k, cellCap)(readIndex(spark, dir))

  /** The self-join + top-k tail shared by the in-memory and
    * persisted-index graph builds; `assigned` carries
    * (vec_id, embedding, nrm, cell).
    */
  private def knnFromAssigned(k: Int, cellCap: Long)(
      assignedIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = bucketizeCells(cellCap)(assignedIn)
    val a = assigned.select(col("cell"), col("__bkt"),
      col("vec_id").as("src"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cell"), col("__bkt"),
      col("vec_id").as("neighbor_id"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    // The top-k window partitions by (cell, __bkt, src), not src alone:
    // each vector lives in exactly ONE (cell, __bkt) — bucketizeCells
    // emits one row per vec_id — so the window groups are identical
    // either way. CONTRACT (ADVICE r16 #3): this equivalence requires
    // vec_id to be UNIQUE in `assigned`. In-memory builds get it from
    // the embeddings table (key-unique by fixture contract); persisted
    // builds from the corpus they were built over — duplicate ids there
    // would make per-(bucket, duplicate) top-ks replace the global
    // per-src top-k.
    // But HashPartitioning(cell, __bkt) from the self-join
    // already satisfies the clustered distribution and the fattest
    // intermediate of the whole build (the Σ|cell|² pair frame) is
    // never re-exchanged. Partitioning by src alone paid one full
    // shuffle of that frame per graph build — ~12 registered graph
    // analytics ride this. The pairs are also projected down to
    // (keys, cos) BEFORE the window so the sort buffers carry 5 narrow
    // columns, not two 64-float embeddings per row.
    val w = Window.partitionBy(col("cell"), col("__bkt"), col("src"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    a.join(b, Seq("cell", "__bkt"))
      .filter(col("src") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("e_a"), col("e_b")) /
        (col("n_a") * col("n_b")))
      .select(col("cell"), col("__bkt"), col("src"), col("neighbor_id"),
        col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src").as("vec_id"), col("neighbor_id"),
        col("rank"), col("cos"))
  }

  /** Worst-case guardrail for the within-cell self-join family
    * (knnGraph / SemDeDup pairs / DBSCAN): the DOCUMENTED deployment
    * contract is that the coarse model scales with the corpus
    * (k ≈ N / target cell size), but a misconfigured model must
    * degrade, not detonate — the 100× scale probe ran the fixed
    * 8-cell verify model against a 100× corpus and the pair join went
    * to ~31 B rows (hours). Cells above `cap` members split into
    * sub-buckets and candidates stay within a (cell, bucket): pair
    * volume is bounded by N·cap. Since r15 the split is LOCALITY-AWARE
    * — the sub-bucket is an SRP prefix (log₂ nb extra hyperplane signs
    * from a dedicated plane family), so the cell count effectively
    * SCALES with the corpus (the r14 verdict's k ≈ N/target contract,
    * met by hierarchy instead of a flat O(N·k) re-assignment): a pair
    * survives iff it agrees on the extra planes — probability
    * (1 − θ/π)^log₂nb, HIGH exactly for the similar pairs these
    * operators exist to find, vs the uniform 1/nb of the old
    * hash(vec_id) split which discarded near-twins and strangers
    * alike. The trade is MEASURED, not promised: the forced-engage
    * test (ScaleProbeSpec) pins a recall floor and that capping only
    * LOSES pairs, never invents them. INERT below the cap — every
    * verify-scale corpus keeps bucket count 1 (sf0.1 max trained cell
    * = 277; ScaleProbeSpec pins the precondition), so query results
    * and oracles are untouched.
    */
  val CellPairCap = 2048L

  /** Within-cell size target for the k-NN GRAPH family (knnGraph /
    * knnGraphIndex): a k=3 graph gains little from 2048-member
    * candidate blocks, and the graph build is the substrate of ~12
    * registered analytics — at 100× it was the whole family's floor
    * (~0.2 s/copy each). Tighter than [[CellPairCap]] but still inert
    * at every verify scale (max sf0.1 trained cell 277, 2× margin
    * pinned by ScaleProbeSpec).
    */
  val KnnCellTarget = 1024L

  /** Sub-bucket planes draw from a dedicated region of the SRP plane
    * family, ABOVE any caller-facing bucket geometry (callers use
    * planes 0..8): splitting an `srpBucket(…, planes=p)` bucket by its
    * own low planes would be a no-op (they are constant within the
    * bucket).
    */
  private val SubPlaneOffset = 16
  private val SubPlanesMax = 12 // ≤ 4096 sub-buckets per cell

  private[graft] def bucketizeCells(cap: Long, keyCol: String = "cell",
      embCol: String = "embedding", dim: Int = 64)(
      assigned: DataFrame): DataFrame = {
    // the assignment kernel feeds BOTH the size aggregate and the join;
    // without materializing it once, every caller pays a second full
    // assignCells/srpBucket pass even in the (usual) inert below-cap case
    val a = DedupOps.materialize(assigned)
    // DRIVER-SCALAR GATE: the frame is materialized anyway, so one
    // aggregate job reads max(|cell|), and the inert below-cap case —
    // every verify/bench scale, by the ScaleProbeSpec precondition pin —
    // returns with ZERO joins or aggregates left in the consumer's plan.
    // Before this gate the split machinery (1-2 groupBy aggregates +
    // 1-2 broadcast joins) sat in EVERY consumer plan and re-evaluated
    // on both sides of the downstream within-cell self-join even when
    // no cell exceeded cap — the r15 kNN-substrate bench regression
    // (sim_knn_graph & the ~12 graph_* analytics riding on it,
    // dedup_embedding_cosine, sim_dbscan: 1.2-1.9x normalized).
    val cellSizes = a.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__csz"))
    val maxRow = cellSizes.agg(max(col("__csz"))).collect()(0)
    val maxCsz = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxCsz <= cap) return a.withColumn("__bkt", lit(0L))
    // Split engages (misconfigured-model scale only). Use the corpus's
    // REAL embedding dimension for the sub-planes — callers that ride
    // the dim=64 default (knnGraph, semanticNearDupPairs) would
    // otherwise split a wider corpus on truncated planes (DotProduct
    // folds over min length), weakening the locality the SRP prefix
    // exists to keep. The declared dim is the empty/degenerate fallback.
    val dimRow = a.agg(max(size(col(embCol)))).collect()(0)
    val dimUsed =
      if (dimRow.isNullAt(0) || dimRow.getInt(0) <= 0) dim
      else dimRow.getInt(0)
    val nbRaw = greatest(lit(1L), ceil(col("__csz").cast("double") /
      cap.toDouble).cast("long"))
    // smallest power of two ≥ nbRaw (exact integer when-chain — a
    // double log2 could round 2^k to either side of an integer),
    // capped at 2^SubPlanesMax: a pow-2 count makes pmod a plane-
    // prefix mask, i.e. a true SRP bucket of log2(nb) extra planes
    val nbPow2 = (SubPlanesMax - 1 to 0 by -1)
      .foldLeft(lit(1L << SubPlanesMax): Column)((acc, i) =>
        when(nbRaw <= (1L << i), lit(1L << i)).otherwise(acc))
    val sizes = cellSizes.select(col(keyCol), nbPow2.as("__nb"))
    val subSig = (0 until SubPlanesMax).map { p =>
      val d = DedupOps.dot(col(embCol),
        typedlit(planeVector(SubPlaneOffset + p, dimUsed)))
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    // materialized so the level-2 size aggregate and the downstream
    // self-join's two sides don't each re-run the sizes join + the
    // 12 sub-plane dot products over the cached base frame
    val l1 = DedupOps.materialize(
      a.join(broadcast(sizes), Seq(keyCol))
        .withColumn("__bkt1",
          when(col("__nb") > 1L, pmod(subSig, col("__nb")))
            .otherwise(lit(0L)))
        .drop("__nb"))
    // SECOND level — the uniform backstop the locality split can't be:
    // an SRP prefix NEVER separates identical vectors, so duplicate
    // mass (a crawl's boilerplate embeddings, the 100× replica's
    // jitter clusters) can land a whole near-dup family in one prefix
    // bucket and re-detonate the |bucket|² join the cap exists to
    // bound. Any prefix bucket still above cap hash-splits the rest of
    // the way: locality recall everywhere the data allows it, the
    // pre-r15 uniform bound exactly where it doesn't. Gated on the
    // same driver scalar: when every prefix bucket already fits, the
    // final __bkt is the level-1 prefix alone (identical values to the
    // ungated pmod(hash, 1) = 0 encoding, zero extra joins).
    val bktSizes = l1.groupBy(col(keyCol), col("__bkt1"))
      .agg(count(lit(1)).as("__csz2"))
    val max2Row = bktSizes.agg(max(col("__csz2"))).collect()(0)
    val max2 = if (max2Row.isNullAt(0)) 0L else max2Row.getLong(0)
    if (max2 <= cap)
      return l1.withColumn("__bkt", col("__bkt1") * lit(1L << 32))
        .drop("__bkt1")
    val sizes2 = bktSizes.select(col(keyCol), col("__bkt1"),
      greatest(lit(1L), ceil(col("__csz2").cast("double") /
        cap.toDouble).cast("long")).as("__nb2"))
    l1.join(broadcast(sizes2), Seq(keyCol, "__bkt1"))
      .withColumn("__bkt", col("__bkt1") * lit(1L << 32) +
        pmod(hash(col("vec_id")), col("__nb2")))
      .drop("__bkt1", "__nb2")
  }

  // ------------------------------------------------ scalar quantization SQ8

  /** Per-dimension affine int8 quantization model: (mins, maxs) over the
    * corpus. Model state is 2×dim doubles — bounded by CONSTRUCTION at
    * any corpus size (unlike a vocabulary or segment model), so the
    * driver-side collect is always safe; computing it is one
    * posexplode→min/max aggregate, the only full pass over raw floats an
    * SQ8 index ever makes. min/max are exact IEEE ops, so the oracle
    * recomputes the identical model.
    */
  def sq8Model(corpus: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = corpus
      .select(posexplode(col("embedding").cast("array<double>")))
      .toDF("i", "v")
      .groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("i"))
      .collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Encode one vector to uint8 codes:
    * `code_d = clamp(floor((v_d − mn_d)/(mx_d − mn_d)·255), 0, 255)` —
    * a pure map over literal model arrays (zero shuffles, WSCG), 4×
    * compression vs float32. A constant dimension (mx = mn) encodes to 0.
    * Every arithmetic op (subtract/divide/multiply/floor/clamp) is
    * exactly-rounded IEEE, so DuckDB replays the codes bit-for-bit.
    */
  def sq8Codes(mns: Seq[Double], mxs: Seq[Double])(v: Column): Column = {
    val mnA = array(mns.map(lit): _*)
    val mxA = array(mxs.map(lit): _*)
    transform(v, (x, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      when(mx === mn, lit(0L)).otherwise(
        least(greatest(floor((x.cast("double") - mn) / (mx - mn)
          * lit(255.0)), lit(0.0)), lit(255.0)).cast("long"))
    })
  }

  /** Decode codes back to the cell midpoint the code denotes:
    * `mn_d + (code_d·(mx_d − mn_d))/255` (the asymmetric-distance side:
    * queries stay full-precision, the corpus is reconstructed from
    * codes).
    */
  def sq8Dequantize(mns: Seq[Double], mxs: Seq[Double])(codes: Column)
      : Column = {
    val mnA = array(mns.map(lit): _*)
    val mxA = array(mxs.map(lit): _*)
    transform(codes, (c, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      mn + (c.cast("double") * (mx - mn)) / lit(255.0)
    })
  }

  /** SQ8 approximate top-k: cosine of the full-precision query against
    * the DEQUANTIZED corpus codes — the classic scalar-quantized flat
    * index (faiss `SQ8`): lighter compression than PQ (8 bits/dim vs
    * ~0.5), near-exact recall (measured 0.95 recall@5 on this corpus vs
    * PQ64's 0.25 — see `sim_recall_at_k`). Scale shape = brute force's:
    * queries broadcast with precomputed norms, corpus encoded in ONE
    * pure map (at 100 TB the codes — a quarter of the raw bytes — are
    * what an index would materialize; encode is scan-side), the only
    * shuffle is the per-query top-k window.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      model: (Seq[Double], Seq[Double])): DataFrame = {
    val (mns, mxs) = model
    sq8Rank(corpus.select(col("vec_id").as("neighbor_id"),
      sq8Dequantize(mns, mxs)(sq8Codes(mns, mxs)(col("embedding")))
        .as("dq")), queries, k)
  }

  /** Ranking tail shared by the in-memory and persisted SQ8 paths:
    * cosine of broadcast full-precision queries against the dequantized
    * corpus, per-query top-k.
    */
  private def sq8Rank(deq: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      DedupOps.norm(col("embedding")).as("q_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    deq.withColumn("c_nrm", DedupOps.norm(col("dq")))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_emb"), col("dq")) /
        (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  /** Persist the SQ8 index: the (2×dim)-double `model` table and the
    * uint8 `codes` table — a quarter of the raw float32 bytes; searches
    * never reopen the raw embeddings. The model is stored, not
    * recomputed, so a search decodes through the quantizer its codes
    * were encoded with.
    */
  def buildSq8Index(corpus: DataFrame,
      model: (Seq[Double], Seq[Double]), dir: String): Unit = {
    val (mns, mxs) = model
    val spark = corpus.sparkSession
    // model + codes publish together under one pointer swap
    IndexManifest.publish(spark, dir) { vdir =>
      import spark.implicits._
      mns.indices.map(i => (i, mns(i), mxs(i))).toDF("i", "mn", "mx")
        .coalesce(1).write.parquet(s"$vdir/model")
      corpus.select(col("vec_id"),
          sq8Codes(mns, mxs)(col("embedding")).as("code"))
        .write.parquet(s"$vdir/codes")
    }
  }

  /** Search the persisted index: dequantize the code scan (pure map)
    * and rank — raw corpus embeddings are never touched.
    */
  def searchSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int): DataFrame = {
    val snap = IndexManifest.snapshot(spark, dir)
    val (mns, mxs) = loadSq8Model(snap)
    sq8Rank(snap.read("codes")
      .select(col("vec_id").as("neighbor_id"),
        sq8Dequantize(mns, mxs)(col("code")).as("dq")), queries, k)
  }

  private def loadSq8Model(snap: IndexManifest.Snapshot)
      : (Seq[Double], Seq[Double]) = {
    val rows = snap.model("model").sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Top principal component of the embedding matrix by power iteration
    * — the "embedding health" axis (a collapsed/anisotropic embedding
    * model shows one dominated direction; the loading vector says which
    * dims carry it). Output: one `(dim, sum_q, v_fp)` row per dim. Every
    * arithmetic step is exact integer/decimal, so the result is
    * bit-identical at any partitioning and the oracle replays all
    * rounds:
    *
    *  - embeddings quantize once to `floor(x·qScale)` BIGINT (both
    *    engines floor the same IEEE product);
    *  - centering multiplies through by n: c = n·q − Σq — no division,
    *    no mean rounding (direction is scale-invariant); n counts every
    *    row, null embeddings included;
    *  - each round computes t = C·v per vec_id and w = Cᵀ·t' per dim in
    *    DECIMAL(38,0), renormalizing each to `±(|·|·vScale) div
    *    max(max|·|, 1)` — sign handled explicitly because Spark `div`
    *    truncates while DuckDB `//` floors (they agree only on
    *    non-negatives).
    *
    * Two paths compute it, chosen by input size alone:
    *
    *  - **Driver**, when `vec_id` is an integer type and the input has
    *    at most `cellCap` cells (a null or empty embedding counts as
    *    one): one [[DriverModel.fetchArrays]] fetch of the
    *    `(vec_id, embedding)` rows as flat primitive arrays, then every
    *    round on the driver. At this size the matrix is model state
    *    (sf0.1: 2,000 × 64 = 128k cells) and a distributed round is all
    *    fixed per-job overhead.
    *  - **Distributed** otherwise: [[pcaCentered]] materializes the
    *    centered matrix once, hash-partitioned on vec_id, and each round
    *    is one exchange-free [[pcaRound]] job whose dim-sized w returns
    *    to the driver as the next round's literal direction vector.
    *
    * The driver path is exact because it performs the same operations
    * on the same values, not because it is close. It floors the same
    * double product; it uses `Math.*Exact` where ANSI BIGINT arithmetic
    * raises; its products and sums are exact (128-bit words per sum,
    * widened to a BigInteger only past 128 bits), checked against
    * DECIMAL(38,0) wherever the engine checks (a product of two longs
    * always fits); integer division of non-negatives truncates in both.
    * It groups like the SQL: t sums per vec_id (duplicate ids merge; a
    * null id is its own group, which w's join then drops), and SUM skips
    * NULL terms and is NULL when all are. Where the engine raises, the
    * driver raises an ArithmeticException naming the overflow. (A
    * non-ANSI session wraps or NULLs where both raise here; results
    * without overflow are the same.) The distributed path is the
    * reference the equivalence spec compares against, bit for bit.
    */
  def pcaPower(embs: DataFrame, iters: Int, qScale: Long, vScale: Long,
      cellCap: Int = DriverModel.DefaultCap): DataFrame = {
    val fetched = embs.schema("vec_id").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        DriverModel.fetchArrays(embs.select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>")), cellCap)
      case _ => None
    }
    fetched match {
      case Some(m) => pcaOnDriver(embs.sparkSession, m, iters, qScale, vScale)
      case None => pcaDistributed(embs, iters, qScale, vScale)
    }
  }

  private val PcaSchema = StructType(Seq(
    StructField("dim", LongType, nullable = false),
    StructField("sum_q", LongType),
    StructField("v_fp", LongType, nullable = false)))

  private val Dec38 = BigInteger.TEN.pow(38)

  private def pcaOverflow(what: String): Nothing =
    throw new ArithmeticException(s"pcaPower: $what overflows — the " +
      "corpus magnitude exceeds the fixed-point headroom; lower qScale " +
      "or vScale")

  private def wNull(dim: Long): String =
    s"pcaPower: w[dim=$dim] is NULL — every term was NULL or the " +
      "decimal(38,0) sum overflowed"

  // fixed-point renormalize: sign·((|x|·vScale) div max(m, 1)), with
  // m ≥ |x|, so the result stays within ±vScale (longValueExact is a
  // proof, not a hope)
  private def renorm(x: BigInteger, m: BigInteger, vScale: Long): Long = {
    val r = x.abs.multiply(BigInteger.valueOf(vScale))
      .divide(m.max(BigInteger.ONE)).longValueExact
    if (x.signum < 0) -r else r
  }

  private val TwoTo64 = BigInteger.ONE.shiftLeft(64)

  /** Exact sums of long products, one per slot, as 128-bit two's
    * complement (hi, lo) words; a slot whose running sum leaves 128 bits
    * goes on as a BigInteger. Adding a term allocates nothing while its
    * slot fits.
    */
  private final class ExactSums(n: Int) {
    private val hi = new Array[Long](n)
    private val lo = new Array[Long](n)
    private var big: Array[BigInteger] = null
    /** Some term was added: a SUM over no term is NULL. */
    val any = new Array[Boolean](n)

    def add(j: Int, a: Long, b: Long): Unit = {
      any(j) = true
      val pl = a * b
      val ph = Math.multiplyHigh(a, b)
      if (big != null && big(j) != null)
        big(j) = big(j).add(wide(ph, pl))
      else {
        val l = lo(j) + pl
        val h = hi(j) + ph +
          (if (java.lang.Long.compareUnsigned(l, pl) < 0) 1L else 0L)
        // signed overflow: like-signed high words, a result of the other
        if ((~(hi(j) ^ ph) & (hi(j) ^ h)) < 0) {
          if (big == null) big = new Array[BigInteger](n)
          big(j) = wide(hi(j), lo(j)).add(wide(ph, pl))
        } else { hi(j) = h; lo(j) = l }
      }
    }

    def fitsLong(j: Int): Boolean =
      (big == null || big(j) == null) && hi(j) == (lo(j) >> 63)

    def long(j: Int): Long = lo(j)

    def value(j: Int): BigInteger =
      if (big != null && big(j) != null) big(j) else wide(hi(j), lo(j))

    private def wide(h: Long, l: Long): BigInteger = {
      val low = BigInteger.valueOf(l)
      BigInteger.valueOf(h).shiftLeft(64)
        .add(if (l < 0) low.add(TwoTo64) else low)
    }
  }

  /** The driver path over the fetched rows. Cell i of row r is dim
    * i − start(r); a null or empty embedding has no cells but counts in
    * n. The per-cell loops do primitive arithmetic only; per-group and
    * per-dim values are BigIntegers, as in the SQL's DECIMAL(38,0).
    */
  private def pcaOnDriver(spark: SparkSession, m: DriverModel.ArrayRows,
      iters: Int, qScale: Long, vScale: Long): DataFrame = {
    def exact[T](what: String)(f: => T): T =
      try f catch { case _: ArithmeticException => pcaOverflow(what) }
    def dec38(what: String)(x: BigInteger): BigInteger =
      if (x.abs.compareTo(Dec38) < 0) x
      else pcaOverflow(s"$what (decimal(38,0))")
    val rows = m.rows
    val start = m.start
    val isNull = m.elemNull
    val n = rows.toLong
    val d = (0 until rows).foldLeft(0)((a, r) =>
      math.max(a, start(r + 1) - start(r)))
    val q = new Array[Long](m.bits.length)
    val sSum = new ExactSums(d)
    for (r <- 0 until rows) {
      var i = start(r)
      while (i < start(r + 1)) {
        if (!isNull(i)) {
          q(i) = math.floor(m.double(i) * qScale.toDouble).toLong
          sSum.add(i - start(r), q(i), 1L)
        }
        i += 1
      }
    }
    val s: Array[java.lang.Long] = Array.tabulate(d) { j =>
      if (!sSum.any(j)) null
      else if (sSum.fitsLong(j)) Long.box(sSum.long(j))
      else pcaOverflow("sum(q) (bigint)")
    }
    // c = n·q − s, NULL exactly where q is (a non-NULL q makes s(dim)
    // non-NULL)
    val c = new Array[Long](q.length)
    exact("c = n·q − s (bigint)") {
      for (r <- 0 until rows) {
        var i = start(r)
        while (i < start(r + 1)) {
          if (!isNull(i)) c(i) = Math.subtractExact(
            Math.multiplyExact(n, q(i)), s(i - start(r)).longValue)
          i += 1
        }
      }
    }
    // t's GROUP BY vec_id: duplicate ids merge; the NULL ids are a group
    // of their own, in max|t|, that w's equi-join on vec_id drops
    val groupOf = scala.collection.mutable.LongMap.empty[Int]
    var nGroups = 0
    var nullGroup = -1
    val g = Array.tabulate(rows) { r =>
      if (m.idNull(r)) {
        if (nullGroup < 0) { nullGroup = nGroups; nGroups += 1 }
        nullGroup
      } else groupOf.getOrElseUpdate(m.ids(r), { nGroups += 1; nGroups - 1 })
    }
    var v = Array.fill(d)(vScale)
    for (_ <- 1 to iters) {
      val tSum = new ExactSums(nGroups)
      for (r <- 0 until rows) {
        var i = start(r)
        while (i < start(r + 1)) {
          if (!isNull(i)) tSum.add(g(r), c(i), v(i - start(r)))
          i += 1
        }
      }
      val t = Array.tabulate(nGroups)(gi =>
        if (!tSum.any(gi)) null else dec38("t = C·v")(tSum.value(gi)))
      val mt = t.iterator.filter(_ != null).map(_.abs)
        .foldLeft(BigInteger.ZERO)(_ max _)
      val tpNull = t.map(_ == null)
      val tp = t.map { x =>
        if (x == null) 0L
        else {
          dec38("|t|·vScale")(x.abs.multiply(BigInteger.valueOf(vScale)))
          renorm(x, mt, vScale)
        }
      }
      // a dim has a w row iff some cell survives the join; that row is
      // NULL when every term is
      val wSum = new ExactSums(d)
      val joined = new Array[Boolean](d)
      for (r <- 0 until rows) {
        val gr = g(r)
        var i = if (gr == nullGroup) start(r + 1) else start(r)
        while (i < start(r + 1)) {
          joined(i - start(r)) = true
          if (!isNull(i) && !tpNull(gr)) wSum.add(i - start(r), c(i), tp(gr))
          i += 1
        }
      }
      val w = Array.tabulate(d) { j =>
        if (!joined(j)) BigInteger.ZERO
        else {
          require(wSum.any(j), wNull(j))
          dec38("w = Cᵀ·t")(wSum.value(j))
        }
      }
      val mw = w.foldLeft(BigInteger.ZERO)((a, x) => a.max(x.abs))
      v = w.map(renorm(_, mw, vScale))
    }
    spark.createDataFrame(
      (0 until d).map(j => Row(j.toLong, s(j), v(j))).asJava, PcaSchema)
  }

  /** The distributed path's one-time state: the centered matrix
    * `c(vec_id, dim, c)`, hash-partitioned on vec_id across its
    * checkpoint, the per-dim sums and the dim list.
    */
  private[graft] final case class PcaCentered(c: DataFrame,
      sums: DataFrame, dims: IndexedSeq[Long])

  private[graft] def pcaCentered(embs: DataFrame, qScale: Long)
      : PcaCentered = {
    val spark = embs.sparkSession
    val qrows = DedupOps.materialize(embs
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * lit(qScale.toDouble))
          .cast("long").as("q")))
    val n = embs.count()
    val sums = DedupOps.materialize(
      qrows.groupBy(col("dim")).agg(sum(col("q")).as("s")))
    // dims are contiguous 0..d-1 from posexplode, so the dim list IS
    // the dimension count
    val dims = sums.select(col("dim")).orderBy(col("dim"))
      .collect().map(_.getLong(0)).toIndexedSeq
    // c is hash-partitioned on vec_id ONCE before the checkpoint, so
    // every round's C·v groupBy and Cᵀ·t join run exchange-free on the
    // cached layout. Partition count is sized to the data (~32k rows
    // per task, capped at the session's shuffle parallelism) and
    // floored at 2: Spark reports a 1-partition layout as
    // SinglePartition, which a join on vec_id re-shuffles every round.
    // Results are partitioning-independent (exact decimal arithmetic).
    val nParts = math.max(2L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toLong,
      n * dims.length / 32768L + 1L)).toInt
    val c = DedupOps.materializeKeyed(qrows
      .join(broadcast(sums), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        (lit(n) * col("q") - col("s")).as("c"))
      .repartition(nParts, col("vec_id")))
    PcaCentered(c, sums, dims)
  }

  /** One distributed round as a `(dim, w)` frame: t = C·v per vec_id
    * (v is a dim-indexed LITERAL array — no join), t' its renormalized
    * form, w = Cᵀ·t' per dim. t's renormalizer stays in the plan as a
    * broadcast 1-row aggregate, so the round is one job;
    * `greatest(__mt, 1)` skips the NULL an empty t produces, so the
    * empty-corpus case divides by 1.
    */
  private[graft] def pcaRound(c: DataFrame, dims: IndexedSeq[Long],
      v: Map[Long, Long], vScale: Long): DataFrame = {
    val vArray = array(dims.map(d => lit(v(d))): _*)
    val t = c
      .select(col("vec_id"), (col("c").cast("decimal(38,0)") *
        element_at(vArray, (col("dim") + 1).cast("int"))).as("ct"))
      .groupBy(col("vec_id")).agg(sum(col("ct")).as("t"))
    val mtF = t.agg(max(abs(col("t"))).as("__mt"))
    val tp = t.crossJoin(broadcast(mtF))
      .select(col("vec_id"),
        (when(col("t") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr(s"(abs(t) * $vScale) div greatest(" +
            s"__mt, cast(1 as decimal(38,0)))"))
          .as("tp"))
    c.join(tp, Seq("vec_id"))
      .groupBy(col("dim"))
      .agg(sum(col("c").cast("decimal(38,0)") * col("tp")).as("w"))
  }

  private[graft] def pcaDistributed(embs: DataFrame, iters: Int, qScale: Long,
      vScale: Long): DataFrame = {
    val pc = pcaCentered(embs, qScale)
    var v: Map[Long, Long] = pc.dims.map(_ -> vScale).toMap
    for (_ <- 1 to iters) {
      // the round's one job: w collapses to dim rows, the model read
      val w = pcaRound(pc.c, pc.dims, v, vScale).collect().map { r =>
        require(!r.isNullAt(1), wNull(r.getLong(0)))
        r.getLong(0) -> r.getDecimal(1).toBigIntegerExact
      }.toMap
      val mw = w.values.foldLeft(BigInteger.ZERO)((a, x) => a.max(x.abs))
      // a dim with no joined row (only null vec_ids) has no w
      v = pc.dims.map(d =>
        d -> renorm(w.getOrElse(d, BigInteger.ZERO), mw, vScale)).toMap
    }
    val spark = embs.sparkSession
    import spark.implicits._
    val vDf = pc.dims.map(d => (d, v(d))).toDF("dim", "v")
    pc.sums.join(broadcast(vDf), Seq("dim"))
      .select(col("dim"), col("s").as("sum_q"), col("v").as("v_fp"))
  }
}
