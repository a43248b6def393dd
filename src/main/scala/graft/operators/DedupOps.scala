package graft.operators

import graft.functions.PortableHash.h15
import graft.sources.IndexManifest
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Deduplication operators for training-data pipelines, over `documents`
  * (text) and `embeddings` (vectors). All are designed around the one rule
  * that matters at 100 TB: **never compare all pairs**. Candidate
  * generation is always an equi-join on a derived key (content hash,
  * shared shingle, LSH band bucket, SimHash band, SRP bucket) so Spark
  * executes a shuffle-or-broadcast hash join, AQE handles skew, and cost is
  * O(candidates), not O(n²).
  */
object DedupOps {

  import TextOps._

  /** Materialize an intermediate that downstream joins consume more than
    * once (signature/posting tables). Without this, Spark re-evaluates the
    * whole expensive subtree — shingling, hashing, the rarity window —
    * once per consuming join side (up to 5× for the AllPairs plan), since
    * self-joins can't reuse a broadcast build of their own probe side.
    * This is the batch analogue of persisting the signature table, which
    * is also exactly what an LSH/AllPairs pipeline does at 100 TB scale
    * (one pass to build, many joins to consume); the lazy localCheckpoint
    * also truncates lineage so per-branch predicates can't push back into
    * the kernel stage.
    */
  private[operators] def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint(false)

  /** [[materialize]] that KEEPS the frame's hash partitioning across
    * the checkpoint. `Dataset.localCheckpoint` copies the physical
    * plan's `outputPartitioning` into the resulting LogicalRDD — but
    * under AQE the physical plan is an AdaptiveSparkPlanExec whose
    * partitioning reads Unknown until execution, so every checkpoint
    * taken under AQE reports UnknownPartitioning and every downstream
    * join/aggregate on the layout key pays a fresh exchange. Iterative
    * kernels (power iteration, connected components) hit this once per
    * round: each round is its own job, exchange reuse never applies
    * across jobs, and the static matrix frame was re-shuffled every
    * round. The checkpointed subtree is therefore planned with AQE off
    * on a cloned session (the caller's session conf is never written),
    * which makes the declared layout (`repartition(key)` upstream, or a
    * keyed aggregate) visible to every consumer; AQE stays on for the
    * consumers themselves.
    */
  private[graft] def materializeKeyed(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.SessionBridge
      .localCheckpointKeepingLayout(df)

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup: hash-groupBy on the normalized content hash, canonical
    * winner = lowest doc id (deterministic). One shuffle on a high-entropy
    * key — perfectly partitionable; map-side partial aggregation applies.
    */
  def exactDedup(idCol: String = "doc_id", textCol: String = "text")(
      df: DataFrame): DataFrame =
    df.select(contentHash(col(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  // --------------------------------------------------- n-gram Jaccard dedup

  /** Distinct k-token shingle set of a document — tight-loop kernel
    * ([[graft.functions.TextExprs.ShingleSet]]); no explode until the join
    * needs it.
    */
  def shingleSet(text: Column, k: Int): Column =
    graft.functions.TextExprs.shingleSet(tokens(text), k)

  /** N-gram Jaccard near-dup pairs: every pair `(a, b)` with `a < b`
    * whose distinct k-shingle hash sets have Jaccard `>= threshold`
    * (for threshold 0, every pair sharing a shingle), with the exact
    * intersection size `inter` and `jaccard = inter / (|A| + |B| −
    * inter)` in double. Both paths run the same AllPairs/PPJoin plan:
    *
    *  1. Global canonical shingle order = ascending (document frequency,
    *     shingle): rarest first.
    *  2. Prefix filter: J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉, so a qualifying
    *     partner must hit one of the first `|A| − ⌈t·|A|⌉ + 1` shingles
    *     of A in that order; only those prefix postings are joined.
    *  3. Positional filter: a hit on a shingle at ranks (rnA, rnB)
    *     bounds the overlap by 1 + min(|A| − rnA, |B| − rnB), and J ≥ t
    *     needs overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉. The FIRST shared prefix
    *     shingle of a true pair always passes (every common shingle
    *     ranks at or after it), so keeping a pair when ANY hit passes
    *     loses nothing, while deep-rank hits on boilerplate shingles
    *     stop seeding candidates.
    *  4. Candidates are verified with an exact sorted-merge intersect.
    *
    * Two paths compute it:
    *
    *  - **Driver**, when the input has at most `cellCap` shingle cells
    *    (a null, empty or too-short text counts as one), `doc_id` is a
    *    BIGINT, no two rows share a non-null `doc_id`, and the answer
    *    has at most `cellCap` pairs: one [[DriverModel.fetchArrays]]
    *    fetch of each row's `(doc_id, shingle hashes)` as flat primitive
    *    arrays, then the plan above over them (dense shingle ranks from
    *    one primitive hash table, int-array inverted prefix lists, a
    *    per-probe candidate mark, a verification merge that stops once
    *    the pair can no longer reach the threshold) and a local frame
    *    with the distributed path's schema. At sf0.1 (5,000 documents,
    *    261k cells) the corpus is model-sized and a distributed plan is
    *    all fixed per-job overhead.
    *  - **Distributed** otherwise: [[ngramJaccardDistributed]], the
    *    same plan as equi-joins. It is the reference the equivalence
    *    spec compares against, bit for bit.
    *
    * The paths return the same rows because the answer is a set
    * defined without reference to the plan: {(a < b) : J ≥ t}. Any
    * sound candidate generation finds all of it, verification is the
    * same integer count, and the same `inter.toDouble / (|A| + |B| −
    * inter).toDouble` division gives the same double bits. A null
    * `doc_id` never pairs on either path (its comparisons are NULL);
    * duplicate ids take the distributed path, whose per-row output
    * they shape.
    */
  def ngramJaccardPairs(k: Int = 3, threshold: Double = 0.5,
      cellCap: Int = DriverModel.DefaultCap)(df: DataFrame): DataFrame =
    hashJaccardPairs(threshold, cellCap)(shingleHashes(df, k))

  /** `(doc_id, shingles)`: each document's k-shingle hashes. */
  private def shingleHashes(df: DataFrame, k: Int): DataFrame =
    df.select(col("doc_id"), graft.functions.TextExprs.h15Array(
      shingleSet(col("text"), k)).as("shingles"))

  /** [[ngramJaccardPairs]] from a `(doc_id, shingles array<bigint>)`
    * frame of hash arrays; an array holds each of its hashes once or
    * more.
    */
  private[graft] def hashJaccardPairs(threshold: Double, cellCap: Int)(
      sets: DataFrame): DataFrame = {
    val id = sets.schema("doc_id")
    val onDriver = if (id.dataType != LongType) None else
      DriverModel.fetchArrays(sets, cellCap)
        .flatMap(ngramJaccardOnDriver(_, threshold, cellCap))
    onDriver match {
      case Some(pairs) =>
        sets.sparkSession.createDataFrame(pairs.toSeq.asJava, StructType(Seq(
          StructField("a", LongType, id.nullable),
          StructField("b", LongType, id.nullable),
          StructField("inter", LongType, sets.schema("shingles").nullable),
          StructField("jaccard", DoubleType))))
      case None => hashJaccardDistributed(threshold)(sets)
    }
  }

  /** The driver path of [[ngramJaccardPairs]] over the fetched rows,
    * one per document. None when two rows share a doc id or the answer
    * has more than `pairCap` pairs.
    */
  private def ngramJaccardOnDriver(m: DriverModel.ArrayRows,
      threshold: Double, pairCap: Int): Option[Array[Row]] = {
    // one dense doc per row; a NULL doc_id never pairs, so it gets none
    val docOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuilder.make[Long]
    val doc = new Array[Int](m.rows)
    var unique = true
    var r = 0
    while (unique && r < m.rows) {
      if (m.idNull(r)) doc(r) = -1
      else if (docOf.contains(m.ids(r))) unique = false
      else { doc(r) = docOf.size; docOf(m.ids(r)) = doc(r); ids += m.ids(r) }
      r += 1
    }
    if (!unique) None
    else {
      // every shingle cell counts in df, NULL-id rows too as in the
      // engine's posting; their doc is -1
      val hash = new Array[Long](m.bits.length)
      val cellDoc = new Array[Int](m.bits.length)
      var n = 0
      for (r <- 0 until m.rows) {
        var i = m.start(r)
        while (i < m.start(r + 1)) {
          if (!m.elemNull(i)) { hash(n) = m.bits(i); cellDoc(n) = doc(r); n += 1 }
          i += 1
        }
      }
      new AllPairs(ids.result(), java.util.Arrays.copyOf(hash, n),
        java.util.Arrays.copyOf(cellDoc, n), threshold).pairs(pairCap)
    }
  }

  /** The driver kernel of [[ngramJaccardPairs]] over primitive arrays:
    * shingle cells `(doc(i), hash(i))` of the docs `ids`, a doc of -1
    * counting in df only. Shingles become dense ranks in canonical
    * (df, shingle) order, each doc an ascending rank run of one CSR
    * array, and the prefix postings int-array lists.
    */
  private final class AllPairs(ids: Array[Long], hash: Array[Long],
      doc: Array[Int], threshold: Double) {
    private val nDocs = ids.length
    private val (rankOfCell, nRanks) = AllPairs.denseRanks(hash)
    // doc d's shingle ranks, ascending: ranks(start(d) until start(d + 1))
    private val start = new Array[Int](nDocs + 1)
    private val ranks = AllPairs.runs(doc, rankOfCell, start)
    private def size(d: Int): Int = start(d + 1) - start(d)
    // the engine's prefix bound, in the same double arithmetic
    private val prefix = Array.tabulate(nDocs) { d =>
      val sz = size(d)
      math.max(0L, math.min(sz.toLong,
        sz - math.ceil(threshold * sz).toLong + 1)).toInt
    }
    private val alpha = threshold / (1.0 + threshold)

    /** J ≥ t needs overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉, with the engine's
      * slack: double rounding never pushes it one above the exact value.
      */
    private def needed(a: Int, b: Int): Long =
      math.ceil(alpha * (size(a) + size(b)) - 1e-9).toLong

    /** |A ∩ B| over two docs' ascending rank runs, distinct values, or
      * -1 once even a match on every remaining cell stays below `need`.
      * A pair that can still reach it is counted in full.
      */
    private def inter(a: Int, b: Int, need: Long): Int = {
      var i = start(a); var j = start(b); var c = 0
      val ea = start(a + 1); val eb = start(b + 1)
      while (i < ea && j < eb) {
        if (c + math.min(ea - i, eb - j) < need) return -1
        val ra = ranks(i); val rb = ranks(j)
        if (ra < rb) i += 1
        else if (ra > rb) j += 1
        else {
          c += 1
          while (i < ea && ranks(i) == ra) i += 1
          while (j < eb && ranks(j) == rb) j += 1
        }
      }
      c
    }

    /** Every pair with Jaccard ≥ threshold as `(a, b, inter, jaccard)`
      * rows, or None past `cap` of them. Each doc probes the prefix
      * lists of the docs before it, then joins them.
      */
    def pairs(cap: Int): Option[Array[Row]] = {
      // inverted prefix lists: (doc, 1-based rank position) per shingle
      val listStart = new Array[Int](nRanks + 1)
      for (d <- 0 until nDocs; i <- 0 until prefix(d))
        listStart(ranks(start(d) + i) + 1) += 1
      for (r <- 0 until nRanks) listStart(r + 1) += listStart(r)
      val listEnd = listStart.clone()
      val entDoc = new Array[Int](listStart.last)
      val entPos = new Array[Int](listStart.last)
      // candidates of the current probe, each marked once
      val mark = Array.fill(nDocs)(-1)
      val cand = new Array[Int](nDocs)
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var x = 0
      while (x < nDocs && out.length <= cap) {
        val sx = size(x)
        var nc = 0
        var i = 0
        while (i < prefix(x)) {
          val r = ranks(start(x) + i)
          var e = listStart(r)
          while (e < listEnd(r)) {
            val y = entDoc(e)
            // positional filter: the overlap bound at this hit must
            // reach the overlap J ≥ t needs
            if (mark(y) != x &&
                1 + math.min(sx - i - 1, size(y) - entPos(e)) >= needed(x, y)) {
              mark(y) = x; cand(nc) = y; nc += 1
            }
            e += 1
          }
          i += 1
        }
        var c = 0
        while (c < nc) {
          val y = cand(c)
          val n = inter(x, y, needed(x, y))
          if (n >= 0) {
            val jaccard = n.toDouble / (sx + size(y) - n).toDouble
            if (jaccard >= threshold)
              out += Row(math.min(ids(x), ids(y)), math.max(ids(x), ids(y)),
                n.toLong, jaccard)
          }
          c += 1
        }
        i = 0
        while (i < prefix(x)) {
          val r = ranks(start(x) + i)
          entDoc(listEnd(r)) = x; entPos(listEnd(r)) = i + 1
          listEnd(r) += 1
          i += 1
        }
        x += 1
      }
      if (out.length <= cap) Some(out.toArray) else None
    }
  }

  /** [[AllPairs]]' set-up, kept out of its constructor so that the JIT
    * compiles each loop as a method of its own.
    */
  private object AllPairs {
    /** Each cell's dense shingle rank, and the number of ranks. One
      * open-addressing pass numbers the distinct hashes u in first-seen
      * order and counts their df; a rank is the place of (df(u), hash(u))
      * in canonical order, which sorts only the distinct hashes.
      */
    def denseRanks(hash: Array[Long]): (Array[Int], Int) = {
      val slots = Integer.highestOneBit(math.max(hash.length, 1)) << 2
      val mask = slots - 1
      val slotKey = new Array[Long](slots)
      val slotU = new Array[Int](slots)
      java.util.Arrays.fill(slotU, -1)
      def slotOf(h: Long): Int = {
        var p = java.lang.Long.hashCode(h * 0x9E3779B97F4A7C15L) & mask
        while (slotU(p) >= 0 && slotKey(p) != h) p = (p + 1) & mask
        p
      }
      val distinct = new Array[Long](hash.length)
      val df = new Array[Int](hash.length)
      val uOf = new Array[Int](hash.length)
      var nu = 0
      var i = 0
      while (i < hash.length) {
        val p = slotOf(hash(i))
        if (slotU(p) < 0) {
          slotKey(p) = hash(i); slotU(p) = nu; distinct(nu) = hash(i); nu += 1
        }
        uOf(i) = slotU(p)
        df(uOf(i)) += 1
        i += 1
      }
      // v = place in ascending hash order; then a stable order on df
      // packed into the high word
      val ascending = java.util.Arrays.copyOf(distinct, nu)
      java.util.Arrays.sort(ascending)
      val byRarity = new Array[Long](nu)
      var v = 0
      while (v < nu) {
        byRarity(v) = (df(slotU(slotOf(ascending(v)))).toLong << 32) | v
        v += 1
      }
      java.util.Arrays.sort(byRarity)
      val rankOfU = new Array[Int](nu)
      var rank = 0
      while (rank < nu) {
        rankOfU(slotU(slotOf(ascending(byRarity(rank).toInt)))) = rank
        rank += 1
      }
      i = 0
      while (i < uOf.length) { uOf(i) = rankOfU(uOf(i)); i += 1 }
      (uOf, nu)
    }

    /** Each doc's ranks as an ascending run of one CSR array; fills
      * `start`, of length docs + 1, with the run offsets.
      */
    def runs(doc: Array[Int], rankOfCell: Array[Int],
        start: Array[Int]): Array[Int] = {
      val nDocs = start.length - 1
      var i = 0
      while (i < doc.length) {
        if (doc(i) >= 0) start(doc(i) + 1) += 1
        i += 1
      }
      var d = 0
      while (d < nDocs) { start(d + 1) += start(d); d += 1 }
      val fill = start.clone()
      val ranks = new Array[Int](start(nDocs))
      i = 0
      while (i < doc.length) {
        if (doc(i) >= 0) { ranks(fill(doc(i))) = rankOfCell(i); fill(doc(i)) += 1 }
        i += 1
      }
      d = 0
      while (d < nDocs) {
        java.util.Arrays.sort(ranks, start(d), start(d + 1)); d += 1
      }
      ranks
    }
  }

  /** The distributed path of [[ngramJaccardPairs]]: the same plan as
    * equi-joins over materialized shingle sets and prefix postings.
    * Versus the naive full inverted index, the join fanout drops from
    * Σ df² over all shingles to Σ df_prefix² over mostly-rare ones,
    * which is what keeps it linear on stop-shingles at corpus scale.
    * All joins are equi-joins; AQE's skew splitting covers the residue.
    */
  private[graft] def ngramJaccardDistributed(k: Int, threshold: Double)(
      df: DataFrame): DataFrame =
    hashJaccardDistributed(threshold)(shingleHashes(df, k))

  /** [[ngramJaccardDistributed]] from the frame [[hashJaccardPairs]]
    * takes.
    */
  private[graft] def hashJaccardDistributed(threshold: Double)(
      hashes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // work on 60-bit shingle hashes throughout: long keys make the
    // posting shuffle, the rarity window, the prefix self-join, and the
    // verify intersect ~an order of magnitude cheaper than ~20-char
    // strings, and the oracle recomputes identical hashes
    val sets = materialize(hashes.select(col("doc_id"),
      graft.functions.TextExprs.sortedLongs(col("shingles")).as("shingles"))
      .withColumn("set_size", size(col("shingles"))))
    val posting = sets
      .select(col("doc_id"), col("set_size"),
        explode(col("shingles")).as("shingle"))
    val freq = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = materialize(posting.join(freq, Seq("shingle"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <=
        col("set_size") - ceil(lit(threshold) * col("set_size")) + 1)
      .select(col("shingle"), col("doc_id"), col("set_size"), col("rn")))
    val pa = prefix.select(col("shingle"), col("doc_id").as("a"),
      col("set_size").as("sz_a"), col("rn").as("rn_a"))
    val pb = prefix.select(col("shingle"), col("doc_id").as("b"),
      col("set_size").as("sz_b"), col("rn").as("rn_b"))
    val cand = pa.join(pb, Seq("shingle"))
      .filter(col("a") < col("b"))
      // positional filter: overlap upper bound at this hit must clear
      // the equivalent-overlap requirement α = ⌈t/(1+t)·(|A|+|B|)⌉.
      // The 1e-9 slack keeps double rounding from ever pushing α one
      // ABOVE its exact value (which would over-prune a true pair);
      // one below only admits an extra candidate for the exact verify
      .filter(lit(1) + least(col("sz_a") - col("rn_a"),
        col("sz_b") - col("rn_b")) >=
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("sz_a") + col("sz_b")) - lit(1e-9)))
      .select(col("a"), col("b")).distinct()
    val withSets = cand
      .join(sets.select(col("doc_id").as("a"), col("shingles").as("sh_a"),
        col("set_size").as("size_a")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("shingles").as("sh_b"),
        col("set_size").as("size_b")), Seq("b"))
    withSets
      .withColumn("inter", graft.functions.TextExprs.intersectCountSorted(
        col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      // inter as int64 to match the oracle's BIGINT count(*)
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        col("jaccard"))
  }

  // ----------------------------------------------------------- MinHash LSH

  /** 60-bit left rotation using only %, *, >> — no overflow in either
    * engine (the shifted-out high bits are isolated by the modulo first),
    * bit-identical in DuckDB.
    */
  def rotl60(x: Column, r: Int): Column =
    if (r % 60 == 0) x
    else (x % lit(1L << (60 - r % 60))) * lit(1L << (r % 60)) +
      shiftright(x, 60 - r % 60)

  /** Per-permutation salt, derived off the same md5 family (computed once
    * at plan build, embedded as a literal on both engines).
    */
  def permSalt(p: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"minperm:$p".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** MinHash signature: ONE md5 per shingle (the expensive part), then
    * `perms` cheap independent mixes (rotate + xor with a per-permutation
    * salt), each taking the min over the shingle set. Both stages are
    * single-pass kernels ([[graft.functions.TextExprs.H15Array]] /
    * [[graft.functions.TextExprs.MinhashSig]]): O(shingles) md5 +
    * O(perms·shingles) integer ops per row, zero shuffle — 16× less
    * hashing than an md5-per-permutation family and no per-element
    * interpreted-lambda dispatch, with candidates still verified by exact
    * Jaccard downstream.
    */
  def minhashSignature(shingles: Column, perms: Int): Column =
    graft.functions.TextExprs.minhashSig(
      graft.functions.TextExprs.h15Array(shingles), perms)

  /** MinHash + LSH banding: signature of `bands·rows` permutations, band
    * key = hash of each `rows`-slice; docs sharing any band key become
    * candidates (equi-join on (band, key)); candidates are verified with
    * the exact Jaccard of their shingle sets. Standard LSH guarantee:
    * P(candidate) = 1-(1-j^rows)^bands.
    *
    * Emits (a, b, jaccard) for verified pairs ≥ threshold. The band join is
    * an equi-join on a 60-bit bucket — uniform, shuffle-friendly; the
    * verify step only touches surviving candidates.
    */
  /** Hashed shingle sets — the verification payload of every MinHash
    * path (cheap long joins/intersects; the oracle recomputes identical
    * hashes).
    */
  private def mhSets(df: DataFrame, k: Int): DataFrame =
    materialize(df.select(col("doc_id"),
      graft.functions.TextExprs.sortedLongs(
        graft.functions.TextExprs.h15Array(shingleSet(col("text"), k)))
        .as("shingles")))

  /** Per-doc LSH band-key ARRAY (materialized): one signature pass
    * feeds both the exploded posting view ([[mhBands]] — the persisted
    * store layout) and the canonical-filtered self-join
    * ([[minhashCandidates]]), which needs every band key of BOTH docs
    * at the joined row to decide first-agreeing-band ownership.
    */
  private def mhKeyArrays(sets: DataFrame, bands: Int,
      rows: Int, keep: Seq[String] = Nil): DataFrame = {
    val sig = sets.withColumn("sig",
      graft.functions.TextExprs.minhashSig(col("shingles"), bands * rows))
    materialize(sig.select(col("doc_id") +: keep.map(col) :+
      array((0 until bands).map(b =>
        h15(concat_ws("_",
          slice(col("sig"), b * rows + 1, rows).cast("array<string>")))): _*)
        .as("band_keys"): _*))
  }

  /** (doc_id, band, band_key) rows from a shingle-set frame — the LSH
    * candidate-generation key, and the persisted fingerprint store's
    * band-table layout (incremental probes equi-join it directly).
    */
  private def mhBands(sets: DataFrame, bands: Int, rows: Int): DataFrame =
    mhKeyArrays(sets, bands, rows).select(col("doc_id"),
      posexplode(col("band_keys")).as(Seq("band", "band_key")))

  /** Exact-Jaccard verification tail shared by the batch and incremental
    * paths: join the shingle sets back onto the (a, b) candidates and
    * keep pairs at or above `threshold`.
    */
  private def mhVerify(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(setsA.select(col("doc_id").as("a"), col("shingles").as("sh_a")),
        Seq("a"))
      .join(setsB.select(col("doc_id").as("b"), col("shingles").as("sh_b")),
        Seq("b"))
      .withColumn("inter", graft.functions.TextExprs.intersectCountSorted(
        col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** Winnowing-based near-dup pairs: candidates share at least one
    * winnowed fingerprint (distinct `w`-window minima over the
    * positional `k`-shingle hashes — the SWA/MOSS sketch), verified
    * with exact Jaccard over the SAME distinct shingle-hash sets.
    *
    * Fingerprints occurring in more than `maxDf` distinct documents
    * are DROPPED from the candidate key first — the MOSS production
    * rule. Without it the equi-join fanout is Σ df² over fingerprint
    * postings, and boilerplate-grade fingerprints (a common phrase's
    * window minimum shared by thousands of docs) turn it quadratic —
    * measured 19 s at sf0.1 vs 1 s capped, and fatal at corpus scale.
    * The structural coverage guarantee (any shared `w+k-1`-token run
    * shares a fingerprint) then holds whenever the shared run yields
    * at least one sub-boilerplate fingerprint — true for any overlap
    * that is not itself corpus-wide boilerplate, which exact-Jaccard
    * verification would reject anyway. One scan computes sets AND
    * fingerprints; verification is the shared sorted-merge intersect.
    */
  def winnowingPairs(k: Int = 5, w: Int = 4, threshold: Double = 0.5,
      maxDf: Int = 50)(df: DataFrame): DataFrame = {
    val base = winnowBase(df, k, w)
    winnowingPairsFrom(
      materialize(base.select(col("doc_id"), explode(col("fps")).as("fp"))),
      base.select(col("doc_id"), col("shingles")), threshold, maxDf)
  }

  /** Per-doc winnowing fingerprint state — the ingest pass of the
    * winnowing family and the persisted store's row layout: distinct
    * sorted k-shingle hashes (the exact-Jaccard verification payload)
    * and distinct `w`-window minima (the MOSS/SWA candidate sketch).
    *
    * STAGE the hash array into its own projection: `__hs` is
    * referenced by three consumers below, and expressions inside a
    * higher-order-function lambda do not participate in codegen
    * subexpression elimination — inlining shingleHashes there
    * re-evaluates every md5 once per WINDOW element, O(n²) hashes per
    * doc (measured 25 s vs 0.5 s at sf0.1). The separate select keeps
    * it one evaluation per row: CollapseProject never merges a
    * non-cheap expression referenced more than once.
    */
  private def winnowBase(df: DataFrame, k: Int, w: Int): DataFrame =
    materialize(df.filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextOps.shingleHashes(tokens(col("text")), k).as("__hs"))
      .select(col("doc_id"),
        graft.functions.TextExprs.sortedLongs(
          array_distinct(col("__hs"))).as("shingles"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("__hs")) - w, lit(0))),
          i => array_min(slice(col("__hs"), i + 1, lit(w)))))
          .as("fps")))

  /** Candidate + verify tail shared by the scan and store paths: the
    * df-capped fingerprint equi-join (the MOSS production rule — see
    * [[winnowingPairs]]) then exact Jaccard over the shingle sets.
    */
  private def winnowingPairsFrom(fp: DataFrame, sets: DataFrame,
      threshold: Double, maxDf: Int): DataFrame = {
    val rare = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("fp"))
    val keyed = fp.join(rare, Seq("fp"))
    val cand = keyed.select(col("fp"), col("doc_id").as("a"))
      .join(keyed.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    mhVerify(cand, sets, sets, threshold)
  }

  /** Persist the winnowing fingerprint store — the [[buildMinhashStore]]
    * idiom for the winnowing family: the per-doc sketch ([[winnowBase]])
    * is computed ONCE at build; sets (verification payload) and the
    * exploded fingerprint postings (candidate key) land behind one
    * manifest pointer, with the build params (k, w) as a model table.
    * The df cap is NOT baked in: document frequency is a corpus-time
    * statistic, so `maxDf` remains a query knob. `dedup_winnowing`
    * re-fingerprinted the whole corpus every run — 0.31 s/copy at 100×,
    * all of it this build pass.
    */
  def buildWinnowingStore(docs: DataFrame, dir: String, k: Int = 5,
      w: Int = 4): Unit = {
    val spark = docs.sparkSession
    IndexManifest.publish(spark, dir) { vdir =>
      import spark.implicits._
      Seq((k, w)).toDF("k", "w")
        .coalesce(1).write.parquet(s"$vdir/params")
      val base = winnowBase(docs, k, w)
      base.select(col("doc_id"), col("shingles")).write.parquet(s"$vdir/sets")
      base.select(col("doc_id"), explode(col("fps")).as("fp"))
        .write.parquet(s"$vdir/fps")
    }
  }

  /** The store's persisted build parameters (k, w). */
  def winnowingStoreParams(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int) = {
    val r = IndexManifest.snapshot(spark, dir).model("params").head
    (r.getInt(0), r.getInt(1))
  }

  /** Full-corpus [[winnowingPairs]] served from a persisted store:
    * identical pair set by construction (same fingerprints, same df
    * cap applied at query time over the stored postings, same
    * exact-Jaccard verify from the stored sets) — text never re-read,
    * re-tokenized, re-hashed, or re-windowed.
    */
  def winnowingPairsStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double = 0.5, maxDf: Int = 50): DataFrame = {
    val snap = IndexManifest.snapshot(spark, dir)
    winnowingPairsFrom(materialize(snap.read("fps")),
      materialize(snap.read("sets")), threshold, maxDf)
  }

  def minhashLshPairs(k: Int = 2, bands: Int = 8, rows: Int = 2,
      threshold: Double = 0.5)(df: DataFrame): DataFrame = {
    val sets = mhSets(df, k)
    val cand = minhashCandidates(mhKeyArrays(sets, bands, rows), bands)
    mhVerify(cand, sets, sets, threshold)
  }

  /** Candidate pairs from the LSH band join, each emitted EXACTLY ONCE —
    * the canonical-band filter ([[simhashCandidates]]'s discipline,
    * applied to the minhash join): a pair agreeing on m of the `bands`
    * band keys used to reach the old `.distinct()` as m rows (m = 8 for
    * exact copies, and a 10-member near-dup family fed 45·8 = 360 rows
    * per family through that exchange), so on duplicate-heavy corpora
    * the distinct shuffled the DUPLICATED candidate volume — the
    * dominant exchange at 100×. Both posting sides now carry their full
    * band-key ARRAY (`bands` longs) through the join, and a joined row
    * survives only when its band is the pair's FIRST agreeing band
    * (unrolled integer compares inside the join's codegen stage, no
    * higher-order functions). Same candidate SET, zero distinct
    * exchange: downstream verification costs O(pairs), not O(m·pairs).
    * The posting exchange pays ~4× more bytes per row for the carried
    * array — corpus-linear either way, while the removed exchange grew
    * with duplication density. Takes the (doc_id, band_keys) frame so
    * tests can feed synthetic geometries.
    */
  private[graft] def minhashCandidates(keyed: DataFrame,
      bands: Int): DataFrame = {
    val banded = keyed.select(col("doc_id"), col("band_keys"),
      posexplode(col("band_keys")).as(Seq("band", "band_key")))
    val a = banded.select(col("band"), col("band_key"),
      col("doc_id").as("a"), col("band_keys").as("keys_a"))
    val b = banded.select(col("band"), col("band_key"),
      col("doc_id").as("b"), col("band_keys").as("keys_b"))
    // bands is small (8): an unrolled OR chain of guarded element_at
    // compares stays inside whole-stage codegen
    val agreesEarlier = (0 until bands).map(j =>
      col("band") > lit(j) &&
        element_at(col("keys_a"), j + 1) ===
          element_at(col("keys_b"), j + 1)).reduce(_ || _)
    a.join(b, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .filter(!agreesEarlier)
      .select(col("a"), col("b"))
  }

  /** Persist the MinHash fingerprint store — the dedup analogue of the
    * persisted IVF index, for the daily-ingest corpus: band keys (the
    * LSH candidate key) and hashed shingle sets (the verification
    * payload) are written ONCE; history is never re-shingled. Store
    * size is O(corpus) longs — a constant factor of the text bytes, not
    * a driver-side model. The build parameters (k, bands, rows) are a
    * model table and every later consumer — incremental probes, the
    * full pair miner, the pair flags — reads them back instead of taking
    * its own: a store built with non-default geometry can never be
    * silently probed with mismatched band keys.
    */
  def buildMinhashStore(docs: DataFrame, dir: String, k: Int = 2,
      bands: Int = 8, rows: Int = 2): Unit = {
    val spark = docs.sparkSession
    IndexManifest.publish(spark, dir) { vdir =>
      import spark.implicits._
      Seq((k, bands, rows)).toDF("k", "bands", "rows")
        .coalesce(1).write.parquet(s"$vdir/params")
      val sets = mhSets(docs, k)
      sets.write.parquet(s"$vdir/sets")
      mhBands(sets, bands, rows).write.parquet(s"$vdir/bands")
    }
  }

  /** The store's persisted build parameters (k, bands, rows). */
  def minhashStoreParams(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int) =
    minhashParams(IndexManifest.snapshot(spark, dir))

  private def minhashParams(snap: IndexManifest.Snapshot): (Int, Int, Int) = {
    val r = snap.model("params").head
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Incremental near-dup check of a new ingest batch AGAINST the
    * persisted store: the batch is shingled/banded once, equi-joined on
    * (band, band_key) against the stored band table, and candidates are
    * verified with exact Jaccard against the stored shingle sets.
    * Emits (a = store doc, b = new doc, jaccard). Scale shape: the
    * store side is a plain parquet scan joined on a uniform 60-bit
    * key — per-batch cost is O(batch + matched postings), independent
    * of history size except through the band join; the batch side is
    * tiny and broadcastable by AQE. The whole-corpus quadratic re-check
    * a naive daily dedup runs is gone.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val snap = IndexManifest.snapshot(newDocs.sparkSession, dir)
    val (k, bands, rows) = minhashParams(snap)
    val storeSets = snap.read("sets")
    val storeBands = snap.read("bands")
    val nsets = mhSets(newDocs, k)
    val nbands = mhBands(nsets, bands, rows)
    val cand = storeBands
      .select(col("band"), col("band_key"), col("doc_id").as("a"))
      .join(nbands.select(col("band"), col("band_key"),
        col("doc_id").as("b")), Seq("band", "band_key"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    mhVerify(cand, storeSets, nsets, threshold)
  }

  /** Full-corpus [[minhashLshPairs]] served from a persisted
    * [[buildMinhashStore]] directory — the standing-pipeline shape for
    * every downstream consumer of the verified near-dup pair set
    * (hard-negative exclusion, novelty scoring, cluster resolution):
    * raw text is never re-read, re-tokenized, or re-shingled; the
    * stored sorted shingle sets are BOTH the signature input (the
    * band-key recompute is a narrow per-row map over them — no
    * exchange) and the verification payload (the sorted-merge
    * intersect). Candidates go through the same canonical-band filter
    * as the batch path — each pair emitted from exactly one agreeing
    * band, zero distinct exchange — so the pair set is identical to
    * [[minhashLshPairs]] over the same documents by construction.
    * Band geometry comes from the store's persisted params, never from
    * the caller — a store built with non-default bands/rows can't be
    * silently mined with a different candidate set than its
    * incremental consumers probe.
    */
  def minhashLshPairsStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double = 0.5): DataFrame = {
    val snap = IndexManifest.snapshot(spark, dir)
    val (_, bands, rows) = minhashParams(snap)
    val sets = materialize(snap.read("sets"))
    val cand = minhashCandidates(mhKeyArrays(sets, bands, rows), bands)
    mhVerify(cand, sets, sets, threshold)
  }

  // --------------------------------------------------- dedup as a FILTER

  /** Near-dup membership test for an EXPLICIT pair list — dedup as a
    * filter, the shape a consumer with its own candidate set (a k-NN
    * edge list, a retrieval result, a labeling queue) actually needs:
    * whether (pa, pb) ∈ [[minhashLshPairs]] depends only on the TWO
    * documents' fingerprints — their band-key arrays agree at ≥ 1
    * position (the LSH candidate condition, positional) AND exact
    * Jaccard of their shingle sets ≥ `threshold` — so testing E pairs
    * is two doc-keyed equi-joins plus a per-row kernel: O(E + corpus
    * scan), never the corpus-wide band self-join that mines ALL pairs
    * (the r14 100× probe priced that at ~0.2 s/copy per consumer).
    * Pairs whose endpoints are absent from `docs` are non-members.
    * Adds boolean `flag` to `pairs` (columns `pa`, `pb`).
    */
  def minhashPairFlags(pairs: DataFrame, docs: DataFrame, k: Int = 2,
      bands: Int = 8, rows: Int = 2, threshold: Double = 0.5,
      flag: String = "is_textdup"): DataFrame =
    minhashPairFlagsFromSets(pairs, mhSets(docs, k), bands, rows,
      threshold, flag)

  /** [[minhashPairFlags]] served from a persisted [[buildMinhashStore]]
    * directory — the standing-pipeline shape: stored sorted shingle
    * sets are signature input AND verification payload (text never
    * re-read or re-shingled), band geometry comes from the store's
    * persisted params.
    */
  def minhashPairFlagsStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, pairs: DataFrame, threshold: Double = 0.5,
      flag: String = "is_textdup"): DataFrame = {
    val snap = IndexManifest.snapshot(spark, dir)
    val (_, bands, rows) = minhashParams(snap)
    minhashPairFlagsFromSets(pairs, materialize(snap.read("sets")),
      bands, rows, threshold, flag)
  }

  private def minhashPairFlagsFromSets(pairs: DataFrame, sets: DataFrame,
      bands: Int, rows: Int, threshold: Double,
      flag: String): DataFrame = {
    val fp = mhKeyArrays(sets, bands, rows, keep = Seq("shingles"))
    // bands is small: an unrolled OR chain stays in whole-stage codegen
    // (the minhashCandidates discipline)
    val bandHit = (0 until bands).map(j =>
      element_at(col("__ka"), j + 1) === element_at(col("__kb"), j + 1))
      .reduce(_ || _)
    pairs
      .join(fp.select(col("doc_id").as("pa"), col("band_keys").as("__ka"),
        col("shingles").as("__sa")), Seq("pa"), "left_outer")
      .join(fp.select(col("doc_id").as("pb"), col("band_keys").as("__kb"),
        col("shingles").as("__sb")), Seq("pb"), "left_outer")
      .withColumn("__inter", graft.functions.TextExprs.intersectCountSorted(
        col("__sa"), col("__sb")))
      // same jaccard expression as mhVerify — bit-identical decisions
      .withColumn(flag, coalesce(bandHit &&
        (col("__inter").cast("double") /
          (size(col("__sa")) + size(col("__sb")) - col("__inter"))
            .cast("double")) >= threshold, lit(false)))
      .drop("__ka", "__kb", "__sa", "__sb", "__inter")
  }

  /** [[embeddingNearDupPairs]] membership test for an explicit pair
    * list that already carries the pair's exact cosine in `cos` (a
    * k-NN edge list does): member ⟺ same SRP bucket ∧ cos ≥
    * `threshold`. One bucket map over the vectors (n rows), two
    * id-keyed joins — O(E), no bucket self-join. The sub-bucket
    * guardrail condition is deliberately NOT replayed: this is the
    * semantic ideal the guardrail approximates, so where splitting
    * engages the flag is a SUPERSET of the mined pair set (it loses
    * nothing). Adds boolean `flag` to `pairs` (columns `pa`, `pb`).
    */
  def embeddingPairFlags(pairs: DataFrame, vecs: DataFrame,
      threshold: Double, planes: Int, dim: Int = 64,
      flag: String = "is_embdup"): DataFrame = {
    val b = materialize(vecs.select(col("vec_id"),
      SimilarityOps.srpBucket(col("embedding"), planes, dim).as("__srp")))
    pairs
      .join(b.select(col("vec_id").as("pa"), col("__srp").as("__srp_a")),
        Seq("pa"), "left_outer")
      .join(b.select(col("vec_id").as("pb"), col("__srp").as("__srp_b")),
        Seq("pb"), "left_outer")
      .withColumn(flag, coalesce(col("__srp_a") === col("__srp_b") &&
        col("cos") >= threshold, lit(false)))
      .drop("__srp_a", "__srp_b")
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: per token a 60-bit hash votes
    * ±1 on each bit; simhash bit b is set iff the vote sum is positive.
    * Integer folds only — order-independent, oracle-exact. Array
    * expressions per row; no shuffle.
    */
  def simhash(text: Column): Column =
    graft.functions.VectorExprs.simhash60(tokens(text))

  /** SimHash near-dup pairs: pigeonhole banding — split the 60 bits into
    * `chunks` equal chunks; a pair within Hamming distance `maxHamming <
    * chunks` mismatches at most `maxHamming` chunks, so it AGREES on at
    * least `chunks - maxHamming`. Candidates come from an equi-join on a
    * band key, verified with exact `bit_count(xor) <= maxHamming` — never
    * an all-pairs pass.
    *
    * Band-key geometry is chosen for scale, not just correctness: with
    * narrow chunks the single-chunk key has only `chunks · 2^bitsPer`
    * distinct values (e.g. 10 chunks of 6 bits = 640 keys → candidate
    * volume ~n²/64 per chunk — quadratic at corpus scale). Whenever the
    * pigeonhole guarantees ≥ 2 agreeing chunks, we instead join on every
    * *pair* of chunks (Manku et al., WWW'07 "combinations of blocks"):
    * C(chunks,2) combos of width 2·bitsPer, e.g. (8,10) → 45·2^12 ≈ 184k
    * distinct keys — a 288× smaller candidate volume for a 4.5× larger
    * (still linear) posting table. Defaults (3,4) are the standard
    * near-dup geometry: 15-bit bands, 4·2^15 ≈ 131k keys.
    *
    * The result is EXACT for any geometry (banding only affects the
    * candidate set, which provably contains every qualifying pair).
    */
  def simhashPairs(maxHamming: Int = 3, chunks: Int = 4)(
      df: DataFrame): DataFrame = {
    val sh = df.select(col("doc_id"), simhash(col("text")).as("sh"))
    simhashPairsFromSketch(maxHamming, chunks)(sh)
  }

  /** [[simhashPairs]] over a precomputed `(doc_id, sh)` sketch frame. */
  def simhashPairsFromSketch(maxHamming: Int, chunks: Int)(
      sh: DataFrame): DataFrame =
    simhashCandidates(maxHamming, chunks)(sh)
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))

  /** Candidate pairs from pigeonhole banding (pre-verification) — exposed
    * so tests can assert the candidate-volume bound that makes the
    * operator scale.
    *
    * Canonical-band filter (the positional-filter analogue for banded
    * Hamming join, r12 verdict ask #2): a near-identical pair agrees on
    * MANY chunks, so the band join emits it from up to C(chunks,2)
    * combos, and the old `.distinct()` shuffled that duplicated volume —
    * at 100× a corpus of exact copies multiplied every true pair ×45
    * through the exchange before collapsing it. Instead, each joined row
    * recomputes the pair's agreeing-chunk bitmask from `sh_a ^ sh_b`
    * (pure integer ops on two longs, inside the join's codegen stage)
    * and survives only when its own combo is the pair's lexicographically
    * FIRST agreeing combo. Every pair that meets in ≥1 band then flows
    * downstream exactly once — same candidate SET, no distinct exchange,
    * and duplicate-heavy corpora cost O(pairs), not O(45·pairs).
    */
  private[graft] def simhashCandidates(maxHamming: Int, chunks: Int)(
      sh: DataFrame): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    val bitsPer = 60 / chunks
    val agree = chunks - maxHamming
    def chunkVal(c: Int): Column =
      shiftright(col("sh"), c * bitsPer).bitwiseAND((1L << bitsPer) - 1)
    // band keys: chunk pairs when ≥2 agreements are guaranteed and single
    // chunks are too narrow to partition the corpus (< 12 bits)
    val comboKeys = agree >= 2 && bitsPer < 12
    val combos: Seq[(Int, Int)] =
      for (i <- 0 until chunks; j <- i + 1 until chunks) yield (i, j)
    val keys: Seq[Column] =
      if (comboKeys)
        combos.map { case (i, j) =>
          chunkVal(i) * (1L << bitsPer) + chunkVal(j)
        }
      else (0 until chunks).map(chunkVal(_))
    val banded = sh.select(col("doc_id"), col("sh"),
      posexplode(array(keys: _*)).as(Seq("chunk", "chunk_val")))
    val a = banded.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("a"), col("sh").as("sh_a"))
    val b = banded.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("b"), col("sh").as("sh_b"))
    // bit k of agreeMask set ⟺ the pair agrees on chunk k
    val xorSh = col("sh_a").bitwiseXOR(col("sh_b"))
    val agreeMask = (0 until chunks).map { k =>
      when(shiftright(xorSh, k * bitsPer)
        .bitwiseAND((1L << bitsPer) - 1) === 0L, lit(1L << k))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    // keep a joined row only when its band is the pair's first agreeing
    // band. Combo branch: combo c = (i_c, j_c) is first ⟺ the two LOWEST
    // agreeing chunks are exactly i_c and j_c, i.e. the mask below j_c is
    // the single bit i_c. Single-chunk branch: no agreeing chunk below c.
    val canonical =
      if (comboKeys)
        agreeMask.bitwiseAND(element_at(
          array(combos.map { case (_, j) => lit((1L << j) - 1) }: _*),
          col("chunk") + 1)) === element_at(
          array(combos.map { case (i, _) => lit(1L << i) }: _*),
          col("chunk") + 1)
      else
        agreeMask.bitwiseAND(element_at(
          array((0 until chunks).map(c => lit((1L << c) - 1)): _*),
          col("chunk") + 1)) === 0L
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("a") < col("b"))
      .filter(canonical)
      .select(col("a"), col("b"), col("sh_a"), col("sh_b"))
  }

  // ---------------------------------------------- embedding-cosine near-dup

  /** Sequential double-precision dot product — custom codegen kernel
    * ([[graft.functions.VectorExprs.DotProduct]]); bit-identical to the
    * left-to-right fold DuckDB's list_reduce performs.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Embedding-cosine near-dup pairs. Candidate generation by SRP-LSH
    * (sign-random-projection buckets, see [[SimilarityOps.srpBucket]]);
    * verification by exact cosine ≥ threshold. Join is equi on the bucket.
    * Norms are computed once per vector BEFORE the join (n rows), not per
    * candidate pair (n² worst case) — same value, divided out after the
    * per-pair dot product.
    */
  // --------------------------------------------------- duplicate-span dedup

  /** Substring-level duplicate coverage — the span analogue of Lee et
    * al.'s "Deduplicating Training Data" suffix-array dedup, at k-gram
    * resolution: a token position counts as DUPLICATED when it starts a
    * k-shingle that also occurs in at least one OTHER document (catching
    * copied spans at any offset, unlike the fixed [[CorpusOps.segments]]
    * grid). Emits per-doc duplicated-token counts and gates on the share.
    *
    * Scale shape — the posting-list geometry of [[ngramJaccardPairs]],
    * never quadratic: positional shingles explode (a narrow map), the df
    * aggregate is map-side partial on the 60-bit shingle hash, only
    * hashes seen in ≥2 docs flow into the join back, and coverage is one
    * ordered-list aggregate per doc. The exploded view is deliberately
    * not checkpointed (same trade as [[CorpusOps.segmentDedup]]:
    * re-scanning a narrow map beats materializing a corpus-sized
    * exploded table). Interval merge is exact integer math — sorted
    * starts s_i contribute min(k, s_{i+1} − s_i) each and the last one
    * min(k, n − s_last) — so overlapping spans never double-count and
    * both engines agree bitwise.
    */
  def duplicateSpans(k: Int, maxDupRatio: Double)(docs: DataFrame)
      : DataFrame = {
    val toks = tokens(col("text"))
    val pos = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        posexplode(TextOps.shingleHashes(toks, k)).as(Seq("pos", "sh")))
    val dupSh = pos.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("sh"))
    val covered = pos.join(dupSh, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("__n"),
        array_sort(collect_list(col("pos"))).as("__s"))
      .select(col("doc_id"),
        (aggregate(
          zip_with(
            slice(col("__s"), lit(1), greatest(size(col("__s")) - 1, lit(0))),
            slice(col("__s"), lit(2), greatest(size(col("__s")) - 1, lit(0))),
            (a, b) => least(b - a, lit(k))),
          lit(0L), (acc, x) => acc + x.cast("long")) +
          least(lit(k.toLong),
            col("__n") - element_at(col("__s"), -1).cast("long")))
          .as("dup_tokens"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_ratio"))
      .withColumn("keep", col("dup_ratio") <= lit(maxDupRatio))
  }

  /** SemDeDup-style semantic near-dup pairs: cluster the corpus under a
    * trained k-means model ([[SimilarityOps.assignCells]] — a pure map
    * over literal centroid state), then verify exact cosine ≥ threshold
    * WITHIN each cluster. Candidates are a self-equi-join on the cell
    * key, so candidate volume is Σ|cell|² and the cluster count k is
    * the scale knob: production SemDeDup picks k ≈ N / target-cluster-
    * size so each cell's pair block stays bounded (the paper's 50k
    * clusters over LAION); the corpus shuffles exactly once, on `cell`.
    * Near-dups straddling a cluster boundary are invisible by design —
    * that recall trade IS SemDeDup (vs the all-bucket SRP geometry of
    * [[embeddingNearDupPairs]], which catches them with planes-bit
    * buckets instead of semantic cells).
    */
  def semanticNearDupPairs(centroids: DataFrame, threshold: Double,
      cellCap: Long = SimilarityOps.CellPairCap)(
      df: DataFrame): DataFrame = {
    // sub-bucket oversized cells (inert below the cap — see
    // SimilarityOps.bucketizeCells for the misconfigured-model
    // guardrail contract)
    val assigned = SimilarityOps.bucketizeCells(cellCap)(
      SimilarityOps.assignCells(centroids)(df))
    val a = assigned.select(col("cell"), col("__bkt"),
      col("vec_id").as("a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cell"), col("__bkt"),
      col("vec_id").as("b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.join(b, Seq("cell", "__bkt"))
      .filter(col("a") < col("b"))
      .withColumn("cos", dot(col("e_a"), col("e_b")) /
        (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cell"), col("cos"))
  }

  /** DBSCAN over embeddings, with the eps-neighborhood generated
    * within trained cells (the [[semanticNearDupPairs]] geometry —
    * same cross-cell recall trade, documented there): `eps` is a
    * cosine-SIMILARITY floor, a neighbor is a within-cell vector with
    * cos ≥ eps, a CORE point has ≥ `minPts` neighbors (self excluded —
    * the convention both engines replay), clusters are connected
    * components over core–core edges (min-reachable-id labels), and a
    * BORDER point is a non-core with ≥ 1 core neighbor, assigned the
    * smallest cluster id among its core neighbors (deterministic at
    * any partitioning — plain DBSCAN leaves this assignment
    * order-dependent). Everything else is noise (cluster NULL —
    * honest, not a sentinel). Scale shape: candidate volume is the
    * cell-bounded Σ|cell|²; the degree count and border argmin are
    * map-side-combined aggregates on the pair frame; the CC loop runs
    * on the (much smaller) core–core edge set.
    */
  def dbscan(centroids: DataFrame, eps: Double, minPts: Int)(
      df: DataFrame): DataFrame = {
    val pairs = materialize(
      semanticNearDupPairs(centroids, eps)(df).select(col("a"), col("b")))
    // symmetrized frame materialized ONCE: both its consumers (the
    // degree groupBy and the border anti-join) otherwise re-evaluated
    // the 2·|pairs| union from the pairs checkpoint independently. A
    // keyed variant (repartition(id) + partitioning-preserving
    // checkpoint) was measured 2.8× SLOWER at verify scale — it pins 32
    // near-empty tasks per consumer where AQE-coalesced exchanges adapt
    // to the live size — so the consumers keep their own (coalesced)
    // exchanges.
    val sym = materialize(
      pairs.select(col("a").as("id"), col("b").as("nb"))
        .unionAll(pairs.select(col("b").as("id"), col("a").as("nb"))))
    val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("n_nbrs"))
    val core = materialize(
      deg.filter(col("n_nbrs") >= minPts).select(col("id")))
    val coreEdges = pairs
      .join(core.select(col("id").as("a")), Seq("a"))
      .join(core.select(col("id").as("b")), Seq("b"))
      .select(col("a"), col("b"))
    val comp = GraphOps.connectedComponents(coreEdges)
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreCl = core.join(comp, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id"))
        .as("cluster"))
      .localCheckpoint(false) // consumed by the border argmin AND final
    val borderCl = sym
      .join(core, Seq("id"), "left_anti")
      .join(coreCl.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    df.select(col("vec_id"))
      .join(coreCl.select(col("id").as("vec_id"),
        col("cluster").as("core_cl")), Seq("vec_id"), "left_outer")
      .join(borderCl.select(col("id").as("vec_id"),
        col("cluster").as("border_cl")), Seq("vec_id"), "left_outer")
      .join(deg.select(col("id").as("vec_id"), col("n_nbrs")),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
        when(col("core_cl").isNotNull, lit("core"))
          .when(col("border_cl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cl"), col("border_cl")).as("cluster"))
  }

  def embeddingNearDupPairs(threshold: Double, planes: Int = 8,
      dim: Int = 64, bucketCap: Long = SimilarityOps.CellPairCap)(
      df: DataFrame): DataFrame =
    embeddingNearDupPairsWithNorm(threshold, planes, dim, bucketCap)(
      df.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm")))

  /** [[embeddingNearDupPairs]] over a frame that already carries each
    * vector's norm — the persisted-index read path
    * ([[SimilarityOps.readIndex]] stores `nrm` beside the embedding),
    * where recomputing the norm per consumer would waste the ingest
    * work the store exists to amortize.
    */
  def embeddingNearDupPairsWithNorm(threshold: Double, planes: Int = 8,
      dim: Int = 64, bucketCap: Long = SimilarityOps.CellPairCap)(
      df: DataFrame): DataFrame = {
    // the SRP bucket count (2^planes) is this operator's scale knob,
    // exactly like the SemDeDup cell count: planes must grow with the
    // corpus or in-bucket pair volume goes quadratic (the 100x probe
    // measured 1.56x-per-decade growth at fixed planes). The same
    // sub-bucket guardrail bounds the worst case at N*cap; inert below
    // the cap, so verify-scale results and oracles are untouched.
    val withBucket = SimilarityOps.bucketizeCells(bucketCap, "bucket",
      dim = dim)(
      df.select(col("vec_id"), col("embedding"), col("nrm"),
        SimilarityOps.srpBucket(col("embedding"), planes, dim)
          .as("bucket")))
    val a = withBucket.select(col("bucket"), col("__bkt"),
      col("vec_id").as("a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = withBucket.select(col("bucket"), col("__bkt"),
      col("vec_id").as("b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.join(b, Seq("bucket", "__bkt"))
      .filter(col("a") < col("b"))
      .withColumn("cos", dot(col("e_a"), col("e_b")) /
        (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
