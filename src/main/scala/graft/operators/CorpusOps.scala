package graft.operators

import graft.operators.TextOps.tokens
import graft.sources.IndexManifest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * between curation and the trainer: boilerplate segment removal,
  * sequence packing, and benchmark-contamination detection. Not in the
  * reference (SURVEY.md §2.1 absence audit) — scale-extension surface,
  * same determinism discipline as [[TextOps]] so every query is strictly
  * oracle-checked.
  */
object CorpusOps {

  // ------------------------------------------ boilerplate segment removal

  /** Fixed-width token segments — the dedup unit of line/paragraph
    * boilerplate removal (CCNet-style). Real corpora segment on newlines;
    * the synthetic fixture is single-line, so the unit is every
    * `segTokens` consecutive tokens. Pure array expression, no explode.
    */
  def segments(text: Column, segTokens: Int): Column = {
    val toks = tokens(text)
    transform(
      sequence(lit(0), ((size(toks) - 1) / segTokens).cast("int")),
      i => concat_ws(" ", slice(toks, i * segTokens + 1, lit(segTokens))))
  }

  /** The offline boilerplate MODEL: the distinct segments occurring in
    * >= `maxDf` distinct documents. One hash aggregate; the output is
    * small by construction (every entry repeats across docs).
    */
  def boilerplateSegments(docs: DataFrame, segTokens: Int = 16,
      maxDf: Int = 2): DataFrame =
    docs.select(col("doc_id"),
        explode(segments(col("text"), segTokens)).as("seg"))
      .groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= maxDf)
      .select(col("seg"))

  /** Scala replica of [[TextOps.tokens]]' EXACT semantics, for the
    * broadcast-set UDFs: Spark's `trim` strips ONLY spaces (Java
    * `String.trim` strips every char <= U+0020) and Spark's `split`
    * keeps trailing empty tokens (Java's default drops them). A
    * different tokenizer here would shift the offline model's segment
    * grid against the online apply and silently stop matching.
    */
  private[graft] def tokenizeLikeSpark(text: String): Array[String] = {
    val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    t.split("\\s+", -1)
  }

  /** ONLINE application of the offline-built model: rewrite each document
    * with its boilerplate segments removed. The model ships as a
    * broadcast hash set probed O(1) per segment — the same
    * executor-resident shape as a broadcast-join build side, which is
    * why this is a scalar UDF rather than `array_contains` over a
    * literal array (O(|model|) per segment) or a join (an explode +
    * re-aggregate that a streaming plan would need extra state for).
    * Pure per-row map ⇒ runs unchanged in Structured Streaming — the
    * batch-built model gating a live stream, the standard
    * train-offline/apply-online split.
    */
  def stripBoilerplate(boiler: Set[String], segTokens: Int = 16)(
      docs: DataFrame): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(boiler)
    val strip = udf { (text: String) =>
      if (text == null) null
      else tokenizeLikeSpark(text).grouped(segTokens)
        .map(_.mkString(" ")).filterNot(bc.value).mkString(" ")
    }
    docs.withColumn("text", strip(col("text")))
  }

  /** JOIN-based apply of the boilerplate model, for models too large to
    * ship as a driver Set ([[stripBoilerplate]] assumes the model fits
    * in driver memory — true for bounded top-V vocabularies and eval
    * shingles, but a web-corpus boilerplate table can reach GBs). The
    * corpus explodes to (doc_id, seg_no, seg), LEFT-ANTI joins the model
    * frame on the segment key (Catalyst/AQE picks broadcast while the
    * model fits, degrading to a sort-merge anti-join — the only case
    * where the exploded corpus shuffles on the segment key — beyond
    * that), and each doc's kept segments reassemble in order. Output ≡
    * the UDF path bit-for-bit (parity-tested), including all-boilerplate
    * docs ("") and null text (null).
    *
    * Scale shape with a broadcast-able model: the anti-join is map-side;
    * the corpus shuffles only on doc_id (rebuild + restore join, same
    * key both times). The UDF path stays preferable for small models —
    * zero shuffles and streaming-safe — which is why [[stripBoilerplateAuto]]
    * switches on model size.
    */
  def stripBoilerplateJoin(model: DataFrame, segTokens: Int = 16)(
      docs: DataFrame): DataFrame = {
    val segs = docs.select(col("doc_id"),
      posexplode(segments(col("text"), segTokens)).as(Seq("seg_no", "seg")))
    val rebuilt = segs
      .join(model.select(col("seg")), Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("seg_no"), col("seg")))),
        e => e.getField("seg"))).as("__kept"))
    docs.join(rebuilt, Seq("doc_id"), "left_outer")
      .withColumn("text",
        when(col("text").isNotNull, coalesce(col("__kept"), lit(""))))
      .drop("__kept")
  }

  /** Size-aware model apply: the broadcast-set UDF (zero shuffles,
    * streaming-safe) while the model fits comfortably on the driver,
    * the frame join beyond `maxDriverModel` entries. The size probe is
    * bounded — it counts at most maxDriverModel+1 model rows, never the
    * full model.
    */
  def stripBoilerplateAuto(model: DataFrame, segTokens: Int = 16,
      maxDriverModel: Long = 1000000L)(docs: DataFrame): DataFrame = {
    // one model evaluation: the probe rows ARE the collected model when
    // they fit
    DriverModel.collectBounded(model, driverCap(maxDriverModel)) match {
      case Some(rows) =>
        stripBoilerplate(rows.map(_.getString(0)).toSet, segTokens)(docs)
      case None => stripBoilerplateJoin(model, segTokens)(docs)
    }
  }

  /** Remove segments that occur in >= `maxDf` DISTINCT documents (the
    * "frequent line" boilerplate rule). Returns one row per doc with the
    * segment counts and the md5 of the re-joined kept text.
    *
    * Scale shape: segment df is ONE hash aggregate (map-side partial);
    * the boilerplate set joins back on the segment key (AQE may broadcast
    * it — boilerplate is small by construction since each entry repeats
    * across >= maxDf docs); doc reassembly is the final hash aggregate on
    * doc_id. Three shuffles total, none keyed on anything that grows
    * faster than the corpus. The exploded segment view is deliberately
    * NOT checkpointed even though two branches (df count + join-back)
    * consume it: tokenize+slice is a narrow codegen'd map, so scanning
    * the corpus twice is far cheaper at scale than materializing a
    * corpus-sized exploded table onto executor disks.
    */
  def segmentDedup(docs: DataFrame, segTokens: Int = 16, maxDf: Int = 2)
      : DataFrame = {
    val segs = docs
      .select(col("doc_id"),
        posexplode(segments(col("text"), segTokens)).as(Seq("seg_no", "seg")))
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= maxDf)
      .select(col("seg"), lit(true).as("__boiler"))
    segs.join(boiler, Seq("seg"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("__boiler").isNull, 1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("seg_no"), col("seg"))))),
          e => e.getField("seg")))).as("kept_hash"))
  }

  /** ONLINE contamination gate: drop documents sharing any `k`-token
    * shingle with the (broadcast) eval-set shingles — the streaming
    * counterpart of [[contamination]], for keeping benchmark text out of
    * a live ingestion path. Same broadcast-set probe + pure per-row map
    * as [[stripBoilerplate]]; `exists` short-circuits on the first HIT,
    * so contaminated docs are cheap while a clean doc pays the full
    * shingle scan — the per-row cost on a mostly-clean stream is
    * O(tokens) set probes.
    */
  def contaminationGate(evalShingles: Set[String], k: Int = 8)(
      docs: DataFrame): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(evalShingles)
    val contaminated = udf { (text: String) =>
      text != null &&
        tokenizeLikeSpark(text).sliding(k).map(_.mkString(" "))
          .exists(bc.value)
    }
    docs.filter(!contaminated(col("text")))
  }

  // ------------------------------------------------------- vocabulary gate

  /** The vocabulary MODEL: the top-`v` tokens by corpus frequency (ties
    * to the lexicographically smaller token — deterministic). One hash
    * aggregate + a global top-v (TakeOrderedAndProject — v rows to the
    * driver, never a full sort).
    */
  def vocabulary(docs: DataFrame, v: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(v)
      .select(col("token"))

  /** ONLINE application: per-doc out-of-vocabulary token share — the
    * deterministic stand-in for an LM-perplexity quality gate (CCNet
    * trains a KenLM; an engine-exact oracle needs no transcendentals, and
    * OOV share ranks garbage/wrong-language docs the same direction).
    * Same broadcast-set O(1)-probe shape as [[stripBoilerplate]]; pure
    * per-row map ⇒ batch ≡ streaming.
    */
  def oovRatio(vocab: Set[String])(docs: DataFrame): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val ratio = udf { (text: String) =>
      val toks = tokenizeLikeSpark(text)
      toks.count(t => !bc.value.contains(t)).toDouble / toks.length
    }
    // null-text docs carry no tokens: dropped, matching the oracle's
    // unnest (which emits no rows for them)
    docs.filter(col("text").isNotNull)
      .withColumn("oov_ratio", ratio(col("text")))
  }

  // -------------------------------------------------- shard order + tf-idf

  /** Deterministic training-shard assignment and intra-shard order: the
    * "global shuffle" a trainer wants before writing output shards,
    * WITHOUT a global sort. Shard = salted portable hash mod nShards
    * (uniform and reproducible across runs, engines and cluster
    * layouts — the [[TextOps.hashSample]] contract); position = rank of
    * the hash within the shard, ties to the lower doc id. ONE shuffle
    * (the per-shard rank window, nShards-way parallel — never an
    * `Exchange SinglePartition`); a writer partitionBy(shard) then
    * streams files in (shard, pos) order for a reproducible global
    * visit order.
    */
  def shardOrder(nShards: Int, salt: String = "shard")(docs: DataFrame)
      : DataFrame = {
    require(nShards > 0, "need at least one shard")
    val h = graft.functions.PortableHash.h15(concat(lit(s"$salt:"),
      col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col("doc_id"))
    docs.select(col("doc_id"),
        pmod(h, lit(nShards.toLong)).as("shard"), h.as("__h"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Per-document top-`k` salient terms by TF-IDF with a RATIONAL
    * inverse document frequency (tf · N/df instead of tf · ln(N/df)):
    * `ln` is not an exactly-rounded IEEE op, so like
    * [[bigramLmScore]] the score stays transcendental-free for the
    * bit-exact oracle — N/df preserves the "rarer ⇒ more salient"
    * direction, compressing less than the log. Shape: tokens explode
    * to (doc, term) tf pairs (one hash aggregate), df derives from
    * that same frame grouped by term, N is a 1-row broadcast (the
    * Q22 scalar pattern), and the per-doc top-k is a window keyed on
    * doc_id — every shuffle keyed on something corpus-proportional,
    * never a global sort.
    */
  def tfidfTopTerms(k: Int)(docs: DataFrame): DataFrame = {
    // materialized: both the df derivation and the score join consume
    // this frame — without the checkpoint the tokenize+explode+count
    // kernel re-evaluates once per branch (the posting-list discipline
    // of DedupOps.materialize)
    val tf = DedupOps.materialize(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf").cast("double") * col("__n").cast("double")) /
          col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  // ----------------------------------------- leakage-proof train/val split

  /** Deterministic train/val/test assignment keyed on the CONTENT hash,
    * not the document id: byte-identical duplicates (after
    * [[TextOps.normalized]] canonicalization) land in the SAME split by
    * construction, so exact-duplicate eval leakage is impossible even
    * when dedup runs after splitting — the classic failure of
    * id/random-keyed splits on a corpus with near-50 whole-document
    * duplicates per 500 docs. Same portable-hash discipline as
    * [[TextOps.hashSample]]: stable across runs, clusters, and engines;
    * a pure scan-side map (zero shuffles, trivially batch ≡ streaming);
    * fractions tunable per split.
    */
  def splitLeakproof(trainPct: Int = 80, valPct: Int = 10)(
      docs: DataFrame): DataFrame = {
    import graft.functions.PortableHash.h15
    val ch = TextOps.contentHash(col("text"))
    val bucket = pmod(h15(concat(lit("split:"), ch)), lit(100L))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ch.as("content_hash"),
        when(bucket < trainPct, lit("train"))
          .when(bucket < trainPct + valPct, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  // ----------------------------------------------------- BM25 text search

  /** BM25-ranked full-text retrieval — the search workload the reference
    * feeds Elasticsearch for, run natively on the corpus: given literal
    * query-term sets, rank documents by a BM25 score with the classic
    * tf saturation `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` and a RATIONAL
    * idf `(N−df+0.5)/(df+0.5)` (the un-logged Robertson idf ratio —
    * `ln` is not an exactly-rounded IEEE op, so like [[tfidfTopTerms]]
    * the score stays transcendental-free; the ratio preserves the
    * rarer ⇒ heavier direction, compressing less than the log).
    *
    * Determinism: every per-term weight is fixed-pointed to
    * `floor(1e6·w)` as int64 BEFORE the per-doc sum, so the document
    * score is an ORDER-FREE integer sum — no IEEE addition-order hazard
    * across partitions or engines (the float ops inside a single term
    * weight are divisions/multiplies of exact inputs, each exactly
    * rounded, in one pinned association order the oracle mirrors).
    *
    * Scale shape: the materialized (doc, term, tf) frame IS the inverted
    * index (built once, searched many — the posting-list discipline of
    * [[tfidfTopTerms]]); doc length derives from that same frame by a
    * sum, not a second tokenize pass; df is vocabulary-bounded; the
    * literal query set broadcasts into the term equi-join so only
    * matching postings survive the scan; the one corpus-keyed shuffle is
    * the per-query top-k window.
    */
  def bm25Search(queryTerms: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75)(docs: DataFrame): DataFrame =
    bm25RankFromTf(DedupOps.materialize(bm25Postings(docs)),
      queryTerms, k, k1, b)

  /** The (doc, term, tf) posting rows — the one representation every
    * BM25 path stores or materializes.
    */
  private def bm25Postings(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Scoring tail shared by the in-memory and persisted paths: df, doc
    * length, and corpus stats all DERIVE from the tf frame, so any two
    * sources of identical postings produce identical rankings.
    */
  private def bm25RankFromTf(tf: DataFrame,
      queryTerms: Seq[(Long, String)], k: Int, k1: Double, b: Double)
      : DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25ScoredFromTf(tf, queryTerms, k1, b)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_terms_hit"),
        col("score"), col("rank"))
  }

  /** The per-(query, doc) BM25 score frame — the stage both the plain
    * ranked search and the field-collapsing search rank from.
    */
  private def bm25ScoredFromTf(tf: DataFrame,
      queryTerms: Seq[(Long, String)], k1: Double, b: Double)
      : DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    bm25ScoredFromTfQt(tf, queryTerms.toDF("query_id", "term"), k1, b)
  }

  /** Same scorer with the (query_id, term) set as a DATAFRAME — the
    * RM3 expansion path feeds a computed, data-dependent term set
    * through the identical formula (one scoring definition for every
    * consumer). The term frame is query-bounded, so it broadcasts.
    */
  private def bm25ScoredFromTfQt(tf: DataFrame, qtDf: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("__avgdl"))
    val qt = broadcast(qtDf)
    val tfD = col("tf").cast("double")
    val idf = (col("__n") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val denom = tfD + lit(k1) * (lit(1.0 - b) +
      (lit(b) * col("dl").cast("double")) / col("__avgdl"))
    qt.join(tf, Seq("term"))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("tw",
        floor(lit(1000000.0) * idf * (tfD * lit(k1 + 1.0)) / denom)
          .cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tw")).as("score"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** ES `collapse` (field collapsing) over BM25 retrieval: the scored
    * doc list collapses to its best hit per (query, `field`) group —
    * ties to the smaller doc_id — groups re-rank by their top hit, and
    * each reports its total hit count (the `inner_hits` cardinality).
    * Collapse runs BEFORE pagination, as in ES: the group windows see
    * every scored doc, then the top-k cut applies to groups. Both
    * windows partition by (query, group) / query — bounded fanout, no
    * single-partition funnel.
    */
  def bm25Collapse(queryTerms: Seq[(Long, String)], field: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75)(docs: DataFrame): DataFrame = {
    val tf = DedupOps.materialize(bm25Postings(docs))
    val scored = bm25ScoredFromTf(tf, queryTerms, k1, b)
      .join(docs.select(col("doc_id"), col(field)), Seq("doc_id"))
    val grpW = Window.partitionBy(col("query_id"), col(field))
    val grpOrd = grpW.orderBy(col("score").desc, col("doc_id"))
    val qW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("__rn", row_number().over(grpOrd))
      .withColumn("group_hits", count(lit(1)).over(grpW).cast("long"))
      .filter(col("__rn") === 1)
      .withColumn("rank", row_number().over(qW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(field), col("doc_id"),
        col("n_terms_hit"), col("score"), col("group_hits"), col("rank"))
  }

  /** ES `rescore` over BM25 retrieval: the primary ranked list's top
    * `window` hits re-scored with a secondary phrase-proximity signal
    * (exact-phrase hit count × `boost`, the match_phrase rescorer) and
    * re-ranked; top `k` reported with both ranks. Scale shape: the
    * primary window is ≤ |Q|·window rows; the phrase pass is the
    * zero-shuffle scan-side map [[phraseSearch]] is; the rescore join
    * shuffles only phrase HITS, never the corpus, and both rank
    * windows partition by query_id. Integer scores throughout — the
    * re-rank is order-free at any partitioning.
    */
  def bm25Rescore(queryTerms: Seq[(Long, String)],
      phrases: Seq[(Long, String)], window: Int, k: Int, boost: Long,
      k1: Double = 1.2, b: Double = 0.75)(docs: DataFrame): DataFrame = {
    val tf = DedupOps.materialize(bm25Postings(docs))
    val ph = phraseSearch(phrases)(docs)
    rescoreTail(bm25ScoredFromTf(tf, queryTerms, k1, b), ph,
      window, k, boost)
  }

  /** [[bm25Rescore]] served entirely from persisted indexes — the ES
    * execution model for a standing rescore workload: the primary BM25
    * retrieval reads the stored posting table (`bm25Dir`, the
    * [[buildBm25Index]] layout — raw text never reopened) and the
    * phrase-proximity rescorer reads the stored POSITION lists
    * (`posDir`, [[buildPositionalIndex]] — a term-pruned parquet scan
    * bounded by the phrase terms' document frequency, vs the scan
    * variant's corpus-linear pass). Identical rescore tail, so ranks
    * and scores replay the same; the only semantic difference from the
    * scan variant is the phrase counter — exact positions here vs
    * 60-bit shingle hashes there (the index stores real positions, so
    * there is no collision behavior to reproduce).
    */
  def bm25RescoreIndex(spark: org.apache.spark.sql.SparkSession,
      bm25Dir: String, posDir: String, queryTerms: Seq[(Long, String)],
      phrases: Seq[(Long, String)], window: Int, k: Int, boost: Long,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ph = phraseSearchIndex(spark, posDir, phrases)
    rescoreTail(bm25ScoredFromTf(storedTf(spark, bm25Dir), queryTerms,
      k1, b), ph, window, k, boost)
  }

  /** The rescore shape shared by the scan and persisted paths: primary
    * top-`window` cut, left join of the phrase hits (hits only — the
    * corpus never enters this join), boost, re-rank, top-`k`. Both rank
    * windows partition by query_id; integer scores keep the re-rank
    * order-free at any partitioning.
    */
  private def rescoreTail(scored: DataFrame, ph: DataFrame,
      window: Int, k: Int, boost: Long): DataFrame = {
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val top = scored
      .withColumn("rank0", row_number().over(w0).cast("long"))
      .filter(col("rank0") <= window)
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("new_score").desc, col("doc_id"))
    top.join(ph.select(col("query_id"), col("doc_id"), col("n_hits")),
        Seq("query_id", "doc_id"), "left_outer")
      .withColumn("n_phrase_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("new_score",
        col("score") + lit(boost) * col("n_phrase_hits"))
      .withColumn("rank", row_number().over(w1).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("n_phrase_hits"), col("new_score"), col("rank"),
        col("rank0"))
  }

  /** RM3-style pseudo-relevance feedback (Lavrenko-Croft / Rocchio
    * shape): the original BM25 top-`fbDocs` per query form the
    * feedback set, the `expTerms` highest-tf terms in it (minus the
    * original query terms — tf desc, term asc, all exact integers)
    * expand the query, and the EXPANDED term set rescans through the
    * SAME scorer. Docs surfaced only by expansion report a NULL
    * original rank honestly. The term-selection join touches feedback
    * DOCS' postings only (query-bounded); both scorings read the one
    * materialized tf frame.
    */
  def bm25Rm3(queryTerms: Seq[(Long, String)], fbDocs: Int,
      expTerms: Int, k: Int, k1: Double = 1.2, b: Double = 0.75)(
      docs: DataFrame): DataFrame = {
    val tf = DedupOps.materialize(bm25Postings(docs))
    val spark = tf.sparkSession
    import spark.implicits._
    val qt = queryTerms.toDF("query_id", "term")
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val ranked0 = bm25ScoredFromTfQt(tf, qt, k1, b)
      .withColumn("rank0", row_number().over(w0).cast("long"))
      .localCheckpoint(false) // feedback cut + final rank0 join
    val fb = ranked0.filter(col("rank0") <= fbDocs)
      .select(col("query_id"), col("doc_id"))
    val cand = fb.join(tf, Seq("doc_id"))
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf")).as("ftf"))
      .join(broadcast(qt), Seq("query_id", "term"), "left_anti")
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("ftf").desc, col("term"))
    val exp = cand.withColumn("__r", row_number().over(we))
      .filter(col("__r") <= expTerms)
      .select(col("query_id"), col("term"))
    val qt2 = qt.select(col("query_id"), col("term")).union(exp)
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25ScoredFromTfQt(tf, qt2, k1, b)
      .withColumn("rank", row_number().over(w1).cast("long"))
      .filter(col("rank") <= k)
      .join(ranked0.select(col("query_id"), col("doc_id"),
        col("rank0")), Seq("query_id", "doc_id"), "left_outer")
      .select(col("query_id"), col("doc_id"), col("score"),
        col("n_terms_hit"), col("rank"), col("rank0"))
  }

  /** ES `boosting` query: positive BM25 retrieval with docs matching
    * any negative term demoted by `negative_boost` = 0.5 — kept exact
    * as the integer halving `score DIV 2` (scores are fixed-point
    * BIGINTs). The demotion set is a distinct-doc lookup on the SAME
    * materialized posting frame (never a second corpus scan), the
    * final order one per-query rank window. Docs outside the negative
    * set keep their score bit-for-bit.
    */
  def bm25Boosting(queryTerms: Seq[(Long, String)], negTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75)(
      docs: DataFrame): DataFrame = {
    val tf = DedupOps.materialize(bm25Postings(docs))
    val neg = tf.filter(col("term").isin(negTerms: _*))
      .select(col("doc_id")).distinct()
      .withColumn("__neg", lit(true))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("final_score").desc, col("doc_id"))
    bm25ScoredFromTf(tf, queryTerms, k1, b)
      .join(neg, Seq("doc_id"), "left_outer")
      .withColumn("demoted", coalesce(col("__neg"), lit(false)))
      .withColumn("final_score",
        when(col("demoted"), expr("score DIV 2")).otherwise(col("score")))
      .withColumn("rank", row_number().over(w1).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("demoted"), col("final_score"), col("rank"))
  }

  /** ES `function_score` (field_value_factor, boost_mode: multiply)
    * plus a `rank_feature` saturation term: every BM25 match re-scores
    * as `score · field + satBoost · sat(field)` where
    * `sat(x) = ⌊10⁶·x/(x+pivot)⌋` — the ES rank_feature saturation
    * curve in EXACT integer arithmetic (the score is already a
    * fixed-point BIGINT, the field is a BIGINT column, and the
    * saturation is one integer division), so the combined score is
    * order-free at any partitioning and bit-identical in the oracle.
    * The field join touches only SCORED hits (query-bounded), never the
    * corpus; the final top-k is one per-query rank window.
    */
  def bm25FunctionScore(queryTerms: Seq[(Long, String)], field: String,
      pivot: Long, satBoost: Long, k: Int, k1: Double = 1.2,
      b: Double = 0.75)(docs: DataFrame): DataFrame = {
    // pivot=0 with fv=0 would divide by zero (NULL in non-ANSI Spark, an
    // ERROR in the DuckDB oracle — engine/oracle divergence), so it is
    // rejected outright. Documented preconditions the caller owns:
    // `field` must be non-negative and ≤ ~9.2e12 (1000000·fv must fit
    // BIGINT — ES rank_feature fields are bounded counters, not free
    // longs), and rows whose `field` is NULL drop via the inner join
    // (ES's missing-feature behavior: the hit contributes no
    // function-score term; here the whole row leaves the ranking).
    require(pivot > 0, s"pivot must be positive, got $pivot")
    val tf = DedupOps.materialize(bm25Postings(docs))
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("final_score").desc, col("doc_id"))
    bm25ScoredFromTf(tf, queryTerms, k1, b)
      .withColumn("rank0", row_number().over(w0).cast("long"))
      .join(docs.select(col("doc_id"), col(field).as("fv")), Seq("doc_id"))
      .withColumn("sat",
        expr(s"CAST((1000000 * fv) DIV (fv + $pivot) AS BIGINT)"))
      .withColumn("final_score",
        col("score") * col("fv") + lit(satBoost) * col("sat"))
      .withColumn("rank", row_number().over(w1).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("fv"),
        col("sat"), col("final_score"), col("rank"), col("rank0"))
  }

  /** Hybrid retrieval with Reciprocal Rank Fusion (the ES 8.x `rrf`
    * retriever; Cormack-Clarke-Buettcher 2009): the BM25 lexical
    * ranking and a dense cosine ranking each contribute their top
    * `window`, fused per (query, doc) as Σ_side scale/(rrfK + rank) —
    * integer fixed-point, so fusion and the final re-rank are exact
    * BIGINT at any partitioning (only each side's INTERNAL ordering
    * touches a double, and that expression tree is shared with the
    * oracle). The dense side embeds docs with the vocabulary-free
    * signed hashing trick at doc grain — same "rag:" feature space as
    * [[ragRetrieve]] — REUSING the BM25 posting frame as its term
    * weights, so the corpus tokenizes once for both sides.
    *
    * Scale shape: postings materialize once; the dense dot is an
    * equi-join on dim against BROADCAST query vectors (the corpus never
    * shuffles to meet a query); both per-side rank windows partition by
    * query_id; the fusion join runs on two ≤ |Q|·window frames.
    */
  def hybridRrf(queryTerms: Seq[(Long, String)], dims: Int, window: Int,
      k: Int, rrfK: Int, scale: Long, k1: Double = 1.2,
      b: Double = 0.75)(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHash.h15
    val tf = DedupOps.materialize(bm25Postings(docs))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val lex = bm25ScoredFromTf(tf, queryTerms, k1, b)
      .withColumn("bm25_rank", row_number().over(wLex).cast("long"))
      .filter(col("bm25_rank") <= window)
      .select(col("query_id"), col("doc_id"), col("bm25_rank"))
    val spark = docs.sparkSession
    import spark.implicits._
    def signed(t: DataFrame, keys: Seq[String], wt: Column): DataFrame = t
      .withColumn("hv", h15(concat(lit("rag:"), col("term"))))
      .groupBy(keys.map(col) :+ (col("hv") % dims).as("dim"): _*)
      .agg(sum(when(expr(s"(hv div $dims) % 2") === 0, wt)
        .otherwise(-wt)).as("v"))
    // doc vectors feed the dot join AND their norm aggregate
    val dv = DedupOps.materialize(
      signed(tf, Seq("doc_id"), col("tf")))
    val qv = DedupOps.materialize(
      signed(broadcast(queryTerms.toDF("query_id", "term")),
        Seq("query_id"), lit(1L)))
    val dn = dv.groupBy(col("doc_id")).agg(sum(col("v") * col("v")).as("dn"))
    val qn = qv.groupBy(col("query_id")).agg(sum(col("v") * col("v")).as("qn"))
    val wDen = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    val dense = dv
      .join(broadcast(qv.select(col("query_id"), col("dim"),
        col("v").as("qw"))), Seq("dim"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("v") * col("qw")).as("dot"))
      .join(dn, Seq("doc_id"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("dn") > 0 && col("qn") > 0)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("dn").cast("double")) * sqrt(col("qn").cast("double"))))
      .withColumn("dense_rank", row_number().over(wDen).cast("long"))
      .filter(col("dense_rank") <= window)
      .select(col("query_id"), col("doc_id"), col("dense_rank"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fp").desc, col("doc_id"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_fp", expr(
        s"coalesce($scale div ($rrfK + bm25_rank), CAST(0 AS BIGINT)) + " +
          s"coalesce($scale div ($rrfK + dense_rank), CAST(0 AS BIGINT))"))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25_rank"),
        col("dense_rank"), col("rrf_fp"), col("rank"))
  }

  /** Persist the BM25 inverted index — what the reference ships rows to
    * Elasticsearch to build, as a parquet posting table. ONLY the
    * postings are stored: df/dl/avgdl derive from them at search time
    * (one aggregate over the index scan — never over raw text), so the
    * stats can never drift from the postings they describe. (A
    * production variant would checkpoint the df/stats aggregate between
    * searches; that is a cache, not part of the contract.)
    *
    * The store lives under a [[graft.sources.IndexManifest]] manifest:
    * every build, and every rebuild over an updated corpus, publishes a
    * complete version behind one atomic pointer swap — a crash mid-write
    * can never leave the index absent or half-written.
    */
  def buildBm25Index(docs: DataFrame, dir: String): Unit =
    IndexManifest.publish(docs.sparkSession, dir)(vdir =>
      bm25Postings(docs).write.parquet(s"$vdir/tf"))

  /** Posting scan of the current version — the one read path every
    * persisted-index search shares.
    */
  private def storedTf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    IndexManifest.snapshot(spark, dir).read("tf")

  /** Search the persisted index: identical scoring tail over the stored
    * postings — raw document text is never touched.
    */
  def searchBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25RankFromTf(storedTf(spark, dir), queryTerms, k, k1, b)

  /** The whole search DSL over ONE stored posting index: fuzzy, prefix,
    * more-like-this, and bool searches share the BM25 index's posting
    * rows (each op's scoring tail derives everything it needs from
    * them), so a deployment builds one index and serves every query
    * type from it — raw text is never reopened.
    * Each is bit-identical to its from-raw-docs sibling by
    * construction (shared tail; property-tested).
    */
  def searchFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, String)], k: Int): DataFrame =
    fuzzySearchFromTf(storedTf(spark, dir), queries, k)

  def searchPrefixIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, String)], k: Int): DataFrame =
    prefixSearchFromTf(storedTf(spark, dir), queries, k)

  def searchMltIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, seeds: Seq[(Long, Long)], m: Int, k: Int,
      scale: Double = MltScale): DataFrame =
    moreLikeThisFromTf(storedTf(spark, dir), seeds, m, k, scale)

  def searchBoolIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[BoolQuery], k: Int): DataFrame =
    boolSearchFromTf(storedTf(spark, dir), queries, k)

  // ---------------------------------------------------------- phrase search

  /** Exact-phrase search (the ES `match_phrase` analogue to
    * [[bm25Search]]'s ranked `match`): a document hits when it contains
    * the query tokens CONSECUTIVELY, counted via the positional
    * k-shingle hashes of [[TextOps.shingleHashes]] (k = each phrase's
    * own token count) compared against the phrase hash. Everything is a
    * pure narrow map over the scan — literal phrases explode |phrases|×
    * per doc, no joins, no shuffles at all; at 100 TB this is a single
    * codegen'd pass. Both engines count HASH equality (not string
    * equality), so the 60-bit-collision behavior is identical by
    * construction.
    */
  def phraseSearch(phrases: Seq[(Long, String)])(docs: DataFrame)
      : DataFrame = {
    import graft.functions.PortableHash.h15
    val toks = tokens(col("text"))
    val rows = phrases.map { case (qid, phrase) =>
      val k = phrase.trim.split("\\s+").length
      struct(lit(qid).as("query_id"),
        size(filter(TextOps.shingleHashes(toks, k),
          h => h === h15(lit(phrase)))).cast("long").as("n_hits"))
    }
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array(rows: _*)).as("ph"))
      .select(col("ph.query_id").as("query_id"), col("doc_id"),
        col("ph.n_hits").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** ES span_near (in_order: true, slop: k): a span is a position pair
    * (p1, p2) with term1 at p1, term2 at p2, p1 < p2 ≤ p1 + slop + 1 —
    * the proximity query between match_phrase (slop 0) and plain bool.
    * Pure per-doc array arithmetic: both terms' position lists are
    * staged ONCE per (doc, query) via the exploded struct (HOF lambdas
    * get no codegen subexpression elimination — the winnowing lesson),
    * then one bounded fold counts qualifying pairs. No UDF, no extra
    * exchange: the operator is a map over the corpus scan.
    */
  def spanNearSearch(queries: Seq[(Long, String, String, Int)])(
      docs: DataFrame): DataFrame = {
    def posOf(term: String): Column =
      filter(zip_with(col("__tk"),
        sequence(lit(1), size(col("__tk"))),
        (t, i) => when(t === lit(term), i).otherwise(lit(-1))),
        v => v > 0)
    val posRows = queries.map { case (qid, t1, t2, slop) =>
      struct(lit(qid).as("query_id"), lit(slop + 1).as("w"),
        posOf(t1).as("p1s"), posOf(t2).as("p2s"))
    }
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("__tk"))
      .select(col("doc_id"), explode(array(posRows: _*)).as("q"))
      .select(col("q.query_id").as("query_id"), col("doc_id"),
        aggregate(col("q.p1s"), lit(0L), (acc, p1) =>
          acc + size(filter(col("q.p2s"), p2 =>
            p2 > p1 && p2 <= p1 + col("q.w")))).as("n_spans"))
      .filter(col("n_spans") > 0)
  }

  // --------------------------------------- persisted positional postings

  /** Positional posting rows — one per (doc, term) with the term's
    * 1-based token positions, sorted. This is the half of the ES
    * inverted index that `match_phrase`/`span_near` serve from (the
    * frequency half is [[bm25Postings]]): ES never re-reads source text
    * to answer a phrase query, it intersects stored position lists. The
    * scan variants ([[phraseSearch]], [[spanNearSearch]]) stay — they
    * are the right shape for one-off queries over un-indexed data — but
    * at 100 TB a standing search workload wants this table: a phrase
    * query then reads ONLY the postings of its own terms (an `isin`
    * filter pushed into the parquet scan, term-clustered row groups
    * from [[buildPositionalIndex]]'s sort), never the corpus.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos") + 1)).as("positions"))

  /** Persist the positional index under an [[graft.sources.IndexManifest]]
    * manifest (same crash-safe lifecycle as [[buildBm25Index]]),
    * clustered on (term, doc_id) so query-term probes touch only their
    * own row groups.
    */
  def buildPositionalIndex(docs: DataFrame, dir: String): Unit =
    IndexManifest.publish(docs.sparkSession, dir)(vdir =>
      positionalPostings(docs)
        .repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.parquet(s"$vdir/pos"))

  /** The shared retrieval stage of both positional searches: postings
    * of the query vocabulary only (the `isin` filter reaches the parquet
    * scan — the plan's PushedFilters line is spec-pinned), folded to one
    * row per doc carrying a term→positions map. Row count is bounded by
    * |docs containing a query term|, not the corpus; the single shuffle
    * is the per-doc map fold over that bounded set.
    */
  private def posMaps(spark: org.apache.spark.sql.SparkSession,
      dir: String, vocab: Seq[String]): DataFrame =
    IndexManifest.snapshot(spark, dir).read("pos")
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(
        collect_list(struct(col("term"), col("positions")))).as("pm"))

  private def posOfTerm(t: String): Column =
    coalesce(element_at(col("pm"), lit(t)),
      typedLit(Seq.empty[Int]))

  /** Exact-phrase search served from the PERSISTED positional index —
    * the ES `match_phrase` execution model, vs [[phraseSearch]]'s
    * corpus scan. A hit at position p means token i of the phrase sits
    * at p+i for all i (exact string positions, no shingle hashing — the
    * index stores real positions, so there is no collision behavior to
    * reproduce). Per doc it is one bounded fold over the first term's
    * position list; docs sharing no query term never leave the scan.
    * Output contract matches [[phraseSearch]]: (query_id, doc_id,
    * n_hits > 0).
    */
  def phraseSearchIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, phrases: Seq[(Long, String)]): DataFrame = {
    val vocab = phrases.flatMap(_._2.trim.split("\\s+")).distinct
    val rows = phrases.map { case (qid, phrase) =>
      val ts = phrase.trim.split("\\s+").toSeq
      val hits = size(filter(posOfTerm(ts.head), p =>
        ts.zipWithIndex.tail.foldLeft(lit(true)) { case (acc, (t, i)) =>
          acc && array_contains(posOfTerm(t), p + i)
        }))
      struct(lit(qid).as("query_id"), hits.cast("long").as("n_hits"))
    }
    posMaps(spark, dir, vocab)
      .select(col("doc_id"), explode(array(rows: _*)).as("ph"))
      .select(col("ph.query_id").as("query_id"), col("doc_id"),
        col("ph.n_hits").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** span_near from the persisted positional index: identical span
    * arithmetic to [[spanNearSearch]] (the stored position lists ARE the
    * lists that operator derives per scan), so the two registrations
    * share one oracle definition — only the read path differs.
    */
  def spanNearSearchIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, String, String, Int)]): DataFrame = {
    val vocab = queries.flatMap(q => Seq(q._2, q._3)).distinct
    val rows = queries.map { case (qid, t1, t2, slop) =>
      struct(lit(qid).as("query_id"),
        aggregate(posOfTerm(t1), lit(0L), (acc, p1) =>
          acc + size(filter(posOfTerm(t2), p2 =>
            p2 > p1 && p2 <= p1 + lit(slop + 1)))).as("n_spans"))
    }
    posMaps(spark, dir, vocab)
      .select(col("doc_id"), explode(array(rows: _*)).as("q"))
      .select(col("q.query_id").as("query_id"), col("doc_id"),
        col("q.n_spans").as("n_spans"))
      .filter(col("n_spans") > 0)
  }

  /** Highlighting served from the persisted positional index — the
    * third consumer of the stored position lists ([[highlight]] is the
    * corpus-scan shape): hit positions come straight from the postings
    * of the QUERY terms (term-pruned parquet read, like
    * [[phraseSearchIndex]]), merged per doc in position order and cut
    * at `nFragments`. No token array is ever rebuilt from text, so
    * cost follows the query terms' document frequency, not corpus
    * size. One token occupies one position, so the merged order is
    * unambiguous and the output is row-identical to [[highlight]] —
    * the two registrations share one oracle.
    */
  def highlightIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, Seq[String])],
      nFragments: Int = 5): DataFrame = {
    val vocab = queries.flatMap(_._2).distinct
    val rows = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        slice(array_sort(flatten(array(terms.distinct.map(t =>
          transform(posOfTerm(t), p =>
            struct(p.cast("long").as("pos"), lit(t).as("t")))): _*))),
          1, nFragments).as("hits"))
    }
    posMaps(spark, dir, vocab)
      .select(col("doc_id"), explode(array(rows: _*)).as("qh"))
      .select(col("qh.query_id").as("query_id"), col("doc_id"),
        explode(col("qh.hits")).as("h"))
      .select(col("query_id"), col("doc_id"),
        col("h.pos").as("pos"), col("h.t").as("term"))
  }

  /** Fragment rendering from the persisted positional index: hit
    * positions come from the stored postings (df-bounded, like
    * [[highlightIndex]]); only the RENDER step joins doc tokens back
    * in — the ES stored-fields fetch for result docs. The hit side is
    * bounded by `nFragments · |matched (query, doc) pairs|`, so AQE
    * broadcasts it and the corpus is scanned once, narrow, with no
    * per-token membership filtering (a doc-clustered text store would
    * make this a point fetch; parquet gives one narrow scan). Output
    * is row-identical to [[snippets]] — shared oracle.
    */
  def snippetsIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, Seq[String])],
      nFragments: Int = 5, context: Int = 3)(docs: DataFrame): DataFrame = {
    val vocab = queries.flatMap(_._2).distinct
    val rows = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        slice(array_sort(flatten(array(terms.distinct.map(t =>
          posOfTerm(t)): _*))), 1, nFragments).as("hits"))
    }
    val hitRows = posMaps(spark, dir, vocab)
      .select(col("doc_id"), explode(array(rows: _*)).as("qh"))
      .select(col("qh.query_id").as("query_id"), col("doc_id"),
        posexplode(col("qh.hits")).as(Seq("fp", "hit")))
    val text = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    hitRows.join(text, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        (col("fp") + 1).cast("long").as("frag_no"),
        array_join(transform(
          sequence(greatest(col("hit") - context, lit(1)),
            least(col("hit") + context, size(col("tk")))),
          j => when(j === col("hit"),
            concat(lit("<em>"), element_at(col("tk"), j), lit("</em>")))
            .otherwise(element_at(col("tk"), j))), " ").as("fragment"))
  }

  // --------------------------------------- fuzzy / prefix / more-like-this

  /** All single-character-deletion variants of a term plus the term
    * itself — the SymSpell deletion neighborhood. Two terms are within
    * Levenshtein distance 1 ONLY IF their neighborhoods intersect, so
    * equi-joining on the variant key generates every true match (plus a
    * few distance-2 collisions the exact `levenshtein` verify removes).
    * Pure array expression: ≤ len+1 variants per term, no UDF.
    */
  private def delVariants(t: Column): Column =
    array_union(array(t),
      transform(sequence(lit(1), length(t)),
        i => concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t)))))

  /** Fuzzy term search (the ES `fuzzy`/`match … fuzziness:1` analogue):
    * a document hits when it contains any vocabulary term within edit
    * distance 1 of a query term. Candidate generation is the SymSpell
    * deletion-join — NEVER a |vocab|×|queries| distance scan: both
    * sides explode to deletion variants and equi-join, then exact
    * `levenshtein` verifies (bucketed-candidates + exact-verify, the
    * same discipline as every dedup path). Scale: the vocabulary frame
    * is bounded by distinct terms (not corpus rows); the query side is
    * |Q|·(len+1) literal rows, broadcast; the verified match set
    * (≤ |Q| · small expansion) broadcasts into the posting join, so the
    * corpus-sized tf frame is never shuffled by this operator — its only
    * wide stages are the posting/vocab aggregates and the final top-k
    * window. Ranking is the integer hit count (order-free sum).
    */
  def fuzzySearch(queries: Seq[(Long, String)], k: Int)(docs: DataFrame)
      : DataFrame =
    fuzzySearchFromTf(DedupOps.materialize(bm25Postings(docs)),
      queries, k)

  private def fuzzySearchFromTf(tf: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val vocabV = tf.select(col("term")).distinct()
      .select(col("term"), explode(delVariants(col("term"))).as("v"))
    val qv = broadcast(queries.toDF("query_id", "qt")
      .select(col("query_id"), col("qt"),
        explode(delVariants(col("qt"))).as("v")))
    val matched = broadcast(vocabV.join(qv, Seq("v"))
      .filter(levenshtein(col("qt"), col("term")) <= 1)
      .select(col("query_id"), col("term")).distinct())
    val doc = tf.join(matched, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_hits"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_hits").desc, col("doc_id"))
    doc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("n_hits"), col("rank"))
  }

  /** ES wildcard query: vocabulary terms matching a LIKE pattern
    * (`%` ≡ ES `*`), docs ranked by summed tf of their matching terms.
    * Same scale shape as prefixSearch: the pattern probe is a
    * broadcast nested-loop against the posting frame's term key — the
    * deliberate |postings|·|Q| predicate evaluation a wildcard costs
    * any engine — and the corpus text is never re-read.
    */
  def wildcardSearch(queries: Seq[(Long, String)], k: Int)(
      docs: DataFrame): DataFrame =
    wildcardFromTf(bm25Postings(docs), queries, k)

  private def wildcardFromTf(tf: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val q = broadcast(queries.toDF("query_id", "pattern"))
    val m = tf.join(q, expr("term LIKE pattern"))
    val doc = m.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_hits"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_hits").desc, col("doc_id"))
    doc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("n_hits"), col("rank"))
  }

  /** ES term suggester: per (possibly misspelled) input term, the
    * top-k vocabulary corrections within edit distance ≤ 1, ranked
    * ES-style by (distance asc, doc-frequency desc, term). Candidates
    * come from the SymSpell deletion-neighborhood equi-join (the
    * fuzzySearch discipline — never a |vocab|×|Q| distance scan) with
    * the exact levenshtein verify; unlike fuzzySearch this returns the
    * TERMS with their df, not documents. An exact-match input suggests
    * itself at distance 0 (`suggest_mode: always`). Scale: vocabulary-
    * grain aggregate + broadcast query variants; the corpus is touched
    * only by the one posting aggregate.
    */
  def termSuggest(queries: Seq[(Long, String)], k: Int)(docs: DataFrame)
      : DataFrame =
    termSuggestFromTf(bm25Postings(docs), queries, k)

  private def termSuggestFromTf(tf: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val vocab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocabV = vocab.select(col("term"), col("df"),
      explode(delVariants(col("term"))).as("v"))
    val qv = broadcast(queries.toDF("query_id", "qt")
      .select(col("query_id"), col("qt"),
        explode(delVariants(col("qt"))).as("v")))
    val cand = vocabV.join(qv, Seq("v"))
      .filter(levenshtein(col("qt"), col("term")) <= 1)
      .select(col("query_id"), col("qt"), col("term"), col("df"))
      .distinct()
      .withColumn("distance",
        levenshtein(col("qt"), col("term")).cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("distance"), col("df").desc, col("term"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("qt").as("input"),
        col("term").as("suggestion"), col("distance"), col("df"),
        col("rank"))
  }

  /** Prefix term completion (the ES completion-suggester analogue):
    * top-k vocabulary terms per prefix, ranked by document frequency.
    * The df aggregate is vocabulary-sized; the prefix probe is a
    * broadcast nested-loop join of |Q| literal prefixes against it —
    * deliberate: |vocab|·|Q| is the candidate volume and the corpus is
    * never touched beyond the one posting aggregate.
    */
  def prefixSearch(queries: Seq[(Long, String)], k: Int)(docs: DataFrame)
      : DataFrame =
    prefixSearchFromTf(bm25Postings(docs), queries, k)

  private def prefixSearchFromTf(tf: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val vocab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val spark = tf.sparkSession
    import spark.implicits._
    val q = broadcast(queries.toDF("query_id", "prefix"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("df").desc, col("term"))
    vocab.join(q, col("term").startsWith(col("prefix")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("term"), col("df"), col("rank"))
  }

  /** More-like-this retrieval (the ES `more_like_this` analogue): per
    * seed document, select its `m` most salient terms by tf·idf and
    * rank other documents by the summed salience of the terms they
    * share. Salience is the RATIONAL tf/df fixed-pointed to int64
    * (`floor(scale·tf/df)` — multiply/divide/floor are exactly-rounded
    * IEEE, see the module determinism rules), so scores are order-free
    * integer sums; the corpus-size factor N of classic tf·idf is
    * DROPPED because ranking is invariant to a constant factor — that
    * removes the 1-row global stats aggregate BM25 needs (one fewer
    * exchange, nothing for the SinglePartition sweep). Scale: seed
    * rows and the selected-term set are |seeds|·m-bounded broadcasts;
    * the weighted posting frame is shuffled only by its own aggregates
    * and the final top-k window.
    */
  def moreLikeThis(seeds: Seq[(Long, Long)], m: Int, k: Int,
      scale: Double = MltScale)(docs: DataFrame): DataFrame =
    moreLikeThisFromTf(DedupOps.materialize(bm25Postings(docs)),
      seeds, m, k, scale)

  private def moreLikeThisFromTf(tf: DataFrame, seeds: Seq[(Long, Long)],
      m: Int, k: Int, scale: Double): DataFrame = {
    // one seed doc per query: with several, a term selected from seed A
    // would be excluded only against A and double-counted if B also
    // selected it — multi-doc MLT needs a union-of-terms definition
    // this operator deliberately doesn't claim
    require(seeds.map(_._1).distinct.size == seeds.size,
      "moreLikeThis: one seed doc per query_id")
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weighted = DedupOps.materialize(tf.join(dfreq, Seq("term"))
      .withColumn("w", floor(lit(scale) * col("tf").cast("double")
        / col("df").cast("double")).cast("long")))
    val spark = tf.sparkSession
    import spark.implicits._
    val sd = broadcast(seeds.toDF("query_id", "seed_doc"))
    val wSel = Window.partitionBy(col("query_id"))
      .orderBy(col("w").desc, col("term"))
    val sel = broadcast(weighted
      .join(sd, col("doc_id") === col("seed_doc"))
      .withColumn("trank", row_number().over(wSel))
      .filter(col("trank") <= m)
      .select(col("query_id"), col("seed_doc"), col("term")))
    val doc = weighted.join(sel, Seq("term"))
      .filter(col("doc_id") =!= col("seed_doc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w")).as("score_fp"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    doc.withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("score_fp"), col("rank"))
  }

  /** Fixed-point scales for MLT salience and JLH significance — ONE
    * definition each, interpolated into both engines.
    */
  val MltScale: Double = 1e9
  val SigScale: Double = 1e9

  /** One ES `bool` query: all `must` terms required, no `mustNot` term
    * present, at least `minShould` of the `should` terms present;
    * ranking by summed `should`-term frequency (order-free integer).
    */
  final case class BoolQuery(id: Long, must: Seq[String] = Nil,
      should: Seq[String] = Nil, mustNot: Seq[String] = Nil,
      minShould: Int = 0)

  /** Boolean compound search (the ES `bool` query analogue): the query
    * clauses explode to literal (query_id, term, kind) rows that
    * broadcast into ONE pass over the posting frame — a doc's clause
    * counts come from a single conditional aggregate (the posting frame
    * has exactly one row per (doc, term), so plain sums ARE distinct
    * counts — no count-distinct expand). Must/mustNot verdicts compare
    * against per-query literals broadcast as a second tiny frame. The
    * corpus is never shuffled on a join key; wide stages are the
    * posting aggregates and the top-k window, same as every search op.
    */
  def boolSearch(queries: Seq[BoolQuery], k: Int)(docs: DataFrame)
      : DataFrame =
    boolSearchFromTf(bm25Postings(docs), queries, k)

  private def boolSearchFromTf(tf: DataFrame, queries: Seq[BoolQuery],
      k: Int): DataFrame = {
    validateBoolQueries(queries)
    val spark = tf.sparkSession
    import spark.implicits._
    val qt = broadcast(clauseRows(queries)
      .toDF("query_id", "term", "kind"))
    val meta = broadcast(metaRows(queries)
      .toDF("query_id", "must_req", "min_should"))
    boolVerdictTail(tf.join(qt, Seq("term")), meta, k,
      broadcastCandidates = false)
  }

  /** Shared validation for [[boolSearch]] / [[buildPercolateIndex]]. */
  private def validateBoolQueries(queries: Seq[BoolQuery]): Unit = {
    require(queries.map(_.id).distinct.size == queries.size,
      "bool queries must have distinct ids")
    queries.foreach { q =>
      val all = q.must ++ q.should ++ q.mustNot
      // a duplicated/overlapping clause term would double-count in the
      // verdict sums (n_must could never reach must_req) — reject early
      require(all.distinct.size == all.size,
        s"bool query ${q.id}: clause terms must be distinct across " +
          "must/should/mustNot")
      // a query with no positive requirement (mustNot-only, or
      // should-only with minShould=0) matches docs containing NONE of
      // its clause terms — those never reach the clause join, so this
      // plan shape cannot produce them. ES serves such queries with a
      // full scan; callers here must add a positive clause.
      require(q.must.nonEmpty || q.minShould >= 1,
        s"bool query ${q.id}: needs a positive requirement " +
          "(non-empty must, or minShould >= 1)")
    }
  }

  /** The exploded (query_id, term, kind) clause rows — the single
    * representation both the in-memory broadcast and the persisted
    * percolator index store.
    */
  private def clauseRows(queries: Seq[BoolQuery])
      : Seq[(Long, String, String)] =
    queries.flatMap(q =>
      q.must.map((q.id, _, "must")) ++ q.should.map((q.id, _, "should"))
        ++ q.mustNot.map((q.id, _, "must_not")))

  private def metaRows(queries: Seq[BoolQuery]): Seq[(Long, Long, Long)] =
    queries.map(q => (q.id, q.must.size.toLong, q.minShould.toLong))

  /** Verdict tail shared by [[boolSearchFromTf]] and [[percolate]]:
    * one conditional aggregate over the term-joined candidate rows
    * (posting uniqueness makes plain sums distinct counts), the
    * must/mustNot/minShould verdict against the per-query requirement
    * rows, and the per-query top-k. `broadcastCandidates` flips the
    * meta-join build side: the in-memory path broadcasts the tiny meta
    * frame into corpus-sized candidates; the percolator path broadcasts
    * the batch-bounded candidate aggregate into the registry-sized
    * stored meta table.
    */
  private def boolVerdictTail(cand: DataFrame, meta: DataFrame, k: Int,
      broadcastCandidates: Boolean): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_hits").desc, col("doc_id"))
    val agg = cand
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        sum(when(col("kind") === "must", 1L).otherwise(0L)).as("n_must"),
        sum(when(col("kind") === "should", 1L).otherwise(0L))
          .as("n_should"),
        sum(when(col("kind") === "must_not", 1L).otherwise(0L))
          .as("n_mustnot"),
        sum(when(col("kind") === "should", col("tf")).otherwise(0L))
          .as("score_hits"))
    (if (broadcastCandidates) broadcast(agg) else agg)
      .join(meta, Seq("query_id"))
      .filter(col("n_must") === col("must_req") &&
        col("n_mustnot") === lit(0L) &&
        col("n_should") >= col("min_should"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_should"),
        col("score_hits"), col("rank"))
  }

  // ---------------------------------------------------------- percolator

  /** Persist a stored-query registry as a terms→queries INVERTED index
    * (the ES percolator at registry scale): the exploded clause rows
    * keyed by term, plus the per-query requirement rows. [[percolate]]
    * then matches an arriving document batch by broadcasting the
    * BATCH's postings into an equi-join against the stored clause rows
    * — work scales with the clause rows whose terms actually occur in
    * the batch, never with |registry|. ([[boolSearch]] points the
    * broadcast the other way: right for a handful of ad-hoc queries,
    * impossible for a million-query alert registry.)
    */
  def buildPercolateIndex(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[BoolQuery], dir: String): Unit =
    IndexManifest.publish(spark, dir) { vdir =>
      validateBoolQueries(queries)
      import spark.implicits._
      clauseRows(queries).toDF("query_id", "term", "kind")
        .write.parquet(s"$vdir/terms")
      metaRows(queries).toDF("query_id", "must_req", "min_should")
        .write.parquet(s"$vdir/meta")
    }

  /** Match an arriving document batch against the stored registry.
    * Bit-identical to `boolSearch(registry, k)(docs)` by construction
    * (shared clause representation + shared verdict tail); the plan
    * differs only in broadcast direction — the stored index is NEVER
    * broadcast and never shuffled on a join key (term probes ride the
    * broadcast hash join; the meta join broadcasts the batch-bounded
    * candidate aggregate).
    */
  def percolate(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int)(docs: DataFrame): DataFrame = {
    val tf = DedupOps.materialize(bm25Postings(docs))
    val snap = IndexManifest.snapshot(spark, dir)
    val qt = snap.read("terms")
    val meta = snap.read("meta")
    boolVerdictTail(qt.join(broadcast(tf), Seq("term")), meta, k,
      broadcastCandidates = true)
  }

  /** Significant-terms aggregation (the ES `significant_terms`
    * analogue, JLH score): for each document group (source), the terms
    * statistically overrepresented against the whole-corpus background
    * — the "what makes this source different" dashboard. JLH =
    * ((fg% − bg%) · fg%) / bg% over document frequencies, computed in
    * ONE fixed association order and fixed-pointed to int64, so both
    * engines rank identically (ties break on term). Scale: the wide
    * work is the posting-presence distinct + two vocabulary-sized
    * aggregates; the score join runs on |sources|·|vocab| rows, and the
    * corpus count is a 1-row broadcast (Q22 shape, allowlisted).
    */
  def significantTerms(m: Int, scale: Double = SigScale)(docs: DataFrame)
      : DataFrame = {
    val base = docs.filter(col("text").isNotNull)
    val pres = base.select(col("doc_id"), col("source"),
      explode(tokens(col("text"))).as("term")).distinct()
    val fg = pres.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("fg_df"))
    val bg = pres.groupBy(col("term")).agg(count(lit(1)).as("bg_df"))
    val fgt = base.groupBy(col("source"))
      .agg(count(lit(1)).as("fg_total"))
    val n = base.agg(count(lit(1)).as("bg_total"))
    val a = col("fg_df").cast("double") / col("fg_total").cast("double")
    val b = col("bg_df").cast("double") / col("bg_total").cast("double")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_fp").desc, col("term"))
    fg.join(fgt, Seq("source")).join(bg, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score_fp",
        floor(lit(scale) * (((a - b) * a) / b)).cast("long"))
      .filter(col("score_fp") > 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .select(col("source"), col("term"), col("score_fp"), col("rank"))
  }

  /** Match highlighting (the ES `highlight` analogue): for each query's
    * term set, emit (position, term) occurrences per document — what a
    * UI needs to render emphasis, and what span-level audits consume.
    *
    * Output is BOUNDED like ES's: at most `nFragments` hits per
    * (query, doc) in document order — ES caps highlight payloads at
    * `number_of_fragments` (default 5) per field, and an uncapped
    * every-occurrence replay is corpus-linear in OUTPUT (the worst
    * grower in the r12 10× probe). The cap is a `slice` on the per-doc
    * hits array BEFORE the explode — no window, no shuffle: like
    * [[phraseSearch]] this stays a PURE narrow map (literal queries
    * explode |queries|× per doc, positions come from one
    * sequence/filter array expression), a single codegen'd pass at any
    * corpus size, now with ≤ `nFragments·|queries|` output rows per doc.
    */
  def highlight(queries: Seq[(Long, Seq[String])], nFragments: Int = 5)(
      docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val rows = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        slice(
          filter(
            transform(sequence(lit(1), size(toks)),
              i => struct(i.cast("long").as("pos"),
                element_at(toks, i).as("t"))),
            s => s.getField("t").isInCollection(terms)),
          1, nFragments).as("hits"))
    }
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array(rows: _*)).as("qh"))
      .select(col("qh.query_id").as("query_id"), col("doc_id"),
        explode(col("qh.hits")).as("h"))
      .select(col("query_id"), col("doc_id"),
        col("h.pos").as("pos"), col("h.t").as("term"))
  }

  /** Fragment-string highlighting — the rest of the ES `highlight`
    * response: where [[highlight]] returns hit POSITIONS, this renders
    * the actual fragment payloads — for each of the first `nFragments`
    * hits per (query, doc), a snippet of ±`context` tokens around the
    * hit with the matched term wrapped in `<em>…</em>` (ES's default
    * `pre_tags`/`post_tags`), in document order. Same scale shape as
    * [[highlight]]: the hit-position array is sliced per doc BEFORE the
    * explode, every fragment is a bounded token window, and the whole
    * thing is one codegen'd narrow pass — zero joins, zero shuffles,
    * output ≤ `nFragments·|queries|` bounded-length rows per doc.
    */
  def snippets(queries: Seq[(Long, Seq[String])], nFragments: Int = 5,
      context: Int = 3)(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val rows = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        slice(
          filter(sequence(lit(1), size(toks)),
            i => element_at(toks, i).isInCollection(terms)),
          1, nFragments).as("hits"))
    }
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("tk"),
        explode(array(rows: _*)).as("qh"))
      .select(col("qh.query_id").as("query_id"), col("doc_id"),
        col("tk"), posexplode(col("qh.hits")).as(Seq("fp", "hit")))
      .select(col("query_id"), col("doc_id"),
        (col("fp") + 1).cast("long").as("frag_no"),
        array_join(transform(
          sequence(greatest(col("hit") - context, lit(1)),
            least(col("hit") + context, size(col("tk")))),
          j => when(j === col("hit"),
            concat(lit("<em>"), element_at(col("tk"), j), lit("</em>")))
            .otherwise(element_at(col("tk"), j))), " ").as("fragment"))
  }

  // ------------------------------------------------------ Gopher-rules gate

  /** Composite document-quality gate in the Gopher/C4 rule-of-thumb
    * style: token-count bounds, mean-word-length band, symbol share,
    * alphabetic-word share, stopword evidence, and repetition, each
    * emitted as its own boolean alongside the composite `keep` — a
    * curation team reads WHICH rule fired, not just the verdict (and
    * per-rule booleans make threshold tuning a groupBy away). Every
    * rule is a pure narrow column expression over [[TextOps]] signals
    * (WSCG, zero shuffles, no model state at all ⇒ batch ≡ streaming
    * trivially); ratios are exactly-rounded IEEE divisions of integer
    * counts, so the oracle mirrors them bitwise.
    */
  def gopherGate(minTokens: Int = 20, maxTokens: Int = 1000,
      minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaShare: Double = 0.8,
      minStopwordHits: Int = 2, minDistinctRatio: Double = 0.3)(
      docs: DataFrame): DataFrame = {
    val q = TextOps.qualityColumns(col("text")).toMap
    val r = TextOps.repetitionColumns(col("text")).toMap
    val tk = tokens(col("text"))
    val alphaShare = size(filter(tk, t => t.rlike("[a-zA-Z]")))
      .cast("double") / size(tk).cast("double")
    val stopHits = TextOps.markerHits(tk,
      TextOps.langMarkers.flatMap(_._2)).cast("long")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        q("n_tokens").as("n_tokens"),
        q("avg_token_len").as("mean_word_len"),
        (q("n_tokens") >= minTokens && q("n_tokens") <= maxTokens)
          .as("size_ok"),
        (q("avg_token_len") >= minWordLen &&
          q("avg_token_len") <= maxWordLen).as("word_len_ok"),
        (q("punct_ratio") <= maxSymbolRatio).as("symbol_ok"),
        (alphaShare >= minAlphaShare).as("alpha_ok"),
        (stopHits >= minStopwordHits).as("stopword_ok"),
        (r("token_distinct_ratio") >= minDistinctRatio)
          .as("repetition_ok"))
      .withColumn("keep",
        col("size_ok") && col("word_len_ok") && col("symbol_ok") &&
          col("alpha_ok") && col("stopword_ok") && col("repetition_ok"))
  }

  /** Online half of corpus_quality_regression: the trained (w0, w1, w2)
    * weights applied as ONE pure column expression over the gopher
    * feature map (token count, mean word length) — no shuffle, no
    * state, so the scorer runs unchanged on a live stream
    * (train-offline / score-online, the bigramLmScore discipline).
    * Docs with null text are dropped, mirroring the training frame.
    */
  def qualityScore(w0: Double, w1: Double, w2: Double)(
      docs: DataFrame): DataFrame = {
    val q = TextOps.qualityColumns(col("text")).toMap
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), q("n_tokens").as("n_tokens"),
        q("avg_token_len").as("mean_word_len"))
      .withColumn("score", lit(w0) +
        lit(w1) * col("n_tokens").cast("double") +
        lit(w2) * col("mean_word_len"))
  }

  // ------------------------------------------------------- sliding chunking

  /** RAG-style sliding-window chunking: every document becomes
    * overlapping `window`-token chunks starting every `stride` tokens
    * (the unit an embedding/retrieval stage indexes). Chunk count is
    * `ceil(max(n-window, 0)/stride) + 1`, so every token lands in at
    * least one chunk and a short doc still yields exactly one.
    *
    * Pure scan-side geometry: tokenize once, build the chunk index list
    * with `sequence`, `posexplode` + `slice` — a narrow codegen'd map
    * with ZERO shuffles (plan-pinned), so at 100 TB chunking is free to
    * pipeline straight into the embedding UDF or the parquet writer
    * with no exchange in between. Emits the chunk hash rather than the
    * chunk text (the hash is what dedup/indexing joins on; callers that
    * need the text swap `chunk_hash` for the `concat_ws` itself).
    */
  def chunkSliding(window: Int, stride: Int)(docs: DataFrame): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val sz = size(col("__tk"))
    // integer ceil via exactly-representable double division (token
    // counts are far below 2^52, where floor(a/b) is bit-determined)
    val nChunks = (floor((greatest(sz - window, lit(0)) + lit(stride - 1))
      .cast("double") / lit(stride.toDouble)) + lit(1)).cast("int")
    val chunk = slice(col("__tk"), col("chunk_no") * stride + 1, lit(window))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("__tk"))
      .select(col("doc_id"), col("__tk"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_no"))
      .select(col("doc_id"),
        col("chunk_no").cast("long").as("chunk_no"),
        (col("chunk_no") * stride).cast("long").as("chunk_start"),
        size(chunk).cast("long").as("n_tokens"),
        md5(concat_ws(" ", chunk)).as("chunk_hash"))
  }

  // ---------------------------------------------------------- RAG retrieval

  /** End-to-end RAG retrieval: sliding-window chunks embedded with the
    * vocabulary-free hashing trick (signed token buckets — the
    * [[TextOps.hashFeatures]] kernel at chunk grain) and ranked by
    * exact cosine against query documents embedded the SAME way. The
    * integer representation is the scale story, with two scoring paths:
    *
    *  - literal path (bounded query workload, the pinned case): each
    *    chunk scores against the literal query matrix with O(window)
    *    integer folds inside the scan projection — zero exchanges
    *    before the top-k, and no dense vector is ever materialized
    *    (norm via one sorted run-length pass, dot via a per-token
    *    table lookup into the broadcast literal);
    *  - join path (oversized workloads): chunk vectors are sparse
    *    (chunk, dim, weight) rows — one corpus explode + one
    *    (chunk, dim) aggregate; the dot product is an equi-join on dim
    *    against the BROADCAST query vectors — the corpus is never
    *    shuffled to meet a query;
    *  - on both paths weights, dots, and squared norms are integer sums
    *    (order-free, oracle-exact); only the final cosine normalization
    *    is floating point, one expression tree shared with the oracle.
    *
    * Query docs are excluded from the chunked corpus side, so a query
    * never retrieves itself. Zero-norm vectors (all buckets cancelled)
    * are dropped on both sides — cosine is undefined there.
    */
  /** Above this many query docs the literal scoring path would bloat
    * the plan (each query embeds a dims-length constant array); the
    * dim-join path takes over. Sized well above the pinned workloads
    * (≈50 queries at every probe scale) and well below plan-size pain.
    */
  private val QueryLitCap = 128

  def ragRetrieve(isQuery: Column, window: Int, stride: Int,
      dims: Int, k: Int, litCap: Int = QueryLitCap)(
      docs: DataFrame): DataFrame = {
    import graft.functions.PortableHash.h15
    val base = docs.filter(col("text").isNotNull)
    val sz = size(col("__tk"))
    val nChunks = (floor((greatest(sz - window, lit(0)) +
      lit(stride - 1)).cast("double") / lit(stride.toDouble)) + 1)
      .cast("int")
    lazy val chunkTerms = base.filter(!isQuery)
      .select(col("doc_id"), tokens(col("text")).as("__tk"))
      .select(col("doc_id"), col("__tk"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        explode(slice(col("__tk"), col("chunk_no") * stride + 1,
          lit(window))).as("term"))
    def vecs(t: DataFrame, keys: Seq[String]): DataFrame = t
      .withColumn("hv", h15(concat(lit("rag:"), col("term"))))
      .groupBy(keys.map(col) :+ (col("hv") % dims).as("dim"): _*)
      .agg(sum(when(expr(s"(hv div $dims) % 2") === 0, 1L)
        .otherwise(-1L)).as("v"))
    // the chunk-vector frame is consumed by the dot join AND its norm
    // aggregate — materialized once, like every posting table. Lazy:
    // only the join path consumes it; the literal path builds dense
    // per-chunk vectors scan-side and never shuffles chunk-dim rows.
    lazy val cv = DedupOps.materialize(
      vecs(chunkTerms, Seq("doc_id", "chunk_no")))
    // lazy: the literal path collects the raw frame once (its only
    // consumer — checkpointing first would pay a write+read for
    // nothing); the join path materializes it because the dot join and
    // the norm aggregate both consume it
    lazy val qvRaw = vecs(
      base.filter(isQuery)
        .select(col("doc_id").as("query_id"),
          explode(tokens(col("text"))).as("term")),
      Seq("query_id"))
    // Scoring path choice. The dim-equi-join shape explodes every
    // chunk-dim row by every query carrying that dim — with dims=64 and
    // ~50 queries the 100× probe pushed ~1.5 B rows through the
    // (query, doc, chunk) hash aggregate, the measured bottleneck. When
    // the query workload is literal-sized (the pinned-workload case —
    // queries are a workload, not data), embed the query matrix as a
    // broadcast LITERAL instead and score each chunk with O(window)
    // integer folds INSIDE the scan projection (guide §4), so the
    // chunk-term explode, the (doc, chunk, dim) hash aggregate and its
    // exchange do not exist at all on this path (guide §2.4).
    // Exactness vs the join path: integer addition is
    // order-independent (dot regrouped per token instead of per dim,
    // norm regrouped per sorted dim run), a weight lookup of a
    // present-but-cancelled-to-zero dim multiplies by the same 0 the
    // join row carries, and the presence BITMASK reproduces the join
    // path's
    // candidate semantics (a chunk enters a query's ranking iff it
    // SHARES a dim, even when the weight product is zero). The probe
    // idiom and the bounded cap mirror bigramLmScoreAuto: oversized
    // query sets keep the join path, which is linear in the corpus for
    // a fixed workload.
    lazy val cn = cv.groupBy(col("doc_id"), col("chunk_no"))
      .agg(sum(col("v") * col("v")).as("cn"))
    // ONE bounded collect decides the path AND fetches the matrix: a query
    // workload of ≤ litCap docs has ≤ litCap·dims vector rows, so
    // DriverModel.collectBounded either returns the complete matrix or proves
    // the workload is oversized and the join path takes over. A separate
    // count-then-collect pair cost two extra scans per DataFrame CONSTRUCTION
    // (bench passes rebuild the frame, so it showed up as +2 s at sf0.1). The
    // literal path additionally requires (a) a NON-EMPTY matrix —
    // explode(array()) of zero query structs yields a NullType element and the
    // q.* field extraction fails, whereas the join path returns the correct
    // empty frame for a zero-query workload — and (b) ≤ litCap DISTINCT query
    // ids: the row-count probe alone would let >litCap sparse queries (fewer
    // than dims non-zero buckets each) embed an oversized constant matrix, the
    // exact plan-size bloat the cap exists to bound.
    val qMatrix: Option[Array[org.apache.spark.sql.Row]] =
      if (dims <= 64 && litCap > 0)
        DriverModel.collectBounded(
            qvRaw.select(col("query_id"), col("dim"), col("v")),
            litCap * dims)
          .filter(rows => rows.nonEmpty &&
            rows.iterator.map(_.getLong(0)).toSet.size <= litCap)
      else None
    val scoredRaw =
      if (qMatrix.isDefined) {
        val qStructs = qMatrix.get.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
          .map { case (qid, rs) =>
            val w = new Array[Long](dims)
            var mask = 0L
            var nrm = 0L
            rs.foreach { r =>
              val d = r.getLong(1).toInt
              w(d) = r.getLong(2)
              mask |= 1L << d
              nrm += r.getLong(2) * r.getLong(2)
            }
            struct(lit(qid).as("query_id"),
              typedLit(w.toSeq).as("qw"),
              lit(mask).as("qm"),
              lit(nrm).as("qn"))
          }
        // Per-chunk scoring built INSIDE the scan projection (guide §4
        // / §2.4 — r17): hv = h15("rag:" + term) once per token (stored
        // in __hv), dim = hv mod dims, sign = +1 iff (hv div dims) is
        // even. h15 is non-negative, so (hv div dims) % 2 == 0 ⟺
        // hv mod (2·dims) < dims — the lambda-safe form (Column has no
        // integer-div primitive and a double division is inexact above
        // 2^52; h15 is 60-bit). The first literal-path cut built the
        // DENSE dims-length vector with a per-dim scan of __hv —
        // O(window·dims·2) interpreted-lambda evals per chunk — and the
        // bench read FLAT (6.37 → 6.41 s): the removed exchange's win
        // went straight into per-chunk expression work (the guide's
        // §1.1 first-principles check failed). Everything the scoring
        // needs is instead computable in O(window) passes over __hv:
        //
        //  - cm (presence bitmask, dims ≤ 64): OR of the dim's power of
        //    two per token — element_at into the literal power table
        //    (Scala shiftleft needs a literal shift, the table doesn't);
        //  - cn (squared norm Σ_d v_d²): sort the per-token
        //    (dim·2 + signbit) encoding — same-dim tokens become
        //    contiguous — then ONE run-length pass accumulates each
        //    dim's signed run and adds run² at group boundaries
        //    (O(window log window), exact Long arithmetic; equals the
        //    dense Σ v² because v_d IS the signed run of dim d);
        //  - dot per query: Σ_token sign·qw[dim] ≡ Σ_d v_d·qw_d by
        //    regrouping a finite integer sum — O(window) per query
        //    directly from __hv, no dense vector ever built.
        //
        // Per-chunk lambda evals drop from ~2·window·dims + 3·dims +
        // dims·|Q| to ~3·window + window·|Q| (window 32, dims 64,
        // |Q|≈50: ~7.5k → ~1.8k), and the zero-exchange shape is kept.
        val dimPow = typedLit(Array.tabulate(dims)(i => 1L << i).toSeq)
        def dimOf(hv: Column): Column = pmod(hv, lit(dims.toLong))
        def signOf(hv: Column): Column =
          when(pmod(hv, lit(2L * dims)) < lit(dims.toLong), lit(1L))
            .otherwise(lit(-1L))
        // (dim·2 + signbit) encoding: non-negative, sortable, sign
        // recoverable from the low bit (0 ⇒ +1, 1 ⇒ −1)
        val enc = array_sort(transform(col("__hv"), hv =>
          dimOf(hv) * 2 + when(pmod(hv, lit(2L * dims)) <
            lit(dims.toLong), lit(0L)).otherwise(lit(1L))))
        def encSign(e: Column): Column =
          lit(1L) - pmod(e, lit(2L)) * 2L
        // run-length Σ run² pass: st = (prev dim's encoded id, signed
        // run of the current dim, Σ run² over CLOSED dims); the finish
        // lambda flushes the last open run. prev = -1 never equals a
        // real dim, so the first element opens a group cleanly.
        val cnCol = aggregate(col("__enc"),
          struct(lit(-1L).as("prev"), lit(0L).as("run"),
            lit(0L).as("acc")),
          (st, e) => {
            val dim = shiftright(e, 1)
            val same = dim === st.getField("prev")
            struct(dim.as("prev"),
              when(same, st.getField("run") + encSign(e))
                .otherwise(encSign(e)).as("run"),
              when(same, st.getField("acc"))
                .otherwise(st.getField("acc") +
                  st.getField("run") * st.getField("run")).as("acc"))
          },
          st => st.getField("acc") +
            st.getField("run") * st.getField("run"))
        val chunkVecs = base.filter(!isQuery)
          .select(col("doc_id"), tokens(col("text")).as("__tk"))
          .select(col("doc_id"), col("__tk"),
            explode(sequence(lit(0), nChunks - 1)).as("chunk_no"))
          .select(col("doc_id"),
            col("chunk_no").cast("long").as("chunk_no"),
            transform(slice(col("__tk"), col("chunk_no") * stride + 1,
              lit(window)), t =>
              h15(concat(lit("rag:"), t))).as("__hv"))
          .withColumn("__enc", enc)
          .select(col("doc_id"), col("chunk_no"), col("__hv"),
            cnCol.as("cn"),
            aggregate(col("__hv"), lit(0L), (a, hv) =>
              a.bitwiseOR(element_at(dimPow,
                (dimOf(hv) + 1).cast("int")))).as("cm"))
        chunkVecs
          .select(col("doc_id"), col("chunk_no"), col("cn"),
            col("__hv"), col("cm"), explode(array(qStructs: _*)).as("q"))
          .filter(col("cm").bitwiseAND(col("q.qm")) =!= 0L)
          .select(col("q.query_id").as("query_id"), col("doc_id"),
            col("chunk_no"),
            aggregate(col("__hv"), lit(0L), (a, hv) =>
              a + signOf(hv) * element_at(col("q.qw"),
                (dimOf(hv) + 1).cast("int"))).as("dot"),
            col("cn"), col("q.qn").as("qn"))
      } else {
        val qv = DedupOps.materialize(qvRaw)
        val qn = qv.groupBy(col("query_id"))
          .agg(sum(col("v") * col("v")).as("qn"))
        cv.join(broadcast(qv.select(col("query_id"), col("dim"),
            col("v").as("qw"))), Seq("dim"))
          .groupBy(col("query_id"), col("doc_id"), col("chunk_no"))
          .agg(sum(col("v") * col("qw")).as("dot"))
          .join(cn, Seq("doc_id", "chunk_no"))
          .join(broadcast(qn), Seq("query_id"))
          .select(col("query_id"), col("doc_id"), col("chunk_no"),
            col("dot"), col("cn"), col("qn"))
      }
    // Two-phase exact top-k: a single window per query_id would funnel
    // EVERY scored (query, chunk) pair — |queries|·|chunks| rows, 36 M
    // at the 100× probe — into |queries| single-threaded sorts. Phase 1
    // takes the per-(query, salt) top-k over 64 hash salts (parallel,
    // each partition 1/64th the size); the global top-k by the same
    // total order (cos desc, doc_id, chunk_no) is a subset of the union
    // of per-salt top-ks, so phase 2's window sees ≤ 64·k rows per
    // query — constant, not corpus-sized. Exact for any data.
    val scored = scoredRaw
      .filter(col("cn") > 0 && col("qn") > 0)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("cn").cast("double")) * sqrt(col("qn").cast("double"))))
    val order = Seq(col("cos").desc, col("doc_id").asc,
      col("chunk_no").asc)
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"),
        pmod(hash(col("doc_id"), col("chunk_no")), lit(64)))
      .orderBy(order: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(order: _*)
    scored
      .withColumn("__pr", row_number().over(w1))
      .filter(col("__pr") <= k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("chunk_no"),
        col("dot"), col("cos"), col("rank"))
  }

  // -------------------------------------------------------- bigram LM gate

  /** The class every out-of-vocabulary token maps to before bigram
    * counting. A literal `<unk>` corpus token maps to itself, which IS
    * the class semantics — no ambiguity either way.
    */
  val UnkClass = "<unk>"

  /** Offline bigram LANGUAGE MODEL: counts of consecutive class pairs,
    * where a class is the token itself inside the top-V [[vocabulary]]
    * and [[UnkClass]] otherwise. The class mapping bounds the model at
    * (V+1)² rows REGARDLESS of corpus size — a 100 TB corpus still
    * yields a broadcast-able model — the same trick CCNet-style
    * pipelines use to keep per-language LM-filter state small. Shape:
    * one narrow per-row map + one hash aggregate (map-side partial
    * counts); the corpus itself never shuffles, only (V+1)²-bounded
    * class pairs do.
    */
  def bigramModel(vocab: Set[String])(docs: DataFrame): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val classes = udf { (text: String) =>
      tokenizeLikeSpark(text).map(t => if (bc.value(t)) t else UnkClass)
    }
    val n = size(col("__c"))
    docs.filter(col("text").isNotNull)
      .select(classes(col("text")).as("__c"))
      .select(explode(zip_with(
        slice(col("__c"), lit(1), greatest(n - 1, lit(0))),
        slice(col("__c"), lit(2), greatest(n - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .groupBy(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
  }

  /** ONLINE LM scoring: each document's mean add-one-smoothed bigram
    * probability under the (broadcast) model, gated on `keep`. A CCNet
    * gate scores KenLM log-perplexity; `ln`/`exp` are NOT exactly-
    * rounded IEEE ops (engines legitimately disagree in the last ulp,
    * which a bit-exact oracle hash catches), so the score keeps the
    * probabilities linear in deterministic fixed-point instead:
    * `floor(1e6 · (c12+1)/(c1+V+1))` per position, summed per doc.
    * Division, multiplication by 1e6 and floor ARE exactly-rounded ⇒
    * Spark and the DuckDB oracle agree bitwise, and the score still
    * ranks documents the same direction as perplexity (higher mean
    * next-token probability = more model-typical text). Context counts
    * derive from the bigram table itself (c1 = Σ_w2 c12), so model and
    * contexts cannot drift apart.
    *
    * Pure per-row map over broadcast model state ⇒ batch ≡ streaming;
    * at 100 TB the apply is scan-side only (zero shuffles). Documents
    * with fewer than two tokens carry no bigram evidence and are
    * dropped, mirroring the oracle's empty GROUP BY group.
    */
  def bigramLmScore(vocab: Set[String], model: Map[(String, String), Long],
      vocabSize: Int, keepAbove: Double)(docs: DataFrame): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val contexts: Map[String, Long] =
      model.groupMapReduce(_._1._1)(_._2)(_ + _)
    val bcV = sc.broadcast(vocab)
    val bcM = sc.broadcast(model)
    val bcC = sc.broadcast(contexts)
    val denomAdd = vocabSize + 1L
    val score = udf { (text: String) =>
      val c = tokenizeLikeSpark(text)
        .map(t => if (bcV.value(t)) t else UnkClass)
      var fp = 0L
      var i = 1
      while (i < c.length) {
        val c12 = bcM.value.getOrElse((c(i - 1), c(i)), 0L)
        val c1 = bcC.value.getOrElse(c(i - 1), 0L)
        fp += math.floor(
          1000000.0 * ((c12 + 1).toDouble / (c1 + denomAdd).toDouble)).toLong
        i += 1
      }
      ((c.length - 1).toLong, fp)
    }
    docs.filter(col("text").isNotNull)
      .withColumn("__s", score(col("text")))
      .filter(col("__s._1") > 0)
      .select(col("doc_id"),
        col("__s._1").as("n_bigrams"),
        col("__s._2").as("lm_fp"),
        (col("__s._2").cast("double") /
          (lit(1000000.0) * col("__s._1").cast("double"))).as("avg_prob"))
      .withColumn("keep", col("avg_prob") >= lit(keepAbove))
  }

  /** Join-based dual of [[bigramLmScore]] for bigram models too large
    * to collect into a driver Map (worst case V² entries): the SAME
    * fixed-point per-position term — floor(1e6·(c12+1)/(c1+V+1)) with
    * identical double-op association, so the two paths are bit-equal —
    * but the model applied as a BROADCAST frame join instead of a
    * closure. Both joins broadcast the model side, so the corpus is
    * never hash-exchanged on a word key (the "the the" skew key); the
    * only corpus shuffle is the per-doc sum on doc_id — PlanSpec pins
    * exactly that shape. Unseen bigrams and contexts coalesce to 0
    * counts, mirroring the Map's getOrElse.
    */
  def bigramLmScoreJoin(vocab: Set[String], model: DataFrame,
      vocabSize: Int, keepAbove: Double)(docs: DataFrame): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val classes = udf { (text: String) =>
      tokenizeLikeSpark(text).map(t => if (bc.value(t)) t else UnkClass)
    }
    val denomAdd = vocabSize + 1L
    val contexts = model.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val n = size(col("__c"))
    val fp = floor(lit(1000000.0) *
      ((coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("c1"), lit(0L)) + lit(denomAdd)).cast("double")))
      .cast("long")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), classes(col("text")).as("__c"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("__c"), lit(1), greatest(n - 1, lit(0))),
        slice(col("__c"), lit(2), greatest(n - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("doc_id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .join(broadcast(contexts), Seq("w1"), "left_outer")
      .join(broadcast(model), Seq("w1", "w2"), "left_outer")
      .select(col("doc_id"), fp.as("__fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__fp")).as("lm_fp"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_fp"),
        (col("lm_fp").cast("double") /
          (lit(1000000.0) * col("n_bigrams").cast("double"))).as("avg_prob"))
      .withColumn("keep", col("avg_prob") >= lit(keepAbove))
  }

  /** Size-aware LM apply (the [[stripBoilerplateAuto]] discipline for
    * the bigram model): collect-and-broadcast-closure while the model
    * fits comfortably on the driver, the broadcast-frame join beyond
    * `maxDriverModel` entries. The probe is bounded — limit(cap+1)
    * proves over/under without counting (or collecting) the world, and
    * the probe rows ARE the model when they fit, so the under-cap path
    * pays no second evaluation.
    */
  def bigramLmScoreAuto(vocab: Set[String], model: DataFrame,
      vocabSize: Int, keepAbove: Double,
      maxDriverModel: Long = 1000000L)(docs: DataFrame): DataFrame = {
    DriverModel.collectBounded(model, driverCap(maxDriverModel)) match {
      case Some(rows) =>
        bigramLmScore(vocab,
          rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
            .toMap, vocabSize, keepAbove)(docs)
      case None => bigramLmScoreJoin(vocab, model, vocabSize, keepAbove)(docs)
    }
  }

  private def driverCap(maxDriverModel: Long): Int =
    math.min(maxDriverModel, Int.MaxValue - 1L).toInt

  // --------------------------------------------------- DSIR resampling

  /** Hashed-feature space size for the DSIR model. 2^12 buckets bound
    * the model at 4096 rows at ANY corpus size (DSIR's own device for
    * keeping the n-gram LMs O(buckets), Xie et al. 2023 §3).
    */
  val DsirBuckets = 4096

  /** Clip denominator for the resampling gate: keep probability is
    * nscore / DsirClip, i.e. a doc at 2× the average target/raw ratio
    * (nscore = 2e6) is kept with probability 1 — clipped importance
    * sampling.
    */
  val DsirClip = 2000000L

  /** Offline DSIR importance model (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): bucket counts of
    * hashed unigram features for a TARGET domain slice vs the RAW
    * corpus, both in ONE hash aggregate. The hashed space bounds the
    * model at [[DsirBuckets]] rows regardless of corpus size — a 100 TB
    * run still collects a broadcast-able model. The corpus itself never
    * shuffles; only bucket-grain partials do (map-side combine).
    */
  def dsirModel(isTarget: Column, buckets: Int = DsirBuckets)(
      docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(isTarget.as("__t"),
        explode(TextOps.tokens(col("text"))).as("__tok"))
      .groupBy(pmod(graft.functions.PortableHash.h15(
        concat(lit("dsir:"), col("__tok"))), lit(buckets.toLong))
        .as("bucket"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("c_target"),
        count(lit(1)).as("c_raw"))

  /** Per-bucket fixed-point importance weights from the collected model:
    * `floor(1e6 · p_target(b) / p_raw(b))` under add-one smoothing.
    * DSIR proper works in log space and sums log-ratios; `ln` is not an
    * exactly-rounded IEEE op (engines disagree in the last ulp, which a
    * bit-exact oracle hash catches), so the weight keeps the ratio
    * LINEAR — summing per-token ratios instead of log-ratios preserves
    * the "more target-like ⇒ higher score" direction (arithmetic
    * instead of geometric mean), with division/multiplication/floor all
    * exactly rounded. The expression tree here is interpolated verbatim
    * into the oracle SQL — association order matters.
    */
  def dsirWeights(model: Seq[(Long, Long, Long)],
      buckets: Int = DsirBuckets): Map[Long, Long] = {
    val t = model.map(_._2).sum
    val r = model.map(_._3).sum
    val tb = (t + buckets).toDouble
    val rb = (r + buckets).toDouble
    model.map { case (b, ct, cr) =>
      b -> math.floor(1000000.0 *
        (((ct + 1).toDouble * rb) / ((cr + 1).toDouble * tb))).toLong
    }.toMap
  }

  /** ONLINE DSIR scoring + resampling: each doc's score is the integer
    * sum of its tokens' bucket weights (order-free), nscore the mean
    * per-token ratio (integer div), and the keep gate is hash-Bernoulli
    * with probability nscore/[[DsirClip]] — deterministic importance
    * resampling, reproducible across engines and partitionings. Pure
    * per-row map over broadcast model state ⇒ zero shuffles, batch ≡
    * streaming (train-offline/apply-online split). `defaultW` prices
    * buckets absent from the model — impossible when scoring the
    * modeled corpus itself (raw counts cover every scored token), real
    * for fresh streamed docs.
    */
  def dsirScore(weights: Map[Long, Long], defaultW: Long,
      buckets: Int = DsirBuckets, clipAt: Long = DsirClip)(
      docs: DataFrame): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(weights)
    val b = buckets.toLong
    val score = udf { (text: String) =>
      if (text == null) (0L, 0L)
      else {
        val toks = tokenizeLikeSpark(text)
        var fp = 0L
        var i = 0
        while (i < toks.length) {
          val bucket = graft.functions.PortableHash
            .h15Jvm("dsir:" + toks(i)) % b
          fp += bc.value.getOrElse(bucket, defaultW)
          i += 1
        }
        (toks.length.toLong, fp)
      }
    }
    docs
      .withColumn("__s", score(col("text")))
      .select(col("doc_id"),
        col("__s._1").as("n_tokens"),
        col("__s._2").as("score_fp"),
        // ANSI guard: token-less docs (null text) get a null mean, the
        // oracle's left-join null for the same rows
        when(col("__s._1") > 0, expr("__s._2 div __s._1"))
          .otherwise(lit(null).cast("long")).as("nscore_fp"))
      .withColumn("keep",
        when(col("n_tokens") > 0,
          pmod(graft.functions.PortableHash.h15(
            concat(lit("dsirkeep:"), col("doc_id").cast("string"))),
            lit(clipAt)) < col("nscore_fp"))
          .otherwise(lit(false)))
  }

  // ------------------------------------------------------ mixture sampling

  /** Data-mixture rebalancing: downsample each source so every source
    * contributes (up to rounding) the SAME token count — the uniform
    * case of the mixture-weighting step a training pipeline runs before
    * packing (heavier web crawls get thinned; the smallest source sets
    * the budget). Deterministic end to end:
    *
    *  - per-source token totals are one hash aggregate (model state,
    *    one row per source);
    *  - the keep rate for source s is `minTotal·10000 div total_s`
    *    basis points — INTEGER arithmetic only, so both engines derive
    *    identical rates with no float rounding to disagree on;
    *  - membership is the salted portable hash of the doc id against
    *    that rate (same reproducible-subset contract as
    *    [[TextOps.hashSample]] — stable across runs, clusters, engines).
    *
    * The apply is a pure per-row filter against a broadcast rate map ⇒
    * batch ≡ streaming, and at 100 TB the only distributed work is the
    * totals aggregate plus a scan-side filter.
    */
  def mixtureSample(docs: DataFrame, salt: String = "mix"): DataFrame =
    mixtureSampleWithRates(mixtureRates(docs), salt)(docs)

  /** Temperature-based mixture rates at α = 1/2 — the multilingual-
    * training standard (sample source s with probability ∝ t_s^α,
    * α < 1 flattening the head so low-resource sources are not
    * drowned). α is FIXED at 1/2 here because x^0.5 ≡ sqrt(x) is an
    * exactly-rounded IEEE operation while pow/exp/ln are not — the one
    * α where both engines agree bitwise. The √-total normalizer sums
    * DRIVER-side in sorted-source order (model state), so the oracle's
    * `list_reduce(list(... ORDER BY source))` folds the identical
    * sequence; keep rate = min(1, total·√t_s / (S·t_s)) in integer
    * basis points, gated by the same salted-hash contract as
    * [[mixtureSample]]. Rates > 1 clamp to 1 (downsample-only; compose
    * [[mixtureUpsample]] for true resampling of the tail).
    */
  def mixtureTemperatureRates(docs: DataFrame): Map[String, Long] = {
    val sorted = sourceTotals(docs).toSeq.sortBy(_._1)
    val s = sorted.foldLeft(0.0) { case (acc, (_, t)) =>
      acc + math.sqrt(t.toDouble)
    }
    val tot = sorted.foldLeft(0L)(_ + _._2)
    sorted.map { case (src, t) =>
      src -> math.min(10000L, math.floor(10000.0 *
        ((tot.toDouble * math.sqrt(t.toDouble)) / s / t.toDouble)).toLong)
    }.toMap
  }

  def mixtureTemperature(docs: DataFrame, salt: String = "temp")
      : DataFrame =
    mixtureSampleWithRates(mixtureTemperatureRates(docs), salt)(docs)

  /** Per-source token totals — the one aggregate both mixture
    * directions derive their rates from (one row per source, driver
    * model state like the vocabulary).
    */
  private def sourceTotals(docs: DataFrame): Map[String, Long] = {
    val totals = docs
      .groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(totals.nonEmpty, "mixture rates need at least one source")
    totals
  }

  /** The mixture MODEL: per-source keep rates in basis points. */
  def mixtureRates(docs: DataFrame): Map[String, Long] = {
    val totals = sourceTotals(docs)
    val minTotal = totals.values.min
    totals.map { case (s, t) => s -> (minTotal * 10000L / t) }
  }

  /** ONLINE application of batch-derived rates: a pure per-row filter
    * against the literal rate map ⇒ batch ≡ streaming — the same
    * train-offline/apply-online split as [[stripBoilerplate]]. A source
    * absent from the model has no rate and is DROPPED (`element_at`
    * yields null → filter false): the conservative choice for a gate —
    * new sources wait for the next model refresh rather than flooding
    * the mixture unweighted.
    */
  def mixtureSampleWithRates(bp: Map[String, Long],
      salt: String = "mix")(docs: DataFrame): DataFrame =
    docs.filter(
      pmod(graft.functions.PortableHash.h15(
          concat(lit(s"$salt:"), col("doc_id").cast("string"))),
        lit(10000L)) <
        element_at(typedlit(bp), col("source")))

  /** Epoch upsampling — the dual of [[mixtureSample]] for SMALL
    * sources: instead of thinning every source to the smallest budget,
    * repeat each source until it contributes ~the LARGEST source's
    * token count — "epochs" in the LLM data-recipe sense (a 3.2-epoch
    * source appears 3 times in full plus a hash-gated 20% fourth pass).
    * Deterministic: rates are integer basis points (maxTotal·10000 div
    * total ≥ 10000); the guaranteed ⌊bp/10000⌋ copies explode from a
    * per-source literal; the fractional copy is gated by the salted
    * portable hash. Output carries the `epoch` index so downstream
    * packing/shuffling can distinguish the repeats.
    *
    * Scale shape: one token-total aggregate (model state) + a pure
    * per-row explode whose fan-out is the epoch count — no shuffle, no
    * join; expected per-source output tokens = total·bp/10000 ≈
    * maxTotal for every source.
    */
  def mixtureUpsample(docs: DataFrame, salt: String = "epoch")
      : DataFrame = {
    val totals = sourceTotals(docs)
    val maxTotal = totals.values.max
    val bp = totals.map { case (s, t) => s -> (maxTotal * 10000L / t) }
    val full: Map[String, Long] = bp.map { case (s, r) => s -> r / 10000L }
    val rem: Map[String, Long] = bp.map { case (s, r) => s -> r % 10000L }
    docs
      .withColumn("epoch", explode(sequence(lit(0L),
        element_at(typedlit(full), col("source")))))
      .filter(col("epoch") < element_at(typedlit(full), col("source")) ||
        pmod(graft.functions.PortableHash.h15(
            concat(lit(s"$salt:"), col("doc_id").cast("string"))),
          lit(10000L)) <
          element_at(typedlit(rem), col("source")))
  }

  // ------------------------------------------------------ sequence packing

  /** Phase 1 of the scan: per-bucket local prefix sums. Package-visible
    * so PlanSpec can pin its shape (the localCheckpoint in
    * [[packSequences]] truncates the published plan).
    */
  private[graft] def packPrefix(docs: DataFrame, bucketWidth: Long)
      : DataFrame = {
    val base = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      expr(s"doc_id div $bucketWidth").as("__b"))
    val w = Window.partitionBy(col("__b")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("__cum", sum(col("n_tokens")).over(w))
  }

  /** GPT-style concat-and-chunk sequence packing: documents are
    * concatenated in doc_id order and cut into fixed `budget`-token
    * training sequences; each doc reports the sequence span it lands on
    * and its token offset inside the first one.
    *
    * The global running token sum is computed as a TWO-PHASE DISTRIBUTED
    * SCAN — per-bucket window prefix sums (each window partition-local
    * over a monotone doc_id bucketing) plus a bucket-total table collected
    * as model state (one row per bucket) and folded into cumulative
    * offsets applied map-side. No single-partition global window
    * anywhere, which is what a naive `Window.orderBy(doc_id)` with no
    * partitioning degenerates to at 100 TB.
    *
    * @param bucketWidth doc_ids per scan bucket: ~corpus_size/bucketWidth
    *                    driver rows; pick so both the bucket count and
    *                    the per-bucket row count stay comfortable
    */
  def packSequences(docs: DataFrame, budget: Int,
      bucketWidth: Long = 1000L): DataFrame = {
    require(budget > 0, "budget must be positive")
    // checkpointed once: BOTH the bucket-totals collect and the final
    // select consume it, and without the cut the tokenize + shuffle +
    // window would run twice (the most expensive stage at scale)
    val local = packPrefix(docs, bucketWidth).localCheckpoint(false)
    // bucket totals are model state: one (bucket, total) row per bucket
    val totals = local.groupBy(col("__b"))
      .agg(max(col("__cum")).as("__t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Long, Long] = totals.map(_._1)
      .zip(totals.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    local
      .withColumn("__before",
        element_at(typedlit(offsets), col("__b")) +
          col("__cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__before div $budget").as("seq_first"),
        expr(s"(__before + n_tokens - 1) div $budget").as("seq_last"),
        (col("__before") % budget).as("tok_offset"))
  }

  // ------------------------------------------------- contamination check

  /** Benchmark-contamination detection: training documents sharing at
    * least one `k`-token shingle with any document of the eval set
    * (`evalPred` rows). Returns (doc_id, n_shared) for contaminated
    * training docs only.
    *
    * Scale shape: the eval side is a benchmark — small by definition —
    * so its distinct shingle set is BROADCAST and the corpus side is a
    * narrow explode + broadcast-hash semi-join + per-doc count: the
    * corpus is never shuffled on the shingle key. Per-doc shingles are
    * already distinct (shingleSet), so the per-doc match count is a
    * plain count.
    */
  def contamination(docs: DataFrame, evalPred: Column, k: Int = 8)
      : DataFrame = {
    val withShingles = docs.select(col("doc_id"),
      evalPred.as("__eval"),
      graft.functions.TextExprs.shingleSet(tokens(col("text")), k)
        .as("__sh"))
    val evalShingles = withShingles.filter(col("__eval"))
      .select(explode(col("__sh")).as("sh")).distinct()
    withShingles.filter(!col("__eval"))
      .select(col("doc_id"), explode(col("__sh")).as("sh"))
      .join(broadcast(evalShingles), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ------------------------------------------------- BPE tokenizer training

  /** Initial BPE symbol string for a word: characters separated by
    * single spaces plus the `</w>` word-end marker (the classic
    * Sennrich/GPT-2 formulation). `regexp_replace` with a capture group
    * inserts the separators identically in Spark and DuckDB.
    */
  private def bpeInitSym(word: Column): Column =
    concat(trim(regexp_replace(word, "(.)", "$1 ")), lit(" </w>"))

  /** One greedy left-to-right merge pass: adjacent (l, r) symbol pairs
    * collapse into l+r, non-overlapping, scanning left to right — in a
    * run of overlapping matches (p1 == p2) every OTHER occurrence
    * applies, exactly the classic BPE apply rule. Expressed as a fold
    * (`functions.aggregate`): append each symbol; when the accumulator
    * tail equals `l` and the incoming symbol is `r`, replace the tail
    * with the merged symbol. The fold is greedy-correct because a just-
    * merged tail (l+r, both non-empty) can never equal `l` again, so a
    * consumed symbol cannot re-merge within the pass. Pure array
    * expression — no UDF, no shuffle.
    */
  private[graft] def bpeMergePass(syms: Column, l: String, r: String)
      : Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, t) =>
        // try_element_at: NULL on the empty accumulator (ANSI-safe),
        // and NULL === l is NULL ⇒ the otherwise branch — no predicate
        // short-circuit assumption needed.
        when(try_element_at(acc, lit(-1)) === lit(l) && t === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(t))))

  /** Train `k` BPE merges on the corpus — the tokenizer-training half of
    * a pre-training pipeline, on the word-frequency formulation: BPE
    * statistics are a function of the (word, count) table, so the ONLY
    * corpus-scale operation is the first tokenize + word-count shuffle
    * (map-side combined). Everything after runs on the vocabulary frame,
    * which is model-bounded (distinct words, Zipf-bounded in any natural
    * corpus) — each iteration is one vocab-grain pair-count aggregate,
    * one 1-row argmax (count desc, pair asc — deterministic at any
    * partitioning), and one pure-map merge apply, localCheckpointed so
    * iteration i+1 does not re-run iteration i's fold tower.
    *
    * Returns (rank, lhs, rhs, merged, freq) — the learned merge table,
    * k rows of model state.
    */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame =
    bpeTrain(docs, k)._1

  /** [[bpeMerges]] plus the final per-word segmentation
    * (word, cnt, sym) — the trained tokenizer state that
    * [[bpeTokenCounts]] applies online.
    */
  private[graft] def bpeTrain(docs: DataFrame, k: Int)
      : (DataFrame, DataFrame) =
    { val (m, v, _) = bpeTrainMeasured(docs, k, measure = false); (m, v) }

  /** Tokenizer compression curve: the corpus token total (Σ cnt·|syms|
    * over the vocabulary) after each of the first 0..k merges, with
    * fertility = tokens per word instance — the diminishing-returns
    * plot a tokenizer team sizes its vocabulary from. Each point is one
    * vocab-grain 1-row aggregate inside the same training loop.
    */
  def bpeCompressionCurve(docs: DataFrame, k: Int): DataFrame =
    bpeTrainMeasured(docs, k, measure = true)._3

  private def bpeTrainMeasured(docs: DataFrame, k: Int, measure: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    var vocab = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        split(bpeInitSym(col("word")), " ").as("syms"))
      .localCheckpoint(false)
    val curve = Seq.newBuilder[(Long, Long, Long, Double)]
    def measureState(rank: Int): Unit = if (measure) {
      val r = vocab.agg(
        sum(col("cnt") * size(col("syms"))).as("tt"),
        sum(col("cnt")).as("tw")).collect().head
      val (tt, tw) = (r.getLong(0), r.getLong(1))
      curve += ((rank.toLong, tt, tw, tt.toDouble / tw.toDouble))
    }
    measureState(0)
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (i <- 1 to k) {
      // the `when` guards single-symbol words: Spark's sequence(0, -1)
      // would generate a DESCENDING ramp (and element_at(_, 0) throws
      // under ANSI), so 1-symbol rows contribute an empty pair array
      val best = vocab
        .select(col("cnt"), explode(
          when(size(col("syms")) >= 2,
            transform(sequence(lit(0), size(col("syms")) - 2),
              j => struct(element_at(col("syms"), j + 1).as("l"),
                element_at(col("syms"), j + 2).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>")))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("f"))
        .orderBy(col("f").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val row = best.head
        val (l, r, f) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((i.toLong, l, r, l + r, f))
        vocab = vocab
          .withColumn("syms", bpeMergePass(col("syms"), l, r))
          .localCheckpoint(false)
      }
      measureState(i)
    }
    import spark.implicits._
    (merges.result().toDF("rank", "lhs", "rhs", "merged", "freq"), vocab,
      curve.result()
        .toDF("rank", "total_tokens", "total_words", "fertility"))
  }

  /** Apply a learned merge list to ANY word (the standard BPE
    * tokenizer apply): the initial character segmentation, then each
    * merge pass in rank order — exactly the sequence training ran, so
    * for every training-corpus word this reproduces the trained
    * segmentation, and unseen words segment correctly too. Pure nested
    * array expressions ⇒ runs unchanged in Structured Streaming.
    */
  def bpeApplySyms(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(bpeInitSym(word), " ")) {
      case (syms, (l, r)) => bpeMergePass(syms, l, r)
    }

  /** Merge-list (model-as-literal) form of [[bpeTokenCounts]]: per-doc
    * word/BPE-token counts with the segmentation computed per word by
    * [[bpeApplySyms]] — no vocabulary join, no shuffle, null text
    * reports 0/0. The scan-side shape a live ingest stream uses.
    */
  def bpeTokenCountsOnline(merges: Seq[(String, String)])(
      docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    docs.select(col("doc_id"),
      coalesce(size(tk).cast("long"), lit(0L)).as("n_words"),
      coalesce(
        aggregate(tk, lit(0L),
          (acc, w) => acc + size(bpeApplySyms(w, merges)).cast("long")),
        lit(0L)).as("n_bpe_tokens"))
  }

  /** ONLINE apply of the trained tokenizer: per-document word count and
    * BPE token count under the learned segmentation. The trained vocab
    * is the broadcast model (word → symbol count); the corpus side is a
    * narrow explode + broadcast join + per-doc sum — the corpus never
    * shuffles on the word key. Documents with no tokens (null text)
    * report 0/0.
    */
  def bpeTokenCounts(docs: DataFrame, trainedVocab: DataFrame): DataFrame = {
    val model = broadcast(
      trainedVocab.select(col("word"),
        size(col("syms")).cast("long").as("n_sym")))
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(model, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
      .join(docs.select(col("doc_id")), Seq("doc_id"), "right_outer")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }
}
