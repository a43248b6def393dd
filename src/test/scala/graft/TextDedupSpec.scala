package graft

import graft.operators.{DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit tests for the scale-extension operators (text analysis, dedup,
  * similarity) on small hand-built inputs with known answers.
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("token count: whitespace and BPE-ish") {
    val df = docs((1L, "  hello,  world! one two  "))
    val (n, b) = df.select(
      size(TextOps.tokens($"text")),
      TextOps.bpeTokenCount($"text")).as[(Int, Int)].head()
    assert(n == 4)          // hello, | world! | one | two
    assert(b == 6)          // hello , world ! one two
  }

  test("language ID picks the dominant marker language") {
    val df = docs(
      (1L, "der hund und die katze ist da"),
      (2L, "the cat and the dog is here"),
      (3L, "xyzzy plugh"))
    val out = df.select($"doc_id",
      TextOps.langId(TextOps.tokens($"text"))).as[(Long, String)]
      .collect().toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en")
    assert(out(3L) == "und")
  }

  test("redaction replaces emails and phone numbers with placeholders") {
    val df = docs((1L, "mail me at jo.doe+x@corp.example.org or 555-123-4567 ok"))
    val out = df.select(TextOps.redact($"text")).as[String].head()
    assert(out == "mail me at <EMAIL> or <PHONE> ok")
  }

  test("repetition signals: distinct-token share and duplicate bigrams") {
    val df = docs((1L, "a a a b"))
    val (tr, br) = df.select(
      TextOps.repetitionColumns($"text").head._2,
      TextOps.repetitionColumns($"text")(1)._2).as[(Double, Double)].head()
    assert(tr == 0.5)                     // {a, b} of 4 tokens
    assert(math.abs(br - (1.0 - 2.0 / 3.0)) < 1e-12) // "a a" ×2, "a b"
  }

  test("content hash is normalization-invariant") {
    val df = docs((1L, "Hello   World"), (2L, "hello world"),
      (3L, "different"))
    val hs = df.select(TextOps.contentHash($"text")).as[String].collect()
    assert(hs(0) == hs(1) && hs(0) != hs(2))
  }

  test("exact dedup groups normalized duplicates, lowest id wins") {
    val df = docs((5L, "A b C"), (2L, "a B c"), (9L, "other"))
    val out = DedupOps.exactDedup()(df)
      .select($"canonical_id", $"n_copies").as[(Long, Long)]
      .collect().toSet
    assert(out == Set((2L, 2L), (9L, 1L)))
  }

  test("shingle fingerprint is stable and content-sensitive") {
    val df = docs((1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, "q r s t u v w"))
    val fp = df.select(TextOps.shingleFingerprint($"text", 5))
      .as[Long].collect()
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
  }

  test("winnowing guarantee: a shared w+k-1 token run shares a fingerprint") {
    // k=5 shingles, w=4 windows → any shared run of 8 tokens must
    // yield at least one common winnowed fingerprint (the
    // Schleimer-Wilkerson-Aiken coverage theorem); fully disjoint text
    // shares none.
    import org.apache.spark.sql.functions._
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = docs(
      (1L, s"p1 p2 p3 $shared q1 q2"),
      (2L, s"r1 r2 $shared t1 t2 t3"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    val hs = TextOps.shingleHashes(TextOps.tokens($"text"), 5)
    val wins = array_distinct(transform(
      sequence(lit(0), greatest(size(hs) - 4, lit(0))),
      i => array_min(slice(hs, i + 1, lit(4)))))
    val fps = df.select($"doc_id", wins.as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty,
      "shared 8-token run produced no common fingerprint")
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty,
      "disjoint docs share a fingerprint")
  }

  test("ngram jaccard: identical docs have jaccard 1.0") {
    val df = docs((1L, "w x y z w x y z"), (2L, "w x y z w x y z"),
      (3L, "totally different words here"))
    val out = DedupOps.ngramJaccardPairs(k = 2, threshold = 0.9)(df)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH finds the identical pair and verifies jaccard") {
    val df = docs((1L, "p q r s t u v"), (2L, "p q r s t u v"),
      (3L, "completely other tokens list"))
    val out = DedupOps.minhashLshPairs(k = 2, bands = 4, rows = 2,
      threshold = 0.9)(df)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("minhash canonical-band filter: exactly-once candidates, no distinct") {
    // Synthetic band-key geometry (bands=4): a 3-clique agreeing on ALL
    // bands (the old .distinct() saw each of its 3 pairs 4×), a pair
    // agreeing only on band 2, and a loner. Every candidate pair must
    // appear exactly once, pairs must come from their FIRST agreeing
    // band, and the optimized plan must not contain a distinct exchange.
    val keyed = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(10L, 20L, 30L, 40L)),
      (3L, Seq(10L, 20L, 30L, 40L)),
      (4L, Seq(77L, 88L, 30L, 99L)), // agrees with 1-3 on band 2 only
      (5L, Seq(51L, 52L, 53L, 54L))
    ).toDF("doc_id", "band_keys")
    val cand = DedupOps.minhashCandidates(keyed, bands = 4)
    val byPair = cand.groupBy($"a", $"b").count()
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(byPair.values.forall(_ == 1L),
      s"canonical filter emitted duplicates: $byPair")
    assert(byPair.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 4L), (2L, 4L), (3L, 4L)))
    assert(cand.queryExecution.optimizedPlan.toString()
      .toLowerCase.indexOf("deduplicate") < 0,
      "candidate plan must not contain a distinct exchange")
    // end-to-end: the full operator still verifies the identical pair
    val df = docs((1L, "p q r s t u v"), (2L, "p q r s t u v"),
      (3L, "completely other tokens list"))
    val out = DedupOps.minhashLshPairs(k = 2, bands = 8, rows = 2,
      threshold = 0.9)(df)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical docs hash equal; near docs within distance") {
    val df = docs((1L, "m n o p q r s"), (2L, "m n o p q r s"))
    val sh = df.select(DedupOps.simhash($"text")).as[Long].collect()
    assert(sh(0) == sh(1))
    assert(sh(0) >= 0L && sh(0) < (1L << 60))
    val pairs = DedupOps.simhashPairs(maxHamming = 8, chunks = 10)(df)
      .select($"hamming").as[Long].collect()
    assert(pairs.toSeq == Seq(0))
  }

  test("simhash combination banding is exact and bounds candidate volume") {
    // 10k-doc skewed fixture: uniform 60-bit sketches (fixed seed), a
    // 50-doc identical cluster (skew), and a planted near-pair at
    // distance 5. Geometry (8,10): narrow 6-bit chunks, so the operator
    // must switch to chunk-PAIR banding (45·2^12 keys) — single-chunk
    // banding (640 keys) would generate ~n²/64 ≈ 8M candidates here.
    val rnd = new java.util.SplittableRandom(42L)
    val mask = (1L << 60) - 1
    val base = Seq.tabulate(9948)(i => (i.toLong, rnd.nextLong() & mask))
    val clusterHash = rnd.nextLong() & mask
    val cluster = Seq.tabulate(50)(i => (20000L + i, clusterHash))
    val near = Seq((30000L, base.head._2 ^ ((1L << 3) | (1L << 17) |
      (1L << 29) | (1L << 41) | (1L << 53))))
    val sk = (base ++ cluster ++ near).toDF("doc_id", "sh")

    val cands = DedupOps.simhashCandidates(8, 10)(sk)
    val nCands = cands.count()
    assert(nCands < 1500000L,
      s"candidate volume $nCands exceeds the scale bound")
    // canonical-band filter: each pair emitted from exactly ONE combo —
    // the 50-clique (agrees on all 10 chunks → 45 matching combos) must
    // appear once per pair, not 45×, and with no distinct in the plan
    val maxDup = cands.groupBy($"a", $"b").count()
      .agg(max($"count")).as[Long].head()
    assert(maxDup == 1L, s"candidate pair emitted $maxDup times")
    assert(cands.queryExecution.optimizedPlan.toString()
      .toLowerCase.indexOf("deduplicate") < 0,
      "candidate plan must not contain a distinct exchange")

    val pairs = DedupOps.simhashPairsFromSketch(8, 10)(sk)
      .select($"a", $"b", $"hamming").as[(Long, Long, Long)].collect()
    // the planted pair and the full 50-clique must all be found (exactness)
    assert(pairs.contains((0L, 30000L, 5L)))
    assert(pairs.count { case (a, b, h) =>
      a >= 20000L && b < 30000L && h == 0L } == 50 * 49 / 2)
  }

  test("simhash single-chunk banding: canonical filter exact and unique") {
    // default (3,4) geometry takes the SINGLE-chunk key branch
    // (bitsPer=15 ≥ 12): a pair agreeing on ≥1 chunk must be emitted
    // exactly once, from its first agreeing chunk. Identical sketches
    // (agree on all 4), a 3-bit-spread near pair (agrees on chunk 3
    // only), and a far pair (hamming 30) pin found-set and uniqueness.
    val base = 0x0123456789ABCDEL & ((1L << 60) - 1)
    val near = base ^ ((1L << 2) | (1L << 17) | (1L << 32)) // h=3, agrees ch3
    val far = base ^ 0x3FF003FF003FFL // 30 bits flipped across chunks
    val sk = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "sh")
    val cands = DedupOps.simhashCandidates(3, 4)(sk)
    val byPair = cands.groupBy($"a", $"b").count()
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(byPair.values.forall(_ == 1L),
      s"single-chunk canonical filter emitted duplicates: $byPair")
    val pairs = DedupOps.simhashPairsFromSketch(3, 4)(sk)
      .select($"a", $"b", $"hamming").as[(Long, Long, Long)].collect()
      .toSet
    assert(pairs.contains((1L, 2L, 0L)) && pairs.contains((1L, 3L, 3L)) &&
      pairs.contains((2L, 3L, 3L)))
    assert(!pairs.exists { case (a, b, _) => b == 4L || a == 4L })
  }

  test("cosine: identical vectors similarity 1, orthogonal 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val cos12 = df.filter($"vec_id" === 1).crossJoin(
      df.filter($"vec_id" === 2).select($"embedding".as("e2")))
      .select(DedupOps.cosine($"embedding", $"e2")).as[Double].head()
    assert(math.abs(cos12 - 1.0) < 1e-12)
    val cos13 = df.filter($"vec_id" === 1).crossJoin(
      df.filter($"vec_id" === 3).select($"embedding".as("e2")))
      .select(DedupOps.cosine($"embedding", $"e2")).as[Double].head()
    assert(cos13 == 0.0)
  }

  test("brute-force top-k ranks by cosine with deterministic tiebreak") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.bruteForceTopK(df, df.filter($"vec_id" === 0), 2)
      .select($"neighbor_id", $"rank").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1), (3L, 2)))
  }

  test("knnGraph links within cells only, ranked by cosine") {
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cell", "centroid")
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f)), (1L, Array(0.9f, 0.0f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val edges = SimilarityOps.knnGraph(cents, k = 2)(corpus)
      .select($"vec_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect().toSet
    // each vector's sole in-cell peer at rank 1; never a cross-cell edge
    assert(edges == Set((0L, 1L, 1L), (1L, 0L, 1L),
      (2L, 3L, 1L), (3L, 2L, 1L)))
  }

  test("sq8 codes clamp to [0,255], hit the endpoints, and zero constant dims") {
    val df = Seq(
      (0L, Array(0.0f, -1.0f, 7.0f)),
      (1L, Array(1.0f, 1.0f, 7.0f)),
      (2L, Array(0.5f, 0.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val (mns, mxs) = SimilarityOps.sq8Model(df)
    assert(mns == Seq(0.0, -1.0, 7.0) && mxs == Seq(1.0, 1.0, 7.0))
    val codes = df.orderBy($"vec_id")
      .select(SimilarityOps.sq8Codes(mns, mxs)($"embedding"))
      .as[Seq[Long]].collect().toSeq
    // min encodes to 0, max to 255, midpoints in between; constant dim -> 0
    assert(codes == Seq(Seq(0L, 0L, 0L), Seq(255L, 255L, 0L),
      Seq(127L, 127L, 0L)))
    // dequantize stays inside [mn, mx] and reconstructs a constant dim
    val deq = df.orderBy($"vec_id")
      .select(SimilarityOps.sq8Dequantize(mns, mxs)(
        SimilarityOps.sq8Codes(mns, mxs)($"embedding")))
      .as[Seq[Double]].collect().toSeq
    deq.foreach(v => v.indices.foreach(i =>
      assert(v(i) >= mns(i) && v(i) <= mxs(i))))
    assert(deq.forall(_(2) == 7.0))
    // endpoints round-trip exactly: mn -> mn, mx -> mx
    assert(deq(0) == Seq(0.0, -1.0, 7.0) && deq(1) == Seq(1.0, 1.0, 7.0))
  }

  test("sq8 persisted index ≡ the in-memory operator, bit-exact") {
    val all = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val model = SimilarityOps.sq8Model(all)
    val dir = java.nio.file.Files
      .createTempDirectory("sq8-idx").toString + "/idx"
    SimilarityOps.buildSq8Index(all, model, dir)
    val q = all.filter($"vec_id" === 0)
    val a = SimilarityOps.searchSq8Index(spark, dir, q, 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._3).toSeq
    assert(a.nonEmpty)
    val mem = SimilarityOps.sq8TopK(all, q, 3, model)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._3).toSeq
    assert(a == mem)
  }

  test("phraseSearch counts consecutive-token matches only") {
    import graft.operators.CorpusOps
    val d = Seq(
      (1L, "table hash table hash scan"),   // 2 hits of the bigram
      (2L, "table scan hash"),              // tokens present, not adjacent
      (3L, "hash table"))                   // reversed — no hit
      .toDF("doc_id", "text")
    val out = CorpusOps.phraseSearch(Seq(0L -> "table hash"))(d)
      .select($"doc_id", $"n_hits").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L))
  }

  test("sq8 top-k on near-exact data matches brute force") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val model = SimilarityOps.sq8Model(df)
    val out = SimilarityOps.sq8TopK(df, df.filter($"vec_id" === 0), 2, model)
      .select($"neighbor_id", $"rank").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1), (3L, 2)))
  }

  test("SRP top-k only scores same-bucket candidates") {
    val df = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.4f)),     // same direction -> same bucket
      (2L, Array.fill(64)(-0.5f)))    // opposite -> different bucket
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.srpTopK(df, df.filter($"vec_id" === 0), 5)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(out.contains(1L) && !out.contains(2L))
  }

  test("bm25Search weights rare terms over common and short docs over long") {
    import graft.operators.CorpusOps
    val d = Seq(
      (1L, "rare common common common"),
      (2L, "common common common common"),
      (3L, "rare common pad pad pad pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val out = CorpusOps.bm25Search(Seq(0L -> "rare", 0L -> "common"), 3)(d)
      .orderBy($"rank")
      .select($"doc_id", $"n_terms_hit", $"score")
      .as[(Long, Long, Long)].collect().toSeq
    // every doc matches something; rare-term docs outrank the common-only
    // doc, and between the two rare docs the SHORTER one wins (dl norm)
    assert(out.map(_._1) == Seq(1L, 3L, 2L))
    assert(out.head._2 == 2L) // doc 1 hits both terms
    assert(out.map(_._3) == out.map(_._3).sorted.reverse)
  }

  test("incremental near-dup vs the persisted store == the batch cross pairs") {
    // near-dup pairs that straddle the history/new split (0-4 | 5-9),
    // plus within-half dups the incremental path must NOT emit
    val texts = Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta iota", // ~dup of 0
      2L -> "one two three four five six seven eight",
      3L -> "red green blue cyan magenta yellow black white",
      4L -> "north south east west up down left right",
      5L -> "alpha beta gamma delta epsilon zeta eta kappa", // ~dup of 0,1
      6L -> "one two three four five six seven nine", // ~dup of 2
      7L -> "one two three four five six seven ten", // ~dup of 2,6
      8L -> "cat dog bird fish horse sheep goat cow",
      9L -> "red green blue cyan magenta yellow black grey") // ~dup of 3
    val d = texts.toDF("doc_id", "text")
    val batchCross = DedupOps.minhashLshPairs()(d)
      .filter($"a" < 5 && $"b" >= 5)
      .select($"a", $"b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(batchCross.nonEmpty) // fixture is non-vacuous
    val store = java.nio.file.Files
      .createTempDirectory("mh-store-test").toString + "/s"
    DedupOps.buildMinhashStore(d.filter($"doc_id" < 5), store)
    val incr = DedupOps.incrementalNearDupPairs(
      d.filter($"doc_id" >= 5), store)
      .as[(Long, Long, Double)].collect().toSet
    // the probe sees exactly the cross pairs — no within-history, no
    // within-batch
    assert(incr == batchCross)
  }

  test("persisted BM25 index == in-memory, bit-exact") {
    import graft.operators.CorpusOps
    val all = Seq((1L, "rare common common common"),
      (2L, "common common common common"),
      (3L, "rare common pad pad pad pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val qs = Seq(0L -> "rare", 0L -> "common")
    val dir = java.nio.file.Files
      .createTempDirectory("bm25-idx").toString + "/idx"
    CorpusOps.buildBm25Index(all, dir)
    val persisted = CorpusOps.searchBm25Index(spark, dir, qs, 3)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._5).toSeq
    val mem = CorpusOps.bm25Search(qs, 3)(all)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._5).toSeq
    assert(persisted == mem && persisted.nonEmpty)
  }

  test("fuzzySearch: SymSpell deletion-join == brute-force levenshtein") {
    import graft.operators.CorpusOps
    // vocab with an insertion match (abcd), a substitution match (xbc),
    // a deletion-collision DECOY (adb shares variant 'ab' with query
    // 'abc' but is distance 2 — the exact verify must drop it), and a
    // non-match (zzz)
    val d = docs((1L, "abcd abcd xbc"), (2L, "adb zzz"), (3L, "abc xbc"))
    val got = CorpusOps.fuzzySearch(Seq(0L -> "abc"), 10)(d)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._5)
    // matched terms: abc (d=0), abcd (d=1), xbc (d=1) — never adb/zzz
    // doc 1: abcd×2 + xbc = 3 hits; doc 3: abc + xbc = 2; doc 2: none
    assert(got.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((1L, 2L, 3L), (3L, 2L, 2L)))
  }

  test("prefixSearch ranks by df desc with term tiebreak") {
    import graft.operators.CorpusOps
    val d = docs((1L, "apple apric"), (2L, "apple"), (3L, "apric banana"))
    val got = CorpusOps.prefixSearch(Seq(0L -> "ap", 1L -> "ba"), 5)(d)
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._1, r._4))
    assert(got.toSeq == Seq((0L, "apple", 2L, 1L), (0L, "apric", 2L, 2L),
      (1L, "banana", 1L, 1L)))
  }

  test("moreLikeThis selects rare seed terms and excludes the seed doc") {
    import graft.operators.CorpusOps
    // 'rare' appears in seed + doc 3 only; 'common' everywhere — with
    // m=1 the tf/df salience must pick 'rare', so only doc 3 returns
    val d = docs((1L, "rare common"), (2L, "common common"),
      (3L, "rare common"), (4L, "common"))
    val got = CorpusOps.moreLikeThis(Seq(0L -> 1L), 1, 10)(d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._2).toSeq == Seq(3L))       // seed doc 1 excluded
  }

  test("highlight emits 1-based positions of every query-term occurrence") {
    import graft.operators.CorpusOps
    val d = docs((1L, "spark runs spark jobs"), (2L, "no match here"))
    val got = CorpusOps.highlight(
      Seq(0L -> Seq("spark", "jobs"), 1L -> Seq("no")))(d)
      .as[(Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2, r._3)).toSeq
    assert(got == Seq((0L, 1L, 1L, "spark"), (0L, 1L, 3L, "spark"),
      (0L, 1L, 4L, "jobs"), (1L, 2L, 1L, "no")))
  }

  test("highlight caps output at number_of_fragments per (query, doc)") {
    import graft.operators.CorpusOps
    // 8 occurrences of the term, cap 5 (the ES default) → the FIRST 5
    // in document order; an under-cap doc is untouched
    val d = docs((1L, "a a a a a a a a"), (2L, "b a b"))
    val got = CorpusOps.highlight(Seq(0L -> Seq("a")))(d)
      .as[(Long, Long, Long, String)].collect()
      .sortBy(r => (r._2, r._3)).toSeq
    assert(got == Seq(
      (0L, 1L, 1L, "a"), (0L, 1L, 2L, "a"), (0L, 1L, 3L, "a"),
      (0L, 1L, 4L, "a"), (0L, 1L, 5L, "a"), (0L, 2L, 2L, "a")))
    // explicit cap overrides the default
    val one = CorpusOps.highlight(Seq(0L -> Seq("a")), nFragments = 1)(d)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(one.count(_._2 == 1L) == 1 && one.count(_._2 == 2L) == 1)
  }

  test("snippets renders <em>-wrapped fragments, clamped at doc edges") {
    import graft.operators.CorpusOps
    val d = docs(
      (1L, "one two spark three four five six"), // interior hit: full ±3
      (2L, "spark tail"))                        // hit at pos 1: clamped
    val got = CorpusOps.snippets(Seq(0L -> Seq("spark")))(d)
      .as[(Long, Long, Long, String)].collect().sortBy(_._2).toSeq
    assert(got == Seq(
      (0L, 1L, 1L, "one two <em>spark</em> three four five"),
      (0L, 2L, 1L, "<em>spark</em> tail")))
    // the fragment cap carries over: 8 hits, 5 fragments, doc order
    val many = docs((3L, "a a a a a a a a"))
    val frags = CorpusOps.snippets(Seq(0L -> Seq("a")))(many)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(frags.length == 5 && frags.map(_._3) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("hashFeatures: repeated tokens accumulate at one signed dim") {
    val d = docs((1L, "zebra zebra zebra"), (2L, "zebra"))
    val got = TextOps.hashFeatures(16)(d)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // one distinct token → one dim per doc; same dim and sign in both
    // docs; magnitude = multiplicity
    assert(got.size == 2)
    val Seq((_, d1, v1), (_, d2, v2)) = got
    assert(d1 == d2 && v1 == 3 * v2 && math.abs(v2) == 1)
  }

  test("boolSearch enforces must, mustNot, and minimum-should-match") {
    import graft.operators.CorpusOps
    import graft.operators.CorpusOps.BoolQuery
    val d = docs(
      (1L, "alpha beta gamma"),   // all clauses satisfied
      (2L, "beta gamma"),         // missing must → out
      (3L, "alpha beta bad"),     // mustNot present → out
      (4L, "alpha gamma gamma"),  // one should term < minShould 2 → out
      (5L, "alpha beta gamma gamma")) // highest score
    val q = Seq(BoolQuery(0L, must = Seq("alpha"),
      should = Seq("beta", "gamma"), mustNot = Seq("bad"), minShould = 2))
    val got = CorpusOps.boolSearch(q, 10)(d)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._5).toSeq
    // doc 4 has only 'gamma' of the should set (n_should 1 < 2) → out;
    // doc 5 outranks doc 1 on summed should tf (3 vs 2)
    assert(got == Seq((0L, 5L, 2L, 3L, 1L), (0L, 1L, 2L, 2L, 2L)))
  }

  test("percolate index: build parity with boolSearch") {
    import graft.operators.CorpusOps
    import graft.operators.CorpusOps.BoolQuery
    val d = docs(
      (1L, "alpha beta gamma"), (2L, "beta gamma"),
      (3L, "alpha beta bad"), (4L, "alpha gamma gamma"),
      (5L, "alpha beta gamma gamma"), (6L, "delta epsilon"))
    val registry = Seq(
      BoolQuery(0L, must = Seq("alpha"), should = Seq("beta", "gamma"),
        mustNot = Seq("bad"), minShould = 2),
      BoolQuery(1L, should = Seq("delta", "epsilon"), minShould = 1))
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))
    // build-everything ≡ boolSearch (shared clause rows + verdict tail)
    val full = java.nio.file.Files
      .createTempDirectory("graft-perc-full").toString + "/idx"
    CorpusOps.buildPercolateIndex(spark, registry, full)
    val expected = rows(CorpusOps.boolSearch(registry, 10)(d))
    assert(rows(CorpusOps.percolate(spark, full, 10)(d)) == expected)
    assert(expected.nonEmpty)
    // the builder enforces the same query guards as boolSearch
    intercept[IllegalArgumentException] {
      CorpusOps.buildPercolateIndex(spark,
        Seq(BoolQuery(7L, mustNot = Seq("x"))), full)
    }
  }

  test("significantTerms surfaces source-specific vocabulary only") {
    import graft.operators.CorpusOps
    val d = Seq(
      (1L, "srcA", "zebra common"), (2L, "srcA", "zebra common"),
      (3L, "srcB", "common other"), (4L, "srcB", "common plain"))
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.significantTerms(2)(d)
      .as[(String, String, Long, Long)].collect()
      .sortBy(r => (r._1, r._4)).toSeq
    // 'common' has fg% = bg% everywhere → JLH 0 → filtered; zebra is
    // exclusive to srcA (JLH 1·1e9), other/plain split srcB
    assert(got.map(r => (r._1, r._2)) ==
      Seq(("srcA", "zebra"), ("srcB", "other"), ("srcB", "plain")))
    assert(got.head._3 == 1000000000L)
  }

  test("one posting index serves fuzzy/prefix/mlt/bool bit-identically") {
    import graft.operators.CorpusOps
    import graft.operators.CorpusOps.BoolQuery
    val d = docs((1L, "rare common words here"),
      (2L, "common words everywhere"), (3L, "rare stuff"),
      (4L, "wordz common"))
    val dir = java.nio.file.Files
      .createTempDirectory("search-idx").toString + "/idx"
    CorpusOps.buildBm25Index(d, dir)
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))
    val fq = Seq(0L -> "wordy"); val pq = Seq(0L -> "wo")
    val seeds = Seq(0L -> 1L)
    val bq = Seq(BoolQuery(0L, must = Seq("common"),
      should = Seq("rare", "words"), minShould = 1))
    assert(rows(CorpusOps.searchFuzzyIndex(spark, dir, fq, 5)) ==
      rows(CorpusOps.fuzzySearch(fq, 5)(d)))
    assert(rows(CorpusOps.searchPrefixIndex(spark, dir, pq, 5)) ==
      rows(CorpusOps.prefixSearch(pq, 5)(d)))
    assert(rows(CorpusOps.searchMltIndex(spark, dir, seeds, 2, 5)) ==
      rows(CorpusOps.moreLikeThis(seeds, 2, 5)(d)))
    assert(rows(CorpusOps.searchBoolIndex(spark, dir, bq, 5)) ==
      rows(CorpusOps.boolSearch(bq, 5)(d)))
    // and the guards reject malformed queries
    intercept[IllegalArgumentException] {
      CorpusOps.boolSearch(Seq(BoolQuery(0L, must = Seq("a"),
        mustNot = Seq("a"))), 5)(d)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.moreLikeThis(Seq(0L -> 1L, 0L -> 2L), 1, 5)(d)
    }
  }

  test("splitLeakproof sends exact duplicates to the same split") {
    import graft.operators.CorpusOps
    // 50 distinct texts, each duplicated under three doc_ids (with
    // whitespace/case noise the content hash canonicalizes away)
    val d = (0 until 50).flatMap { i =>
      Seq((i * 3L, s"document number $i body"),
        (i * 3L + 1, s"Document  NUMBER $i body"),
        (i * 3L + 2, s"  document number $i BODY "))
    }.toDF("doc_id", "text")
    val out = CorpusOps.splitLeakproof()(d)
    // leakage property: every content hash maps to exactly ONE split
    val perHash = out.groupBy($"content_hash")
      .agg(countDistinct($"split").as("n"))
      .filter($"n" > 1).count()
    assert(perHash == 0L)
    // all three splits populated, train the plurality
    val bySplit = out.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") &&
      bySplit("train") > bySplit("test"))
    assert(bySplit.values.sum == 150L)
  }

  test("mixtureSample rebalances sources toward the smallest token budget") {
    import graft.operators.CorpusOps
    // skewed corpus: a=50 tokens, b=150, c=500 (5 tokens per doc)
    val in = (
      (1 to 10).map(i => (i.toLong, "a")) ++
      (11 to 40).map(i => (i.toLong, "b")) ++
      (41 to 140).map(i => (i.toLong, "c"))
    ).map { case (id, s) => (id, s, "one two three four five") }
      .toDF("doc_id", "source", "text")
    val kept = CorpusOps.mixtureSample(in)
      .groupBy($"source")
      .agg(sum(size(TextOps.tokens($"text"))).as("t"))
      .as[(String, Long)].collect().toMap
    // the binding (smallest) source is fully kept; the others thin to
    // roughly its budget (hash granularity leaves slack, but nothing
    // like their original totals)
    assert(kept("a") == 50L, kept.toString)
    assert(kept("b") >= 20L && kept("b") <= 100L, kept.toString)
    assert(kept("c") >= 20L && kept("c") <= 100L, kept.toString)
  }

  test("mixtureUpsample repeats small sources toward the largest budget") {
    import graft.operators.CorpusOps
    val in = (
      (1 to 10).map(i => (i.toLong, "a")) ++    // 50 tokens
      (11 to 40).map(i => (i.toLong, "b")) ++   // 150 tokens
      (41 to 140).map(i => (i.toLong, "c"))     // 500 tokens (largest)
    ).map { case (id, s) => (id, s, "one two three four five") }
      .toDF("doc_id", "source", "text")
    val kept = CorpusOps.mixtureUpsample(in)
      .groupBy($"source")
      .agg(sum(size(TextOps.tokens($"text"))).as("t"))
      .as[(String, Long)].collect().toMap
    // a: 500/50 = exactly 10 whole epochs; c: exactly 1 epoch;
    // b: 3 whole epochs + a 1/3 hash-gated fourth pass
    assert(kept("a") == 500L, kept.toString)
    assert(kept("c") == 500L, kept.toString)
    assert(kept("b") >= 400L && kept("b") <= 600L, kept.toString)
  }

  test("stripBoilerplate: join path ≡ UDF path, auto selects by model size") {
    import graft.operators.CorpusOps
    val boiler = "shared legal footer line"
    val in = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"epsilon zeta eta theta $boiler"),
      (3L, "iota kappa lambda mu"),
      (4L, boiler),                        // all-boilerplate doc → ""
      (5L, null.asInstanceOf[String]))     // null text → null
      .toDF("doc_id", "text")
    val model = CorpusOps.boilerplateSegments(in, segTokens = 4, maxDf = 2)
    def asMap(df: DataFrame): Map[Long, String] =
      df.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val viaUdf = asMap(CorpusOps.stripBoilerplate(
      model.collect().map(_.getString(0)).toSet, 4)(in))
    val viaJoin = asMap(CorpusOps.stripBoilerplateJoin(model, 4)(in))
    assert(viaUdf == viaJoin)
    assert(viaUdf == Map(
      1L -> "alpha beta gamma delta", 2L -> "epsilon zeta eta theta",
      3L -> "iota kappa lambda mu", 4L -> "", 5L -> null))
    // the auto selector lands on the same answer from both sides of the
    // threshold (UDF below, join above — threshold 0 forces the join)
    assert(asMap(CorpusOps.stripBoilerplateAuto(model, 4)(in)) == viaUdf)
    assert(asMap(CorpusOps.stripBoilerplateAuto(model, 4,
      maxDriverModel = 0L)(in)) == viaUdf)
  }

  test("temperature mixture: α=1/2 flattens the head, spares the tail") {
    import graft.operators.CorpusOps
    // heavy source: 16 docs × 4 tokens = 64; light source: 1 doc × 4
    val in = ((0L until 16L).map(i => (i, "w x y z", "heavy")) :+
      ((99L, "w x y z", "light"))).toDF("doc_id", "text", "source")
    val rates = CorpusOps.mixtureTemperatureRates(in)
    // S = √64 + √4 = 10; heavy: 68·8/(10·64) = 0.85 → 8500 bp;
    // light: 68·2/(10·4) = 3.4 → clamps to 1 (kept whole)
    assert(rates == Map("heavy" -> 8500L, "light" -> 10000L))
    val kept = CorpusOps.mixtureTemperature(in)
      .groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(kept("light") == 1L)            // tail never thinned
    // 16 docs at 85% can all pass the hash gate; thinning needs volume:
    // 200 single-token heavy docs at ~89% keep rate
    val big = ((0L until 200L).map(i => (i, "w", "heavy")) :+
      ((999L, "w x y z", "light"))).toDF("doc_id", "text", "source")
    val bigKept = CorpusOps.mixtureTemperature(big)
      .groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(bigKept("light") == 1L)
    assert(bigKept("heavy") < 200L && bigKept("heavy") > 150L,
      bigKept.toString)
  }

  test("shard order: reproducible, dense per-shard positions") {
    import graft.operators.CorpusOps
    val in = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = CorpusOps.shardOrder(4)(in)
      .as[(Long, Long, Long)].collect().toSet
    val b = CorpusOps.shardOrder(4)(in)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b)                          // run-to-run deterministic
    assert(a.map(_._2).subsetOf(Set(0L, 1L, 2L, 3L)))
    // positions are dense 0..|shard|-1 within every shard
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3) == (0L until rows.size).toSet)
    }
    // a different salt reshuffles
    val c = CorpusOps.shardOrder(4, salt = "other")(in)
      .as[(Long, Long, Long)].collect().toSet
    assert(c != a)
  }

  test("tf-idf: rare terms outrank common ones, k bounds per doc") {
    import graft.operators.CorpusOps
    val in = Seq(
      (1L, "common rare1 common common"),
      (2L, "common unique2 filler filler"),
      (3L, "common filler filler filler"))
      .toDF("doc_id", "text")
    val out = CorpusOps.tfidfTopTerms(k = 2)(in)
      .select($"doc_id", $"term", $"rank")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // doc 1: rare1 (df=1, tf=1, score 3) vs common (df=3, tf=3, score 3)
    // — tie broken by term name; doc 2's unique2 (3.0) beats filler
    // (tf=2 · 3/2 = 3.0, tie → filler first alphabetically)
    assert(out(1L) == Seq("common", "rare1"))
    assert(out(2L) == Seq("filler", "unique2"))
    assert(out(3L).head == "filler")        // tf=3 · 3/2 = 4.5 top
    assert(out.values.forall(_.size <= 2))
  }

  test("gopher gate: each rule fires on its own violation") {
    import graft.operators.CorpusOps
    val good = ("the quick brown fox jumps over the lazy dog and " * 3) +
      "the end is here"
    val in = Seq(
      (1L, good),                                    // passes every rule
      (2L, "the and is of a"),                       // too short (n=5)
      (3L, ("the supercalifragilistic " * 15).trim), // words too long
      (4L, ("the dog " * 15).trim))                  // repetition floor
      .toDF("doc_id", "text")
    val out = CorpusOps.gopherGate(minTokens = 10)(in)
      .select($"doc_id", $"size_ok", $"word_len_ok", $"repetition_ok",
        $"keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((true, true, true, true)))
    assert(out(2L)._1 == false && out(2L)._4 == false)
    assert(out(3L)._2 == false && out(3L)._4 == false)
    assert(out(4L)._3 == false && out(4L)._4 == false)
  }

  test("duplicate spans: exact interval merge, short docs, clean docs") {
    val in = Seq(
      (1L, "x1 x2 x3 x4 u1 u2 u3 u4"),     // shares 4-token prefix
      (2L, "x1 x2 x3 x4 v1 v2 v3 v4"),
      (3L, "u9"),                           // unique short doc
      (4L, "w1 w2"),                        // exact dup pair, n < k
      (5L, "w1 w2"),
      (6L, "x1 x2 x3 x4 mm y1 y2 y3 zz"),  // two disjoint dup spans
      (7L, "y1 y2 y3"))
      .toDF("doc_id", "text")
    val out = DedupOps.duplicateSpans(k = 3, maxDupRatio = 0.5)(in)
      .select($"doc_id", $"dup_tokens", $"keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1/2: shingle starts 0,1 → union [0,3] = 4 tokens (the overlap
    // of spans [0,2] and [1,3] is counted once); ratio 4/8 = 0.5 keeps
    // doc 6: starts 0,1,5 → [0,3] + [5,7] = 7 of 9; doc 7 fully covered
    assert(out == Map(
      1L -> ((4L, true)), 2L -> ((4L, true)), 3L -> ((0L, true)),
      4L -> ((2L, false)), 5L -> ((2L, false)),
      6L -> ((7L, false)), 7L -> ((3L, false))))
  }

  test("semantic dedup: within-cell verify, cross-cell pairs invisible") {
    val cents = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cell", "centroid")
    val embs = Seq(
      (10L, Seq(1.0f, 0.0f, 0.1f, 0.0f)),   // cell 1
      (11L, Seq(0.9f, 0.0f, 0.2f, 0.0f)),   // cell 1, near-dup of 10
      (20L, Seq(0.0f, 1.0f, 0.0f, 0.1f)),   // cell 2
      (21L, Seq(0.1f, 0.9f, 0.0f, 0.0f)),   // cell 2, near-dup of 20
      (30L, Seq(0.7f, 0.7f, 0.0f, 0.0f)),   // equidistant → cell 1 (tie)
      (31L, Seq(0.6f, 0.8f, 0.0f, 0.0f)))   // cell 2; cos(30,31) ≈ 0.99
      .toDF("vec_id", "embedding")
    val pairs = DedupOps.semanticNearDupPairs(cents, threshold = 0.9)(embs)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    // high-cosine cross-cell pair (30,31) is NOT a candidate — the
    // SemDeDup recall trade the Scaladoc documents
    assert(pairs == Set((10L, 11L), (20L, 21L)))
  }

  test("sliding chunks: window/stride boundaries, short docs, nulls") {
    import graft.operators.CorpusOps
    val in = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"),     // n=8, W=4 S=3 → starts 0,3,6
      (2L, "a b"),                          // n=2 → one (short) chunk
      (3L, null.asInstanceOf[String]))      // null text → no chunks
      .toDF("doc_id", "text")
    val out = CorpusOps.chunkSliding(4, 3)(in)
      .select($"doc_id", $"chunk_no", $"chunk_start", $"n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 2L),
      (2L, 0L, 0L, 2L)))
    // every token of doc 1 is covered and consecutive chunks overlap
    val hashes = CorpusOps.chunkSliding(4, 3)(in)
      .filter($"doc_id" === 1L).select($"chunk_hash")
      .as[String].collect()
    assert(hashes.distinct.length == 3)
  }

  test("bigram LM: bounded model, hand-checked fixed-point scores") {
    import graft.operators.CorpusOps
    val in = Seq(
      (1L, "a b a b c"),
      (2L, "a b"),
      (3L, "z"),                           // single token → no bigrams
      (4L, null.asInstanceOf[String]))     // null text → dropped
      .toDF("doc_id", "text")
    val vocab = CorpusOps.vocabulary(in, 2)
      .as[String].collect().toSet
    assert(vocab == Set("a", "b"))         // a:3 b:3 beat c:1 z:1
    val modelDf = CorpusOps.bigramModel(vocab)(in)
    val model = modelDf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // classes: doc1 = a b a b <unk>, doc2 = a b, doc3 = <unk>
    assert(model == Map(("a", "b") -> 3L, ("b", "a") -> 1L,
      ("b", CorpusOps.UnkClass) -> 1L))
    assert(model.size <= 9)                // (V+1)² bound, V=2
    val out = CorpusOps.bigramLmScore(vocab, model, 2, 0.5)(in)
      .select($"doc_id", $"n_bigrams", $"lm_fp", $"keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // add-1 over V+1=3 classes: P(b|a)=(3+1)/(3+3) → 666666 fp;
    // P(a|b)=(1+1)/(2+3) → 400000; P(unk|b)=(1+1)/(2+3) → 400000
    assert(out == Map(
      1L -> ((4L, 2133332L, true)),        // avg 0.533333 ≥ 0.5
      2L -> ((1L, 666666L, true))))        // docs 3, 4 dropped
    // unseen contexts and pairs fall back to pure smoothing mass
    val unseen = CorpusOps.bigramLmScore(vocab, model, 2, 0.5)(
      Seq((5L, "q r")).toDF("doc_id", "text"))
      .select($"lm_fp", $"keep").as[(Long, Boolean)].head()
    assert(unseen == ((333333L, false)))   // (0+1)/(0+3) → 333333
  }

  test("rag retrieval: literal path ≡ join path bit-exactly") {
    import graft.operators.CorpusOps
    // query doc 0 shares terms with docs 1/2 (different overlap), doc 3
    // is unrelated, doc 4 repeats a term (weight 2), doc 5 null-drops.
    // litCap=0 forces the dim-join path; the default engages the
    // broadcast-literal path — ranks, dots, and cosines must match
    // bitwise (integer sums are order-free; same division expression).
    val d = docs(
      (0L, "spark shuffle join broadcast"),
      (1L, "spark shuffle join state windows watermark trigger output"),
      (2L, "join broadcast exchange reuse plan codegen stage task"),
      (3L, "entirely unrelated tokens about cooking pasta tonight here"),
      (4L, "spark spark spark shuffle shuffle join join join broadcast"),
      (5L, null.asInstanceOf[String]))
    def run(cap: Int) = CorpusOps.ragRetrieve(
        col("doc_id") === 0L, 4, 2, 16, 3, litCap = cap)(d)
      .as[(Long, Long, Long, Long, Double, Long)].collect()
      .sortBy(r => (r._1, r._6)).toSeq
    val lit = run(128)
    val join = run(0)
    assert(lit.nonEmpty, "fixture must produce rankings")
    assert(lit == join, s"paths diverge:\n lit=$lit\n join=$join")
  }

  test("rag retrieval: zero-query workload returns empty, no crash") {
    import graft.operators.CorpusOps
    // isQuery matching NOTHING must flow through gracefully: the
    // literal path would explode an empty struct array (NullType field
    // extraction → AnalysisException), so the gate must route empty
    // workloads to the join path, which returns the correct empty frame
    val d = docs(
      (1L, "spark shuffle join broadcast"),
      (2L, "join broadcast exchange reuse"))
    val out = CorpusOps.ragRetrieve(
      col("doc_id") < 0L, 4, 2, 16, 3)(d)
    assert(out.count() == 0L)
  }

  test("rag retrieval: >litCap DISTINCT queries fall back to the join path") {
    import graft.operators.CorpusOps
    // three sparse single-token queries: only 3 vector rows (well under
    // litCap·dims), but 3 distinct query ids > litCap=2 — the row-count
    // probe alone would embed an oversized literal matrix; the distinct
    // gate must pick the join path (observable: the literal plan has no
    // Join at all, the dim-join plan does), and results stay identical.
    val d = docs(
      (0L, "spark"), (10L, "join"), (20L, "shuffle"),
      (1L, "spark shuffle join broadcast exchange"),
      (2L, "join broadcast exchange reuse plan"))
    def run(cap: Int) = CorpusOps.ragRetrieve(
      col("doc_id").isin(0L, 10L, 20L), 3, 2, 16, 2, litCap = cap)(d)
    val gated = run(2)
    assert(gated.queryExecution.optimizedPlan.toString.contains("Join"),
      "sparse >litCap workload must take the dim-join path")
    val wideCap = run(128)
    assert(!wideCap.queryExecution.optimizedPlan.toString.contains("Join"),
      "within-cap workload must take the literal path")
    val a = gated.as[(Long, Long, Long, Long, Double, Long)]
      .collect().sortBy(r => (r._1, r._6)).toSeq
    val b = wideCap.as[(Long, Long, Long, Long, Double, Long)]
      .collect().sortBy(r => (r._1, r._6)).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("positional index: phrase search matches the scan variant") {
    import graft.operators.CorpusOps
    val d = docs(
      (1L, "table hash table hash scan"),  // 2 hits of "table hash"
      (2L, "table scan hash"),             // present, not adjacent
      (3L, "hash table"),                  // reversed — no hit
      (4L, "slow hash batch now"),         // trigram hit
      (5L, "hash batch slow"),             // trigram tokens, wrong order
      (6L, null.asInstanceOf[String]))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pos-test").toString + "/idx"
    CorpusOps.buildPositionalIndex(d, dir)
    val qs = Seq(0L -> "table hash", 1L -> "slow hash batch",
      2L -> "scan")                        // incl. a single-token phrase
    def rows(df: DataFrame) = df
      .select($"query_id", $"doc_id", $"n_hits")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val idx = rows(CorpusOps.phraseSearchIndex(spark, dir, qs))
    val scan = rows(CorpusOps.phraseSearch(qs)(d))
    assert(idx == scan, s"idx=$idx scan=$scan")
    assert(idx.contains((0L, 1L, 2L)) && idx.contains((1L, 4L, 1L)) &&
      idx.contains((2L, 1L, 1L)) && idx.contains((2L, 2L, 1L)))
    // the ES scale contract: the posting scan is pruned to the query
    // vocabulary AT THE SOURCE (In(term, …) in PushedFilters), so cost
    // follows term document-frequency, not corpus size
    val plan = CorpusOps.phraseSearchIndex(spark, dir, qs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term filter must reach the parquet scan:\n$plan")
  }

  test("positional index: span search ≡ spanNearSearch bit-exactly") {
    import graft.operators.CorpusOps
    val d = docs(
      (1L, "table scan of the table full scan"),
      (2L, "key value agg"),
      (3L, "scan table"),
      (4L, null.asInstanceOf[String]))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pos-span").toString + "/idx"
    CorpusOps.buildPositionalIndex(d, dir)
    val qs = Seq((1L, "table", "scan", 3), (2L, "key", "agg", 2))
    def rows(df: DataFrame) = df
      .select($"query_id", $"doc_id", $"n_spans")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val idx = rows(CorpusOps.spanNearSearchIndex(spark, dir, qs))
    val scan = rows(CorpusOps.spanNearSearch(qs)(d))
    assert(idx == scan && idx.nonEmpty, s"idx=$idx scan=$scan")
  }

  test("positional index: highlight and snippets match the scan variants") {
    import graft.operators.CorpusOps
    val d = docs(
      (1L, "alpha beta gamma alpha beta alpha"), // multiple hits, 2 terms
      (2L, "beta delta"),                        // one hit
      (3L, "delta epsilon"),                     // no query term
      (4L, "alpha alpha alpha alpha alpha alpha alpha"), // > nFragments
      (5L, null.asInstanceOf[String]))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pos-hl").toString + "/idx"
    CorpusOps.buildPositionalIndex(d, dir)
    val qs = Seq(0L -> Seq("alpha", "beta"), 1L -> Seq("delta"))
    def hl(df: DataFrame) = df
      .select($"query_id", $"doc_id", $"pos", $"term")
      .as[(Long, Long, Long, String)].collect().sortBy(r =>
        (r._1, r._2, r._3)).toSeq
    val idxH = hl(CorpusOps.highlightIndex(spark, dir, qs))
    val scanH = hl(CorpusOps.highlight(qs)(d))
    assert(idxH == scanH, s"idx=$idxH scan=$scanH")
    // doc 4: 7 occurrences, capped at number_of_fragments = 5; merged
    // 2-term hits on doc 1 arrive in document order
    assert(idxH.count(r => r._1 == 0L && r._2 == 4L) == 5)
    assert(idxH.filter(r => r._1 == 0L && r._2 == 1L)
      .map(r => (r._3, r._4)) ==
      Seq((1L, "alpha"), (2L, "beta"), (4L, "alpha"), (5L, "beta"),
        (6L, "alpha")))
    def sn(df: DataFrame) = df
      .select($"query_id", $"doc_id", $"frag_no", $"fragment")
      .as[(Long, Long, Long, String)].collect().sortBy(r =>
        (r._1, r._2, r._3)).toSeq
    val idxS = sn(CorpusOps.snippetsIndex(spark, dir, qs)(d))
    val scanS = sn(CorpusOps.snippets(qs)(d))
    assert(idxS == scanS, s"idx=$idxS scan=$scanS")
    assert(idxS.exists(r => r._4.contains("<em>beta</em>")))
    // scale contract: the posting read is term-pruned at the source
    val plan = CorpusOps.highlightIndex(spark, dir, qs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term filter must reach the parquet scan:\n$plan")
  }

  test("bigram LM: join path ≡ collect path bit-exactly; auto switches at the cap") {
    import graft.operators.CorpusOps
    // covers every arithmetic branch: seen bigram, seen-context/unseen-
    // bigram, unseen context, <unk> classes, single-token + null drops
    val in = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "z"),
      (4L, null.asInstanceOf[String]), (5L, "q r"), (6L, "b b a q"))
      .toDF("doc_id", "text")
    val vocab = CorpusOps.vocabulary(in, 2).as[String].collect().toSet
    val modelDf = CorpusOps.bigramModel(vocab)(in).localCheckpoint(false)
    val model = modelDf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_bigrams", $"lm_fp", $"avg_prob", $"keep")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map { case (id, n, fp, p, k) =>
        // compare the double by IEEE bits — "close" is not the contract
        (id, n, fp, java.lang.Double.doubleToLongBits(p), k)
      }.toSet
    val viaMap = rows(CorpusOps.bigramLmScore(vocab, model, 2, 0.5)(in))
    val viaJoin = rows(
      CorpusOps.bigramLmScoreJoin(vocab, modelDf, 2, 0.5)(in))
    assert(viaMap == viaJoin, s"join path drifted: $viaJoin vs $viaMap")
    assert(viaMap.map(_._1) == Set(1L, 2L, 5L, 6L)) // non-vacuous
    // a cap below the model size forces the join path through auto…
    assert(model.size > 2)
    val viaAutoJoin = rows(CorpusOps.bigramLmScoreAuto(
      vocab, modelDf, 2, 0.5, maxDriverModel = 2L)(in))
    // …and a roomy cap takes the collect path; both equal the reference
    val viaAutoMap = rows(CorpusOps.bigramLmScoreAuto(
      vocab, modelDf, 2, 0.5)(in))
    assert(viaAutoJoin == viaMap && viaAutoMap == viaMap)
  }

  test("minhash store pairs ≡ batch pairs, canonical filter intact") {
    val d = docs(
      (1L, "p q r s t u v"), (2L, "p q r s t u v"),
      (3L, "p q r s t u x"),               // near dup of 1/2
      (4L, "completely other tokens list"),
      (5L, null.asInstanceOf[String]))
    val store = java.nio.file.Files
      .createTempDirectory("graft-mh-pairs-store").toString + "/idx"
    DedupOps.buildMinhashStore(d, store)
    def rows(df: DataFrame) = df
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val fromStore = DedupOps.minhashLshPairsStore(spark, store,
      threshold = 0.5)
    // identical pair set AND jaccards: the stored shingle sets are the
    // batch path's own verification payload
    assert(rows(fromStore) ==
      rows(DedupOps.minhashLshPairs(threshold = 0.5)(d)))
    assert(rows(fromStore).map(r => (r._1, r._2))
      .contains((1L, 2L))) // non-vacuous
    // the canonical-band filter survives the store read: no distinct
    // exchange in the optimized plan
    assert(fromStore.queryExecution.optimizedPlan.toString()
      .toLowerCase.indexOf("deduplicate") < 0,
      "store pair plan must not contain a distinct exchange")
  }

  test("winnowing store pairs ≡ scan pairs") {
    val d = docs(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),   // near dup of 1
      (3L, "q r s t u v w x y z"),
      (4L, "q r s t u v w x y m"),   // near dup of 3
      (5L, null.asInstanceOf[String]))
    def rows(df: DataFrame) = df
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val scan = rows(DedupOps.winnowingPairs(
      k = 5, w = 4, threshold = 0.5, maxDf = 50)(d))
    assert(scan.map(r => (r._1, r._2)) == Seq((1L, 2L), (3L, 4L)))
    // one-shot store serve ≡ the scan variant, jaccards included
    val full = java.nio.file.Files
      .createTempDirectory("graft-wn-store").toString + "/idx"
    DedupOps.buildWinnowingStore(d, full)
    assert(DedupOps.winnowingStoreParams(spark, full) == ((5, 4)))
    assert(rows(DedupOps.winnowingPairsStore(spark, full)) == scan)
    // the df cap stays a query-time knob on the store path: capping at
    // 0 kills every candidate
    assert(DedupOps.winnowingPairsStore(spark, full, maxDf = 0)
      .count() == 0L)
  }

  test("pair flags ≡ membership in the mined near-dup pair sets") {
    // dedup-as-a-filter (the hard-negatives edge test): for EVERY
    // ordered pair of a fixture, the flag must agree exactly with
    // membership in the corresponding mined pair set — band-overlap ∧
    // jaccard for minhash, SRP-bucket ∧ cosine for embeddings
    val d = docs(
      (1L, "p q r s t u v"), (2L, "p q r s t u v"),
      (3L, "p q r s t u x"), (4L, "completely other tokens list"),
      (5L, "p q r s zz yy ww"), (6L, null.asInstanceOf[String]))
    val ids = (1L to 6L)
    val allPairs = ids.flatMap(a => ids.filter(_ > a).map(b => (a, b)))
      .toDF("pa", "pb")
    val mined = DedupOps.minhashLshPairs(threshold = 0.5)(d)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val flagged = DedupOps.minhashPairFlags(allPairs, d, threshold = 0.5)
      .filter($"is_textdup")
      .select($"pa", $"pb").as[(Long, Long)].collect().toSet
    assert(flagged == mined, s"flags drifted: $flagged vs $mined")
    assert(mined.contains((1L, 2L))) // non-vacuous
    // the store-served test agrees too (stored sets, persisted params)
    val store = java.nio.file.Files
      .createTempDirectory("graft-mh-flag-store").toString + "/idx"
    DedupOps.buildMinhashStore(d, store)
    assert(DedupOps.minhashPairFlagsStore(spark, store, allPairs)
      .filter($"is_textdup")
      .select($"pa", $"pb").as[(Long, Long)].collect().toSet == mined)
    // embedding flags: same contract against embeddingNearDupPairs
    // over a fixture where some pairs share an SRP bucket (cos ≥ 0)
    // and some don't
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.2f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.3f, 0.0f, 0.0f)),
      (4L, Array(0.1f, -1.0f, 0.2f, 0.0f)))
      .toDF("vec_id", "embedding")
    val eMined = DedupOps.embeddingNearDupPairs(
        threshold = 0.35, planes = 4, dim = 4)(vecs)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val ePairs = ids.take(4).flatMap(a =>
      ids.take(4).filter(_ > a).map(b => (a, b))).toDF("pa", "pb")
    // pairs carry the exact pair cosine (the knn edges do in situ)
    val withCos = ePairs
      .join(vecs.select($"vec_id".as("pa"), $"embedding".as("ea")), Seq("pa"))
      .join(vecs.select($"vec_id".as("pb"), $"embedding".as("eb")), Seq("pb"))
      .withColumn("cos", DedupOps.cosine($"ea", $"eb"))
      .drop("ea", "eb")
    val eFlagged = DedupOps.embeddingPairFlags(withCos, vecs,
        threshold = 0.35, planes = 4, dim = 4)
      .filter($"is_embdup")
      .select($"pa", $"pb").as[(Long, Long)].collect().toSet
    assert(eFlagged == eMined, s"emb flags drifted: $eFlagged vs $eMined")
    assert(eMined.nonEmpty && eMined != ePairs.as[(Long, Long)]
      .collect().toSet) // non-vacuous both ways
  }

  test("minhash store honors its persisted (k, bands, rows) params") {
    val d = docs(
      (1L, "p q r s t u v"), (2L, "p q r s t u v"),
      (3L, "p q r s t u x"),
      (4L, "completely other tokens list"))
    val store = java.nio.file.Files
      .createTempDirectory("graft-mh-params-store").toString + "/idx"
    // NON-default geometry: every consumer must mine/probe with it —
    // the pre-r15 default-parameter reread silently mined a different
    // candidate set than the stored bands table
    DedupOps.buildMinhashStore(d, store, k = 3, bands = 4, rows = 4)
    assert(DedupOps.minhashStoreParams(spark, store) == ((3, 4, 4)))
    def rows(df: DataFrame) = df
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = rows(DedupOps.minhashLshPairs(
      k = 3, bands = 4, rows = 4, threshold = 0.5)(d))
    assert(rows(DedupOps.minhashLshPairsStore(spark, store,
      threshold = 0.5)) == expected)
    assert(expected.map(r => (r._1, r._2)).contains((1L, 2L)))
    // incremental probes inherit the stored geometry too
    val incr = DedupOps.incrementalNearDupPairs(
      docs((6L, "p q r s t u v")), store)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(incr.contains((1L, 6L)) && incr.contains((2L, 6L)))
  }

  test("knnGraphIndex ≡ knnGraph under the same cell model") {
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cell", "centroid")
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f)), (1L, Array(0.9f, 0.0f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(0.0f, 0.9f)),
      (4L, Array(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-knn-idx").toString + "/idx"
    SimilarityOps.buildIndex(corpus,
      cents.select($"cell".as("cent_id"), $"centroid".as("cent_emb")),
      dir)
    def rows(df: DataFrame) = df
      .select($"vec_id", $"neighbor_id", $"rank",
        $"cos".cast("string")) // IEEE-exact compare via repr
      .as[(Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._3)).toSeq
    val idx = rows(SimilarityOps.knnGraphIndex(spark, dir, k = 2))
    val mem = rows(SimilarityOps.knnGraph(cents, k = 2)(corpus))
    assert(idx == mem && idx.nonEmpty,
      s"index-served graph drifted: $idx vs $mem")
  }

  test("persisted rescore ≡ scan rescore on collision-free fixtures") {
    import graft.operators.CorpusOps
    val d = docs(
      (1L, "spark join spark join fast"),  // 2 phrase hits, both terms
      (2L, "join spark fast"),             // terms present, no phrase
      (3L, "spark fast engine"),
      (4L, "join only here"),
      (5L, null.asInstanceOf[String]))
    val bm25Dir = java.nio.file.Files
      .createTempDirectory("graft-rsc-bm25").toString + "/idx"
    val posDir = java.nio.file.Files
      .createTempDirectory("graft-rsc-pos").toString + "/idx"
    CorpusOps.buildBm25Index(d, bm25Dir)
    CorpusOps.buildPositionalIndex(d, posDir)
    val qts = Seq(0L -> "spark", 0L -> "join")
    val phs = Seq(0L -> "spark join")
    def rows(df: DataFrame) = df
      .select($"query_id", $"doc_id", $"score", $"n_phrase_hits",
        $"new_score", $"rank", $"rank0")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._6)).toSeq
    val idx = rows(CorpusOps.bm25RescoreIndex(spark, bm25Dir, posDir,
      qts, phs, window = 4, k = 3, boost = 1000L))
    val scan = rows(CorpusOps.bm25Rescore(qts, phs,
      window = 4, k = 3, boost = 1000L)(d))
    assert(idx == scan && idx.nonEmpty,
      s"persisted rescore drifted: $idx vs $scan")
    // the phrase boost genuinely reorders: doc 1 (2 phrase hits) must
    // outrank its primary position's neighbors at rank 1
    assert(idx.head._2 == 1L && idx.head._4 == 2L)
  }
}
