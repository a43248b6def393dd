package graft

import graft.functions.MapSchemaProvider
import graft.operators.{DedupOps, InjectorOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck property tests for the engine's delivery/dedup invariants
  * (SURVEY.md §5: "∀ batches: insert twice ≡ insert once").
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(5) // each sample runs Spark jobs

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("∀ batches: ingesting twice ≡ ingesting once (K2 dedup)") {
    val genBatch = Gen.nonEmptyListOf(for {
      part <- Gen.choose(0, 3)
      off <- Gen.choose(0L, 50L)
    } yield (part, off))
    check(Prop.forAll(genBatch) { rows =>
      val df = rows.toDF("partition", "offset")
        .withColumn("doc_id", concat_ws(":", $"partition", $"offset"))
      val one = InjectorOps.dedupByDocId()(df).count()
      val two = InjectorOps.dedupByDocId()(df.unionAll(df)).count()
      val distinctIds = rows.map { case (p, o) => s"$p:$o" }.distinct.size
      one == distinctIds && two == distinctIds
    })
  }

  test("∀ texts: content hash is whitespace/case-normalization invariant") {
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val genText = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    check(Prop.forAll(genText) { text =>
      val messy = "  " + text.toUpperCase.replace(" ", "   ") + " "
      val hashes = Seq(text, messy).toDF("text")
        .select(TextOps.contentHash($"text")).as[String].collect()
      hashes(0) == hashes(1)
    })
  }

  test("∀ docs: jaccard(doc, doc) = 1 and minhash sigs equal (LSH sound)") {
    val word = Gen.oneOf("ab", "cd", "ef", "gh", "ij")
    val genDoc = Gen.listOfN(8, word).map(_.mkString(" "))
    check(Prop.forAll(genDoc) { text =>
      val df = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val pairs = DedupOps.minhashLshPairs(k = 2, bands = 4, rows = 2,
        threshold = 0.99)(df)
        .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect()
      pairs.toSeq == Seq((1L, 2L, 1.0))
    })
  }

  test("∀ byte blobs: Confluent-Avro decode never throws — null or a valid row (D6)") {
    import graft.functions.AvroWire
    val schema =
      """{"type":"record","name":"F","fields":[{"name":"id","type":"int"}]}"""
    val genBlob = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      // adversarial shape: correct magic + registered id + garbage body
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(tail =>
        Array[Byte](0, 0, 0, 0, 7) ++ tail))
    check(Prop.forAll(Gen.listOfN(8, genBlob)) { blobs =>
      val rows = blobs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("n", "value")
        .select($"n", AvroWire.fromConfluentAvro($"value", schema,
          MapSchemaProvider(Map(7 -> schema))).as("p"))
        .select($"n", $"p".isNull, $"p.id")
        .as[(Long, Boolean, Option[Int])].collect()
      // the poison-record contract: every blob yields a row — either a
      // dropped null or a decoded struct — and the query never throws
      rows.length == blobs.length &&
        rows.forall { case (_, isNull, id) => isNull || id.isDefined }
    })
  }

  test("∀ texts: the UDF tokenizer replicates Spark split(trim) exactly") {
    // the root cause behind two review findings: Java trim/split strip
    // \t/\n and drop trailing empties where Spark's trim is space-only
    // and split keeps them — the corpus UDFs must match TextOps.tokens
    // bit-for-bit or offline models silently stop matching online
    val genText = Gen.listOfN(12, Gen.oneOf(
      "w", "xy", " ", "\t", "\n", "  ", "\r")).map(_.mkString)
    check(Prop.forAll(genText) { text =>
      val viaSpark = Seq(text).toDF("text")
        .select(TextOps.tokens($"text")).as[Seq[String]].head()
      viaSpark == graft.operators.CorpusOps.tokenizeLikeSpark(text).toSeq
    })
  }

  test("∀ dims/rates: media headers round-trip through their parsers") {
    import graft.operators.MediaHeaders
    val genDims = for {
      w <- Gen.choose(1, 65535); h <- Gen.choose(1, 65535)
    } yield (w, h)
    // pure byte-level codecs: no Spark jobs, so crank the sample count
    val p = SCTest.Parameters.default.withMinSuccessfulTests(200)
    val r = SCTest.check(p, Prop.forAll(genDims) { case (w, h) =>
      MediaHeaders.png(MediaHeaders.pngBytes(w, h)).contains((w, h, 33)) &&
        MediaHeaders.jpeg(MediaHeaders.jpegBytes(w, h))
          .contains((w, h, 15))
    })
    assert(r.passed, r.status.toString)
    val genFmt = for {
      ch <- Gen.choose(1, 8); rate <- Gen.choose(1, 384000)
      dataLen <- Gen.choose(0, 1 << 20)
    } yield (ch, rate, dataLen)
    val r2 = SCTest.check(p, Prop.forAll(genFmt) { case (ch, rate, n) =>
      MediaHeaders.wav(MediaHeaders.wavBytes(ch, rate, n))
        .contains((ch, rate, 44))
    })
    assert(r2.passed, r2.status.toString)
  }

  test("∀ corpora: packed sequences are contiguous and offsets stay in budget") {
    import graft.operators.CorpusOps
    val word = Gen.oneOf("aa", "bb", "cc")
    val genDocs = Gen.nonEmptyListOf(
      Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    check(Prop.forAll(genDocs) { texts =>
      val budget = 16
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = CorpusOps.packSequences(docs, budget, bucketWidth = 3L)
        .orderBy($"doc_id")
        .select($"doc_id", $"n_tokens", $"seq_first", $"seq_last",
          $"tok_offset")
        .as[(Long, Long, Long, Long, Long)].collect()
      // reconstruct the global stream position doc by doc: each doc must
      // start exactly where the previous ended (two-phase scan ≡ the
      // naive global prefix sum), offsets inside the budget, spans sane
      var pos = 0L
      out.forall { case (_, n, first, last, off) =>
        val ok = off == pos % budget &&
          first == pos / budget &&
          last == (pos + n - 1) / budget &&
          first <= last && off < budget
        pos += n
        ok
      }
    })
  }

  test("∀ corpora: segment dedup keeps unique docs whole, counts bounded") {
    import graft.operators.CorpusOps
    val word = Gen.oneOf("xx", "yy", "zz", "ww")
    val genDocs = Gen.nonEmptyListOf(
      Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    check(Prop.forAll(genDocs) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = CorpusOps.segmentDedup(docs, segTokens = 4, maxDf = 2)
        .select($"doc_id", $"n_segments", $"n_kept")
        .as[(Long, Long, Long)].collect()
      out.length == texts.length &&
        out.forall { case (_, n, kept) => kept >= 0 && kept <= n && n > 0 }
    })
  }

  test("∀ docs: sliding chunks tile every token exactly, lengths exact") {
    import graft.operators.CorpusOps
    val gen = for {
      n <- Gen.choose(1, 40)
      w <- Gen.choose(1, 10)
      s <- Gen.choose(1, 10) if s <= w
    } yield (n, w, s)
    check(Prop.forAll(gen) { case (n, w, s) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val out = CorpusOps.chunkSliding(w, s)(
          Seq((1L, text)).toDF("doc_id", "text"))
        .select($"chunk_no", $"chunk_start", $"n_tokens")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val covered = out.flatMap { case (_, start, len) =>
        start until (start + len) }.toSet
      out.zipWithIndex.forall { case ((no, start, len), i) =>
        no == i && start == i * s &&
          len == math.min(w.toLong, n - start) } &&
        covered == (0L until n).toSet             // every token chunked
    })
  }

  test("∀ corpora: duplicate-span coverage bounded; cloned docs fully dup") {
    import graft.operators.DedupOps
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val genDocs = Gen.nonEmptyListOf(
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    check(Prop.forAll(genDocs) { texts =>
      val base = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      // clone doc 0 under a fresh id: both copies must be 100% covered
      val docs = (base :+ (1000L, texts.head)).toDF("doc_id", "text")
      val out = DedupOps.duplicateSpans(k = 3, maxDupRatio = 0.5)(docs)
        .select($"doc_id", $"n_tokens", $"dup_tokens")
        .as[(Long, Long, Long)].collect()
      out.forall { case (_, n, d) => d >= 0 && d <= n } &&
        out.filter(r => r._1 == 0L || r._1 == 1000L)
          .forall { case (_, n, d) => d == n }
    })
  }

  test("∀ models: bigram scores bounded, self-trained text outranks garbage") {
    import graft.operators.CorpusOps
    val word = Gen.oneOf("pp", "qq", "rr")
    val genDocs = Gen.listOfN(3,
      Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    check(Prop.forAll(genDocs) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val vocab = CorpusOps.vocabulary(docs, 3).as[String].collect().toSet
      val model = CorpusOps.bigramModel(vocab)(docs).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val scored = CorpusOps.bigramLmScore(vocab, model, 3, 0.0)(
          docs.unionAll(Seq((99L, "zz zz zz zz")).toDF("doc_id", "text")))
        .select($"doc_id", $"n_bigrams", $"lm_fp")
        .as[(Long, Long, Long)].collect()
      val garbage = scored.find(_._1 == 99L).get
      // fp per position is a probability scaled by 1e6: 0 < fp ≤ 1e6·n
      scored.forall { case (_, n, fp) => fp > 0 && fp <= 1000000L * n } &&
        // the corpus' ≤3 distinct words all fit the vocab, so <unk> has
        // zero training mass and unseen-everything garbage scores
        // EXACTLY the add-1 smoothing floor 1/(V+1) per position
        garbage._3 == 250000L * garbage._2
    })
  }

  test("∀ word sets: SymSpell fuzzy match set ≡ brute-force levenshtein ≤ 1") {
    import graft.operators.CorpusOps
    val word = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    val gen = for {
      vocab <- Gen.listOfN(6, word)
      q <- word
    } yield (vocab.distinct, q)
    check(Prop.forAll(gen) { case (vocab, q) =>
      // one doc per vocab word → fuzzySearch's matched doc set IS the
      // matched term set (short abc-alphabet words collide hard, so
      // deletion-join false candidates appear and MUST be verified out)
      val docs = vocab.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val got = CorpusOps.fuzzySearch(Seq(0L -> q), 100)(docs)
        .select($"doc_id").as[Long].collect().toSet
      val expect = vocab.zipWithIndex.collect {
        case (w, i) if levenshteinDist(q, w) <= 1 => i.toLong
      }.toSet
      got == expect
    })
  }

  /** Plain DP Levenshtein — the spec the SymSpell join must equal. */
  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("∀ graphs: bfsHops ≡ textbook BFS from the seed") {
    import graft.operators.GraphOps
    val genEdges = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L) if a != b
    } yield (a, b))
    check(Prop.forAll(genEdges) { edges =>
      val rounds = 3
      val got = GraphOps.bfsHops(edges.toDF("src", "dst"), Seq(0L),
        rounds).as[(Long, Int)].collect().toMap
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      var dist = Map(0L -> 0)
      var frontier = Set(0L)
      for (d <- 1 to rounds) {
        val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty[Long])) --
          dist.keySet
        dist = dist ++ nxt.map(_ -> d)
        frontier = nxt
      }
      got == dist
    })
  }

  test("∀ corpora: silhouette stays in [-1,1] and counts conserve") {
    import graft.operators.SimilarityOps
    val genVecs = Gen.nonEmptyListOf(for {
      x <- Gen.choose(-5, 5); y <- Gen.choose(-5, 5)
      if x != 0 || y != 0
    } yield (x.toDouble, y.toDouble))
    check(Prop.forAll(genVecs) { vs =>
      val pts = vs.zipWithIndex
        .map { case ((x, y), i) => (i.toLong, Seq(x, y)) }
        .toDF("vec_id", "embedding")
      val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
        .toDF("cell", "centroid")
      val rows = SimilarityOps.silhouette(cents)(pts)
        .as[(Long, Long, Double, Double, Double)].collect()
      rows.map(_._2).sum == vs.size &&
        rows.forall { case (_, _, mean, mn, mx) =>
          mn <= mean + 1e-9 && mean <= mx + 1e-9 &&
            mn >= -1.0 - 1e-9 && mx <= 1.0 + 1e-9
        }
    })
  }

  test("∀ edge lists: pageRank mass stays within [teleport·n, scale]") {
    import graft.operators.GraphOps
    val genEdges = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 7L); b <- Gen.choose(0L, 7L) if a != b
    } yield (a, b))
    check(Prop.forAll(genEdges) { edges =>
      val verts = (0L to 7L).toDF("id")
      val scale = 1000000L
      val ranks = GraphOps.pageRank(edges.distinct.toDF("src", "dst"),
        verts, iters = 2, scale = scale)
        .as[(Long, Long)].collect()
      val total = ranks.map(_._2).sum
      val teleport = (3L * (scale / 8)) / 20L
      // flooring + dangling nodes only LEAK mass (never create it),
      // and every node keeps at least its teleport share
      ranks.forall(_._2 >= teleport) && total <= scale &&
        total >= teleport * 8
    })
  }
}
