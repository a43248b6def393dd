package graft

import graft.operators.{AsofJoin, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Unit tests for the round-3 additions: backward as-of join, IVF top-k,
  * deterministic hash sampling.
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq(
    // (event, key, t)
    ("e1", 1L, 100L), ("e2", 1L, 250L), ("e3", 1L, 300L),
    ("e4", 2L, 50L), ("e5", 3L, 500L)
  ).toDF("ev", "k", "t").withColumn("seq", monotonically_increasing_id())

  private def right = Seq(
    // (key, t, payload)
    (1L, 100L, "r@100"), (1L, 200L, "r@200"), (1L, 400L, "r@400"),
    (2L, 60L, "r@60"), (4L, 10L, "r@10")
  ).toDF("rk", "rt", "pay").withColumn("rseq", col("rt"))

  test("asof backward: most recent right row at or before left time") {
    val out = AsofJoin.asofBackward(
      left, "k", "t", "seq", right, "rk", "rt", "rseq", Seq("pay"))
      .select($"ev", $"pay").as[(String, Option[String])].collect().toMap
    assert(out("e1").contains("r@100")) // equal time matches
    assert(out("e2").contains("r@200")) // most recent ≤ 250
    assert(out("e3").contains("r@200")) // r@400 is in the future
    assert(out("e4").isEmpty)           // no right row ≤ 50 for key 2
    assert(out("e5").isEmpty)           // key 3 has no right rows at all
  }

  test("asof backward: ties on right time broken by highest seq") {
    val r2 = Seq((1L, 100L, 1L, "first"), (1L, 100L, 2L, "second"))
      .toDF("rk", "rt", "rseq", "pay")
    val l2 = Seq(("e", 1L, 150L, 0L)).toDF("ev", "k", "t", "seq")
    val out = AsofJoin.asofBackward(
      l2, "k", "t", "seq", r2, "rk", "rt", "rseq", Seq("pay"))
      .select($"pay").as[String].head()
    assert(out == "second")
  }

  test("asof backward: carry columns are row-atomic when right has nulls") {
    // r@200 has a NULL in one carry column; an implementation with
    // independent per-column last(ignoreNulls) windows would emit the
    // mixed row (a=r@200's a, b=r@100's b) — the whole-struct carry must
    // return r@200's (a, NULL) as one piece
    val r = Seq(
      (1L, 100L, Some("a100"), Some("b100")),
      (1L, 200L, Some("a200"), Option.empty[String])
    ).toDF("rk", "rt", "a", "b").withColumn("rseq", col("rt"))
    val l = Seq(("e", 1L, 250L, 0L)).toDF("ev", "k", "t", "seq")
    val out = AsofJoin.asofBackward(
      l, "k", "t", "seq", r, "rk", "rt", "rseq", Seq("a", "b"))
      .select($"a", $"b").as[(Option[String], Option[String])].head()
    assert(out == (Some("a200"), None))
  }

  test("ivf top-k: neighbors come from the query's own cell") {
    // two well-separated clusters on orthogonal axes; centroids = one
    // vector from each cluster
    def v(x: Double, y: Double) = Array(x, y, 0.0, 0.0)
    val emb = Seq(
      0L -> v(1.0, 0.05), 1L -> v(1.0, 0.1), 2L -> v(0.9, 0.0),
      10L -> v(0.05, 1.0), 11L -> v(0.0, 0.95), 12L -> v(0.1, 1.0)
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfTopK(emb, emb.filter($"vec_id" === 0L ||
        $"vec_id" === 10L), k = 2, seedIds = Seq(2L, 12L))
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    // query 0 lives in the x-cluster cell, query 10 in the y-cluster cell
    assert(out == Set((0L, 1L), (0L, 2L), (10L, 11L), (10L, 12L)))
  }

  test("ivf: zero-norm centroid (NaN cosine) ranks first like ORDER BY DESC, no crash") {
    // a zero vector seeded as centroid makes every cell score NaN for
    // that cell; both engines' ORDER BY score DESC rank NaN first, so it
    // becomes everyone's home cell — and the literal-array argmax must
    // reproduce that (codegen array_position would MISS a NaN needle and
    // element_at(…, 0) would throw)
    def v(x: Double, y: Double) = Array(x, y, 0.0, 0.0)
    val emb = Seq(
      0L -> v(1.0, 0.05), 1L -> v(1.0, 0.1), 2L -> v(0.9, 0.0),
      10L -> v(0.05, 1.0), 11L -> v(0.0, 0.95), 12L -> v(0.1, 1.0),
      20L -> v(0.0, 0.0) // zero-norm: NaN against everything
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfTopK(emb,
      emb.filter($"vec_id" === 0L || $"vec_id" === 10L), k = 2,
      seedIds = Seq(2L, 12L, 20L), nprobe = 2)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect()
    assert(out.length == 4)
    // every real vector homes to cell 20 (NaN ≡ DESC-first); the zero
    // vector itself scores NaN against ALL cells so its all-tie argmax
    // homes to the LOWEST cent id (cell 2) — both exactly what the old
    // window plan (cscore DESC, cent_id ASC) produced. Query 0 probes
    // cells [20, 2] and meets the zero vector (NaN cosine → rank 1);
    // query 10 probes [20, 12], never meets it, ranks its real cluster
    // neighbor first.
    assert(out.filter(_._3 == 1L).map(t => (t._1, t._2)).toSet ==
      Set((0L, 20L), (10L, 12L)))
  }

  test("persisted index over trained centroids ≡ in-memory search") {
    def v(x: Double, y: Double) = Array(x, y, 0.0, 0.0)
    val emb = Seq(
      0L -> v(1.0, 0.05), 1L -> v(1.0, 0.1), 2L -> v(0.9, 0.0),
      10L -> v(0.05, 1.0), 11L -> v(0.0, 0.95), 12L -> v(0.1, 1.0)
    ).toDF("vec_id", "embedding")
    val cents = graft.operators.KMeansOps.lloyd(
      emb, "vec_id", "embedding", seedIds = Seq(2L, 12L), iters = 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-built").toString + "/idx"
    SimilarityOps.buildIndex(emb,
      cents.select(col("cell").cast("long").as("cent_id"),
        col("centroid").as("cent_emb")), dir)
    val q = emb.filter($"vec_id" === 0L || $"vec_id" === 10L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"rank", $"cos")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    val inMem = rows(SimilarityOps.ivfTopKCentroids(emb, q, 2, cents))
    val onDisk = rows(SimilarityOps.searchIndex(spark, dir, q, 2))
    assert(inMem.nonEmpty && inMem.sameElements(onDisk))
  }

  test("hash sampling is deterministic, salted, and monotone in percent") {
    val ids = (0L until 1000L).toDF("doc_id")
    def sample(pct: Int, salt: String) = ids
      .filter(TextOps.hashSample($"doc_id", pct, salt))
      .as[Long].collect().toSet
    val s10a = sample(10, "sample"); val s10b = sample(10, "sample")
    assert(s10a == s10b)                      // reproducible
    assert(s10a.size > 50 && s10a.size < 200) // ~10%
    assert(s10a.subsetOf(sample(20, "sample"))) // growable
    assert(sample(10, "other") != s10a)       // independent per salt
  }
}
