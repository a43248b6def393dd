package graft

import graft.functions.TextExprs
import graft.operators.{DedupOps, DriverModel, SimilarityOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, posexplode_outer}
import org.apache.spark.sql.graftbridge.JobCount
import org.apache.spark.sql.types._

/** Bounded driver fetches ([[DriverModel.collectBounded]],
  * [[DriverModel.fetchArrays]]) and the kernels that finish on the
  * driver behind them: `pcaPower`'s and `ngramJaccardPairs`'s driver
  * paths against their distributed paths, bit for bit, and `mmrRerank`'s
  * capped collects.
  */
class DriverModelSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("collectBounded: cap rows is Some, cap + 1 is None, empty is Some(empty)") {
    val df = (1L to 5L).toDF("x")
    assert(DriverModel.collectBounded(df, 5).map(_.map(_.getLong(0)).toSet)
      .contains((1L to 5L).toSet))
    assert(DriverModel.collectBounded(df, 4).isEmpty)
    assert(DriverModel.collectBounded(df.filter(col("x") < 0), 0)
      .exists(_.isEmpty))
  }

  test("collectBounded: one job over 4 partitions, Some iff rows <= cap, at cap - 1, cap and cap + 1") {
    val key = "spark.sql.limit.initialNumPartitions"
    val before = spark.conf.getOption(key)
    val df = spark.sparkContext.parallelize(0L until 40L, 4).toDF("x")
    // the plain collected limit takes the first partition, then the rest
    assert(JobCount(spark.sparkContext)(df.limit(40).collect())._2 == 2)
    for (cap <- Seq(39, 40, 41)) {
      val (got, jobs) =
        JobCount(spark.sparkContext)(DriverModel.collectBounded(df, cap))
      assert(jobs == 1, s"cap $cap: $jobs jobs")
      assert(got.isDefined == (40 <= cap), s"cap $cap")
      got.foreach(rows =>
        assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 40L)))
    }
    assert(spark.conf.getOption(key) == before)
  }

  test("fetchArrays: one job, Some iff cells <= cap at cap - 1, cap and cap + 1; a null or empty array is one cell") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("xs", ArrayType(LongType))))
    def xs(v: java.lang.Long*): Seq[java.lang.Long] = v
    // 4 partitions of 10 cells: 4 elements, a null array, an empty
    // array, and 4 elements (one NULL) under a NULL id
    val rows = (0 until 4).flatMap { p =>
      val b = 10L * p
      Seq(Row(b, xs(b, b + 1, b + 2, b + 3)), Row(b + 1, null),
        Row(b + 2, xs()), Row(null, xs(-b, null, b, b)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      schema)
    assert(df.rdd.getNumPartitions == 4)
    for (cap <- Seq(5, 39, 40, 41)) {
      val (got, jobs) =
        JobCount(spark.sparkContext)(DriverModel.fetchArrays(df, cap))
      assert(jobs == 1, s"cap $cap: $jobs jobs")
      assert(got.isDefined == (cap >= 40), s"cap $cap")
      got.foreach { m =>
        assert(m.rows == rows.length)
        assert(m.idNull.toSeq == rows.map(_.isNullAt(0)))
        assert(rows.indices.forall(r => rows(r).isNullAt(0) ||
          m.ids(r) == rows(r).getLong(0)))
        val elems = rows.map(r =>
          Option(r.getSeq[java.lang.Long](1)).getOrElse(Seq.empty))
        assert(rows.indices.map(r => m.start(r + 1) - m.start(r)) ==
          elems.map(_.length))
        val flat = elems.flatten
        assert(m.elemNull.toSeq == flat.map(_ == null))
        assert(flat.indices.forall(i =>
          flat(i) == null || m.bits(i) == flat(i).longValue))
      }
    }
    // a DOUBLE element keeps its exact bits
    val doubles = Seq(0.1, -0.0, Double.NaN, Double.MinPositiveValue)
    val got = DriverModel.fetchArrays(Seq((7L, doubles)).toDF("id", "xs"), 4)
    assert(got.exists(m => m.bits.indices.map(m.double).map(
      java.lang.Double.doubleToRawLongBits) ==
      doubles.map(java.lang.Double.doubleToRawLongBits)))
  }

  /** One `embeddings` row: (vec_id, embedding), either may be null. */
  private type Emb = (java.lang.Long, Seq[java.lang.Float])

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def embs(rows: Seq[Emb]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, e) => Row(id, e) }, 3), embSchema)

  /** `n` rows of `d` seeded floats in [-1, 1). */
  private def matrix(n: Int, d: Int, seed: Long): Seq[Emb] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (Long.box(i.toLong),
      Seq.fill(d)(Float.box(rnd.nextFloat() * 2f - 1f))))
  }

  /** Cells as the driver path counts them: a null or empty embedding
    * is one.
    */
  private def cells(rows: Seq[Emb]): Int =
    rows.map(r => if (r._2 == null) 1 else r._2.length max 1).sum

  private def rowsOf(df: DataFrame): Seq[(Long, Option[Long], Long)] =
    df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .sortBy(_._1).toSeq

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("pcaPower: driver path ≡ distributed path bit-exactly, either side of the cap") {
    val base = matrix(40, 6, 7L)
    val ragged = matrix(30, 8, 11L).zipWithIndex.map { case ((id, e), i) =>
      (id, e.take(3 + i % 6)) }
    val fixtures: Seq[(String, Seq[Emb])] = Seq(
      "rectangular" -> base,
      "ragged arrays" -> ragged,
      "null embedding row" -> (base :+ ((Long.box(99L), null))),
      "empty embedding row" -> (base :+ ((Long.box(99L), Seq.empty))),
      "null element" -> base.updated(3,
        (base(3)._1, base(3)._2.updated(2, null))),
      "duplicate vec_id" -> (base :+ ((base(5)._1, base(9)._2))),
      "null vec_id" -> (base :+ ((null, base(9)._2))),
      "empty input" -> Seq.empty)
    val (qScale, vScale) = (10000L, 100000L)
    for ((name, rows) <- fixtures; iters <- Seq(1, 3, 6)) {
      val df = embs(rows)
      val ref = SimilarityOps.pcaDistributed(df, iters, qScale, vScale)
      val want = rowsOf(ref)
      if (rows.nonEmpty) assert(want.nonEmpty, s"$name: empty reference")
      val n = cells(rows)
      for (cap <- Seq(n - 1, n, n + 1) if cap >= 0) {
        val got = SimilarityOps.pcaPower(df, iters, qScale, vScale, cap)
        val ctx = s"$name, iters=$iters, cells=$n, cap=$cap"
        assert(onDriver(got) == (cap >= n), s"$ctx: wrong path")
        assert(got.schema == ref.schema, s"$ctx: ${got.schema}")
        assert(rowsOf(got) == want, s"$ctx: paths diverge")
      }
    }
  }

  test("pcaPower: sums past 2^63 and below 10^38 stay exact on the driver") {
    val rows = matrix(40, 6, 13L)
    val (qScale, vScale) = (100000000000L, 1000000000L)
    // round 1's t = Σ c·vScale per vec_id, from the same quantization
    val q = rows.map(_._2.map(x =>
      BigInt(math.floor(x.doubleValue * qScale.toDouble).toLong)))
    val sums = q.transpose.map(_.sum)
    val t = q.map(_.zip(sums).map { case (x, s) =>
      (q.length * x - s) * vScale }.sum.abs)
    assert(t.max > BigInt(Long.MaxValue) && t.max < BigInt(10).pow(38),
      t.max)
    val df = embs(rows)
    for (iters <- Seq(1, 3, 6)) {
      val got = SimilarityOps.pcaPower(df, iters, qScale, vScale)
      assert(onDriver(got))
      assert(rowsOf(got) == rowsOf(
        SimilarityOps.pcaDistributed(df, iters, qScale, vScale)),
        s"iters=$iters")
    }
  }

  test("pcaPower: the registered query takes the driver path and matches the distributed path") {
    val e = Tables.embeddings(spark, dir)
    val got = SparkEntry.queries("sim_pca_power")(spark, dir)
    assert(onDriver(got))
    assert(rowsOf(got) == rowsOf(SimilarityOps.pcaDistributed(e, 6, 10000L,
      100000L)))
  }

  test("pcaPower: overflow past bigint or decimal(38,0) fails on both paths") {
    val one = Float.box(1f)
    val two = Seq.fill(2)(one)
    val cases = Seq(
      // leaves BIGINT: q = ±4e18, n = 3, s = 4e18
      ("c = n·q − s", Seq.tabulate(3)(i => (Long.box(i.toLong),
        two.map(x => Float.box(if (i == 1) -x else x)))),
        4000000000000000000L, 1L),
      // the sum leaves decimal(38,0): c = ±8e18, v = 9e18, two dims
      ("t = C·v", Seq((Long.box(0L), two), (Long.box(1L), two.map(x =>
        Float.box(-x)))), 4000000000000000000L, 9000000000000000000L),
      // the product leaves decimal(38,0): |t| ≈ 1.6e33, vScale = 1e18
      ("|t|·vScale", matrix(4, 3, 3L), 1000000000000000L,
        1000000000000000000L))
    for ((name, rows, qScale, vScale) <- cases) {
      val df = embs(rows)
      val engine = intercept[Exception](
        SimilarityOps.pcaDistributed(df, 2, qScale, vScale).collect())
      assert(Iterator.iterate[Throwable](engine)(_.getCause)
        .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException]),
        s"$name: engine failed for another reason: $engine")
      val e = intercept[ArithmeticException](
        SimilarityOps.pcaPower(df, 2, qScale, vScale).collect())
      assert(e.getMessage.startsWith(s"pcaPower: $name"), s"$name: $e")
    }
  }

  test("pcaPower fallback: per-round join and aggregate on vec_id plan no exchange") {
    // 600 × 64 cells size c's layout at 2 hash partitions, 40 × 6 at
    // the floor of 2: a 1-partition layout reads as SinglePartition,
    // which a join on vec_id re-shuffles every round
    for ((n, d) <- Seq((600, 64), (40, 6))) {
      val df = embs(matrix(n, d, 7L))
      val pc = SimilarityOps.pcaCentered(df, 10000L)
      val round = SimilarityOps.pcaRound(pc.c, pc.dims,
        pc.dims.map(_ -> 100000L).toMap, 100000L)
      val p = round.queryExecution.executedPlan.toString
      assert(!p.contains("hashpartitioning(vec_id"), s"$n × $d: $p")
      assert(p.contains("hashpartitioning(dim"), s"$n × $d: $p")
    }
    // the keyed checkpoint leaves the caller's session conf alone
    assert(spark.conf.getOption("spark.sql.adaptive.enabled")
      .forall(_ == "true"))
  }

  /** One `documents` row: (doc_id, text), either may be null. */
  private type Doc = (java.lang.Long, String)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docs(rows: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) => Row(id, t) }, 3), docSchema)

  /** `n` seeded documents over a 40-word vocabulary, in families of
    * three: a base text and two copies with some tokens redrawn, so
    * pairs span the whole Jaccard range.
    */
  private def corpus(n: Int, seed: Long): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    def word() = s"w${rnd.nextInt(40)}"
    (0 until n).grouped(3).flatMap { fam =>
      val base = Seq.fill(6 + rnd.nextInt(10))(word())
      fam.zipWithIndex.map { case (id, i) =>
        (Long.box(id.toLong), base.map(w =>
          if (i > 0 && rnd.nextInt(8) < i) word() else w).mkString(" "))
      }
    }.toSeq
  }

  /** Shingle cells as the driver path counts them: a null text is one. */
  private def shingleCells(df: DataFrame, k: Int): Int =
    df.select(posexplode_outer(TextExprs.h15Array(
      DedupOps.shingleSet(col("text"), k)))).count().toInt

  /** (a, b, inter, jaccard bits), sorted. */
  private def pairsOf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).sorted.toSeq

  test("ngramJaccardPairs: driver path ≡ distributed path bit-exactly, either side of the cap") {
    val base = corpus(30, 5L)
    val fixtures: Seq[(String, Seq[Doc])] = Seq(
      "corpus" -> base,
      "identical documents" -> (base ++ Seq.tabulate(3)(i =>
        (Long.box(50L + i), base(4)._2))),
      "null text" -> (base ++ Seq((Long.box(50L), null),
        (Long.box(51L), null))),
      "empty text" -> (base ++ Seq((Long.box(50L), ""),
        (Long.box(51L), "   "))),
      "text shorter than k" -> (base ++ Seq((Long.box(50L), "w1"),
        (Long.box(51L), "w1"), (Long.box(52L), "w1 w2"),
        (Long.box(53L), "w1 w2"))),
      "null doc_id" -> (base ++ Seq((null, base(4)._2),
        (null, base(4)._2))),
      "more pairs than cells" -> Seq.tabulate(6)(i =>
        (Long.box(i.toLong), "w1 w2 w3")),
      "duplicate doc_id" -> (base :+ ((base(7)._1, base(4)._2))),
      "empty input" -> Seq.empty)
    for ((name, rows) <- fixtures; k <- Seq(2, 3);
        t <- Seq(0.0, 0.3, 0.5, 0.9, 1.0)) {
      val df = docs(rows)
      val ref = DedupOps.ngramJaccardDistributed(k, t)(df)
      val want = pairsOf(ref)
      val n = shingleCells(df, k)
      val ids = rows.flatMap(r => Option(r._1))
      for (cap <- Seq(n - 1, n, n + 1) if cap >= 0) {
        val got = DedupOps.ngramJaccardPairs(k, t, cap)(df)
        val ctx = s"$name, k=$k, t=$t, cells=$n, cap=$cap"
        assert(onDriver(got) == (cap >= n && ids.distinct == ids &&
          want.length <= cap), s"$ctx: wrong path")
        assert(got.schema == ref.schema, s"$ctx: ${got.schema}")
        assert(pairsOf(got) == want, s"$ctx: paths diverge")
      }
      if (name == "corpus" && t == 0.5)
        assert(want.nonEmpty, s"$name, k=$k: no pairs to compare")
    }
    // non-nullable input columns: the local frame's nullability follows
    val strict = spark.createDataFrame(docs(base).rdd,
      StructType(docSchema.map(_.copy(nullable = false))))
    val got = DedupOps.ngramJaccardPairs(3, 0.5)(strict)
    val ref = DedupOps.ngramJaccardDistributed(3, 0.5)(strict)
    assert(onDriver(got) && got.schema == ref.schema, got.schema)
    assert(pairsOf(got) == pairsOf(ref))
  }

  test("AllPairs ≡ the distributed plan on random hash sets with duplicate hashes inside a document") {
    val setSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("shingles", ArrayType(LongType))))
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      // 40 documents over 30 hashes, so they overlap; every third one
      // repeats some of its hashes, and random draws repeat others
      val random = (0 until 40).map { d =>
        val base = Seq.fill(3 + rnd.nextInt(12))(
          (rnd.nextInt(30) - 15).toLong * 1000003L)
        val dup = if (d % 3 == 0) base ++ base.take(1 + rnd.nextInt(
          base.length)) else base
        (d.toLong, rnd.shuffle(dup).map(Long.box))
      }
      // exact copies (J = 1), a NULL element, a NULL array
      val sets: Seq[(Long, Seq[java.lang.Long])] = random ++ Seq(
        40L -> rnd.shuffle(random(1)._2), 41L -> Seq(1L, 2L, 3L).map(Long.box),
        42L -> Seq(3L, 2L, 1L).map(Long.box),
        43L -> (Seq(1L, 2L).map(Long.box) :+ null), 44L -> null)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        sets.map { case (d, h) => Row(d, h) }, 3), setSchema)
      for (t <- Seq(0.0, 0.5, 0.8, 1.0)) {
        val want = pairsOf(DedupOps.hashJaccardDistributed(t)(df))
        val got = DedupOps.hashJaccardPairs(t, DriverModel.DefaultCap)(df)
        assert(want.nonEmpty, s"seed $seed, t=$t: no pairs to compare")
        assert(onDriver(got), s"seed $seed, t=$t: wrong path")
        assert(pairsOf(got) == want, s"seed $seed, t=$t: paths diverge")
      }
    }
  }

  test("ngramJaccardPairs: the registered query takes the driver path and matches the distributed path") {
    val got = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
    val ref = DedupOps.ngramJaccardDistributed(3, 0.5)(
      Tables.documents(spark, dir))
    assert(onDriver(got))
    assert(got.schema == ref.schema, got.schema)
    val want = pairsOf(ref)
    assert(want.nonEmpty)
    assert(pairsOf(got) == want)
  }

  test("mmrRerank: a tiny cap fails by name; the default cap changes nothing") {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 3L)
    val err = intercept[DriverModel.CapExceeded](
      SimilarityOps.mmrRerank(e, q, 4, 2, 0.7, 0.3, cap = 5))
    assert(err.getMessage.contains("|Q|·window = 12") &&
      err.getMessage.contains("|Q|·window² = 48"), err.getMessage)
    val registered = SparkEntry.queries("sim_mmr_rerank")(spark, dir)
    val uncapped = SimilarityOps.mmrRerank(e, e.filter(col("vec_id") < 8L),
      10, 5, 0.7, 0.3, cap = Int.MaxValue - 1)
    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.take(3)
      .map(_.asInstanceOf[Long]).mkString(",")).toSeq
    assert(registered.count() > 0)
    assert(sorted(registered) == sorted(uncapped))
  }
}
