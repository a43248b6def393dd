package graft

import graft.operators.{DriverModel, SimilarityOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Bounded driver fetches ([[DriverModel.collectBounded]]) and the
  * kernels that finish on the driver behind them: `pcaPower`'s driver
  * path against its distributed path, bit for bit, and `mmrRerank`'s
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
    // 600 × 64 cells lay c out in 2 hash partitions; a 1-partition
    // layout reads as SinglePartition, which a join re-shuffles anyway
    val df = embs(matrix(600, 64, 7L))
    val pc = SimilarityOps.pcaCentered(df, 10000L)
    val round = SimilarityOps.pcaRound(pc.c, pc.dims,
      pc.dims.map(_ -> 100000L).toMap, 100000L)
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning(vec_id"), p)
    assert(p.contains("hashpartitioning(dim"), p)
    // the keyed checkpoint leaves the caller's session conf alone
    assert(spark.conf.getOption("spark.sql.adaptive.enabled")
      .forall(_ == "true"))
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
