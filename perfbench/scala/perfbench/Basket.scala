package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Batch queries from `SparkEntry.queries` on a generated star schema,
  * construction and execution timed apart. The tables come from a fixed
  * seed, so their results can be pinned; `--seed` draws the query order of
  * every pass.
  */
final class Basket(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, dataRoot: String, expected: Map[String, (Long, String)],
    stats: JobStats) {

  private val sc = spark.sparkContext
  private val dataDir = s"$dataRoot/sf${Basket.Sf}"

  def run(out: Out): Unit = {
    Basket.ensureData(spark, dataDir)
    // set-up: load and spread the query inputs, three times
    val setups = (1 to 3).map { _ =>
      val t = System.nanoTime()
      Tables.dropSpread(dataDir)
      Groups.within(sc, "analytics.setup") {
        Tables.events(spark, dataDir).count()
        Tables.documents(spark, dataDir).count()
        Tables.embeddings(spark, dataDir).count()
      }
      (System.nanoTime() - t) / 1e9
    }
    var attempted = 0L
    var failed = 0L
    val mismatches = ArrayBuffer.empty[String]
    val pinned = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    /** One query: (construct s, execute s), checked against its pin. */
    def one(q: String): (Double, Double) = {
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val df = Groups.within(sc, s"analytics.$q.construct")(
          SparkEntry.queries(q)(spark, dataDir))
        val t1 = System.nanoTime()
        val rows = Groups.within(sc, s"analytics.$q.execute")(df.collect())
        val t2 = System.nanoTime()
        val d = Basket.digest(rows)
        pinned(q) = Map("rows" -> rows.length.toLong, "digest" -> d)
        if (!expected.get(q).contains((rows.length.toLong, d))) {
          failed += 1; mismatches += s"$q rows=${rows.length} digest=$d"
        }
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch {
        case e: Exception =>
          failed += 1; mismatches += s"$q failed: $e"
          (0.0, 0.0)
      }
    }

    // warm-up pass: JIT, codegen and every memoized input
    val warm = Basket.Queries.map(q => q -> one(q))
    Groups.drain(sc)
    val work0 = stats.snapshot
    val gc0 = JobStats.gcMs
    Trace.clear(); Trace.on = traced
    val passes = ArrayBuffer.empty[Seq[(String, Double, Double)]]
    val tStart = System.nanoTime()
    val deadline = tStart + seconds * 1000000000L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val order = new Random(seed * 1000003L + passes.size)
        .shuffle(Basket.Queries)
      passes += Trace.span("analytics.pass")(order.map { q =>
        val (c, e) = one(q); (q, c, e)
      })
    }
    Trace.on = false
    Groups.drain(sc)
    val work = JobStats.delta(stats.snapshot, work0)
    val gcMs = JobStats.gcMs - gc0

    out.attempted = attempted
    out.failed = failed
    out.correct = failed == 0
    out.detail("mismatches") = mismatches.toSeq
    out.detail("observed") = pinned.toMap

    // per-query latency (construct + execute): the typical query is the
    // geometric mean over the basket (a median of five unlike queries
    // jumps between neighbours), the tail is the slowest query; both are
    // medians over passes
    val perPass = passes.map(_.map(t => (t._2 + t._3) * 1000.0))
    val typical = perPass.map(p =>
      math.exp(p.map(x => math.log(math.max(x, 1e-3))).sum / p.size))
    out.e2e("setup_s", Stats.median(setups), "s")
    // a pass takes the construct + execute time of its queries; checking
    // the results is not part of it
    val passS = passes.map(_.map(t => t._2 + t._3).sum)
    out.e2e("throughput_rps", passes.map(_.size).sum / passS.sum, "1/s")
    out.e2e("latency_p50_ms", Stats.median(typical.toSeq), "ms")
    out.e2e("latency_p99_ms", Stats.median(perPass.map(_.max).toSeq), "ms")
    out.detail("setup_s_each") = setups
    out.detail("warm_pass_s") = warm.map { case (q, (c, e)) => q -> (c + e) }.toMap
    out.detail("basket_s") = Stats.median(passS.toSeq)
    out.detail("basket_s_each") = passS.toSeq
    out.detail("passes") = passes.size

    // analytics.*: construction vs execution, per pass and per query
    val groups = work.toSeq
    def jobs(suffix: String) =
      groups.filter(_._1.endsWith(suffix)).map(_._2.jobs).sum.toDouble /
        passes.size
    out.layer("analytics.construct_s",
      Stats.median(passes.map(_.map(_._2).sum).toSeq), "s")
    out.layer("analytics.execute_s",
      Stats.median(passes.map(_.map(_._3).sum).toSeq), "s")
    out.layer("analytics.construct_jobs", jobs(".construct"), "count")
    out.layer("analytics.execute_jobs", jobs(".execute"), "count")
    Basket.Queries.foreach { q =>
      val ts = passes.flatten.filter(_._1 == q)
      out.layer(s"analytics.$q.construct_s", Stats.median(ts.map(_._2).toSeq), "s")
      out.layer(s"analytics.$q.execute_s", Stats.median(ts.map(_._3).toSeq), "s")
    }

    out.work(work, gcMs)
    val spans = Trace.all
    out.spans(spans, Trace.selfTimes(spans))
  }
}

object Basket {
  val Queries: Seq[String] = Seq(
    "sim_pca_power", // construction-heavy
    "q21_sole_late_supplier", // execution-heavy
    "dedup_ngram_jaccard", // mixed
    "entry_pipeline", "d3_avro_decode") // the injector in batch form

  /** Order-independent digest: the sum of a 64-bit hash of every row's
    * canonical text. Doubles are compared to 9 significant digits, so a
    * different summation order cannot change the digest.
    */
  def digest(rows: Array[Row]): String = {
    def fmt(p: String, d: Double) =
      String.format(java.util.Locale.ROOT, p, Double.box(d))
    def canon(v: Any): String = v match {
      case null => "~"
      case d: Double => if (d.isNaN) "NaN" else fmt("%.9g", d)
      case f: Float => if (f.isNaN) "NaN" else fmt("%.6g", f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case t: Timestamp => t.getTime.toString + "." + t.getNanos
      case x => x.toString
    }
    var h = 0L
    rows.foreach { r =>
      val bytes = canon(r).getBytes("UTF-8")
      h += org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42).toLong * 0x9E3779B97F4A7C15L +
        java.util.Arrays.hashCode(bytes).toLong
    }
    java.lang.Long.toHexString(h)
  }

  private val Vocab = ("join hash row batch scan column customer filter " +
    "small slow merge order vector line table data agg value key stream " +
    "window a spark part group big sort query fast the").split(" ")

  /** Scale factor of the basket's tables. */
  val Sf = 0.1

  /** The basket's tables, generated once per checkout from a fixed seed
    * with the row counts of TPC-H and its companion tables at scale `Sf`
    * (per unit of scale: 1M events over 30 days from 15k users, 50k
    * documents, 20k 64-dimensional embeddings, and the 10k suppliers,
    * 1.5M orders and about 6M lineitem rows q21 joins).
    */
  def ensureData(spark: SparkSession, dir: String): Unit = {
    val done = new java.io.File(dir, "_COMPLETE")
    if (done.exists()) return
    def n(perUnit: Int): Int = math.round(perUnit * Sf).toInt
    val nEvents = n(1000000); val nOrders = n(1500000)
    val r = new Random(42L)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 16), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val day = 86400000L
    val t2024 = 1704067200000L

    var ts = t2024
    val types = Array("view", "click", "purchase", "signup", "error")
    write("events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map { i =>
        ts += r.nextInt((2 * 30 * day / nEvents).toInt)
        Row(i.toLong, new Timestamp(ts), r.nextInt(n(15000)).toLong,
          types(r.nextInt(types.length)), r.nextInt(100000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      })

    val langs = Array("en", "en", "zh", "es", "de", "fr")
    val texts = ArrayBuffer.empty[String]
    write("documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until n(50000)).map { i =>
        val text =
          if (i > 20 && r.nextDouble() < 0.05)
            texts(r.nextInt(texts.size)) + " dup"
          else Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length)))
            .mkString(" ")
        texts += text
        Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}",
          text.length.toLong)
      })

    val centers = Array.fill(10)(Array.fill(64)(r.nextGaussian()))
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until n(20000)).map { i =>
        val label = r.nextInt(centers.length)
        val v = centers(label).map(_ + 1.2 * r.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      })

    write("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until n(10000)).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        r.nextInt(1000000) / 100.0)))

    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val orderDays = Array.fill(nOrders)(t2024 - (3650 - r.nextInt(2400)) * day)
    write("orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(n(150000)).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), r.nextInt(50000000) / 100.0,
        new Timestamp(orderDays(i)), prio(r.nextInt(prio.length)))))

    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until nOrders).flatMap { o =>
        (1 to 1 + r.nextInt(7)).map { ln =>
          val q = (1 + r.nextInt(50)).toDouble
          Row(o.toLong, r.nextInt(n(200000)).toLong, r.nextInt(n(10000)).toLong,
            ln, q, q * (900 + r.nextInt(1100)), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
            Seq("F", "O")(r.nextInt(2)),
            new Timestamp(orderDays(o) + (r.nextInt(120) - 100) * day))
        }
      })
    done.createNewFile()
  }
}
