package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `q21_sole_late_supplier` decides "more than one supplier, exactly one
  * of them late" with min/max per order. This pins it row- and
  * schema-equal to the textbook count(DISTINCT) form, case by case, on
  * the edges where the identity could slip: duplicates, nulls, filtered
  * orders, dangling keys and empty input.
  */
class Q21Spec extends SparkSpec {

  /** The count(DISTINCT) form the query had before the rewrite. */
  private def countDistinctForm(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late_supp",
        when(col("l_shipdate") > col("o_orderdate"), col("l_suppkey")))
      .groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("late_supp")).as("n_late"),
        min(col("late_supp")).as("the_late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("the_late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.load(s, dir, "supplier")),
        col("the_late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))

  private def assertSameAnswer(dir: String, what: String): Seq[Row] = {
    val got = SparkEntry.queries("q21_sole_late_supplier")(spark, dir)
    val want = countDistinctForm(spark, dir)
    assert(got.schema == want.schema, what)
    val rows = got.collect().toSeq
    assert(rows.map(_.toString).sorted ==
      want.collect().map(_.toString).sorted.toSeq, what)
    rows
  }

  private def day(n: Int): Timestamp =
    new Timestamp(1704067200000L + n * 86400000L)
  private val ordered = day(10)
  private val late = day(20)
  private val onTime = day(5)

  /** (orderkey, suppkey, shipdate) */
  private type Line = (Long, java.lang.Long, Timestamp)
  /** (orderkey, status, orderdate) */
  private type Order = (Long, String, Timestamp)

  private def supp(k: Long): java.lang.Long = Long.box(k)
  private val noSupp: java.lang.Long = null

  private val lineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_shipdate", TimestampType)))
  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_orderdate", TimestampType)))
  private val suppSchema = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType)))

  private val suppliers: Seq[Long] = 0L to 9L

  /** Writes one case's tables (lineitem spread over three files) and
    * returns their dir.
    */
  private def tables(lines: Seq[Line], orders: Seq[Order],
      supps: Seq[Long] = suppliers): String = {
    val d = Files.createTempDirectory("graft-q21").toString
    def write(name: String, schema: StructType, rows: Seq[Row], parts: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
        .write.parquet(s"$d/$name.parquet")
    write("lineitem", lineSchema,
      lines.map { case (o, s, t) => Row(o, s, t) }, 3)
    write("orders", orderSchema,
      orders.map { case (o, st, t) => Row(o, st, t) }, 1)
    write("supplier", suppSchema, supps.map(k => Row(k, s"Supplier#$k")), 1)
    d
  }

  private def f(o: Long): Order = (o, "F", ordered)

  /** name -> (lines, orders, expected (suppkey, numwait)) */
  private val cases: Seq[(String, Seq[Line], Seq[Order], Set[(Long, Long)])] = Seq(
    ("single-line orders",
      Seq((1L, supp(1), late), (2L, supp(2), onTime)),
      Seq(f(1), f(2)), Set()),
    ("duplicate supplier lines",
      Seq((1L, supp(1), late), (1L, supp(1), onTime), (1L, supp(2), onTime),
        (2L, supp(3), late), (2L, supp(3), late)),
      Seq(f(1), f(2)), Set(1L -> 1L)),
    ("one supplier late on two lines",
      Seq((1L, supp(1), late), (1L, supp(1), late), (1L, supp(2), onTime),
        (2L, supp(1), late), (2L, supp(4), onTime)),
      Seq(f(1), f(2)), Set(1L -> 2L)),
    ("two late suppliers",
      Seq((1L, supp(1), late), (1L, supp(2), late), (1L, supp(3), onTime)),
      Seq(f(1)), Set()),
    ("no late line",
      Seq((1L, supp(1), onTime), (1L, supp(2), onTime)),
      Seq(f(1)), Set()),
    ("null l_suppkey",
      Seq((1L, noSupp, late), (1L, supp(1), late), (1L, supp(2), onTime),
        (2L, noSupp, onTime), (2L, supp(1), late),
        (3L, noSupp, late), (3L, supp(1), onTime), (3L, supp(2), onTime),
        (4L, noSupp, late), (4L, noSupp, onTime)),
      Seq(f(1), f(2), f(3), f(4)), Set(1L -> 1L)),
    ("null l_shipdate or o_orderdate",
      Seq((1L, supp(1), late), (1L, supp(2), onTime),
        (2L, supp(1), null), (2L, supp(2), late),
        (3L, supp(3), null), (3L, supp(4), onTime)),
      Seq((1L, "F", null), f(2), f(3)), Set(2L -> 1L)),
    ("non-F orders",
      Seq((1L, supp(1), late), (1L, supp(2), onTime),
        (2L, supp(1), late), (2L, supp(2), onTime),
        (3L, supp(1), late), (3L, supp(2), onTime)),
      Seq((1L, "O", ordered), (2L, "P", ordered), f(3)), Set(1L -> 1L)),
    ("a late supplier missing from supplier",
      Seq((1L, supp(99), late), (1L, supp(1), onTime),
        (2L, supp(5), late), (2L, supp(1), onTime),
        (3L, supp(1), late), (3L, supp(2), onTime)),
      Seq(f(1), f(2), f(3)), Set(5L -> 1L, 1L -> 1L)),
    ("empty input", Seq(), Seq(), Set()))

  for ((name, lines, orders, expected) <- cases)
    test(s"q21 min/max form = count(DISTINCT) form: $name") {
      val rows = assertSameAnswer(tables(lines, orders), name)
      assert(rows.map(r => r.getLong(0) -> r.getLong(2)).toSet == expected)
    }

  test("q21 min/max form = count(DISTINCT) form: every case at once") {
    // order keys offset per case, so the cases share partitions
    val all = cases.zipWithIndex.map { case ((_, ls, os, _), i) =>
      (ls.map(l => l.copy(_1 = l._1 + 100L * i)),
        os.map(o => o.copy(_1 = o._1 + 100L * i)))
    }
    assertSameAnswer(tables(all.flatMap(_._1), all.flatMap(_._2)), "all")
  }

  test("q21 min/max form = count(DISTINCT) form: testdata sf0.001") {
    assertSameAnswer("/root/testdata/sf0.001", "sf0.001")
  }
}
