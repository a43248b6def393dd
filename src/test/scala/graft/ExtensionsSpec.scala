package graft

import graft.operators.InjectorOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL-function registration (GraftExtensions) and D1 decoder dispatch. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions callable from SQL after registration") {
    GraftExtensions.register(spark)
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT vec_dot(a, b) d FROM vecs")
      .as[Double].head() == 11.0)
    assert(spark.sql(
      "SELECT shingle_set(split('a b c', ' '), 2) s").as[Seq[String]]
      .head() == Seq("a b", "b c"))
    assert(spark.sql("SELECT simhash60(split('x y', ' ')) h")
      .as[Long].head() >= 0L)
    assert(spark.sql(
      "SELECT minhash_sig(h15_array(split('a b', ' ')), 4) m")
      .as[Seq[Long]].head().size == 4)
    assert(spark.sql(
      "SELECT intersect_count_sorted(sorted_longs(array(3L, 1L, 2L)), " +
        "sorted_longs(array(2L, 3L, 9L))) c").as[Int].head() == 2)
  }

  test("intersect_count_sorted falls back to hash intersect on unsorted/null input") {
    GraftExtensions.register(spark)
    // unsorted inputs (no sorted_longs) — must still return the true
    // distinct-intersection count instead of a silent wrong answer
    assert(spark.sql(
      "SELECT intersect_count_sorted(array(9L, 1L, 5L), array(5L, 9L, 2L)) c")
      .as[Int].head() == 2)
    // inversion hiding in the tail the merge would never scan
    assert(spark.sql(
      "SELECT intersect_count_sorted(array(1L, 2L), array(7L, 8L, 2L)) c")
      .as[Int].head() == 1)
    // null elements: no undefined getLong; null ∈ both sides counts once
    // (array_intersect semantics)
    assert(spark.sql(
      "SELECT intersect_count_sorted(array(1L, NULL), array(NULL, 1L, 2L)) c")
      .as[Int].head() == 2)
    // duplicates still count once on the fallback path
    assert(spark.sql(
      "SELECT intersect_count_sorted(array(5L, 5L, 3L), array(3L, 5L, 5L)) c")
      .as[Int].head() == 2)
  }

  test("D1: decoderFor dispatches json vs avro and rejects unknown") {
    val jsonSchema = StructType(Seq(StructField("id", StringType)))
    val df = Seq((0, 1L)).toDF("partition", "offset")
      .withColumn("value", encode(lit("""{"id":"x"}"""), "UTF-8"))
    val viaJson = InjectorOps.decoderFor("json", jsonSchema)(df)
    assert(viaJson.select($"payload.id").as[String].head() == "x")

    val fix = """{"type":"record","name":"R","fields":[{"name":"id","type":"string"}]}"""
    val avroDf = Seq((0, 1L)).toDF("partition", "offset")
      .withColumn("value", lit(
        graft.functions.AvroWire.encodeConfluent(1, fix, Map("id" -> "y"))))
    val viaAvro = InjectorOps.decoderFor("avro", jsonSchema, fix,
      graft.functions.MapSchemaProvider(Map(1 -> fix)))(avroDf)
    assert(viaAvro.select($"payload.id").as[String].head() == "y")

    val e = intercept[IllegalArgumentException] {
      InjectorOps.decoderFor("protobuf", jsonSchema)
    }
    assert(e.getMessage.contains("Invalid parser type"))
  }

  test("bench standing baskets name only registered queries") {
    // a typo'd basket entry would silently drop out of the standing sum
    // and read as a fake round-over-round speedup
    val registered = SparkEntry.queries.keySet
    for ((basket, name) <- Seq(Bench.standingSet -> "r5",
        Bench.standingSetR7 -> "r7", Bench.standingSetR8 -> "r8")) {
      val ghosts = basket -- registered
      assert(ghosts.isEmpty, s"$name basket names unknown queries: $ghosts")
    }
    assert(Bench.standingSetR8.size == 163)
  }
}
