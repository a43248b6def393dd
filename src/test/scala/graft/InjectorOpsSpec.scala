package graft

import graft.operators.InjectorOps._
import graft.streaming.InjectorApp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference's own unit tests (SURVEY.md §5 tier 1):
  * record_test.go, encode_decode_test.go, codec_test.go — same cases, same
  * expected errors, re-expressed over the Kafka-shaped DataFrame.
  */
class InjectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("n", IntegerType),
    StructField("d", DoubleType)))

  /** One Kafka-shaped message frame with a JSON value. */
  private def kafkaDf(values: Seq[(Int, Long, String)]): DataFrame =
    values.toDF("partition", "offset", "json")
      .withColumn("topic", lit("my-topic"))
      .withColumn("timestamp",
        to_timestamp(lit("2024-03-05 10:11:12.345")))
      .withColumn("key", lit(null).cast("binary"))
      .withColumn("value", encode(col("json"), "UTF-8"))
      .drop("json")

  private val one = kafkaDf(Seq((3, 42L, """{"id":"abc","n":7,"d":1.5}""")))
  private def decoded: DataFrame = jsonDecode(payloadSchema)(one)

  // ----- encode_decode_test.go: JSON decode round-trip / malformed / nil

  test("D4: JSON decode round-trips payload fields") {
    val r = decoded.select($"payload.id", $"payload.n", $"payload.d")
      .as[(String, Int, Double)].head()
    assert(r == (("abc", 7, 1.5)))
  }

  test("D6: malformed JSON is dropped, not an error") {
    val bad = kafkaDf(Seq((0, 1L, """{"alo": 60""""), (0, 2L, """{"id":"x"}""")))
    val out = jsonDecode(payloadSchema)(bad).select($"offset").as[Long].collect()
    assert(out.toSeq == Seq(2L))
  }

  test("D5: nil (tombstone) value is skipped, not an error") {
    val withNil = one.unionAll(
      one.withColumn("value", lit(null).cast("binary"))
        .withColumn("offset", lit(43L)))
    val out = jsonDecode(payloadSchema)(nilMessageFilter()(withNil))
      .select($"offset").as[Long].collect()
    assert(out.toSeq == Seq(42L))
  }

  // ----- encode_decode_test.go: timestamp + key injection

  test("T1: @timestamp is message time in epoch millis") {
    val ms = injectTimestamp(decoded)
      .select($"payload.`@timestamp`").as[Long].head()
    assert(ms == 1709633472345L)
  }

  test("T1: @timestamp overwrites an existing payload field") {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("@timestamp", LongType)))
    val df = jsonDecode(schema)(
      kafkaDf(Seq((0, 1L, """{"id":"x","@timestamp":999}"""))))
    val ms = injectTimestamp(df).select($"payload.`@timestamp`").as[Long].head()
    assert(ms == 1709633472345L)
  }

  test("T2 full: JSON key decode — nil kept, valid merged, corrupt dropped") {
    val keySchema = StructType(Seq(StructField("uid", LongType)))
    val three = kafkaDf(Seq(
      (0, 1L, """{"id":"a","n":1,"d":0.1}"""),
      (0, 2L, """{"id":"b","n":2,"d":0.2}"""),
      (0, 3L, """{"id":"c","n":3,"d":0.3}""")))
      .withColumn("key",
        when($"offset" === 1L, encode(lit("""{"uid":7}"""), "UTF-8"))
          .when($"offset" === 2L, lit(null).cast("binary"))
          .otherwise(encode(lit("{bad"), "UTF-8")))
    val cfg = InjectorConfig()
    // no key decoder: the key is left out of the payload, every row kept
    val noKey = pipeline(cfg, payloadSchema)(three)
    assert(!noKey.schema("payload").dataType.asInstanceOf[StructType]
      .fieldNames.contains("key"))
    assert(noKey.count() == 3L)
    // with one: the decoded key is merged, the same through the transform
    // alone and through the whole pipeline
    val viaTransform = includeDecodedKey(jsonKeyDecoder(keySchema))(
      jsonDecode(payloadSchema)(three)).select($"offset", $"payload.key.uid")
    val viaPipeline = pipeline(cfg, payloadSchema,
      keyDecoder = Some(jsonKeyDecoder(keySchema)))(three)
      .select(substring_index($"doc_id", ":", -1).cast("long"),
        $"payload.key.uid")
    for (out <- Seq(viaTransform, viaPipeline))
      // offset 3's undecodable key drops the whole record (reference
      // errors the batch there; our D6 poison policy drops the row)
      assert(out.as[(Long, Option[Long])].collect().toSet ==
        Set((1L, Some(7L)), (2L, None)))
  }

  // ----- record_test.go: GetValueForField / FilteredFieldsJSON

  test("R1: routing on a string field passes through") {
    val v = decoded.select(routingValue(decoded, "id")).as[String].head()
    assert(v == "abc")
  }

  test("R1: routing on an int field casts to string") {
    val v = decoded.select(routingValue(decoded, "n")).as[String].head()
    assert(v == "7")
  }

  test("R1: routing on a missing field fails the plan") {
    val e = intercept[IllegalArgumentException] {
      routingValue(decoded, "nope")
    }
    assert(e.getMessage.contains("does not contain field nope"))
  }

  test("R1: routing on a double field fails (string/int32 only)") {
    val e = intercept[IllegalArgumentException] {
      routingValue(decoded, "d")
    }
    assert(e.getMessage.contains("not parseable to string"))
  }

  test("T3: blacklist drops existing fields and ignores order") {
    val out = blacklist(Seq("d"))(decoded)
    val names = out.schema("payload").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq
    assert(names == Seq("id", "n"))
  }

  test("T3: empty blacklist is a no-op") {
    assert(blacklist(Nil)(decoded).schema == decoded.schema)
  }

  // ----- codec_test.go: index naming, doc id, assembly

  private val cfg = InjectorConfig()

  test("R2/R3: default index is topic + day suffix") {
    val idx = indexName(cfg)(decoded).select($"es_index").as[String].head()
    assert(idx == "my-topic-2024-03-05")
    // each record routes by its OWN topic (codec.go:50-75), also under a
    // multi-topic subscription; a configured index overrides every topic
    val two = decoded.unionByName(decoded.withColumn("topic", lit("views")))
    val multi = InjectorApp.fromEnv(Map("KAFKA_TOPICS" -> "clicks,views"))
    assert(indexName(multi.injector)(two).select($"es_index").as[String]
      .collect().toSet == Set("my-topic-2024-03-05", "views-2024-03-05"))
    assert(indexName(cfg.copy(esIndex = Some("custom")))(two)
      .select($"es_index").as[String].collect().toSet ==
      Set("custom-2024-03-05"))
  }

  test("R3: hour suffix variant") {
    val idx = indexName(cfg.copy(timeSuffix = HourSuffix))(decoded)
      .select($"es_index").as[String].head()
    assert(idx == "my-topic-2024-03-05-10")
  }

  test("R3: index prefix and esIndex override") {
    val idx = indexName(cfg.copy(indexPrefix = "pre-",
      esIndex = Some("custom")))(decoded)
      .select($"es_index").as[String].head()
    assert(idx == "pre-custom-2024-03-05")
  }

  test("R3: index column override beats the time bucket") {
    val idx = indexName(cfg.copy(indexColumn = Some("id")))(decoded)
      .select($"es_index").as[String].head()
    assert(idx == "my-topic-abc")
  }

  test("R3: index column on a nonexistent field errors") {
    intercept[IllegalArgumentException] {
      indexName(cfg.copy(indexColumn = Some("ghost")))(decoded)
    }
  }

  test("R4: default doc id is partition:offset") {
    val id = docId(cfg)(decoded).select($"doc_id").as[String].head()
    assert(id == "3:42")
  }

  test("R4: doc id column override") {
    val id = docId(cfg.copy(docIdColumn = Some("id")))(decoded)
      .select($"doc_id").as[String].head()
    assert(id == "abc")
  }

  test("R5: assembly emits {index, _doc, id, payload}") {
    val row = assemble(docId(cfg)(indexName(cfg)(decoded)))
    assert(row.columns.toSeq ==
      Seq("es_index", "es_type", "doc_id", "payload"))
    assert(row.select($"es_type").as[String].head() == "_doc")
  }

  // ----- elasticsearch_test.go: dedup contract

  test("K2: re-ingesting a batch is a no-op (at-least-once + create)") {
    val df = docId(cfg)(decoded)
    val once = dedupByDocId()(df)
    val twice = dedupByDocId()(df.unionAll(df))
    assert(once.count() == twice.count())
    assert(twice.count() == df.count())
  }

  test("K2: duplicate ids within a batch keep exactly one row") {
    val dup = kafkaDf(Seq(
      (1, 10L, """{"id":"same","n":1,"d":0.0}"""),
      (1, 11L, """{"id":"same","n":2,"d":0.0}""")))
    val out = dedupByDocId()(
      docId(cfg.copy(docIdColumn = Some("id")))(
        jsonDecode(payloadSchema)(dup)))
    assert(out.count() == 1)
    // deterministic winner: lowest (partition, offset)
    assert(out.select($"offset").as[Long].head() == 10L)
  }
}
