package graft.queries

import graft.Tables
import graft.functions.{AvroWire, MapSchemaProvider}
import graft.operators.{InjectorOps, KafkaShape}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** D2/D3 on real data: events serialized into Confluent wire format (the
  * test-producer dual, SURVEY.md §3.3) and decoded back with the
  * registry-dispatched expression. Two writer schemas with *different
  * field orders* share one reader schema, so a correct result proves the
  * per-message schema-id dispatch actually happened — a single-schema
  * decode would garble every id=1 row.
  */
object AvroQueries {
  type Q = (SparkSession, String) => DataFrame

  private val writer0 =
    """{"type":"record","name":"Ev","fields":[
       {"name":"event_type","type":"string"},
       {"name":"value","type":"double"}]}""".replaceAll("\n\\s*", "")
  private val writer1 = // reversed field order -> different binary layout
    """{"type":"record","name":"Ev","fields":[
       {"name":"value","type":"double"},
       {"name":"event_type","type":"string"}]}""".replaceAll("\n\\s*", "")
  private val reader = writer0
  private val writers = Map(0 -> writer0, 1 -> writer1)

  private val encodeUdf = udf { (id: Int, et: String, v: Double) =>
    AvroWire.encodeConfluent(id, writers(id),
      Map("event_type" -> et, "value" -> v))
  }

  /** events framed as Confluent-Avro Kafka messages, id = event_id % 2.
    * Memoized per (session, dir): the wire framing is test-fixture input
    * (the producer dual), not the operator under test, and both d2 and d3
    * consume the identical frame.
    */
  private val wireCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  private def wire(s: SparkSession, dir: String): DataFrame =
    wireCache.getOrElseUpdate((s, dir),
      Tables.events(s, dir).select(col("event_id"),
        encodeUdf((col("event_id") % 2).cast("int"), col("event_type"),
          col("value")).as("value"))
        .localCheckpoint(false))

  // ------------------------------------------- rich type-surface fixture

  /** Writer schema exercising the full goavro-equivalent type surface the
    * reference carries (encode_decode.go:42-81): string-keyed map, decimal/
    * date/timestamp logical types, enum, multi-branch union, nested
    * records-in-array, fixed.
    */
  private[graft] val richSchema =
    """{"type":"record","name":"Rich","fields":[
       {"name":"event_type","type":"string"},
       {"name":"tags","type":{"type":"map","values":"long"}},
       {"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":18,"scale":2}},
       {"name":"day","type":{"type":"int","logicalType":"date"}},
       {"name":"ts_ms","type":{"type":"long","logicalType":"timestamp-millis"}},
       {"name":"ts_us","type":{"type":"long","logicalType":"timestamp-micros"}},
       {"name":"flag","type":{"type":"enum","name":"Flag","symbols":["A","B","C"]}},
       {"name":"alt","type":["null","long","string"]},
       {"name":"items","type":{"type":"array","items":
         {"type":"record","name":"Item","fields":[
           {"name":"k","type":"string"},{"name":"v","type":"long"}]}}},
       {"name":"fid","type":{"type":"fixed","name":"Fid","size":4}}
      ]}""".replaceAll("\n\\s*", "")
  private val richId = 7

  /** Deterministic rich-payload producer (the fixture dual): every field
    * derived from (event_id, user_id, event_type, ts) so the DuckDB oracle
    * can recompute it from the base table.
    */
  private[graft] def richEncode(eventId: Long, userId: Long,
      eventType: String, tsUs: Long): Array[Byte] = {
    val schema = AvroWire.schemaOf(richSchema)
    val tags = new java.util.HashMap[String, java.lang.Long]()
    tags.put("uid", userId)
    tags.put("mod", eventId % 7)
    val unscaled = eventId * 100 + userId % 100 // decimal(18,2) = eid.(uid%100)
    val itemSchema = schema.getField("items").schema.getElementType
    val item0 = new org.apache.avro.generic.GenericData.Record(itemSchema)
    item0.put("k", "a"); item0.put("v", java.lang.Long.valueOf(eventId))
    val item1 = new org.apache.avro.generic.GenericData.Record(itemSchema)
    item1.put("k", "b"); item1.put("v", java.lang.Long.valueOf(userId))
    AvroWire.encodeConfluent(richId, richSchema, Map(
      "event_type" -> eventType,
      "tags" -> tags,
      "amount" -> java.nio.ByteBuffer.wrap(
        java.math.BigInteger.valueOf(unscaled).toByteArray),
      "day" -> java.lang.Integer.valueOf((tsUs / 86400000000L).toInt),
      "ts_ms" -> java.lang.Long.valueOf(tsUs / 1000),
      "ts_us" -> java.lang.Long.valueOf(tsUs),
      "flag" -> new org.apache.avro.generic.GenericData.EnumSymbol(
        schema.getField("flag").schema, Seq("A", "B", "C")((eventId % 3).toInt)),
      "alt" -> (if (eventId % 10 == 0) null
                else if (eventId % 2 == 0) java.lang.Long.valueOf(userId)
                else eventType),
      "items" -> java.util.List.of(item0, item1),
      "fid" -> new org.apache.avro.generic.GenericData.Fixed(
        schema.getField("fid").schema,
        java.nio.ByteBuffer.allocate(4).putInt(eventId.toInt).array())))
  }

  private val richEncodeUdf = udf(richEncode _)

  // --------------------------------------------- T2 full: Avro-framed keys

  /** Key schema for the registry-dispatched key decode (the reference
    * Avro-decodes the message key with its own registry lookup,
    * encode_decode.go:66-72).
    */
  private[graft] val keySchema =
    """{"type":"record","name":"EvKey",
       "fields":[{"name":"user_id","type":"long"}]}""".replaceAll("\n\\s*", "")
  private val keyId = 3

  private val keyEncodeUdf = udf { (uid: Long) =>
    AvroWire.encodeConfluent(keyId, keySchema, Map("user_id" -> uid))
  }

  private def richWire(s: SparkSession, dir: String): DataFrame =
    wireCache.getOrElseUpdate((s, dir + "#rich"),
      Tables.events(s, dir).select(col("event_id"),
        richEncodeUdf(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts"))).as("value"))
        .localCheckpoint(false))

  val all: Map[String, Q] = Map(
    // D2: big-endian schema-id extraction from the wire header.
    "d2_schema_id" -> ((s, dir) =>
      wire(s, dir).select(col("event_id"),
        AvroWire.schemaId(col("value")).as("schema_id"),
        AvroWire.magicOk(col("value")).as("magic_ok"))),

    // D3: registry-dispatched multi-schema decode (codec cache per id),
    // through the ONE barrier-wrapped decode-then-drop implementation
    // (InjectorOps.decoderFor) so the single-evaluation guarantee has a
    // single home.
    "d3_avro_decode" -> ((s, dir) =>
      InjectorOps.decoderFor("avro", KafkaShape.eventPayloadSchema,
        reader, MapSchemaProvider(writers))(wire(s, dir))
        .select(col("event_id"), col("payload.event_type").as("event_type"),
          col("payload.value").as("value"))),

    // D3 rich: full Avro type surface through the provider seam — map,
    // decimal/date/timestamp logical types, enum, 3-branch union, nested
    // records-in-array, fixed. Every output re-derivable by the oracle.
    "d3_avro_rich" -> ((s, dir) =>
      InjectorOps.decoderFor("avro", KafkaShape.eventPayloadSchema,
        richSchema, MapSchemaProvider(Map(richId -> richSchema)))(
        richWire(s, dir))
        .withColumnRenamed("payload", "p")
        .select(
          col("event_id"),
          col("p.event_type").as("event_type"),
          element_at(col("p.tags"), "uid").as("tag_uid"),
          element_at(col("p.tags"), "mod").as("tag_mod"),
          col("p.amount").cast("string").as("amount"),
          col("p.day").cast("string").as("day"),
          unix_millis(col("p.ts_ms")).as("ts_ms"),
          unix_micros(col("p.ts_us")).as("ts_us"),
          col("p.flag").as("flag"),
          col("p.alt.member0").as("alt_num"),
          col("p.alt.member1").as("alt_str"),
          element_at(col("p.items"), 1).getField("v").as("item0_v"),
          element_at(col("p.items"), 2).getField("k").as("item1_k"),
          lower(hex(col("p.fid"))).as("fid_hex"))),

    // ES nested + reverse_nested aggs over the decoded rich-Avro items
    // array (nested docs are exactly what the injector ships when the
    // payload carries record arrays): explode the nested records, terms
    // on the item key with an item-level count/sum, and the
    // reverse_nested distinct-parent count alongside. One explode + one
    // map-side-combined groupBy over |keys| buckets; sums stay exact
    // BIGINT (item values are longs).
    "es_nested_items" -> ((s, dir) =>
      InjectorOps.decoderFor("avro", KafkaShape.eventPayloadSchema,
        richSchema, MapSchemaProvider(Map(richId -> richSchema)))(
        richWire(s, dir))
        .select(col("event_id"),
          explode(col("payload.items")).as("item"))
        .select(col("event_id"), col("item.k").as("k"),
          col("item.v").as("v"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_items"), sum(col("v")).as("sum_v"),
          countDistinct(col("event_id")).as("n_docs"))),

    // T2 full semantics: the message KEY itself is Confluent-Avro-framed
    // and decoded through the registry seam (encode_decode.go:66-72).
    // Three key shapes are exercised: nil key (row kept, key field null),
    // valid Avro key (decoded struct merged into the payload), and a
    // non-Avro key (decode fails -> whole record dropped, D6 policy).
    "t2_key_avro" -> ((s, dir) => {
      val framed = KafkaShape.fromEvents(Tables.events(s, dir))
        .withColumn("key",
          when(col("offset") % 89 === 0, lit(null).cast("binary"))
            .when(col("offset") % 103 === 0, encode(lit("xx"), "UTF-8"))
            .otherwise(keyEncodeUdf(decode(col("key"), "UTF-8").cast("long"))))
      val decoded = InjectorOps.jsonDecode(KafkaShape.eventPayloadSchema)(
        InjectorOps.nilMessageFilter()(framed))
      InjectorOps.includeDecodedKey(
        InjectorOps.avroKeyDecoder(keySchema,
          MapSchemaProvider(Map(keyId -> keySchema))))(decoded)
        .select(col("offset").as("event_id"),
          col("payload.key.user_id").as("key_user_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "d2_schema_id" ->
      "SELECT event_id, (event_id % 2)::INTEGER AS schema_id, true AS magic_ok FROM events",
    "d3_avro_decode" ->
      "SELECT event_id, event_type, value FROM events",
    "d3_avro_rich" ->
      """SELECT event_id,
           event_type,
           user_id AS tag_uid,
           event_id % 7 AS tag_mod,
           printf('%d.%02d', event_id, user_id % 100) AS amount,
           strftime(ts, '%Y-%m-%d') AS day,
           epoch_ms(ts) AS ts_ms,
           epoch_us(ts) AS ts_us,
           CASE event_id % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'B' ELSE 'C' END AS flag,
           CASE WHEN event_id % 10 <> 0 AND event_id % 2 = 0 THEN user_id END AS alt_num,
           CASE WHEN event_id % 10 <> 0 AND event_id % 2 = 1 THEN event_type END AS alt_str,
           event_id AS item0_v,
           'b' AS item1_k,
           printf('%08x', event_id) AS fid_hex
         FROM events""",
    "t2_key_avro" ->
      """SELECT event_id,
           CASE WHEN event_id % 89 <> 0 THEN user_id END AS key_user_id
         FROM events
         WHERE event_id % 89 = 0 OR event_id % 103 <> 0""",
    // the fixture writes items = [(a, event_id), (b, user_id)] per event
    "es_nested_items" ->
      """WITH it AS (
           SELECT event_id, 'a' AS k, event_id AS v FROM events
           UNION ALL
           SELECT event_id, 'b' AS k, user_id AS v FROM events)
         SELECT k, count(*) AS n_items,
                CAST(sum(v) AS BIGINT) AS sum_v,
                count(DISTINCT event_id) AS n_docs
         FROM it GROUP BY 1"""
  )
}
