package graft.operators

import graft.functions.{MapSchemaProvider, SchemaProvider}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, CompiledJsonToStructs}
import org.apache.spark.sql.types._

/** Faithful re-expression of the reference injector's record-level dataflow
  * as pure `DataFrame => DataFrame` transforms over a Kafka-shaped frame
  * (`topic, partition, offset, timestamp, key, value` envelope + a `payload`
  * struct column once decoded).
  *
  * Reference semantics preserved (file:line cites are into the reference
  * repo `inloco/kafka-elasticsearch-injector`):
  *  - D5 nil-message (tombstone) skip: src/kafka/encode_decode.go:43-45
  *  - D4 JSON decode, malformed dropped (D6): src/kafka/encode_decode.go:87-113,
  *    src/kafka/consumer.go:148-159
  *  - T1 `@timestamp` = message time in epoch millis, overwrites any payload
  *    field of the same name: src/kafka/encode_decode.go:26,64,83-85,96
  *  - T2 optional decoded `key` inclusion (nil key skipped):
  *    encode_decode.go:27,66-72,99-105
  *  - T3 top-level column blacklist: src/models/record.go:44-56
  *  - R1 routing value: string/int32 only, anything else errors:
  *    src/models/record.go:30-42
  *  - R2 day/hour time bucket: src/models/record.go:18-24
  *  - R3 index = prefix + (esIndex|topic) + "-" + suffix; a configured index
  *    column overrides the time bucket: src/elasticsearch/codec.go:50-75
  *  - R4 doc id = "partition:offset" (replay-stable idempotency key) or a
  *    configured column: src/models/record.go:26-28, codec.go:77-90
  *  - R5 ES record assembly {index, "_doc", id, payload}: codec.go:26-48
  *  - K2 duplicate-create drop (at-least-once + `create` op = effective
  *    dedup): src/elasticsearch/elasticsearch.go:96-124
  *
  * The same functions compose into batch plans (parquet, for the DuckDB
  * oracle) and Structured Streaming plans — none of them uses anything
  * batch-only. All compile into whole-stage codegen: built-in Catalyst
  * expressions, plus [[CompiledJsonToStructs]] for the JSON decode, whose
  * stock `from_json` would fall back to interpretation; nothing here needs
  * a custom rule.
  */
object InjectorOps {

  sealed trait TimeSuffix { def pattern: String }
  case object DaySuffix extends TimeSuffix { val pattern = "yyyy-MM-dd" }
  case object HourSuffix extends TimeSuffix { val pattern = "yyyy-MM-dd-HH" }

  /** Mirrors the reference's env-var configuration surface (SURVEY.md §2.2):
    * one configured deployment == one "query".
    */
  final case class InjectorConfig(
      esIndex: Option[String] = None,
      indexPrefix: String = "",
      indexColumn: Option[String] = None,
      docIdColumn: Option[String] = None,
      timeSuffix: TimeSuffix = DaySuffix,
      blacklist: Seq[String] = Nil,
      // KAFKA_CONSUMER_INCLUDE_KEY: read by the deployment to decide whether
      // to build a key decoder; `pipeline` takes the decoder itself
      includeKey: Boolean = false)

  // ---------------------------------------------------------------- decode

  /** D5: tombstones (nil value) are skipped, never errors. */
  def nilMessageFilter(valueCol: String = "value")(df: DataFrame): DataFrame =
    df.filter(col(valueCol).isNotNull)

  /** D4 + D6: decode a JSON string value into a typed `payload` struct;
    * malformed records are dropped, so one poison message can never wedge
    * the pipeline (unlike the reference's batch re-call loop, SURVEY.md
    * §7.5.5). PERMISSIVE `from_json` yields an all-null struct (not a null
    * struct) for malformed input, so detection goes through an explicit
    * corrupt-record column — mirroring the reference's json.Unmarshal
    * error branch exactly (partial/valid JSON with missing fields is kept,
    * syntactically broken JSON is dropped).
    */
  def jsonDecode(schema: StructType, valueCol: String = "value")(df: DataFrame): DataFrame = {
    // PlanBarrier.opaque: without it the corrupt filter's alias gets
    // inlined below the projection and the from_json parse runs TWICE per
    // row (Filter + Project) — the dominant cost of the decode stage
    df.withColumn("payload",
        graft.functions.PlanBarrier.opaque(
          permissiveJson(col(valueCol), schema)))
      .filter(col("payload").isNotNull &&
        col("payload._corrupt_record").isNull)
      .withColumn("payload", col("payload").dropFields("_corrupt_record"))
  }

  /** PERMISSIVE `from_json` of `bytes` (cast to string) into `schema` plus
    * a `_corrupt_record` field, which is set for broken JSON. Compiled:
    * unlike the stock expression, it keeps the decoding projection inside
    * whole-stage codegen, so the whole pipeline is one generated stage.
    */
  private def permissiveJson(bytes: Column, schema: StructType): Column =
    ColumnBridge.column(CompiledJsonToStructs(
      StructType(schema.fields :+ StructField("_corrupt_record", StringType)),
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record"),
      ColumnBridge.expression(bytes.cast("string"))))

  // ------------------------------------------------------------ transforms

  /** T1: inject `@timestamp` (epoch ms of the message timestamp) into the
    * payload, overwriting an existing field of that name.
    */
  def injectTimestamp(df: DataFrame): DataFrame =
    df.withColumn("payload", // backticks: withField parses multipart names
      col("payload").withField("`@timestamp`", unix_millis(col("timestamp"))))

  /** T2: decode the message key and merge the result into the payload as
    * field `key`. The reference decodes the key with its own registry
    * lookup (Avro: encode_decode.go:66-72; JSON: encode_decode.go:99-105),
    * so the key is a nested record, not a string. Reference semantics
    * preserved exactly:
    *  - nil key → record kept, `key` field omitted (null here — Catalyst
    *    structs are fixed-schema; the `to_json` dual with
    *    ignoreNullFields, Spark's default, emits identical bytes);
    *  - non-nil key that fails decode → the whole record errors; under our
    *    D6 poison-drop policy that means the record is DROPPED.
    * The PlanBarrier stops the decode expression being re-evaluated by the
    * drop filter (one decode per row, same as the value path).
    */
  def includeDecodedKey(decode: Column => Column)(df: DataFrame): DataFrame =
    df.withColumn("__key_dec",
        graft.functions.PlanBarrier.opaque(decode(col("key"))))
      .filter(col("key").isNull || col("__key_dec").isNotNull)
      .withColumn("payload", col("payload").withField("key", col("__key_dec")))
      .drop("__key_dec")

  /** Registry-dispatched Avro key decoder (encode_decode.go:66-72): the
    * key is Confluent-wire-framed like the value, resolved through the
    * same [[graft.functions.SchemaProvider]] seam.
    */
  def avroKeyDecoder(readerSchemaJson: String,
      provider: SchemaProvider): Column => Column =
    key => graft.functions.AvroWire.fromConfluentAvro(
      key, readerSchemaJson, provider)

  /** JSON key decoder (encode_decode.go:99-105): unmarshal the key bytes
    * into a typed struct; syntactically broken JSON yields null (which
    * [[includeDecodedKey]] turns into a record drop).
    */
  def jsonKeyDecoder(schema: StructType): Column => Column = { key =>
    val parsed = permissiveJson(key, schema)
    when(parsed.isNotNull && parsed.getField("_corrupt_record").isNull,
      parsed.dropFields("_corrupt_record"))
  }

  /** T3: drop blacklisted top-level payload fields (anti-projection).
    * Nested fields are deliberately not addressable, as in the reference.
    */
  def blacklist(fields: Seq[String])(df: DataFrame): DataFrame =
    if (fields.isEmpty) df
    else df.withColumn("payload", col("payload").dropFields(fields: _*))

  // --------------------------------------------------------------- routing

  /** R1: read one payload field as a routing string. Only `string` and
    * 32-bit `int` payload types are accepted; a missing field or any other
    * type fails the plan at build time — mirroring the reference's
    * fail-the-batch error, surfaced eagerly instead of wedging a worker.
    */
  def routingValue(df: DataFrame, field: String): Column = {
    val payloadType = df.schema("payload").dataType.asInstanceOf[StructType]
    val ft = payloadType.fields.find(_.name == field).getOrElse(
      throw new IllegalArgumentException(
        s"Record does not contain field $field")).dataType
    ft match {
      case StringType  => col("payload")(field)
      case IntegerType => col("payload")(field).cast(StringType)
      case other => throw new IllegalArgumentException(
        s"Value from column $field is not parseable to string (got $other)")
    }
  }

  /** R2: tumbling time-bucket suffix on message time. */
  def timeBucket(suffix: TimeSuffix): Column =
    date_format(col("timestamp"), suffix.pattern)

  /** R3: index-name routing — each record by its own `topic` unless an
    * index is configured. A configured index column overrides the time
    * bucket entirely.
    */
  def indexName(cfg: InjectorConfig)(df: DataFrame): DataFrame = {
    val suffixCol = cfg.indexColumn
      .map(f => routingValue(df, f))
      .getOrElse(timeBucket(cfg.timeSuffix))
    df.withColumn("es_index",
      concat(lit(cfg.indexPrefix),
        cfg.esIndex.map(lit).getOrElse(col("topic")), lit("-"), suffixCol))
  }

  /** R4: document id — replay-stable "partition:offset" by default, or a
    * configured payload column.
    */
  def docId(cfg: InjectorConfig)(df: DataFrame): DataFrame =
    df.withColumn("doc_id",
      cfg.docIdColumn.map(f => routingValue(df, f))
        .getOrElse(concat_ws(":", col("partition"), col("offset"))))

  /** R5: final ES-record projection {index, type, id, payload}. */
  def assemble(df: DataFrame): DataFrame =
    df.select(col("es_index"), lit("_doc").as("es_type"), col("doc_id"),
      col("payload"))

  /** D1: record-type dispatch — the reference's `DeserializerFor`
    * (src/kafka/encode_decode.go:34-40), selecting the decode transform at
    * plan-build time; an unknown type errors exactly like the reference's
    * "Invalid parser type". The avro branch resolves writer schemas through
    * `provider` (a config map or the HTTP registry, cmd/injector.go:34-37);
    * it is by-name, so the json branch never builds one.
    */
  def decoderFor(recordType: String, jsonSchema: StructType,
      avroReaderSchema: String = "",
      provider: => SchemaProvider = MapSchemaProvider(Map.empty))
      : DataFrame => DataFrame = recordType match {
    case "json" => jsonDecode(jsonSchema)
    case "avro" =>
      val writers = provider
      df => df
        .withColumn("payload", graft.functions.PlanBarrier.opaque(
          graft.functions.AvroWire.fromConfluentAvro(
            col("value"), avroReaderSchema, writers)))
        .filter(col("payload").isNotNull)
    case other =>
      throw new IllegalArgumentException(s"Invalid parser type $other")
  }

  // ----------------------------------------------------------------- sink

  /** K2: the reference gets effective dedup from bulk `create` + a stable
    * doc id. Batch analogue with a *deterministic* winner (the reference's
    * winner is arrival order; we pin lowest (partition, offset) so results
    * are replay-stable and oracle-comparable). Partitioned hash-aggregate —
    * one shuffle on the key, no global sort.
    */
  def dedupByDocId(keyCols: Seq[String] = Seq("doc_id"))(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("partition"), col("offset"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full hot path (SURVEY.md §3.2): decode → enrich → route → assemble,
    * the one composition both the oracle-checked `entry_pipeline` and the
    * deployed stream (`InjectorApp.start`) run. `decoder` is the D1 seam
    * ([[decoderFor]], default JSON into `schema`); `keyDecoder` set merges
    * the decoded key (T2, [[includeDecodedKey]]). The pipeline keeps no
    * state, so it runs in any trigger mode; K2 (duplicate doc ids) stays
    * where the reference puts it, in the sink's create-op 409s.
    */
  def pipeline(cfg: InjectorConfig, schema: StructType,
      decoder: Option[DataFrame => DataFrame] = None,
      keyDecoder: Option[Column => Column] = None)(df: DataFrame)
      : DataFrame =
    assemble((nilMessageFilter()(_: DataFrame))
      .andThen(decoder.getOrElse(jsonDecode(schema)(_)))
      .andThen(injectTimestamp)
      .andThen(keyDecoder.fold(identity[DataFrame] _)(includeDecodedKey(_)))
      .andThen(blacklist(cfg.blacklist))
      .andThen(indexName(cfg))
      .andThen(docId(cfg))
      .apply(df))
}
