package graft.streaming

import graft.functions.{HttpSchemaProvider, SchemaProvider}
import graft.operators.InjectorOps
import graft.operators.InjectorOps.InjectorConfig
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The reference's whole deployment, assembled from the SAME environment
  * variables (`cmd/injector.go:21-76`, `src/kafka/config.go`,
  * `src/elasticsearch/config.go:34-98`): a reference operator can point
  * their existing env at this and get the Spark-native pipeline —
  * Kafka source → record-type-dispatched decode → enrich/route →
  * [[EsHttpSink]] bulk `create`, plus probes and the metrics listener.
  * `fromEnv` is pure (env injected as a Map) so the whole config
  * surface is unit-testable offline; `start` needs a live Kafka + ES,
  * exactly like the reference binary.
  */
object InjectorApp {

  final case class AppConfig(
      source: StreamingPipeline.KafkaSourceConfig,
      injector: InjectorConfig,
      sink: EsHttpSink.Config,
      registryUrl: Option[String],
      recordType: String,
      probesPort: Option[Int],
      livenessRoute: String = "/healthz",
      readinessRoute: String = "/readiness",
      installTemplate: Boolean = false,
      checkpoint: String = "/tmp/graft-injector-checkpoint")

  /** Go `time.ParseDuration` strings to millis — the reference's
    * timeout/backoff env format (config.go:34-50). Full contract:
    * compound values ("1m30s"), optional sign, ns/us/µs/ms/s/m/h units;
    * unitless or malformed input errors like Go's "missing unit".
    */
  def parseDurationMs(s: String): Long = {
    val t = s.trim
    val (sign, body) =
      if (t.startsWith("-")) (-1L, t.tail)
      else if (t.startsWith("+")) (1L, t.tail) else (1L, t)
    // Go special-cases a bare (optionally signed) "0" — the only unitless
    // value ParseDuration accepts (time.go: `if s == "0" { return 0 }`)
    if (body == "0") return 0L
    val token = "([0-9]+(?:\\.[0-9]+)?)(ns|us|µs|ms|s|m|h)".r
    val matches = token.findAllMatchIn(body).toSeq
    require(matches.nonEmpty && matches.map(_.matched).mkString == body,
      s"invalid duration '$s' (Go time.ParseDuration format)")
    val ns = matches.map { m =>
      val v = m.group(1).toDouble
      m.group(2) match {
        case "ns" => v
        case "us" | "µs" => v * 1e3
        case "ms" => v * 1e6
        case "s" => v * 1e9
        case "m" => v * 6e10
        case "h" => v * 3.6e12
      }
    }.sum
    sign * (ns / 1e6).toLong
  }

  /** Env-var surface, name-for-name with the reference. Unset/empty vars
    * take the reference's defaults; a set value that does not parse fails
    * here, naming its variable. `ELASTICSEARCH_DISABLE_SNIFFING` is
    * accepted and ignored: the sink talks to the one configured URL, so
    * there is no node discovery to disable.
    */
  def fromEnv(env: Map[String, String]): AppConfig = {
    def get(k: String) = env.get(k).filter(_.nonEmpty)
    def csv(k: String) =
      get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def parsed[T](k: String, want: String)(parse: String => Option[T]) =
      get(k).map(v => parse(v).getOrElse(
        throw new IllegalArgumentException(s"$k=$v is invalid: want $want")))
    def bool(k: String): Boolean =
      parsed(k, "true or false")(_.toBooleanOption).getOrElse(false)
    def long(k: String, min: Long, max: Long): Option[Long] =
      parsed(k, s"an integer from $min to $max")(
        _.toLongOption.filter(n => n >= min && n <= max))
    // a duration the JDK client cannot take fails here, naming its var,
    // instead of as an unready pod or a misleading bulk failure later
    def millis(k: String, min: Long, max: Long): Long =
      parsed(k, s"a Go duration from $min to $max ms")(v =>
        scala.util.Try(parseDurationMs(v)).toOption
          .filter(ms => ms >= min && ms <= max))
        .getOrElse(1000L) // config.go:34-50: 1s default
    val topics = csv("KAFKA_TOPICS").getOrElse(Nil)
    // Basic credentials must never fall back to plaintext on a typo
    val scheme = parsed("ELASTICSEARCH_SCHEME", "http or https")(v =>
      Some(v.toLowerCase).filter(s => s == "http" || s == "https"))
    AppConfig(
      source = StreamingPipeline.KafkaSourceConfig(
        bootstrapServers = get("KAFKA_ADDRESS").getOrElse("localhost:9092"),
        topics = topics,
        // S2: the reference's batch size bounds in-flight records
        maxOffsetsPerTrigger =
          long("KAFKA_CONSUMER_BATCH_SIZE", 1L, Long.MaxValue)),
      injector = InjectorConfig(
        esIndex = get("ES_INDEX"),
        indexPrefix = get("ES_INDEX_PREFIX").getOrElse(""),
        indexColumn = get("ES_INDEX_COLUMN"),
        docIdColumn = get("ES_DOC_ID_COLUMN"),
        // config.go:51-57: day default
        timeSuffix = parsed("ES_TIME_SUFFIX", "day or hour")(
          _.toLowerCase match {
            case "day" => Some(InjectorOps.DaySuffix)
            case "hour" => Some(InjectorOps.HourSuffix)
            case _ => None
          }).getOrElse(InjectorOps.DaySuffix),
        blacklist = csv("ES_BLACKLISTED_COLUMNS").getOrElse(Nil),
        includeKey = bool("KAFKA_CONSUMER_INCLUDE_KEY")),
      sink = EsHttpSink.Config(
        url = scheme.getOrElse("http") + "://" +
          get("ELASTICSEARCH_HOST").getOrElse("localhost") + ":9200",
        user = get("ELASTICSEARCH_USER"),
        password = get("ELASTICSEARCH_PASSWORD"),
        ignoreCert = bool("ELASTICSEARCH_IGNORE_CERT"),
        timeoutMs = millis("ES_BULK_TIMEOUT", 1L, Int.MaxValue).toInt,
        backoffMs = millis("ES_BULK_BACKOFF", 0L, Long.MaxValue)),
      registryUrl = get("SCHEMA_REGISTRY_URL"),
      // DeserializerFor (encode_decode.go:34-40): "json" is the special
      // case, anything else — unset included — takes the avro path
      recordType =
        if (get("KAFKA_CONSUMER_RECORD_TYPE").contains("json")) "json"
        else "avro",
      probesPort = long("PROBES_PORT", 0L, 65535L).map(_.toInt),
      // the reference reads probe paths from env (probes.go:9-11) — a
      // deployment migrating env name-for-name keeps its configured routes
      livenessRoute = get("K8S_LIVENESS_ROUTE").getOrElse("/healthz"),
      readinessRoute = get("K8S_READINESS_ROUTE").getOrElse("/readiness"),
      // EXTENSION var (not in the reference env surface): the reference
      // leaves template install to a manual PUT its README prescribes
      // (README.md:53-67); ES_INDEX_TEMPLATE=true makes that documented
      // pre-create step part of startup
      installTemplate = bool("ES_INDEX_TEMPLATE"),
      checkpoint = get("CHECKPOINT_LOCATION")
        .getOrElse("/tmp/graft-injector-checkpoint"))
  }

  /** Compose and start the full deployment. The defaults are the
    * cluster-mode path (live Kafka source, [[EsHttpSink]] on `cfg.sink`,
    * HTTP schema registry); each is an injectable seam so the SAME
    * assembly — record-type dispatch, key decode, probe wiring and all —
    * runs end-to-end in-process against a MemoryStream source, a fixture
    * registry server and an in-JVM `_bulk` server (StreamingSpec), the
    * way the reference proves its composition against docker-compose
    * services (`src/kafka/consumer_test.go:106-147`).
    *
    * @param jsonSchema payload schema for `KAFKA_CONSUMER_RECORD_TYPE=
    *                   json` (the reference infers none either — JSON
    *                   payloads are schemaless maps there; a Spark plan
    *                   needs the shape up front)
    * @param avroReaderSchema reader schema for `=avro`, resolved against
    *                         per-message writer schemas from the registry
    * @param source injected Kafka-shaped streaming frame (default: the
    *               live Kafka source built from `cfg.source`)
    * @param startSink starts the assembled stream into a sink (default:
    *                  `foreachBatch` into an [[EsHttpSink]] on `cfg.sink`,
    *                  checkpointed at `cfg.checkpoint`; offsets commit
    *                  only after a batch's bulk succeeds, K6)
    * @param schemaProvider registry override (default: HTTP client
    *                       against `cfg.registryUrl`)
    */
  def start(spark: SparkSession, cfg: AppConfig, jsonSchema: StructType,
      avroReaderSchema: String = "",
      avroKeyReaderSchema: String = "",
      jsonKeySchema: Option[StructType] = None,
      source: Option[org.apache.spark.sql.DataFrame] = None,
      startSink: Option[org.apache.spark.sql.DataFrame => StreamingQuery] =
        None,
      schemaProvider: Option[SchemaProvider] = None,
      sinkPing: Option[() => Boolean] = None)
      : (StreamingQuery, Probes) = {
    // one registry client (and so one per-executor schema cache) shared by
    // the value and key decoders; built only for avro records
    lazy val provider: SchemaProvider = schemaProvider.getOrElse(
      new HttpSchemaProvider(
        cfg.registryUrl.getOrElse(throw new IllegalArgumentException(
          "SCHEMA_REGISTRY_URL is required for avro records"))))
    val decoder = InjectorOps.decoderFor(cfg.recordType, jsonSchema,
      avroReaderSchema, provider)
    // T2: the key decodes with the value's record type (decoderFor has
    // already refused any type but json and avro) — Avro keys through
    // their own registry lookup (encode_decode.go:66-72), JSON keys into
    // the supplied struct (encode_decode.go:99-105). A config the
    // reference honors must not silently no-op: a missing key schema
    // with includeKey on is a caller error.
    val keyDecoder = Option.when(cfg.injector.includeKey) {
      if (cfg.recordType == "json")
        InjectorOps.jsonKeyDecoder(jsonKeySchema.getOrElse(
          throw new IllegalArgumentException("jsonKeySchema is required " +
            "when KAFKA_CONSUMER_INCLUDE_KEY=true with json records")))
      else {
        require(avroKeyReaderSchema.nonEmpty,
          "avroKeyReaderSchema is required when " +
            "KAFKA_CONSUMER_INCLUDE_KEY=true with avro records")
        InjectorOps.avroKeyDecoder(avroKeyReaderSchema, provider)
      }
    }
    val assembled = InjectorOps.pipeline(cfg.injector, jsonSchema,
      decoder = Some(decoder), keyDecoder = keyDecoder)(
      source.getOrElse(StreamingPipeline.kafkaSource(spark, cfg.source)))
    val sink = new EsHttpSink(cfg.sink)
    // probes bind their port BEFORE the stream starts, so a bad or busy
    // port fails the start with no query left running; both checks read
    // false until `bind` (probes.go:22-30)
    val probes = new Probes(cfg.probesPort.getOrElse(8080),
      cfg.livenessRoute, cfg.readinessRoute)
    probes.serve()
    val query = try startSink.getOrElse {
      (a: org.apache.spark.sql.DataFrame) =>
        // the documented pre-create step, BEFORE the first insert: without
        // a template, dynamic mapping guesses every field type
        if (cfg.installTemplate)
          cfg.injector.esIndex.fold(cfg.source.topics)(Seq(_)).foreach(
            t => sink.ensureTemplate(cfg.injector.indexPrefix + t))
        a.writeStream
          .option("checkpointLocation", cfg.checkpoint)
          .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
            sink.write(b, id))
          .start()
    }.apply(assembled) catch {
      case e: Throwable => probes.stop(); throw e
    }
    // liveness up; readiness tracks the stream AND the sink: the default
    // sink pings the configured ES host like the reference's
    // ReadinessCheck; an injected sink passes its own ping. An injected
    // sink WITHOUT a ping skips the check rather than probing an
    // unrelated default host.
    val ping = sinkPing.orElse(
      if (startSink.isEmpty) Some(() => sink.ping()) else None)
    probes.bind(query, ping)
    (query, probes)
  }
}
