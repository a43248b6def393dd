package graft

import graft.operators.InjectorOps
import graft.streaming.InjectorApp
import org.scalatest.funsuite.AnyFunSuite

/** The env-var deployment surface must parse name-for-name with the
  * reference (`cmd/injector.go`, `src/elasticsearch/config.go`,
  * `src/kafka/config.go`): same names, same defaults, same duration
  * format.
  */
class InjectorAppSpec extends AnyFunSuite {

  test("full reference env maps onto the app config") {
    val cfg = InjectorApp.fromEnv(Map(
      "KAFKA_ADDRESS" -> "broker:9092",
      "KAFKA_TOPICS" -> "clicks, views",
      "KAFKA_CONSUMER_BATCH_SIZE" -> "5000",
      "KAFKA_CONSUMER_RECORD_TYPE" -> "avro",
      "KAFKA_CONSUMER_INCLUDE_KEY" -> "true",
      "SCHEMA_REGISTRY_URL" -> "http://registry:8081",
      "ELASTICSEARCH_HOST" -> "es-host",
      "ELASTICSEARCH_SCHEME" -> "https",
      "ELASTICSEARCH_USER" -> "u",
      "ELASTICSEARCH_PASSWORD" -> "p",
      "ELASTICSEARCH_IGNORE_CERT" -> "true",
      // accepted for env compatibility; a single-URL client has no node
      // discovery to disable
      "ELASTICSEARCH_DISABLE_SNIFFING" -> "true",
      "ES_INDEX" -> "events-idx",
      "ES_INDEX_PREFIX" -> "pre-",
      "ES_INDEX_COLUMN" -> "route",
      "ES_DOC_ID_COLUMN" -> "uuid",
      "ES_TIME_SUFFIX" -> "hour",
      "ES_BLACKLISTED_COLUMNS" -> "secret,internal",
      "ES_BULK_TIMEOUT" -> "2s",
      "ES_BULK_BACKOFF" -> "500ms",
      "ES_INDEX_TEMPLATE" -> "true",
      "K8S_LIVENESS_ROUTE" -> "/live",
      "K8S_READINESS_ROUTE" -> "/ready",
      "PROBES_PORT" -> "9100"))
    assert(cfg.source.bootstrapServers == "broker:9092")
    assert(cfg.source.topics == Seq("clicks", "views"))
    assert(cfg.source.maxOffsetsPerTrigger.contains(5000L))
    assert(cfg.injector.esIndex.contains("events-idx"))
    assert(cfg.injector.indexPrefix == "pre-")
    assert(cfg.injector.indexColumn.contains("route"))
    assert(cfg.injector.docIdColumn.contains("uuid"))
    assert(cfg.injector.timeSuffix == InjectorOps.HourSuffix)
    assert(cfg.injector.blacklist == Seq("secret", "internal"))
    assert(cfg.injector.includeKey)
    assert(cfg.sink.url == "https://es-host:9200")
    assert(cfg.sink.user.contains("u") && cfg.sink.password.contains("p"))
    assert(cfg.sink.ignoreCert)
    assert(cfg.sink.timeoutMs == 2000 && cfg.sink.backoffMs == 500L)
    assert(cfg.registryUrl.contains("http://registry:8081"))
    assert(cfg.recordType == "avro")
    assert(cfg.probesPort.contains(9100))
    assert(cfg.livenessRoute == "/live" && cfg.readinessRoute == "/ready")
    assert(cfg.installTemplate)
  }

  test("unset env falls back to the reference defaults") {
    val cfg = InjectorApp.fromEnv(Map.empty)
    assert(cfg.injector.timeSuffix == InjectorOps.DaySuffix)
    assert(cfg.injector.blacklist.isEmpty && !cfg.injector.includeKey)
    assert(cfg.sink.timeoutMs == 1000)   // ES_BULK_TIMEOUT default 1s
    assert(cfg.sink.backoffMs == 1000L)  // ES_BULK_BACKOFF default 1s
    assert(cfg.sink.url == "http://localhost:9200")
    assert(cfg.sink.user.isEmpty && !cfg.sink.ignoreCert)
    // DeserializerFor treats anything but "json" as avro — the reference
    // default with the var unset is the avro path
    assert(cfg.recordType == "avro")
    assert(cfg.source.maxOffsetsPerTrigger.isEmpty)
    // ...and so does any value but "json": fromEnv maps the env onto the
    // two types `InjectorOps.decoderFor` knows
    for ((v, want) <- Seq("json" -> "json", "avro" -> "avro",
        "protobuf" -> "avro", "JSON" -> "avro"))
      assert(InjectorApp.fromEnv(Map("KAFKA_CONSUMER_RECORD_TYPE" -> v))
        .recordType == want, v)
  }

  test("go-style durations parse like time.ParseDuration") {
    assert(InjectorApp.parseDurationMs("1s") == 1000L)
    assert(InjectorApp.parseDurationMs("500ms") == 500L)
    assert(InjectorApp.parseDurationMs("2m") == 120000L)
    assert(InjectorApp.parseDurationMs("1.5s") == 1500L)
    assert(InjectorApp.parseDurationMs("1m30s") == 90000L)   // compound
    assert(InjectorApp.parseDurationMs("1h30m") == 5400000L)
    assert(InjectorApp.parseDurationMs("1500us") == 1L)      // sub-ms
    assert(InjectorApp.parseDurationMs("-2s") == -2000L)     // signed
    intercept[IllegalArgumentException] {
      InjectorApp.parseDurationMs("10fortnights")
    }
    // Go rejects unitless durations ("time: missing unit") — so do we
    intercept[IllegalArgumentException] {
      InjectorApp.parseDurationMs("10")
    }
    intercept[IllegalArgumentException] {
      InjectorApp.parseDurationMs("ms")
    }
  }

  test("out-of-range ES_BULK_TIMEOUT / ES_BULK_BACKOFF fail at config time, naming the variable") {
    def rejects(k: String, v: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        InjectorApp.fromEnv(Map(k -> v))
      }
      assert(e.getMessage.contains(k), e.getMessage)
    }
    // a timeout must be a positive Int of millis for the JDK client:
    // negative, zero (= wait forever) and past Int.MaxValue (600h would
    // wrap negative) are all refused
    rejects("ES_BULK_TIMEOUT", "-2s")
    rejects("ES_BULK_TIMEOUT", "0")
    rejects("ES_BULK_TIMEOUT", "100us") // rounds to 0 ms
    rejects("ES_BULK_TIMEOUT", "600h")
    rejects("ES_BULK_BACKOFF", "-1ms")
    rejects("ES_BULK_BACKOFF", "10fortnights")
    // every other parsed variable names itself the same way
    rejects("PROBES_PORT", "70000")
    rejects("PROBES_PORT", "-1")
    rejects("PROBES_PORT", "http")
    rejects("KAFKA_CONSUMER_BATCH_SIZE", "0")
    rejects("KAFKA_CONSUMER_BATCH_SIZE", "-5")
    rejects("KAFKA_CONSUMER_BATCH_SIZE", "abc")
    rejects("KAFKA_CONSUMER_INCLUDE_KEY", "1")
    rejects("ELASTICSEARCH_IGNORE_CERT", "yes")
    rejects("ES_INDEX_TEMPLATE", "on")
    // a misspelt scheme must not downgrade Basic credentials to plaintext
    rejects("ELASTICSEARCH_SCHEME", "ftp")
    rejects("ELASTICSEARCH_SCHEME", "htps")
    // a misspelt bucket must not silently route to daily indices
    rejects("ES_TIME_SUFFIX", "weekly")
    // the edges that remain valid
    assert(InjectorApp.fromEnv(Map("PROBES_PORT" -> "0")).probesPort
      .contains(0))
    assert(InjectorApp.fromEnv(Map("PROBES_PORT" -> "65535")).probesPort
      .contains(65535))
    assert(InjectorApp.fromEnv(Map("KAFKA_CONSUMER_BATCH_SIZE" -> "1"))
      .source.maxOffsetsPerTrigger.contains(1L))
    assert(InjectorApp.fromEnv(Map("KAFKA_CONSUMER_INCLUDE_KEY" -> "TRUE"))
      .injector.includeKey)
    assert(InjectorApp.fromEnv(Map("ELASTICSEARCH_SCHEME" -> "HTTPS"))
      .sink.url == "https://localhost:9200")
    assert(InjectorApp.fromEnv(Map("ELASTICSEARCH_SCHEME" -> "http"))
      .sink.url == "http://localhost:9200")
    assert(InjectorApp.fromEnv(Map("ES_TIME_SUFFIX" -> "HOUR"))
      .injector.timeSuffix == InjectorOps.HourSuffix)
    assert(InjectorApp.fromEnv(Map("ES_TIME_SUFFIX" -> "Day"))
      .injector.timeSuffix == InjectorOps.DaySuffix)
    assert(InjectorApp.fromEnv(Map("ES_BULK_TIMEOUT" -> "1ms"))
      .sink.timeoutMs == 1)
    assert(InjectorApp.fromEnv(Map("ES_BULK_TIMEOUT" -> "596h"))
      .sink.timeoutMs == 2145600000)
    assert(InjectorApp.fromEnv(Map("ES_BULK_BACKOFF" -> "0"))
      .sink.backoffMs == 0L)
    assert(InjectorApp.fromEnv(Map("ES_BULK_BACKOFF" -> "600h"))
      .sink.backoffMs == 2160000000L)
  }
}
