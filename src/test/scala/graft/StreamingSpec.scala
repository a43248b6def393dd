package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.InjectorOps
import graft.operators.InjectorOps.InjectorConfig
import graft.streaming.{EsHttpSink, StreamingPipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-shaped message for MemoryStream. */
case class Msg(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

/** Proves batch ≡ streaming for the injector pipeline (the reason every
  * operator is a pure DataFrame => DataFrame), and the sink's
  * at-least-once + create = dedup contract across micro-batches —
  * mirroring the reference's end-to-end consumer test
  * (src/kafka/consumer_test.go:106-147) without external services.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("environment evidence: the spark-sql-kafka connector is absent, so S1 cannot run on the real protocol here") {
    // The deployment-shape source (StreamingPipeline.kafkaSource) is the
    // real format("kafka") reader — but this harness ships neither
    // spark-sql-kafka nor kafka-clients (/opt/spark/jars has no kafka
    // artifact; resolution is offline), so an embedded-broker
    // end-to-end test is structurally impossible: the CONNECTOR class
    // itself cannot be loaded. This test pins that fact so the
    // MemoryStream duals' existence is traceable to an environment
    // constraint, not a design choice — and fails loudly if the
    // environment ever gains the jars (at which point wire the real
    // end-to-end test of consumer_test.go:106-147 and delete this).
    val e = intercept[Throwable] {
      graft.streaming.StreamingPipeline.kafkaSource(spark,
        graft.streaming.StreamingPipeline.KafkaSourceConfig(
          "localhost:9092", Seq("my-topic")))
    }
    assert(e.toString.toLowerCase.contains("kafka"),
      s"expected the kafka source lookup to fail for a missing " +
        s"connector, got: $e")
  }

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("n", IntegerType)))
  private val cfg = InjectorConfig()

  private def msg(partition: Int, offset: Long, json: String,
      ts: String = "2024-03-05 10:11:12.345"): Msg =
    Msg(null, json.getBytes("UTF-8"), "my-topic", partition, offset,
      Timestamp.valueOf(ts), 0)

  /** Reads the documents an [[EsStubServer]] stored. */
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def keyUid(doc: com.fasterxml.jackson.databind.JsonNode) =
    Some(doc.at("/key/uid")).filter(_.isNumber).map(_.asLong)

  private val batch1 = Seq(
    msg(0, 1L, """{"id":"a","n":1}"""),
    msg(0, 2L, """{"id":"b","n":2}"""),
    msg(1, 1L, """{"id":"c","n":3}"""))

  /** Wait until the memory sink holds at least `n` rows. The funnel
    * queries CANNOT use `processAllAvailable`: with
    * `ProcessingTimeTimeout`, `FlatMapGroupsWithStateExec
    * .shouldRunAnotherBatch` is unconditionally true (timeouts can fire
    * any time), so the engine schedules no-data micro-batches forever
    * and the `noNewData` latch processAllAvailable blocks on is never
    * set — a guaranteed hang, not a flake. Sink-count polling (with
    * sentinel rows to bound negative cases) is the deterministic dual:
    * a micro-batch commits to the sink atomically, so once the sentinel
    * row of a batch is visible, every emission of that batch is.
    */
  private def awaitSinkRows(table: String, n: Long,
      timeoutMs: Long = 120000L): Unit = {
    val t0 = System.nanoTime()
    while (spark.table(table).count() < n) {
      if ((System.nanoTime() - t0) / 1e6 > timeoutMs)
        fail(s"timed out waiting for $n rows in $table " +
          s"(have ${spark.table(table).count()})")
      Thread.sleep(100L)
    }
  }

  test("streaming pipeline result equals batch pipeline result") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(batch1)
    val out = Files.createTempDirectory("graft-stream").toString
    val q = InjectorOps.pipeline(cfg, schema)(stream.toDF())
      .writeStream.format("memory").queryName("stream_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_out")
      .select($"es_index", $"doc_id", $"payload.id", $"payload.n")
      .as[(String, String, String, Int)].collect().toSet
    val batched = InjectorOps.pipeline(cfg, schema)(batch1.toDF())
      .select($"es_index", $"doc_id", $"payload.id", $"payload.n")
      .as[(String, String, String, Int)].collect().toSet
    assert(streamed == batched)
    assert(streamed.map(_._2) == Set("0:1", "0:2", "1:1"))
    assert(streamed.forall(_._1 == "my-topic-2024-03-05"))
  }

  test("InjectorApp.start delivers what the oracle-checked entry_pipeline composition computes") {
    import graft.operators.KafkaShape
    import graft.streaming.InjectorApp
    val ts = (s: String) => Timestamp.valueOf(s)
    // hand-built `events` rows: two days, a null field, a blacklisted one
    val events = Seq(
      (1L, 10L, "view", 1.5, """{"k":1}""", ts("2024-03-05 10:11:12.345")),
      (2L, 11L, "click", 2.0, null, ts("2024-03-05 23:59:59.999")),
      (3L, 10L, "purchase", -3.25, """{"k":3}""", ts("2024-03-06 00:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val kafka = KafkaShape.fromEvents(events)
    // path 1: the batch composition `entry_pipeline` runs
    val batched = InjectorOps.pipeline(
        InjectorConfig(indexPrefix = "graft-",
          blacklist = Seq("props")), KafkaShape.eventPayloadSchema)(kafka)
      .select($"es_index", $"doc_id", to_json($"payload"))
      .as[(String, String, String)].collect().toSet
    // path 2: the deployment, from env, into a `_bulk` endpoint
    val es = new EsStubServer
    val esPort = es.start()
    val dir = Files.createTempDirectory("graft-app-entry").toString
    val env = InjectorApp.fromEnv(Map(
      "KAFKA_TOPICS" -> "events",
      "ES_INDEX_PREFIX" -> "graft-",
      "ES_BLACKLISTED_COLUMNS" -> "props",
      "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
      "PROBES_PORT" -> "0",
      "CHECKPOINT_LOCATION" -> s"$dir/cp"))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(kafka.as[Msg].collect().toSeq)
    val (q, probes) = InjectorApp.start(spark,
      env.copy(sink = env.sink.copy(url = s"http://localhost:$esPort")),
      KafkaShape.eventPayloadSchema, source = Some(stream.toDF()))
    try q.processAllAvailable()
    finally { q.stop(); probes.stop(); es.stop() }
    assert(es.documents.toSet == batched)
    assert(batched.map(_._1) == Set("graft-events-2024-03-05",
      "graft-events-2024-03-06") && batched.size == 3)
  }

  test("streaming pipeline decodes Avro-framed keys (T2 full)") {
    import graft.functions.{AvroWire, MapSchemaProvider}
    val keySchema = """{"type":"record","name":"K",
      "fields":[{"name":"uid","type":"long"}]}""".replaceAll("\n\\s*", "")
    def akey(uid: Long) = AvroWire.encodeConfluent(5, keySchema, Map("uid" -> uid))
    val ts = Timestamp.valueOf("2024-03-05 10:11:12.345")
    val msgs = Seq(
      Msg(akey(7L), """{"id":"a","n":1}""".getBytes("UTF-8"), "my-topic", 0, 1L, ts, 0),
      Msg(null, """{"id":"b","n":2}""".getBytes("UTF-8"), "my-topic", 0, 2L, ts, 0),
      Msg("junk".getBytes("UTF-8"), """{"id":"c","n":3}""".getBytes("UTF-8"),
        "my-topic", 1, 1L, ts, 0)) // undecodable key -> record dropped
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(msgs)
    val dec = graft.operators.InjectorOps.avroKeyDecoder(keySchema,
      MapSchemaProvider(Map(5 -> keySchema)))
    val out = Files.createTempDirectory("graft-akey").toString
    val q = InjectorOps.pipeline(cfg, schema,
        keyDecoder = Some(dec))(stream.toDF())
      .writeStream.format("memory").queryName("akey_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("akey_out")
      .select($"payload.id", $"payload.key.uid")
      .as[(String, Option[Long])].collect().toSet
    assert(rows == Set(("a", Some(7L)), ("b", None)))
  }

  test("streaming pipeline decodes Confluent-Avro values (D1 avro dispatch)") {
    import graft.functions.AvroWire
    val avroSchema = """{"type":"record","name":"P","fields":[
      {"name":"id","type":"string"},{"name":"n","type":"int"}]}"""
      .replaceAll("\n\\s*", "")
    def frame(id: String, n: Int) =
      AvroWire.encodeConfluent(4, avroSchema, Map("id" -> id, "n" -> n))
    val ts = Timestamp.valueOf("2024-03-05 10:11:12.345")
    val msgs = Seq(
      Msg(null, frame("a", 1), "my-topic", 0, 1L, ts, 0),
      Msg(null, frame("b", 2), "my-topic", 0, 2L, ts, 0),
      Msg(null, "not-avro".getBytes("UTF-8"), "my-topic", 1, 1L, ts, 0))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(msgs)
    val avroDecoder = InjectorOps.decoderFor("avro", schema, avroSchema,
      graft.functions.MapSchemaProvider(Map(4 -> avroSchema)))
    val out = Files.createTempDirectory("graft-avro-stream").toString
    val q = InjectorOps.pipeline(cfg, schema,
        decoder = Some(avroDecoder))(stream.toDF())
      .writeStream.format("memory").queryName("avro_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("avro_out")
      .select($"doc_id", $"payload.id", $"payload.n")
      .as[(String, String, Int)].collect().toSet
    // bad-magic value dropped (D6); the rest decode and route normally
    assert(rows == Set(("0:1", "a", 1), ("0:2", "b", 2)))
  }

  test("end-to-end: InjectorApp assembles source→registry decode→route→sink→probes") {
    import com.sun.net.httpserver.HttpServer
    import graft.functions.AvroWire
    import graft.streaming.InjectorApp
    val valueSchema = """{"type":"record","name":"P","fields":[
      {"name":"id","type":"string"},{"name":"n","type":"int"}]}"""
      .replaceAll("\n\\s*", "")
    val keySchema = """{"type":"record","name":"K",
      "fields":[{"name":"uid","type":"long"}]}""".replaceAll("\n\\s*", "")
    // fixture schema registry: the app's DEFAULT HttpSchemaProvider
    // resolves writer schemas over live HTTP, like a real deployment
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    def serveSchema(path: String, schema: String): Unit =
      server.createContext(path, ex => {
        val b = s"""{"schema": ${mapper.writeValueAsString(schema)}}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
        ex.close()
      })
    serveSchema("/schemas/ids/4", valueSchema)
    serveSchema("/schemas/ids/5", keySchema)
    server.createContext("/", ex => {
      ex.sendResponseHeaders(404, -1L); ex.close()
    })
    server.start()
    val es = new EsStubServer
    val esPort = es.start()
    val dir = Files.createTempDirectory("graft-app").toString
    // the whole deployment from the reference's env vars, name-for-name
    val env = InjectorApp.fromEnv(Map(
      "KAFKA_TOPICS" -> "my-topic",
      "KAFKA_CONSUMER_RECORD_TYPE" -> "avro",
      "KAFKA_CONSUMER_INCLUDE_KEY" -> "true",
      "SCHEMA_REGISTRY_URL" ->
        s"http://127.0.0.1:${server.getAddress.getPort}",
      "K8S_LIVENESS_ROUTE" -> "/live",
      "K8S_READINESS_ROUTE" -> "/ready",
      "PROBES_PORT" -> "0",
      "CHECKPOINT_LOCATION" -> s"$dir/cp"))
    val cfg = env.copy(sink = env.sink.copy(url = s"http://localhost:$esPort"))
    val ts = Timestamp.valueOf("2024-03-05 10:11:12.345")
    def frame(id: String, n: Int) =
      AvroWire.encodeConfluent(4, valueSchema, Map("id" -> id, "n" -> n))
    def akey(uid: Long) =
      AvroWire.encodeConfluent(5, keySchema, Map("uid" -> uid))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(Seq(
      Msg(akey(7L), frame("a", 1), "my-topic", 0, 1L, ts, 0),
      Msg(null, frame("b", 2), "my-topic", 0, 2L, ts, 0),
      Msg(akey(8L), "not-avro".getBytes("UTF-8"), "my-topic", 1, 1L, ts, 0),
      Msg("junk".getBytes("UTF-8"), frame("c", 3), "my-topic", 1, 2L, ts, 0)))
    // default sink: EsHttpSink on cfg.sink, readiness on its ping
    val (q, probes) = InjectorApp.start(spark, cfg, jsonSchema = schema,
      avroReaderSchema = valueSchema, avroKeyReaderSchema = keySchema,
      source = Some(stream.toDF()))
    def probe(path: String): Int = {
      val c = new java.net.URL(
        s"http://127.0.0.1:${probes.boundPort}$path").openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try c.getResponseCode finally c.disconnect()
    }
    try {
      q.processAllAvailable()
      // probes answer on the CONFIGURED routes; defaults are not mounted
      assert(probe("/live") == 200 && probe("/ready") == 200)
      assert(probe("/healthz") == 404)
      val docs = es.documents.map { case (index, id, src) =>
        val d = json.readTree(src)
        (index, id, d.get("id").asText, d.get("n").asInt, keyUid(d))
      }.toSet
      // bad-magic value dropped (D6), undecodable avro key dropped (T2);
      // the rest decode through the live registry, route on topic+day,
      // and land once each under partition:offset ids
      assert(docs == Set(
        ("my-topic-2024-03-05", "0:1", "a", 1, Some(7L)),
        ("my-topic-2024-03-05", "0:2", "b", 2, None)))
    } finally {
      q.stop()
      server.stop(0)
      es.stop()
    }
    // a stopped stream flips the pod unready; liveness stays up so the
    // orchestrator restarts rather than force-kills (reference semantics)
    assert(probe("/ready") == 500 && probe("/live") == 200)
    probes.stop()
  }

  test("registry outage fails the batch before its offsets commit; a restart lands every document exactly once (K6)") {
    import com.sun.net.httpserver.HttpServer
    import graft.functions.AvroWire
    import graft.streaming.InjectorApp
    val valueSchema = """{"type":"record","name":"P","fields":[
      {"name":"id","type":"string"},{"name":"n","type":"int"}]}"""
      .replaceAll("\n\\s*", "")
    val body = s"""{"schema": ${com.fasterxml.jackson.databind.json
      .JsonMapper.builder().build().writeValueAsString(valueSchema)}}"""
      .getBytes("UTF-8")
    // a registry that is down for its first `outage` requests: 503, the
    // status a real one gives while it cannot serve
    val outage = 2
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/schemas/ids/4", ex => {
      if (requests.incrementAndGet() <= outage)
        ex.sendResponseHeaders(503, -1L)
      else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
      ex.close()
    })
    server.start()
    val es = new EsStubServer
    val esPort = es.start()
    val cp = Files.createTempDirectory("graft-registry-outage").toString +
      "/cp"
    val env = InjectorApp.fromEnv(Map(
      "KAFKA_TOPICS" -> "my-topic",
      "KAFKA_CONSUMER_RECORD_TYPE" -> "avro",
      "SCHEMA_REGISTRY_URL" ->
        s"http://127.0.0.1:${server.getAddress.getPort}",
      "PROBES_PORT" -> "0",
      "CHECKPOINT_LOCATION" -> cp))
    val cfg = env.copy(sink = env.sink.copy(url = s"http://localhost:$esPort"))
    val ts = Timestamp.valueOf("2024-03-05 10:11:12.345")
    val msgs = (1 to 6).map(i => Msg(null, AvroWire.encodeConfluent(4,
      valueSchema, Map("id" -> s"r$i", "n" -> i)), "my-topic", i % 2,
      i.toLong, ts, 0))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(msgs)
    /** One start from the checkpoint: None when it drains, else why not. */
    def run(): Option[Throwable] = {
      val (q, probes) = InjectorApp.start(spark, cfg, jsonSchema = schema,
        avroReaderSchema = valueSchema, source = Some(stream.toDF()))
      try { q.processAllAvailable(); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Some(e) }
      finally { q.stop(); probes.stop() }
    }
    try {
      val first = run()
      assert(first.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(t =>
          String.valueOf(t.getMessage).contains("answered 503"))),
        s"the outage did not fail the stream: $first")
      assert(!new java.io.File(s"$cp/commits/0").exists)
      // each failed start used up at least one of the outage's answers
      var last = first
      var starts = 1
      while (last.isDefined && starts <= outage) { last = run(); starts += 1 }
      assert(last.isEmpty, s"no start drained after the outage: $last")
      assert(new java.io.File(s"$cp/commits/0").exists)
      val docs = es.documents.map { case (index, id, src) =>
        (index, id, json.readTree(src).get("n").asInt) }
      assert(docs.sortBy(_._3) == msgs.map(m => ("my-topic-2024-03-05",
        s"${m.partition}:${m.offset}", m.offset.toInt)))
    } finally {
      server.stop(0)
      es.stop()
    }
  }

  test("end-to-end: InjectorApp json record type with json keys") {
    import graft.streaming.InjectorApp
    import org.apache.spark.sql.types.{LongType, StructField => SF}
    val es = new EsStubServer
    val esPort = es.start()
    val dir = Files.createTempDirectory("graft-app-json").toString
    val env = InjectorApp.fromEnv(Map(
      "KAFKA_TOPICS" -> "my-topic",
      "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
      "KAFKA_CONSUMER_INCLUDE_KEY" -> "true",
      "PROBES_PORT" -> "0",
      "CHECKPOINT_LOCATION" -> s"$dir/cp"))
    val cfg = env.copy(sink = env.sink.copy(url = s"http://localhost:$esPort"))
    val ts = Timestamp.valueOf("2024-03-05 10:11:12.345")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(Seq(
      Msg("""{"uid":5}""".getBytes("UTF-8"),
        """{"id":"a","n":1}""".getBytes("UTF-8"), "my-topic", 0, 1L, ts, 0),
      Msg(null, """{"id":"b","n":2}""".getBytes("UTF-8"),
        "my-topic", 0, 2L, ts, 0)))
    val (q, probes) = InjectorApp.start(spark, cfg, jsonSchema = schema,
      jsonKeySchema = Some(StructType(Seq(SF("uid", LongType)))),
      source = Some(stream.toDF()))
    try {
      q.processAllAvailable()
      val docs = es.documents.map { case (_, id, src) =>
        val d = json.readTree(src)
        (id, d.get("id").asText, keyUid(d))
      }.toSet
      assert(docs == Set(("0:1", "a", Some(5L)), ("0:2", "b", None)))
    } finally { q.stop(); es.stop() }
    probes.stop()
    // fail-fast contract: include-key without a key schema is a caller
    // error at ASSEMBLY time for both record types, never a silent no-op
    intercept[IllegalArgumentException] {
      InjectorApp.start(spark, cfg, jsonSchema = schema,
        source = Some(stream.toDF()))
    }
    intercept[IllegalArgumentException] {
      InjectorApp.start(spark,
        cfg.copy(recordType = "avro",
          registryUrl = Some("http://registry:8081")),
        jsonSchema = schema, source = Some(stream.toDF()))
    }
  }

  test("streaming dual: rich Avro surface (maps/unions/decimals) through the HTTP registry") {
    import com.sun.net.httpserver.HttpServer
    import graft.functions.HttpSchemaProvider
    import graft.queries.AvroQueries
    // fixture registry serving the RICH writer schema (id 7) over live
    // HTTP — proves batch ≡ streaming for the full goavro-equivalent
    // type surface, resolved through the same provider a deployment uses
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/schemas/ids/7", ex => {
      val b = s"""{"schema": ${
        mapper.writeValueAsString(AvroQueries.richSchema)}}"""
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    val ts = Timestamp.valueOf("2024-03-05 10:11:12.345")
    // ids 10/11/12 hit all three union branches (null / long / string)
    // and two enum symbols; payloads carry maps, decimal(18,2), date,
    // ts-millis/micros, nested records-in-array, fixed(4)
    val msgs = Seq(
      Msg(null, AvroQueries.richEncode(10L, 205L, "click",
        1700000000123456L), "my-topic", 0, 1L, ts, 0),
      Msg(null, AvroQueries.richEncode(11L, 206L, "view",
        1700000000123456L), "my-topic", 0, 2L, ts, 0),
      Msg(null, AvroQueries.richEncode(12L, 207L, "buy",
        1700000000123456L), "my-topic", 1, 1L, ts, 0))
    val decoder = InjectorOps.decoderFor("avro", schema,
      AvroQueries.richSchema, new HttpSchemaProvider(
        s"http://127.0.0.1:${server.getAddress.getPort}"))
    def pick(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id", $"payload.event_type",
      element_at($"payload.tags", "uid"),
      $"payload.amount".cast("string"),
      $"payload.day".cast("string"),
      unix_micros($"payload.ts_us"),
      $"payload.flag", $"payload.alt.member0", $"payload.alt.member1")
      .as[(String, String, Long, String, String, Long, String,
        Option[Long], Option[String])]
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(msgs)
    val out = Files.createTempDirectory("graft-rich-stream").toString
    val q = InjectorOps.pipeline(cfg, schema,
        decoder = Some(decoder))(stream.toDF())
      .writeStream.format("memory").queryName("rich_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = pick(spark.table("rich_out")).collect().toSet
    // batch dual resolves through the same (still-running) registry
    val batched =
      try pick(InjectorOps.pipeline(cfg, schema,
        decoder = Some(decoder))(msgs.toDF())).collect().toSet
      finally server.stop(0)
    assert(streamed == batched)
    assert(streamed == Set(
      ("0:1", "click", 205L, "10.05", "2023-11-14", 1700000000123456L,
        "B", None, None),                          // alt: id%10==0 → null
      ("0:2", "view", 206L, "11.06", "2023-11-14", 1700000000123456L,
        "C", None, Some("view")),                  // alt: odd id → string
      ("1:1", "buy", 207L, "12.07", "2023-11-14", 1700000000123456L,
        "A", Some(207L), None)))                   // alt: even id → long
  }

  test("offline-built boilerplate model gates a live stream (train/apply split)") {
    import graft.operators.CorpusOps
    // offline: build the model on a batch corpus where one 4-token
    // segment repeats across docs
    val boiler4 = "the same legal footer"
    val corpus = Seq(
      (1L, s"alpha beta gamma delta $boiler4"),
      (2L, s"epsilon zeta eta theta $boiler4"),
      (3L, "iota kappa lambda mu unique tail words here")
    ).toDF("doc_id", "text")
    val model = CorpusOps.boilerplateSegments(corpus, segTokens = 4,
      maxDf = 2).as[String].collect().toSet
    assert(model == Set(boiler4))
    // online: the SAME pure map applied to a stream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq(
      (10L, s"fresh words one two $boiler4"),
      (11L, "fully unique document four")))
    val out = Files.createTempDirectory("graft-boiler").toString
    val q = CorpusOps.stripBoilerplate(model, segTokens = 4)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("boiler_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("boiler_out")
      .as[(Long, String)].collect().toMap
    assert(streamed == Map(
      10L -> "fresh words one two",   // footer stripped mid-stream
      11L -> "fully unique document four"))
    // batch ≡ streaming for the application function
    val batched = CorpusOps.stripBoilerplate(model, segTokens = 4)(
      Seq((10L, s"fresh words one two $boiler4"),
        (11L, "fully unique document four")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(batched == streamed)
  }

  test("offline bigram LM scores and gates a live stream (train/apply split)") {
    import graft.operators.CorpusOps
    // offline: vocab + bigram model on a batch corpus
    val corpus = Seq(
      (1L, "a b a b c"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val vocab = CorpusOps.vocabulary(corpus, 2).as[String].collect().toSet
    val model = CorpusOps.bigramModel(vocab)(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // online: the SAME pure map scores a stream; garbage text scores
    // only unseen (<unk>,<unk>) smoothing mass 1/3 < 0.5, typical text
    // averages (666666+400000+666666)/3e6 ≈ 0.578
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val rows = Seq((10L, "a b a b"), (11L, "q z q z"))
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-lm").toString
    val q = CorpusOps.bigramLmScore(vocab, model, 2, keepAbove = 0.5)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lm_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("lm_out")
      .select($"doc_id", $"lm_fp", $"keep")
      .as[(Long, Long, Boolean)].collect().toSet
    val batched = CorpusOps.bigramLmScore(vocab, model, 2, 0.5)(
        rows.toDF("doc_id", "text"))
      .select($"doc_id", $"lm_fp", $"keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(streamed == batched)
    // the gate does real work: model-typical text keeps, garbage drops
    assert(streamed.map(r => r._1 -> r._3).toMap ==
      Map(10L -> true, 11L -> false))
  }

  test("sliding chunking runs unchanged on a stream (batch ≡ streaming)") {
    import graft.operators.CorpusOps
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val rows = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8"), (2L, "a b"))
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-chunk").toString
    val q = CorpusOps.chunkSliding(4, 3)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("chunk_out")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val batched = CorpusOps.chunkSliding(4, 3)(rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamed == batched && streamed.size == 4)
  }

  test("offline-trained BPE tokenizer counts tokens on a live stream (train/apply split)") {
    import graft.operators.CorpusOps
    // offline: learn the merge table on a batch corpus
    val corpus = Seq((1L, "aa ab aa"), (2L, "aa aa ab"))
      .toDF("doc_id", "text")
    val mlist = CorpusOps.bpeMerges(corpus, 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // online: the SAME pure merge-list expressions on a stream — docs
    // with trained words, an unseen word, and null text
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val rows = Seq((10L, "aa aa"), (11L, "ba"),
      (12L, null.asInstanceOf[String]))
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-bpe").toString
    val q = CorpusOps.bpeTokenCountsOnline(mlist)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bpe_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("bpe_out")
      .as[(Long, Long, Long)].collect().toSet
    val batched = CorpusOps.bpeTokenCountsOnline(mlist)(
        rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batched)
    assert(streamed.contains((12L, 0L, 0L)), "null text must report 0/0")
    // non-vacuous: the trained words actually compressed below their
    // character segmentation
    val compressed = streamed.find(_._1 == 10L).get
    assert(compressed._3 < 2L * 3L + compressed._2,
      s"no merge applied on the stream: $compressed")
  }

  test("geofence alerting runs unchanged on a stream (derived coordinates, watch-zone filter)") {
    import graft.queries.EsDslQueries
    // the derived grid is a pure map of the user key, so the same box
    // filter is the batch query's es_geo_bounding_box region
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val rows = (1L to 40L).map(i => (i, i * 7L)) // 40 users, both classes
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-fence").toString
    val q = EsDslQueries.geoFence(60.0, 10.0, -30.0, 90.0)(
        stream.toDF().toDF("event_id", "user_id"))
      .select("event_id", "user_id")
      .writeStream.format("memory").queryName("fence_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("fence_out")
      .as[(Long, Long)].collect().toSet
    val batched = EsDslQueries.geoFence(60.0, 10.0, -30.0, 90.0)(
        rows.toDF("event_id", "user_id"))
      .select("event_id", "user_id").as[(Long, Long)].collect().toSet
    assert(streamed == batched, s"drift: $streamed vs $batched")
    assert(streamed.nonEmpty && streamed.size < rows.size,
      s"fence vacuous: ${streamed.size} of ${rows.size} inside")
  }

  test("stream-stream interval join: purchases meet their in-window views (batch ≡ streaming)") {
    import graft.streaming.StreamingPipeline
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val viewRows = Seq(
      (1L, 1L, t("2024-01-01 00:00:00"), 0.0),
      (2L, 1L, t("2024-01-01 00:30:00"), 0.0),
      (3L, 3L, t("2024-01-01 02:00:00"), 0.0))
    val purchRows = Seq(
      (100L, 1L, t("2024-01-01 01:00:00"), 5.0), // joins views 1 AND 2
      (101L, 1L, t("2024-01-02 06:00:00"), 7.0), // 30 h later: no match
      (200L, 2L, t("2024-01-01 01:00:00"), 9.0)) // no view at all
    implicit val sqlCtx = spark.sqlContext
    val vs = MemoryStream[(Long, Long, Timestamp, Double)]
    val ps = MemoryStream[(Long, Long, Timestamp, Double)]
    vs.addData(viewRows); ps.addData(purchRows)
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "ts", "value")
    val out = Files.createTempDirectory("graft-ssj").toString
    val q = StreamingPipeline.viewPurchaseIntervalJoin(
        named(vs.toDF()), named(ps.toDF()), 86400000L)
      .writeStream.format("memory").queryName("ssj_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out")
      .select("user_id", "view_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    val batched = StreamingPipeline.viewPurchaseIntervalJoin(
        named(viewRows.toDF("a", "b", "c", "d")),
        named(purchRows.toDF("a", "b", "c", "d")), 86400000L)
      .select("user_id", "view_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batched,
      s"stream/batch drift: $streamed vs $batched")
    assert(streamed == Set((1L, 1L, 100L), (1L, 2L, 100L)),
      s"wrong join result: $streamed")
  }

  test("offline-trained quality regression scores a live stream (train/score split)") {
    import graft.operators.CorpusOps
    // offline: the registered closed-form training on the real corpus
    val m = SparkEntry.queries("corpus_quality_regression")(
      spark, "/root/testdata/sf0.001").head()
    val (w0, w1, w2) = (m.getAs[Double]("w0"), m.getAs[Double]("w1"),
      m.getAs[Double]("w2"))
    // online: the SAME pure scoring expression on a stream — a normal
    // doc, a degenerate one, and null text mid-stream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val rows = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "x"), (12L, null.asInstanceOf[String]))
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-qreg").toString
    val q = CorpusOps.qualityScore(w0, w1, w2)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qreg_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("qreg_out")
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    val batched = CorpusOps.qualityScore(w0, w1, w2)(
        rows.toDF("doc_id", "text"))
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    assert(streamed == batched && streamed.size == 2,
      s"stream/batch drift: $streamed vs $batched")
    // non-vacuous: the trained model actually separates the two docs
    val s10 = streamed.find(_._1 == 10L).get._2
    val s11 = streamed.find(_._1 == 11L).get._2
    assert(s10 != s11, "model scored both docs identically")
  }

  test("trained-cell assignment runs unchanged on a stream (drift monitor online half)") {
    import graft.operators.{KMeansOps, SimilarityOps}
    def v(x: Double, y: Double) = Array(x, y, 0.0, 0.0)
    // offline: the trained Lloyd model (collected driver-side into
    // literal state — the stream side stays a pure map)
    val base = Seq(0L -> v(1.0, 0.05), 1L -> v(0.9, 0.1),
      10L -> v(0.05, 1.0), 11L -> v(0.1, 0.9))
      .toDF("vec_id", "embedding")
    val model = KMeansOps.lloyd(base, "vec_id", "embedding",
      seedIds = Seq(0L, 10L), iters = 1).localCheckpoint(false)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val rows = Seq(20L -> v(0.8, 0.2).toSeq, 21L -> v(0.0, 1.0).toSeq,
      22L -> v(0.7, 0.6).toSeq)
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-drift").toString
    val q = SimilarityOps.assignCells(model)(
        stream.toDF().toDF("vec_id", "embedding"))
      .select($"vec_id", $"cell")
      .writeStream.format("memory").queryName("drift_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("drift_out")
      .as[(Long, Long)].collect().toSet
    val batched = SimilarityOps.assignCells(model)(
        rows.toDF("vec_id", "embedding"))
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toSet
    assert(streamed == batched && streamed.size == 3)
    // non-vacuous: the streamed vectors split across both cells
    assert(streamed.map(_._2).size == 2)
  }

  test("funnel stages advance across micro-batches (flatMapGroupsWithState)") {
    val W = 86400000L // 24 h, the batch funnel's step window
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    // u1 completes across TWO batches (state carries t1/t2 over);
    // u2's click lands outside the window (no advance, ever);
    // u3 purchases before any click (chain order enforced);
    // u1's second view must NOT re-emit stage 1.
    val batchA = Seq((1L, "view", 1000L), (1L, "click", 2000L),
      (2L, "view", 1000L), (3L, "view", 1000L),
      (3L, "purchase", 1500L))
    val batchB = Seq((1L, "view", 2500L), (1L, "purchase", 3000L),
      (2L, "click", 1000L + W + 1L))
    val out = Files.createTempDirectory("graft-funnel").toString
    stream.addData(batchA)
    val q = graft.streaming.StreamingPipeline
      .funnelStages(stream.toDS(), W)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", s"$out/cp").start()
    try {
      awaitSinkRows("funnel_out", 4) // u1 view+click, u2 view, u3 view
      stream.addData(batchB)
      awaitSinkRows("funnel_out", 5) // + u1 purchase (stage 3)
    } finally q.stop()
    val streamed = spark.table("funnel_out")
      .as[(Long, Int, Long)].collect().toSet
    assert(streamed == Set(
      (1L, 1, 1000L), (1L, 2, 2000L), (1L, 3, 3000L),
      (2L, 1, 1000L), (3L, 1, 1000L)))
    // batch mode (one group call, empty state) emits the same set
    val batched = graft.streaming.StreamingPipeline
      .funnelStages((batchA ++ batchB).toDS(), W)
      .collect().map(a => (a.user_id, a.stage, a.at)).toSet
    assert(batched == streamed)
  }

  test("completed funnel state survives the batch boundary: a post-purchase view never restarts (batch ≡ streaming)") {
    val W = 86400000L
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    // u1 completes the funnel in batch A; batch B's view arrives against
    // RETAINED completed state, so nothing re-emits — exactly what batch
    // mode (one group call, local state) does. Eager state removal on
    // completion would make streaming re-emit (1, 1, 4000) here. The
    // sentinel u9 view bounds the negative wait: its emission proves
    // batch B committed, after which u1 must have emitted nothing new.
    val batchA = Seq((1L, "view", 1000L), (1L, "click", 2000L),
      (1L, "purchase", 3000L))
    val batchB = Seq((1L, "view", 4000L), (1L, "click", 4500L),
      (9L, "view", 4000L))
    val out = Files.createTempDirectory("graft-funnel-done").toString
    stream.addData(batchA)
    val q = graft.streaming.StreamingPipeline
      .funnelStages(stream.toDS(), W)
      .writeStream.format("memory").queryName("funnel_done_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", s"$out/cp").start()
    try {
      awaitSinkRows("funnel_done_out", 3)
      stream.addData(batchB)
      awaitSinkRows("funnel_done_out", 4) // sentinel only
    } finally q.stop()
    val streamed = spark.table("funnel_done_out")
      .as[(Long, Int, Long)].collect().toSet
    assert(streamed == Set((1L, 1, 1000L), (1L, 2, 2000L), (1L, 3, 3000L),
      (9L, 1, 4000L)),
      s"post-completion events re-advanced the funnel: $streamed")
    val batched = graft.streaming.StreamingPipeline
      .funnelStages((batchA ++ batchB).toDS(), W)
      .collect().map(a => (a.user_id, a.stage, a.at)).toSet
    assert(batched == streamed, s"batch/stream drift: $batched vs $streamed")
  }

  test("funnel TTL evicts quiet users across triggers; an evicted user restarts at stage 1") {
    val W = 86400000L
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val out = Files.createTempDirectory("graft-funnel-ttl").toString
    stream.addData(Seq((1L, "view", 1000L), (1L, "click", 2000L)))
    // 100 ms TTL: u1's timer expires during the sleep; the timeout
    // callback only fires INSIDE a later trigger (ProcessingTimeTimeout
    // semantics), which batch B's unrelated u2 row provides
    val q = graft.streaming.StreamingPipeline
      .funnelStages(stream.toDS(), W, stateTtlMs = 100L)
      .writeStream.format("memory").queryName("funnel_ttl_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", s"$out/cp").start()
    try {
      awaitSinkRows("funnel_ttl_out", 2) // u1 view + click
      Thread.sleep(800L) // u1's 100 ms timer lapses; a trigger evicts it
      stream.addData(Seq((2L, "view", 5000L)))
      awaitSinkRows("funnel_ttl_out", 3)
      stream.addData(Seq((1L, "view", 9000L), (1L, "purchase", 9500L)))
      awaitSinkRows("funnel_ttl_out", 4) // the view restarts at stage 1
    } finally q.stop()
    val streamed = spark.table("funnel_ttl_out")
      .as[(Long, Int, Long)].collect().toSet
    // u1's return is a fresh funnel: stage 1 re-emits at t=9000 (state
    // was evicted, t1/t2 forgotten) and the purchase cannot advance
    // (no click in the new funnel). Timeout itself emits nothing.
    assert(streamed == Set((1L, 1, 1000L), (1L, 2, 2000L),
      (2L, 1, 5000L), (1L, 1, 9000L)),
      s"TTL eviction/restart drifted: $streamed")
  }

  test("funnel TTL is inert in batch mode (one group call, no clock)") {
    val events = Seq((1L, "view", 1000L), (1L, "click", 2000L),
      (1L, "purchase", 3000L), (2L, "view", 1500L))
    val tiny = graft.streaming.StreamingPipeline
      .funnelStages(events.toDS(), 86400000L, stateTtlMs = 1L)
      .collect().map(a => (a.user_id, a.stage, a.at)).toSet
    // a 1 ms TTL changes nothing in batch: there is no later trigger
    // for the timeout to fire in, so the full advance set emits
    assert(tiny == Set((1L, 1, 1000L), (1L, 2, 2000L), (1L, 3, 3000L),
      (2L, 1, 1500L)))
  }

  test("sub-second interval-join window joins at millisecond grain (regression: windowMs/1000 truncation)") {
    import graft.streaming.StreamingPipeline
    import java.sql.Timestamp
    // windowMs = 500: a view 400 ms before the purchase is IN window, a
    // view 600 ms before is OUT. The r10-fixed bug built the interval as
    // `windowMs / 1000 SECONDS`, truncating 500 ms to 0 — under which
    // this case joins nothing. The prior test's 86400000 ms window
    // divided evenly and could not catch it.
    def t(ms: Long) = new Timestamp(1704067200000L + ms)
    val viewRows = Seq((1L, 1L, t(600L), 0.0),   // 600 ms before: out
      (2L, 1L, t(800L), 0.0),                    // 400 ms before: in
      (3L, 1L, t(1300L), 0.0))                   // 100 ms after: out
    val purchRows = Seq((100L, 1L, t(1200L), 5.0))
    implicit val sqlCtx = spark.sqlContext
    val vs = MemoryStream[(Long, Long, Timestamp, Double)]
    val ps = MemoryStream[(Long, Long, Timestamp, Double)]
    vs.addData(viewRows); ps.addData(purchRows)
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "ts", "value")
    val out = Files.createTempDirectory("graft-ssj-ms").toString
    val q = StreamingPipeline.viewPurchaseIntervalJoin(
        named(vs.toDF()), named(ps.toDF()), 500L)
      .writeStream.format("memory").queryName("ssj_ms_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_ms_out")
      .select("user_id", "view_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    val batched = StreamingPipeline.viewPurchaseIntervalJoin(
        named(viewRows.toDF("a", "b", "c", "d")),
        named(purchRows.toDF("a", "b", "c", "d")), 500L)
      .select("user_id", "view_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batched, s"stream/batch drift: $streamed vs $batched")
    assert(streamed == Set((1L, 2L, 100L)), s"wrong ms-grain join: $streamed")
  }

  test("streaming SRM guard: users count once, arm split and z-gate match the batch hash") {
    import graft.streaming.StreamingPipeline
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // aligned hour boundary
    def t(ms: Long) = new Timestamp(base + ms)
    // 40 users, TWO events each — dedup must count each user once
    val rows = (1L to 40L).flatMap(u =>
      Seq((u, t(1000L + u)), (u, t(200000L + u))))
    val stream = MemoryStream[(Long, Timestamp)]
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-srm").toString
    val q = StreamingPipeline.streamingSrm("ts", "1 hour", "10 minutes")(
        stream.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("srm_out")
      .outputMode("append")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      q.processAllAvailable()
      // sentinel 2 h later: watermark passes the window end, it emits
      stream.addData(Seq((999L, t(7200000L))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("srm_out")
      .as[(Timestamp, Long, Long, Long, Double, Boolean)].collect()
    assert(got.length == 1, s"exactly one closed window expected: ${got.toSeq}")
    val (ws, n, na, nb, z, flag) = got.head
    // expected arm split from the SAME hash evaluated in batch
    val expA = (1L to 40L).toDF("user_id")
      .select(pmod(graft.functions.PortableHash.h15(
        concat(lit("exp1:"), col("user_id").cast("string"))), lit(2L))
        .as("arm"))
      .filter(col("arm") === 0L).count()
    assert(ws.getTime == base && n == 40L && na == expA && nb == 40L - expA)
    val expZ = (expA.toDouble - 20.0) / math.sqrt(10.0)
    assert(math.abs(z - expZ) < 1e-12 && flag == (math.abs(expZ) > 3.0))
  }

  test("streaming anomaly: watermark closes hours, the spike flags, silent hours gap-fill to zero") {
    import graft.streaming.{HourVerdict, StreamingPipeline}
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000L
    val base = 1704067200000L // aligned hour boundary
    def t(ms: Long) = new Timestamp(base + ms)
    // type a: steady 5 events/hour for hours 0-5, then a 60-event spike
    // in hour 6; type b: 3 events in hour 0, then SILENT — its later
    // hours must still close as zero via the event-time timer while
    // other types advance the watermark
    val a = (0 until 6).flatMap(h =>
      (1 to 5).map(i => ("a", t(h * H + i * 60000L)))) ++
      (1 to 60).map(i => ("a", t(6 * H + i * 30000L)))
    val b = (1 to 3).map(i => ("b", t(i * 60000L)))
    val stream = MemoryStream[(String, Timestamp)]
    val out = Files.createTempDirectory("graft-anom").toString
    val q = StreamingPipeline.streamingAnomaly("ts", "10 minutes")(
        stream.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      stream.addData(a ++ b)
      q.processAllAvailable()
      // sentinels push the watermark to ~hour 10, closing a's spike
      // hour and b's silent hours across the intervening timer batches
      stream.addData(Seq(("z", t(10 * H))))
      q.processAllAvailable()
      stream.addData(Seq(("z", t(10 * H + 1000L))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anom_out").as[HourVerdict].collect()
      .groupBy(_.event_type)
      .map { case (ty, vs) => ty -> vs.sortBy(_.hour_start).toSeq }
    // the exact online fold the operator pins: stats fold the bucket
    // FIRST, then z² > 4 via (n·x − S)² > 4·(n·Q − S²), all integer
    def replay(ty: String, xs: Seq[Long]): Seq[HourVerdict] = {
      var (n, s, qq) = (0L, 0L, 0L)
      xs.zipWithIndex.map { case (x, i) =>
        n += 1; s += x; qq += x * x
        val dev = n * x - s
        HourVerdict(ty, base + i * H, x, n, dev * dev > 4L * (n * qq - s * s))
      }
    }
    // watermark tops out at 10:00:00.001 − 10 min → hours 0-8 close
    val expA = replay("a", Seq(5L, 5L, 5L, 5L, 5L, 5L, 60L, 0L, 0L))
    val expB = replay("b", Seq(3L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    assert(got.getOrElse("a", Nil) == expA, s"type a drifted: ${got.get("a")}")
    assert(got.getOrElse("b", Nil) == expB, s"type b drifted: ${got.get("b")}")
    assert(expA.count(_.flagged) == 1 && expA(6).flagged,
      "the hour-6 spike (and only it) must flag")
    assert(!got.contains("z"), "the sentinel type has no closable hour")
  }

  test("streaming anomaly: a type silent past the retirement TTL is evicted and restarts fresh on return") {
    import graft.streaming.{HourVerdict, StreamingPipeline}
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000L
    val base = 1704067200000L // aligned hour boundary
    def t(ms: Long) = new Timestamp(base + ms)
    // type a keeps the watermark advancing through hour 6; type b has 3
    // events in hour 0, then goes silent with a 2 h TTL
    val a = (0 until 7).flatMap(h =>
      (1 to 2).map(i => ("a", t(h * H + i * 60000L))))
    val b = (1 to 3).map(i => ("b", t(i * 60000L)))
    val stream = MemoryStream[(String, Timestamp)]
    val out = Files.createTempDirectory("graft-anom-ttl").toString
    val q = StreamingPipeline.streamingAnomaly("ts", "10 minutes",
        retireAfterMs = 2 * H)(
        stream.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("anom_ttl_out")
      .outputMode("append")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      stream.addData(a ++ b)
      q.processAllAvailable()
      // sentinels push the watermark to ~hour 10: b's hours close only
      // up to its retirement horizon, then its state row is evicted
      stream.addData(Seq(("z", t(10 * H))))
      q.processAllAvailable()
      stream.addData(Seq(("z", t(10 * H + 1000L))))
      q.processAllAvailable()
      // b RETURNS at hour 10 (above the ~9:50 watermark — a below-
      // watermark return would be dropped as late data before the
      // stateful operator ever saw it) — a retired type must restart
      // with fresh history (n_hist = 1), not resume the old stats
      stream.addData(Seq(("b", t(10 * H + 1800000L))))
      q.processAllAvailable()
      // close b's return hour: watermark past 11:00
      stream.addData(Seq(("z", t(11 * H + 1200000L))))
      q.processAllAvailable()
      stream.addData(Seq(("z", t(11 * H + 1201000L))))
      q.processAllAvailable()
    } finally q.stop()
    val gotB = spark.table("anom_ttl_out").as[HourVerdict].collect()
      .filter(_.event_type == "b").sortBy(_.hour_start).toSeq
    // gap-fill stops at the retirement horizon (lastEvent + 2 h lands in
    // hour 2): hours 0-2 close, hours 3-9 NEVER emit despite the
    // watermark passing them, and the hour-10 return closes with
    // n_hist = 1 — fresh history, the observable proof of eviction
    // (un-evicted state would resume at n_hist = 4)
    assert(gotB.map(v => ((v.hour_start - base) / H, v.doc_count, v.n_hist))
      == Seq((0L, 3L, 1L), (1L, 0L, 2L), (2L, 0L, 3L), (10L, 1L, 1L)),
      s"retirement semantics drifted: $gotB")
  }

  test("range search runs unchanged on a stream (radius alerting)") {
    import graft.operators.SimilarityOps
    def v(x: Double, y: Double) = Seq(x, y)
    // watch-list queries are literal broadcast state; the stream side is
    // one scan + filter (zero exchanges), so it runs per micro-batch
    // unchanged — the "alert when anything lands near this vector" shape
    val queries = Seq(100L -> v(1.0, 0.0)).toDF("vec_id", "embedding")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val rows = Seq(1L -> v(0.95, 0.1), 2L -> v(0.0, 1.0),
      3L -> v(0.9, 0.3))
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-range").toString
    val q = SimilarityOps.rangeSearch(
        stream.toDF().toDF("vec_id", "embedding"), queries, 0.8)
      .writeStream.format("memory").queryName("range_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("range_out")
      .as[(Long, Long, Double)].collect().toSet
    val batched = SimilarityOps.rangeSearch(
        rows.toDF("vec_id", "embedding"), queries, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batched && streamed.map(_._2) == Set(1L, 3L))
  }

  test("streaming percolate: stored bool queries alert on arriving docs") {
    import graft.operators.CorpusOps
    import graft.operators.CorpusOps.BoolQuery
    // the ES percolator shape: queries are REGISTERED, documents stream
    // in, each micro-batch emits which queries its docs satisfy —
    // boolSearch per batch IS the percolator (per-doc verdicts don't
    // depend on other docs, so batch boundaries can't change results)
    val stored = Seq(
      BoolQuery(0L, must = Seq("error"), mustNot = Seq("test")),
      BoolQuery(1L, should = Seq("slow", "timeout"), minShould = 1))
    val arriving = Seq(1L -> "error in prod", 2L -> "error in test run",
      3L -> "slow request", 4L -> "all fine")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val cp = Files.createTempDirectory("graft-perc-cp").toString
    val alerts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val writer = stream.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        alerts ++= CorpusOps.boolSearch(stored, Int.MaxValue)(batch)
          .select("query_id", "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", s"$cp/cp").start()
    try {
      stream.addData(arriving.take(2))
      writer.processAllAvailable()
      stream.addData(arriving.drop(2))
      writer.processAllAvailable()
    } finally writer.stop()
    val batchAll = CorpusOps.boolSearch(stored, Int.MaxValue)(
      arriving.toDF("doc_id", "text"))
      .select("query_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(alerts.toSet == batchAll &&
      batchAll == Set((0L, 1L), (1L, 3L)))
  }

  test("streaming percolate via the stored registry index") {
    import graft.operators.CorpusOps
    import graft.operators.CorpusOps.BoolQuery
    // the registry-scale percolator: queries live in the PERSISTED
    // terms→queries index, docs stream in, and a query registered
    // between micro-batches (a rebuild of the registry) starts matching
    // from the next batch (alerts are forward-only — earlier docs were
    // percolated before it existed, exactly ES percolator semantics)
    val idx = Files.createTempDirectory("graft-perc-idx").toString + "/idx"
    val registry = Seq(
      BoolQuery(0L, must = Seq("error"), mustNot = Seq("test")),
      BoolQuery(1L, should = Seq("slow", "timeout"), minShould = 1))
    CorpusOps.buildPercolateIndex(spark, registry.take(1), idx)
    val arriving = Seq(1L -> "error in prod", 2L -> "error in test run",
      3L -> "slow request", 4L -> "all fine")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val cp = Files.createTempDirectory("graft-perc-idx-cp").toString
    val alerts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val writer = stream.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        alerts ++= CorpusOps.percolate(spark, idx, Int.MaxValue)(batch)
          .select("query_id", "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", s"$cp/cp").start()
    try {
      stream.addData(arriving.take(2))
      writer.processAllAvailable()
      CorpusOps.buildPercolateIndex(spark, registry, idx)
      stream.addData(arriving.drop(2))
      writer.processAllAvailable()
    } finally writer.stop()
    assert(alerts.toSet == Set((0L, 1L), (1L, 3L)))
  }

  test("streaming ingest dedup: each micro-batch checks then joins the store") {
    import graft.operators.DedupOps
    // history 0-4 seeds the store; batches {5,6} then {7,9} stream in,
    // and each batch rebuilds the store over everything seen so far.
    // 7~6 is the load-bearing pair: its history HALF arrived on the
    // stream one batch earlier — the store must already contain it.
    val texts = Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta iota",
      2L -> "one two three four five six seven eight",
      3L -> "red green blue cyan magenta yellow black white",
      4L -> "north south east west up down left right",
      5L -> "alpha beta gamma delta epsilon zeta eta kappa",
      6L -> "one two three four five six seven nine",
      7L -> "one two three four five six seven ten",
      9L -> "red green blue cyan magenta yellow black grey")
    val all = texts.toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft-mh-live").toString + "/s"
    val seen = scala.collection.mutable.ArrayBuffer(
      texts.filter(_._1 < 5L): _*)
    DedupOps.buildMinhashStore(seen.toSeq.toDF("doc_id", "text"), store)
    val flagged = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val cp = Files.createTempDirectory("graft-mh-live-cp").toString
    val writer = stream.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged ++= DedupOps.incrementalNearDupPairs(batch, store)
          .as[(Long, Long, Double)].collect()
        seen ++= batch.as[(Long, String)].collect()
        DedupOps.buildMinhashStore(
          seen.toSeq.toDF("doc_id", "text"), store)
      }
      .option("checkpointLocation", s"$cp/cp").start()
    try {
      stream.addData(texts.filter(t => t._1 == 5L || t._1 == 6L))
      writer.processAllAvailable()
      stream.addData(texts.filter(_._1 >= 7L))
      writer.processAllAvailable()
    } finally writer.stop()
    // streamed flags ≡ the batch pairs whose later half arrived on the
    // stream (b >= 5): vs-history pairs AND the cross-batch (6, 7)
    val expected = DedupOps.minhashLshPairs()(all)
      .filter($"b" >= 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.exists(p => p._1 == 6L && p._2 == 7L))
    assert(flagged.toSet == expected)
  }

  test("gopher rule gate filters a live stream (batch ≡ streaming)") {
    import graft.operators.CorpusOps
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and " * 3 +
        "the end is here"),
      (2L, "the and is"))                  // below the token floor
    stream.addData(rows)
    val out = Files.createTempDirectory("graft-gopher").toString
    val q = CorpusOps.gopherGate(minTokens = 10)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("gopher_out")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val batched = CorpusOps.gopherGate(minTokens = 10)(
        rows.toDF("doc_id", "text"))
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(streamed == batched && streamed == Map(1L -> true, 2L -> false))
  }

  test("DSIR gate scores a live stream through the offline model (batch ≡ streaming)") {
    import graft.operators.CorpusOps
    // offline: model trained on the standing corpus (target = doc 1)
    val corpus = Seq((1L, "alpha beta beta"), (2L, "gamma gamma delta"),
      (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val model = CorpusOps.dsirModel($"doc_id" <= 1L)(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val w = CorpusOps.dsirWeights(model)
    val t = model.map(_._2).sum; val r = model.map(_._3).sum
    val defaultW = math.floor(1000000.0 *
      ((r + CorpusOps.DsirBuckets).toDouble /
        (t + CorpusOps.DsirBuckets).toDouble)).toLong
    // online: fresh docs, one made ONLY of never-modeled tokens — the
    // defaultW path a batch-replay oracle can't reach
    val fresh = Seq((10L, "alpha beta"), (11L, "zzz qqq"))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(fresh)
    val out = Files.createTempDirectory("graft-dsir").toString
    val q = CorpusOps.dsirScore(w, defaultW)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dsir_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dsir_out")
      .select($"doc_id", $"n_tokens", $"score_fp", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val batched = CorpusOps.dsirScore(w, defaultW)(
        fresh.toDF("doc_id", "text"))
      .select($"doc_id", $"n_tokens", $"score_fp", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(streamed == batched)
    // the unseen-vocabulary doc was priced entirely at defaultW
    assert(streamed.exists(r => r._1 == 11L && r._3 == 2 * defaultW))
  }

  test("anomaly alerts fire on a live stream against the offline profile") {
    import graft.streaming.StreamingPipeline
    // offline profile: 'click' averages 2/hour over a 4-hour history
    // (n=4, S=8, Q=18 ⇒ variance 1/2); 9 clicks in one hour is a
    // blowout, 2 is business as usual
    val stats = Seq(("click", 4L, 8L, 18L)).toDF("event_type", "n", "s", "q")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp)]
    def t(s: String) = Timestamp.valueOf(s)
    stream.addData(
      (1 to 9).map(i => ("click", t(s"2024-03-05 10:0$i:00"))) ++
        Seq(("click", t("2024-03-05 11:01:00")),
          ("click", t("2024-03-05 11:02:00"))))
    val out = Files.createTempDirectory("graft-anom").toString
    val q = StreamingPipeline.streamingAnomaly(
        stats, "ts", "1 hour", "30 minutes")(
        stream.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      stream.addData(Seq(("click", t("2024-03-05 23:00:00")))) // close windows
      q.processAllAvailable()
    } finally q.stop()
    val alerts = spark.table("anom_out")
      .select(date_format($"window_start", "HH:mm"), $"doc_count")
      .as[(String, Long)].collect().toSet
    // gate: (4x-8)^2 > 4*(4*18-64) = 32 → |x-2| > 1.41: hour 10 (x=9)
    // alerts, hour 11 (x=2) is quiet
    assert(alerts == Set(("10:00", 9L)))
  }

  test("contamination gate drops benchmark-overlapping docs in-stream") {
    import graft.operators.CorpusOps
    // offline: the eval set's distinct 4-shingles (tiny here; a real
    // benchmark set is also broadcast-sized)
    val evalText = "alpha beta gamma delta epsilon"
    val evalShingles = evalText.split(" ").sliding(4)
      .map(_.mkString(" ")).toSet
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq(
      (1L, s"prefix words beta gamma delta epsilon suffix"), // overlaps
      (2L, "entirely unrelated training document text here")))
    val out = Files.createTempDirectory("graft-contam").toString
    val q = CorpusOps.contaminationGate(evalShingles, k = 4)(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("contam_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("contam_out").select($"doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(2L)) // the doc sharing "beta gamma delta epsilon" dropped
  }

  /** Starts the assembled stream into `sink` with a checkpoint — the
    * default deployment's sink wiring.
    */
  private def startInto(sink: EsHttpSink,
      source: org.apache.spark.sql.DataFrame, checkpoint: String) =
    InjectorOps.pipeline(cfg, schema)(source).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.write(b, id))
      .start()

  test("sink: redelivered micro-batch leaves exactly one doc per id (K2)") {
    implicit val sqlCtx = spark.sqlContext
    val es = new EsStubServer
    val port = es.start()
    val stream = MemoryStream[Msg]
    val dir = Files.createTempDirectory("graft-es").toString
    val sink = new EsHttpSink(s"http://localhost:$port")
    val q = startInto(sink, stream.toDF(), s"$dir/cp")
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch1) // at-least-once redelivery
      q.processAllAvailable()
    } finally { q.stop(); es.stop() }
    assert(es.documents.map(_._2).sorted == Seq("0:1", "0:2", "1:1"))
    assert(sink.conflicts.sum() == 3L)
    assert(sink.inserted.sum() == 3L)
  }

  test("sink: transient failures retry with backoff then succeed (K4)") {
    implicit val sqlCtx = spark.sqlContext
    val es = new EsStubServer
    val port = es.start()
    val stream = MemoryStream[Msg]
    val cp = Files.createTempDirectory("graft-es2").toString + "/cp"
    val sink = new EsHttpSink(s"http://localhost:$port")
    try {
      es.failBulks.set(2) // within the retry budget
      stream.addData(batch1)
      val q = startInto(sink, stream.toDF(), cp)
      try q.processAllAvailable() finally q.stop()
      assert(sink.retries.sum() == 2L && sink.inserted.sum() == 3L)
      assert(es.docCount == 3)
      // K6: the batch commits once the retried write has succeeded
      assert(new java.io.File(s"$cp/commits/0").exists)
    } finally es.stop()
  }

  test("sink: bad records are counted and dropped, not retried (K3)") {
    implicit val sqlCtx = spark.sqlContext
    val es = new EsStubServer
    val port = es.start()
    val stream = MemoryStream[Msg]
    val cp = Files.createTempDirectory("graft-es4").toString + "/cp"
    val sink = new EsHttpSink(s"http://localhost:$port")
    // the stub answers 400 for a doc whose `reject` field is true
    val rejectSchema = schema.add(StructField("reject", BooleanType))
    val q = InjectorOps.pipeline(cfg, rejectSchema)(
        stream.toDF()).writeStream
      .option("checkpointLocation", cp)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.write(b, id))
      .start()
    try {
      stream.addData(batch1 :+
        msg(2, 9L, """{"id":"z","n":-5,"reject":true}""") :+
        msg(2, 10L, """{"id":"y","n":-6,"reject":true}"""))
      q.processAllAvailable()
    } finally { q.stop(); es.stop() }
    assert(sink.badRequests.sum() == 2L && sink.retries.sum() == 0L)
    assert(sink.inserted.sum() == 3L)
    assert(es.documents.map(_._2).sorted == Seq("0:1", "0:2", "1:1"))
    // a dropped doc does not hold the batch back
    assert(new java.io.File(s"$cp/commits/0").exists)
  }

  test("sink: exhausted retries fail the batch instead of wedging (K4)") {
    implicit val sqlCtx = spark.sqlContext
    val es = new EsStubServer
    val port = es.start()
    val stream = MemoryStream[Msg]
    val cp = Files.createTempDirectory("graft-es3").toString + "/cp"
    def sink() = new EsHttpSink(s"http://localhost:$port")
    try {
      es.failBulks.set(Int.MaxValue)
      stream.addData(batch1)
      val failing = sink()
      val q = startInto(failing, stream.toDF(), cp)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(
          "failing the stream")), e.toString)
      assert(!q.isActive && es.docCount == 0)
      // K6: the failed batch's offsets were never committed, so a restart
      // from the same checkpoint replays it once the cluster is back
      assert(!new java.io.File(s"$cp/commits/0").exists)
      es.failBulks.set(0)
      val healthy = sink()
      val q2 = startInto(healthy, stream.toDF(), cp)
      try q2.processAllAvailable() finally q2.stop()
      assert(healthy.inserted.sum() == 3L && es.docCount == 3)
    } finally es.stop()
  }

  test("sink: one evaluation of the batch plan per write, 409s and retries included (K2 scale)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      // probe column: counts per-row evaluations of the micro-batch plan
      val evals = spark.sparkContext.longAccumulator("batch-evals")
      val probe = udf { (id: String) => evals.add(1L); id }
      def batch(rows: Seq[Msg]) = InjectorOps.pipeline(
        cfg, schema)(rows.toDF()).withColumn("doc_id", probe($"doc_id"))
      val fresh = Seq(
        msg(3, 1L, """{"id":"x","n":7}"""),
        msg(3, 2L, """{"id":"y","n":8}"""),
        msg(4, 1L, """{"id":"z","n":9}"""))
      sink.write(batch(batch1), 0L)          // 3 fresh
      sink.write(batch(batch1 ++ fresh), 1L) // 3 conflicts + 3 fresh
      es.failBulks.set(1)
      sink.write(batch(batch1), 2L)          // one 503, then 3 conflicts
      assert(sink.inserted.sum() == 6L && sink.conflicts.sum() == 6L)
      assert(sink.retries.sum() == 1L && es.docCount == 6)
      // retries resend the rows already in hand; neither they nor the
      // 409s re-run the upstream plan
      assert(evals.value == 12L, s"batch rows evaluated ${evals.value}x, want 12")
    } finally es.stop()
  }

  test("metrics listener reports throughput and batch duration (M1-M3)") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.streaming.MetricsListener
    spark.streams.addListener(listener)
    val stream = MemoryStream[Msg]
    stream.addData(batch1)
    val out = Files.createTempDirectory("graft-metrics").toString
    val q = InjectorOps.pipeline(cfg, schema)(stream.toDF())
      .writeStream.format("memory").queryName("metrics_out")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while ((listener.recordsConsumed < 3L || listener.snapshot.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally { q.stop(); spark.streams.removeListener(listener) }
    assert(listener.recordsConsumed == 3L) // M2
    val snap = listener.snapshot.get
    assert(snap.lastAddBatchMs >= 0L) // M3
    assert(!snap.fallingBehind) // M4 analogue on a drained stream
  }

  test("in-stream exact dedup drops duplicate content (batch ≡ streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-03-05 10:00:00")
    val b1 = Seq(
      (1L, "Alpha Beta  Gamma", t0),
      (2L, "alpha beta gamma", t0), // same NORMALIZED content as doc 1
      (3L, "a different document", t0))
    val b2 = Seq((4L, "ALPHA   beta gamma", t0)) // redelivered content
    val stream = MemoryStream[(Long, String, Timestamp)]
    stream.addData(b1)
    val out = Files.createTempDirectory("graft-cdedup").toString
    val q = StreamingPipeline.streamingExactDedup("ts", "1 hour")(
        stream.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("cdedup_out")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      q.processAllAvailable()
      stream.addData(b2) // within the watermark: state still live
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("cdedup_out").select($"doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // first arrival per content hash wins
    // batch ≡ streaming: the batch operator's canonical winners (lowest
    // id per hash = the stream's arrival order here) are the same docs
    val canon = graft.operators.DedupOps.exactDedup()(
        (b1 ++ b2).toDF("doc_id", "text", "ts"))
      .select($"canonical_id").as[Long].collect().toSet
    assert(canon == kept)
  }

  test("in-stream near-dup dedup drops shared-fingerprint docs exact dedup misses") {
    // d2 is a TRUE near-dup of d1: one trailing token appended, so the
    // normalized content hashes differ but the min 5-token-shingle
    // rolling hash (the 1-perm MinHash sketch) is identical
    val d1 = "orange kiwi mango papaya lychee guava"
    val d2 = d1 + " durian"
    val d3 = "completely different set of unrelated tokens here"
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-03-05 10:00:00")
    val stream = MemoryStream[(Long, String, Timestamp)]
    stream.addData(Seq((1L, d1, t0), (2L, d2, t0), (3L, d3, t0)))
    val out = Files.createTempDirectory("graft-fpdedup").toString
    val q = StreamingPipeline.streamingFingerprintDedup("ts", "1 hour")(
        stream.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("fpdedup_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("fpdedup_out").select($"doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // anchor the premise in the batch expressions: all three content
    // hashes are distinct (exact dedup keeps d2), while d1/d2 share the
    // fingerprint (near-dup dedup drops it)
    val sig = Seq(d1, d2, d3).toDF("text")
      .select(graft.operators.TextOps.contentHash($"text").as("ch"),
        graft.operators.TextOps.shingleFingerprint($"text", 5).as("fp"))
      .as[(String, Long)].collect()
    assert(sig.map(_._1).distinct.length == 3)
    assert(sig(0)._2 == sig(1)._2 && sig(0)._2 != sig(2)._2)
  }

  test("offline-derived mixture rates gate a live stream (train/apply split)") {
    import graft.operators.CorpusOps
    // offline: derive the per-source keep rates on a batch corpus where
    // source c dwarfs the others (same skew shape as the batch unit test)
    val corpus = (
      (1 to 10).map(i => (i.toLong, "a")) ++
      (11 to 40).map(i => (i.toLong, "b")) ++
      (41 to 140).map(i => (i.toLong, "c"))
    ).map { case (id, s) => (id, s, "one two three four five") }
      .toDF("doc_id", "source", "text")
    // online: the SAME pure filter applied to a stream must keep exactly
    // the docs the batch apply keeps (mixtureSample's filter is a pure
    // per-row map over a broadcast rate map — batch ≡ streaming)
    val batchKept = CorpusOps.mixtureSample(corpus)
      .select($"doc_id").as[Long].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    stream.addData(corpus.as[(Long, String, String)].collect().toSeq)
    val out = Files.createTempDirectory("graft-mix").toString
    // rates derived offline (one batch aggregate), applied to the
    // stream as the pure filter — re-deriving on the stream would be a
    // streaming aggregate the gate deliberately avoids
    val q = CorpusOps.mixtureSampleWithRates(
        CorpusOps.mixtureRates(corpus))(
        stream.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("mix_out")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("mix_out").select($"doc_id")
      .as[Long].collect().toSet
    assert(streamed == batchKept)
    assert(streamed.nonEmpty && streamed.size < 140)
  }

  test("streaming source-quality dashboard: windowed per-source rollup") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, String, Timestamp)]
    def t(s: String) = Timestamp.valueOf(s)
    stream.addData(Seq(
      (1L, "a", "the and is quick fox", t("2024-03-05 10:01:00")),
      (2L, "a", "the and is quick fox", t("2024-03-05 10:02:00")), // dup
      (3L, "b", "zz yy xx ww", t("2024-03-05 10:03:00")),
      (4L, "a", "le la et un deux", t("2024-03-05 11:01:00")))) // next window
    val out = Files.createTempDirectory("graft-squality").toString
    val q = StreamingPipeline.streamingSourceQuality(
        "ts", "1 hour", "2 hours")(
        stream.toDF().toDF("doc_id", "source", "text", "ts"))
      .writeStream.format("memory").queryName("squality_out")
      .outputMode("append").start()
    try {
      stream.addData(Seq( // advance the watermark far enough to close both
        (9L, "a", "flush row", t("2024-03-05 23:00:00"))))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("squality_out")
      .select($"window_start".cast("string"), $"source", $"n_docs",
        $"total_tokens", $"lang_known_share", $"approx_distinct")
      .as[(String, String, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // window 10:00, source a: 2 docs (1 exact dup pair), 10 tokens, both
    // english-identified; HLL distinct on 1 unique hash = 1
    assert(rows(("2024-03-05 10:00:00", "a")) == ((2L, 10L, 1.0, 1L)))
    // window 10:00, source b: one doc, und language (no markers)
    assert(rows(("2024-03-05 10:00:00", "b")) == ((1L, 4L, 0.0, 1L)))
    // window 11:00, source a: french markers → lang known
    assert(rows(("2024-03-05 11:00:00", "a")) == ((1L, 5L, 1.0, 1L)))
  }

  test("mapGroupsWithState carries per-partition progress across batches (M1)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    val out = Files.createTempDirectory("graft-state").toString
    val q = StreamingPipeline.partitionProgress(stream.toDF())
      .writeStream.format("memory").queryName("progress_out")
      .outputMode("update")
      .option("checkpointLocation", s"$out/cp").start()
    try {
      stream.addData(batch1) // partitions 0 (offsets 1,2) and 1 (offset 1)
      q.processAllAvailable()
      stream.addData(Seq(msg(0, 7L, """{"id":"d","n":4}"""))) // partition 0 only
      q.processAllAvailable()
    } finally q.stop()
    // update mode appends each refresh; the LAST row per partition is the
    // live state: partition 0 saw 3 records up to offset 7 (state carried
    // across batches), partition 1 is untouched by batch 2
    val last = spark.table("progress_out")
      .groupBy($"partition")
      .agg(expr("max_by(highWater, records)").as("hw"),
        max($"records").as("n"))
      .as[(Int, Long, Long)].collect()
      .map { case (p, hw, n) => (p, (hw, n)) }.toMap
    assert(last == Map(0 -> ((7L, 3L)), 1 -> ((1L, 1L))))
  }

  test("windowed throughput: watermarked tumbling counts per window (M2)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    stream.addData(Seq(
      msg(0, 1L, """{"id":"a","n":1}""", "2024-03-05 10:05:00"),
      msg(0, 2L, """{"id":"b","n":2}""", "2024-03-05 10:55:00"),
      msg(1, 3L, """{"id":"c","n":3}""", "2024-03-05 11:05:00")))
    val out = Files.createTempDirectory("graft-win").toString
    val q = StreamingPipeline.windowedThroughput(
        "timestamp", "1 hour", "10 minutes")(stream.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val wins = spark.table("win_out")
      .select(date_format($"window_start", "HH:mm").as("w"), $"n")
      .as[(String, Long)].collect().toSet
    assert(wins == Set(("10:00", 2L), ("11:00", 1L)))
  }

  test("streaming sessionization merges events within the gap (session_window)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Msg]
    // user (partition) 0: two events 10 min apart, then one 2 h later
    // → sessions of 2 and 1; user 1: a single event → session of 1
    stream.addData(Seq(
      msg(0, 1L, """{"id":"a","n":1}""", "2024-03-05 10:00:00"),
      msg(0, 2L, """{"id":"b","n":2}""", "2024-03-05 10:10:00"),
      msg(0, 3L, """{"id":"c","n":3}""", "2024-03-05 12:10:00"),
      msg(1, 4L, """{"id":"d","n":4}""", "2024-03-05 10:00:00")))
    val out = Files.createTempDirectory("graft-sess").toString
    val q = StreamingPipeline.sessionize("partition", "timestamp",
        gap = "30 minutes", watermarkDelay = "10 minutes")(stream.toDF())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete")
      .option("checkpointLocation", s"$out/cp").start()
    try q.processAllAvailable() finally q.stop()
    val sessions = spark.table("sess_out")
      .select($"partition", $"n_events").as[(Int, Long)]
      .collect().toSeq.sorted
    assert(sessions == Seq((0, 1L), (0, 2L), (1, 1L)))
  }
}
