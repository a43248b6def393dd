package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.InjectorOps
import graft.operators.InjectorOps.InjectorConfig
import graft.streaming.{EsHttpSink, InjectorApp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The reference's tier-2 Elasticsearch contract, run against a REAL
  * protocol boundary: [[graft.streaming.EsHttpSink]] speaks actual
  * HTTP `_bulk` NDJSON to an in-JVM server ([[EsStubServer]])
  * implementing create/409/400 semantics — the end-to-end shape of
  * `/root/reference/src/elasticsearch/elasticsearch_test.go:70-146`
  * (insert → readable at `{index}/_doc/{id}`; re-insert → 409 dedup;
  * template check-then-install) and the `@timestamp`/index-name/doc-id
  * assertions of `src/kafka/consumer_test.go:106-147`, minus only the
  * Kafka hop (connector absent from this environment — pinned in
  * StreamingSpec).
  */
class EsHttpSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("n", IntegerType),
    StructField("reject", BooleanType)))
  private val cfg = InjectorConfig()

  private def kafkaFrame(rows: Seq[(Int, Long, String)]) =
    rows.map { case (p, o, json) =>
      Msg(null, json.getBytes("UTF-8"), "my-topic", p, o,
        Timestamp.valueOf("2024-03-05 10:11:12.345"), 0)
    }.toDF()

  private def assembled(rows: Seq[(Int, Long, String)]) =
    assembledWith(cfg)(rows)

  private def assembledWith(c: InjectorConfig)(rows: Seq[(Int, Long, String)]) =
    InjectorOps.pipeline(c, schema)(kafkaFrame(rows))

  test("end-to-end over real HTTP: docs land at <topic>-<date>/_doc/<partition>:<offset> with @timestamp") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Msg]
      val cp = Files.createTempDirectory("graft-eshttp").toString
      val q = InjectorOps.pipeline(cfg, schema)(
          stream.toDF())
        .writeStream
        .option("checkpointLocation", s"$cp/cp")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.write(b, id))
        .start()
      try {
        stream.addData(Seq(
          Msg(null, """{"id":"a","n":1}""".getBytes("UTF-8"), "my-topic",
            0, 1L, Timestamp.valueOf("2024-03-05 10:11:12.345"), 0),
          Msg(null, """{"id":"b","n":2}""".getBytes("UTF-8"), "my-topic",
            1, 7L, Timestamp.valueOf("2024-03-05 10:11:12.345"), 0)))
        q.processAllAvailable()
      } finally q.stop()
      // the reference's end-to-end asserts: index routed by topic+day,
      // id = partition:offset, @timestamp carried from the message
      assert(sink.inserted.sum() == 2 && es.docCount == 2)
      val doc = es.doc("my-topic-2024-03-05", "0:1").get
      assert(doc.contains(""""id":"a"""") && doc.contains(""""n":1"""))
      // @timestamp serializes as epoch millis (the ES `date` type's
      // epoch_millis form): 2024-03-05T10:11:12.345Z
      assert(doc.contains("\"@timestamp\":1709633472345"),
        s"@timestamp must carry the message timestamp: $doc")
      assert(es.doc("my-topic-2024-03-05", "1:7").isDefined)
    } finally es.stop()
  }

  test("redelivered batch dedups server-side via create/409 (K2 on the wire)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      val batch = assembled(Seq(
        (0, 1L, """{"id":"a","n":1}"""), (0, 2L, """{"id":"b","n":2}""")))
      sink.write(batch, 0L)
      sink.write(batch, 0L) // at-least-once redelivery
      assert(sink.inserted.sum() == 2 && sink.conflicts.sum() == 2)
      assert(es.docCount == 2, "conflicts must not duplicate documents")
    } finally es.stop()
  }

  test("400-rejected docs are counted and dropped, never retried; the rest land (K3 on the wire)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      sink.write(assembled(Seq(
        (0, 1L, """{"id":"a","n":1}"""),
        (0, 2L, """{"id":"bad","n":0,"reject":true}"""),
        (0, 3L, """{"id":"c","n":3}"""))), 0L)
      assert(sink.inserted.sum() == 2 && sink.badRequests.sum() == 1)
      assert(sink.retries.sum() == 0, "a 400 must not consume retries")
      assert(es.docCount == 2 &&
        es.doc("my-topic-2024-03-05", "0:2").isEmpty)
    } finally es.stop()
  }

  test("transient 503s retry with bounded backoff, then succeed; exhaustion fails the stream (K4)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      es.failBulks.set(2)
      sink.write(assembled(Seq((0, 1L, """{"id":"a","n":1}"""))), 0L)
      assert(sink.inserted.sum() == 1 && sink.retries.sum() == 2)
      // a longer outage than the budget fails the stream instead of
      // wedging (SURVEY §7.5.5)
      es.failBulks.set(10)
      val e = intercept[org.apache.spark.SparkException] {
        new EsHttpSink(s"http://localhost:$port")
          .write(assembled(Seq((0, 9L, """{"id":"z","n":9}"""))), 1L)
      }
      assert(e.getMessage.contains("failing the stream") ||
        Option(e.getCause).exists(_.getMessage.contains("failing the stream")))
    } finally es.stop()
  }

  test("InjectorApp composes with the HTTP sink: env config → pipeline → real _bulk → probes") {
    val es = new EsStubServer
    val port = es.start()
    val dir = Files.createTempDirectory("graft-app-http").toString
    try {
      val cfg = InjectorApp.fromEnv(Map(
        "KAFKA_TOPICS" -> "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
        "K8S_LIVENESS_ROUTE" -> "/live",
        "K8S_READINESS_ROUTE" -> "/ready",
        "PROBES_PORT" -> "0",
        "CHECKPOINT_LOCATION" -> s"$dir/cp"))
      val sink = new EsHttpSink(s"http://localhost:$port")
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Msg]
      stream.addData(Seq(
        Msg(null, """{"id":"a","n":1}""".getBytes("UTF-8"), "my-topic",
          0, 1L, Timestamp.valueOf("2024-03-05 10:11:12.345"), 0)))
      val (q, probes) = InjectorApp.start(spark, cfg, jsonSchema = schema,
        source = Some(stream.toDF()),
        startSink = Some(a => a.writeStream
          .option("checkpointLocation", s"$dir/cp")
          .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
            sink.write(b, id))
          .start()))
      try {
        q.processAllAvailable()
        assert(sink.inserted.sum() == 1)
        assert(es.doc("my-topic-2024-03-05", "0:1").exists(
          _.contains(""""id":"a"""")))
        val c = new java.net.URL(
          s"http://127.0.0.1:${probes.boundPort}/ready").openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        val ready = try c.getResponseCode finally c.disconnect()
        assert(ready == 200)
      } finally { q.stop(); probes.stop() }
    } finally es.stop()
  }

  test("hostile doc-ids (quote/backslash/newline) land verbatim — the action line is serialized, not interpolated (codec.go:77-90 contract)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      // R4 column-routed doc id: the payload column supplies ARBITRARY
      // strings (the reference accepts any), including JSON metachars
      // that would frame-shift a string-interpolated NDJSON action line
      val idCfg = InjectorConfig(docIdColumn = Some("id"))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def payload(id: String, n: Int): String = {
        val o = mapper.createObjectNode()
        o.put("id", id); o.put("n", n)
        mapper.writeValueAsString(o)
      }
      val hostiles = Seq("a\"quote", "back\\slash", "new\nline", "tab\tand\"\\\nall")
      val rows = hostiles.zipWithIndex.map { case (id, i) =>
        (0, i.toLong, payload(id, i))
      }
      sink.write(assembledWith(idCfg)(rows), 0L)
      assert(sink.inserted.sum() == hostiles.size &&
        sink.badRequests.sum() == 0,
        "every hostile-id doc must create cleanly — a 400 here means the NDJSON frame broke")
      assert(es.docCount == hostiles.size)
      hostiles.zipWithIndex.foreach { case (id, i) =>
        val doc = es.doc("my-topic-2024-03-05", id)
        assert(doc.isDefined, s"doc with id <$id> must exist under that exact id")
        assert(doc.get.contains(s""""n":$i"""), s"payload for <$id> intact")
      }
      // and redelivery still dedups on the hostile ids (K2 unaffected)
      sink.write(assembledWith(idCfg)(rows), 1L)
      assert(sink.conflicts.sum() == hostiles.size && es.docCount == hostiles.size)
    } finally es.stop()
  }

  test("a 2xx response with fewer items than docs sent is a whole-request failure — no row silently uncounted") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      es.truncateItems.set(1)
      sink.write(assembled(Seq(
        (0, 1L, """{"id":"a","n":1}"""), (0, 2L, """{"id":"b","n":2}"""))), 0L)
      // first POST stored both docs but answered for one → retried whole,
      // second POST answers 409 for both: every row is ACCOUNTED
      assert(sink.retries.sum() == 1, "truncated response must consume a retry")
      assert(sink.inserted.sum() + sink.conflicts.sum() == 2,
        "every row must be counted exactly once after the retry")
      assert(es.docCount == 2)
    } finally es.stop()
  }

  test("a 2xx body that is not a bulk response routes into bounded retry, not an uncaught task failure") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      es.garbageBulks.set(1)
      sink.write(assembled(Seq((0, 1L, """{"id":"a","n":1}"""))), 0L)
      assert(sink.retries.sum() == 1 && sink.inserted.sum() == 1)
      // exhaustion on persistent garbage fails the stream like any outage
      es.garbageBulks.set(10)
      val e = intercept[org.apache.spark.SparkException] {
        new EsHttpSink(s"http://localhost:$port")
          .write(assembled(Seq((0, 9L, """{"id":"z","n":9}"""))), 1L)
      }
      assert(e.getMessage.contains("failing the stream") ||
        Option(e.getCause).exists(_.getMessage.contains("failing the stream")))
    } finally es.stop()
  }

  test("readiness follows the sink ping: outage flips /ready to 500, recovery flips it back (reference ReadinessCheck = ES ping)") {
    val es = new EsStubServer
    val port = es.start()
    val dir = Files.createTempDirectory("graft-app-ready").toString
    try {
      val cfg = InjectorApp.fromEnv(Map(
        "KAFKA_TOPICS" -> "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
        "PROBES_PORT" -> "0",
        "CHECKPOINT_LOCATION" -> s"$dir/cp"))
      val sink = new EsHttpSink(s"http://localhost:$port")
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Msg]
      val (q, probes) = InjectorApp.start(spark, cfg, jsonSchema = schema,
        source = Some(stream.toDF()),
        startSink = Some(a => a.writeStream
          .option("checkpointLocation", s"$dir/cp")
          .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
            sink.write(b, id))
          .start()),
        sinkPing = Some(() => sink.ping()))
      def ready(): Int = {
        val c = new java.net.URL(
          s"http://127.0.0.1:${probes.boundPort}/readiness").openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try c.getResponseCode finally c.disconnect()
      }
      try {
        q.processAllAvailable()
        assert(ready() == 200, "healthy sink + live query → ready")
        es.healthDown.set(true)
        assert(ready() == 500, "sink outage must flip the pod unready")
        es.healthDown.set(false)
        assert(ready() == 200, "recovery flips it back without a restart")
      } finally { q.stop(); probes.stop() }
    } finally es.stop()
  }

  test("hour-suffix routing lands end-to-end and the installed template pattern covers BOTH day and hour indices (R2/R3 × template parity)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      // install the template exactly as the startup path does
      val sink = new EsHttpSink(s"http://localhost:$port")
      assert(sink.ensureTemplate("my-topic"))
      val body = es.template("my-topic").get
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val pattern = mapper.readTree(body).get("template").asText()
      def covers(index: String): Boolean =
        java.util.regex.Pattern.matches(
          pattern.split("\\*", -1).map(java.util.regex.Pattern.quote)
            .mkString(".*"), index)
      // hour-suffixed pipeline over the wire
      val hourCfg = InjectorConfig(
        timeSuffix = graft.operators.InjectorOps.HourSuffix)
      sink.write(assembledWith(hourCfg)(
        Seq((0, 1L, """{"id":"a","n":1}"""))), 0L)
      assert(sink.inserted.sum() == 1)
      // message ts 2024-03-05 10:11:12 → hour bucket -10
      assert(es.doc("my-topic-2024-03-05-10", "0:1").isDefined,
        "hour suffix must route to <topic>-<yyyy-MM-dd-HH>")
      assert(covers("my-topic-2024-03-05-10"),
        s"template pattern <$pattern> must cover the hour-suffixed index")
      assert(covers("my-topic-2024-03-05"),
        s"template pattern <$pattern> must cover the day-suffixed index")
      assert(!covers("other-topic-2024-03-05"),
        "pattern must not claim other topics' indices")
    } finally es.stop()
  }

  test("ensureTemplate installs once over REAL HTTP (check-then-install, K-template)") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      assert(!es.hasTemplate("my-topic"))
      assert(sink.ensureTemplate("my-topic"))
      assert(es.hasTemplate("my-topic"))
      // idempotent second call: HEAD finds it, no re-PUT
      assert(!sink.ensureTemplate("my-topic"))
      assert(es.requests.asScala.count(_._1 == "PUT") == 1)
    } finally es.stop()
  }

  test("ensureTemplate installs once, idempotently, before first insert") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      assert(sink.ensureTemplate("my-topic"))
      // reference-shaped default body: wildcard pattern over the routed
      // day/hour indices, exact-match strings, typed @timestamp
      val body = es.template("my-topic").get
      assert(body.contains("\"template\": \"my-topic-*\""))
      assert(body.contains("\"match_mapping_type\": \"string\""))
      assert(body.contains("\"@timestamp\": {\"type\": \"date\"}"))
      sink.write(assembled(Seq((0, 1L, """{"id":"a","n":1}"""))), 0L)
      // a second call sees it installed and does NOT re-PUT
      assert(!sink.ensureTemplate("my-topic"))
      val calls = es.requests.asScala.toSeq.map(r => s"${r._1} ${r._2}")
      assert(calls.count(_ == "PUT /_template/my-topic") == 1)
      assert(calls.indexOf("PUT /_template/my-topic") <
        calls.indexOf("POST /_bulk"), calls.mkString(", "))
      assert(es.template("my-topic").contains(body))
    } finally es.stop()
  }

  test("default InjectorApp.start deploys the HTTP sink: template before the first insert, docs over _bulk, readiness on GET /") {
    val es = new EsStubServer
    val port = es.start()
    val dir = Files.createTempDirectory("graft-app-default").toString
    try {
      val env = InjectorApp.fromEnv(Map(
        "KAFKA_TOPICS" -> "my-topic,views",
        "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
        "ES_INDEX_TEMPLATE" -> "true",
        "PROBES_PORT" -> "0",
        "CHECKPOINT_LOCATION" -> s"$dir/cp"))
      val cfg = env.copy(sink = env.sink.copy(url = s"http://localhost:$port"))
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Msg]
      stream.addData(Seq(
        Msg(null, """{"id":"a","n":1}""".getBytes("UTF-8"), "my-topic",
          0, 1L, Timestamp.valueOf("2024-03-05 10:11:12.345"), 0),
        Msg(null, """{"id":"v","n":2}""".getBytes("UTF-8"), "views",
          0, 2L, Timestamp.valueOf("2024-03-05 10:11:12.345"), 0)))
      // no startSink, no sinkPing: the production defaults
      val (q, probes) = InjectorApp.start(spark, cfg, jsonSchema = schema,
        source = Some(stream.toDF()))
      def ready(): Int = {
        val c = new java.net.URL(
          s"http://127.0.0.1:${probes.boundPort}/readiness").openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try c.getResponseCode finally c.disconnect()
      }
      try {
        q.processAllAvailable()
        assert(es.doc("my-topic-2024-03-05", "0:1").exists(
          _.contains(""""id":"a"""")))
        // each record lands in its own topic's index
        assert(es.doc("views-2024-03-05", "0:2").exists(
          _.contains(""""id":"v"""")))
        assert(es.doc("my-topic-2024-03-05", "0:2").isEmpty)
        val calls = es.requests.asScala.toSeq.map(r => s"${r._1} ${r._2}")
        for (t <- Seq("my-topic", "views")) {
          val put = calls.indexOf(s"PUT /_template/$t")
          assert(put >= 0 && put < calls.indexOf("POST /_bulk"),
            s"template must be installed before the first insert: $calls")
        }
        assert(ready() == 200)
        es.healthDown.set(true)
        assert(ready() == 500, "the default ping must follow GET /")
        es.healthDown.set(false)
        assert(ready() == 200)
      } finally { q.stop(); probes.stop() }
    } finally es.stop()
  }

  test("https with ELASTICSEARCH_IGNORE_CERT=true reaches a self-signed cluster; without it the certificate is refused") {
    val es = new EsStubServer
    val port = es.start(Some(EsStubServer.selfSigned()))
    try {
      def conf(env: Map[String, String]) = InjectorApp.fromEnv(
        env + ("ELASTICSEARCH_SCHEME" -> "https")).sink
        .copy(url = s"https://localhost:$port")
      val trusting =
        new EsHttpSink(conf(Map("ELASTICSEARCH_IGNORE_CERT" -> "true")))
      assert(trusting.ping())
      trusting.write(assembled(Seq((0, 1L, """{"id":"a","n":1}"""))), 0L)
      assert(trusting.inserted.sum() == 1 && es.docCount == 1)
      assert(trusting.ensureTemplate("my-topic"))
      assert(!new EsHttpSink(conf(Map.empty)).ping(),
        "a self-signed certificate must be refused unless ignored")
    } finally es.stop()
  }

  test("basic auth from ELASTICSEARCH_USER/PASSWORD rides on _bulk, GET / and _template; none is sent when unset") {
    val es = new EsStubServer
    val port = es.start()
    try {
      def exercise(env: Map[String, String]): Set[Option[String]] = {
        es.requests.clear()
        val conf = InjectorApp.fromEnv(env).sink
        val sink = new EsHttpSink(conf.copy(url = s"http://localhost:$port"))
        sink.write(assembled(Seq((0, 1L, """{"id":"a","n":1}"""))), 0L)
        assert(sink.ping())
        sink.ensureTemplate("my-topic")
        val seen = es.requests.asScala.toSeq
        assert(Set("POST /_bulk", "GET /", "HEAD /_template/my-topic")
          .subsetOf(seen.map(r => s"${r._1} ${r._2}").toSet))
        seen.map(_._3).toSet
      }
      val basic = "Basic " + java.util.Base64.getEncoder
        .encodeToString("u:p".getBytes("UTF-8"))
      assert(exercise(Map("ELASTICSEARCH_USER" -> "u",
        "ELASTICSEARCH_PASSWORD" -> "p")) == Set(Some(basic)))
      assert(exercise(Map.empty) == Set(None))
    } finally es.stop()
  }

  // ------------------------------------------- bodies from planned rows

  /** The `_bulk` lines of each row as the sink built them from a second
    * plan: string casts and `to_json`, then one `ObjectMapper` action
    * node per row. The reference form of [[EsHttpSink.write]]'s bytes.
    */
  private def plannedTwiceLines(batch: DataFrame): Seq[Array[Byte]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    batch.select(col("es_index").cast("string"), col("doc_id").cast("string"),
        to_json(col("payload")))
      .as[(String, String, String)].collect().toSeq.map { case (idx, id, doc) =>
        val action = mapper.createObjectNode()
        action.putObject("create").put("_index", idx).put("_id", id)
        (mapper.writeValueAsString(action) + "\n" + doc + "\n")
          .getBytes("UTF-8")
      }
  }

  /** The one body `write` sends for a one-partition `batch` equals, byte
    * for byte, the body of the reference form.
    */
  private def assertSameBytes(batch: DataFrame): Unit = {
    val es = new EsStubServer
    val port = es.start()
    try {
      new EsHttpSink(s"http://localhost:$port").write(batch, 0L)
      assert(es.bulkBodies.size == 1)
      val sent = es.bulkBodies.peek()
      val reference = plannedTwiceLines(batch).flatten.toArray
      assert(sent.sameElements(reference), s"\nsent:\n" +
        new String(sent, "UTF-8") + "\nreference:\n" +
        new String(reference, "UTF-8"))
    } finally es.stop()
  }

  test("bulk bodies from the planned rows are byte-equal to the to_json + ObjectMapper form: hostile and null ids, rich payloads") {
    val ids = Seq[(String, String)](
      ("plain", "a\"quote"), ("back\\slash", "back\\slash"),
      ("new\nline", "tab\tand\"\\\nall"),
      ("ünïcødé-索引", "emoji \uD83D\uDE00 ctl \u0001\u001f\u007f \u2028 / end"),
      (null, null), ("x", null), (null, "y"))
    val batch = ids.zipWithIndex.map { case ((i, d), k) => (i, d, k) }
      .toDF("es_index", "doc_id", "k")
      .select(col("es_index"), col("doc_id"), struct(
        col("k").as("n"),
        struct(col("k").as("x"), lit("é \"q\" \\ \n").as("s")).as("nested"),
        array(col("k"), col("k") + 1).as("arr"),
        map(lit("a\"b"), col("k"), lit("c"), lit(null).cast("int")).as("m"),
        (col("k").cast("decimal(12,4)") / 7).cast("decimal(12,4)").as("dec"),
        date_add(lit("2024-03-05").cast("date"), col("k")).as("day"),
        timestamp_micros(lit(1709633472345678L) + col("k") * 3601000001L)
          .as("ts"),
        lit(null).cast("string").as("absent"),
        lit(1709633472345L).as("@timestamp")).as("payload"))
      .coalesce(1)
    assertSameBytes(batch)
  }

  test("bulk bodies: integer es_index/doc_id columns are cast as the plan casts them") {
    val batch = spark.range(0, 6).select(
        when(col("id") === 4, lit(null)).otherwise((col("id") % 3).cast("int"))
          .as("es_index"),
        when(col("id") === 5, lit(null)).otherwise(col("id") * 1000000007L)
          .as("doc_id"),
        struct(col("id").as("n")).as("payload"))
      .coalesce(1)
    assert(batch.schema("es_index").dataType == IntegerType &&
      batch.schema("doc_id").dataType == LongType)
    assertSameBytes(batch)
  }

  test("a 429 item is retried alone, with the byte-identical lines it was first sent with") {
    val es = new EsStubServer
    val port = es.start()
    try {
      val sink = new EsHttpSink(s"http://localhost:$port")
      es.throttleIds.add("0:2"); es.throttleIds.add("0:4")
      sink.write(assembled((1 to 5).map(o =>
        (0, o.toLong, s"""{"id":"é$o","n":$o}"""))).coalesce(1), 0L)
      assert(sink.inserted.sum() == 5 && sink.retries.sum() == 1)
      val sent = es.bulkBodies.asScala.toSeq
      assert(sent.size == 2)
      // one doc = its action line and its source line
      val docs = new String(sent.head, "UTF-8").split("\n").grouped(2)
        .map(_.mkString("", "\n", "\n")).toSeq
      assert(docs.size == 5)
      assert(sent(1).sameElements((docs(1) + docs(3)).getBytes("UTF-8")),
        new String(sent(1), "UTF-8"))
    } finally es.stop()
  }

  test("one wave: an 8-partition batch runs as many write tasks as the default parallelism (4 here)") {
    val r = SinkWave.run(spark)
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(r == SinkWave.Result(8, 4, SinkWave.Docs))
  }

  test("one wave: an 8-partition batch at local[2] runs exactly 2 write tasks (separate JVM)") {
    SinkWave.fork("local[2]") match {
      case Right(r) => assert(r == SinkWave.Result(8, 2, SinkWave.Docs))
      case Left(err) => fail(err)
    }
  }
}
