package graft

import graft.functions.{AvroWire, MapSchemaProvider}
import org.apache.spark.sql.functions._

/** Mirrors the reference's Avro fixtures (src/kafka/fixtures/fixtures.go:
  * 15-35 — FixtureRecord {"id": int} in Confluent wire format) plus the
  * error semantics of encode_decode.go: bad magic, unknown id, truncated
  * body all drop (null), never throw.
  */
class AvroWireSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureSchema =
    """{"type":"record","name":"FixtureRecord",
       "fields":[{"name":"id","type":"int"}]}""".replaceAll("\n\\s*", "")

  private def wireDf(rows: Array[Byte]*) =
    rows.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("n", "value")

  test("roundtrip: encode then decode recovers the record") {
    val bytes = AvroWire.encodeConfluent(7, fixtureSchema, Map("id" -> 42))
    val out = wireDf(bytes).select(
      AvroWire.fromConfluentAvro($"value", fixtureSchema,
        MapSchemaProvider(Map(7 -> fixtureSchema)))("id")).as[Int].head()
    assert(out == 42)
  }

  test("schema id: big-endian bytes 1-4, negative ids preserved") {
    val pos = AvroWire.encodeConfluent(66051, fixtureSchema, Map("id" -> 1))
    val neg = AvroWire.encodeConfluent(-2, fixtureSchema, Map("id" -> 1))
    val ids = wireDf(pos, neg).orderBy($"n")
      .select(AvroWire.schemaId($"value")).as[Int].collect()
    assert(ids.toSeq == Seq(66051, -2))
  }

  test("unknown schema id decodes to null (drop, not error)") {
    val bytes = AvroWire.encodeConfluent(9, fixtureSchema, Map("id" -> 1))
    val out = wireDf(bytes).select(
      AvroWire.fromConfluentAvro($"value", fixtureSchema,
        MapSchemaProvider(Map(7 -> fixtureSchema))).isNull).as[Boolean].head()
    assert(out)
  }

  test("bad magic byte and truncated value decode to null") {
    val good = AvroWire.encodeConfluent(7, fixtureSchema, Map("id" -> 1))
    val badMagic = good.clone(); badMagic(0) = 1
    val short = good.take(4)
    val out = wireDf(badMagic, short).select(
      AvroWire.fromConfluentAvro($"value", fixtureSchema,
        MapSchemaProvider(Map(7 -> fixtureSchema))).isNull).as[Boolean].collect()
    assert(out.toSeq == Seq(true, true))
  }

  test("rich type surface: map, logical types, enum, union, nested, fixed") {
    val bytes = graft.queries.AvroQueries.richEncode(11L, 205L, "click",
      1700000000123456L)
    val row = wireDf(bytes).select(
      AvroWire.fromConfluentAvro($"value", graft.queries.AvroQueries.richSchema,
        MapSchemaProvider(Map(7 -> graft.queries.AvroQueries.richSchema)))
        .as("p"))
      .select($"p.tags"("uid"), $"p.amount".cast("string"),
        $"p.day".cast("string"), unix_millis($"p.ts_ms"),
        unix_micros($"p.ts_us"), $"p.flag", $"p.alt.member0",
        $"p.alt.member1", $"p.items"(0)("v"), lower(hex($"p.fid")))
      .head()
    assert(row.getLong(0) == 205L)          // map value
    assert(row.getString(1) == "11.05")     // decimal(18,2): 11*100+205%100
    assert(row.getString(2) == "2023-11-14") // date from epoch-days
    assert(row.getLong(3) == 1700000000123L) // timestamp-millis
    assert(row.getLong(4) == 1700000000123456L) // timestamp-micros
    assert(row.getString(5) == "C")         // enum: 11 % 3 = 2
    assert(row.isNullAt(6))                 // union: odd id -> string branch
    assert(row.getString(7) == "click")
    assert(row.getLong(8) == 11L)           // nested record in array
    assert(row.getString(9) == "0000000b")  // fixed(4), big-endian id
  }

  test("schema provider: http shape caches, miss is dropped not cached") {
    import graft.functions.HttpSchemaProvider
    // locals only: the lambda is serialized into the decode expression, so
    // it must not capture the (non-serializable) test class
    val response = s"""{"schema": ${com.fasterxml.jackson.databind.json
      .JsonMapper.builder().build().writeValueAsString(fixtureSchema)}}"""
    var calls = 0
    // the fake registry knows id 7 and answers every other id with a 404
    val provider = new HttpSchemaProvider("http://registry:8081", url => {
      calls += 1
      if (url.endsWith("/schemas/ids/7")) response
      else throw new HttpSchemaProvider.NotFound(s"404 $url")
    })
    assert(provider.schemaFor(7).contains(fixtureSchema))
    assert(provider.schemaFor(7).contains(fixtureSchema))
    assert(calls == 1) // resolved schema cached forever
    assert(provider.schemaFor(9).isEmpty)
    assert(provider.schemaFor(9).isEmpty)
    assert(calls == 2) // repeat miss inside the negative TTL: no re-fetch

    // end-to-end: decode through the provider; unknown id -> null row
    val good = AvroWire.encodeConfluent(7, fixtureSchema, Map("id" -> 5))
    val unknown = AvroWire.encodeConfluent(9, fixtureSchema, Map("id" -> 6))
    val out = wireDf(good, unknown).orderBy($"n").select(
      AvroWire.fromConfluentAvro($"value", fixtureSchema, provider)("id"))
      .as[Option[Int]].collect()
    assert(out.toSeq == Seq(Some(5), None))
  }

  test("schema provider: negative TTL bounds poison-id fetches, then recovers") {
    import graft.functions.HttpSchemaProvider
    var calls = 0
    var registered = false // flips true to simulate late registration
    var clock = 1000L
    val response = s"""{"schema": ${com.fasterxml.jackson.databind.json
      .JsonMapper.builder().build().writeValueAsString(fixtureSchema)}}"""
    // the fake registry answers 404 (unknown id) until the id registers
    val provider = new HttpSchemaProvider("http://registry:8081", url => {
      calls += 1
      if (registered) response
      else throw new HttpSchemaProvider.NotFound(s"404 $url")
    }, negativeTtlMs = 30000L, nowMs = () => clock)
    assert(provider.schemaFor(9).isEmpty && calls == 1) // first miss fetches
    clock += 10000L
    assert(provider.schemaFor(9).isEmpty && calls == 1) // inside TTL: no fetch
    clock += 25000L // 35 s past the miss — window expired
    assert(provider.schemaFor(9).isEmpty && calls == 2) // re-fetches
    registered = true
    clock += 35000L
    // after the outage ends, the id resolves and is then cached forever
    assert(provider.schemaFor(9).contains(fixtureSchema) && calls == 3)
    clock += 60000L
    assert(provider.schemaFor(9).contains(fixtureSchema) && calls == 3)
  }

  test("schema evolution mid-stream: defaulted reader fields fill from old writers") {
    // a topic carrying BOTH schema generations at once — the case the
    // registry dispatch exists for (schema_registry.go caches per id):
    // v1 messages lack `tag`; the v2 reader's default must fill it.
    val writerV1 = """{"type":"record","name":"E","fields":[
      {"name":"id","type":"int"}]}""".replaceAll("\n\\s*", "")
    val readerV2 = """{"type":"record","name":"E","fields":[
      {"name":"id","type":"int"},
      {"name":"tag","type":"string","default":"none"}]}"""
      .replaceAll("\n\\s*", "")
    val oldMsg = AvroWire.encodeConfluent(1, writerV1, Map("id" -> 5))
    val newMsg = AvroWire.encodeConfluent(2, readerV2,
      Map("id" -> 6, "tag" -> "fresh"))
    val out = wireDf(oldMsg, newMsg).orderBy($"n")
      .select(AvroWire.fromConfluentAvro($"value", readerV2,
        MapSchemaProvider(Map(1 -> writerV1, 2 -> readerV2))).as("p"))
      .select($"p.id", $"p.tag").as[(Int, String)].collect()
    assert(out.toSeq == Seq((5, "none"), (6, "fresh")))
  }

  test("http registry: decode resolves schemas over live HTTP (fixture server)") {
    import com.sun.net.httpserver.HttpServer
    val body = s"""{"schema": ${com.fasterxml.jackson.databind.json
      .JsonMapper.builder().build().writeValueAsString(fixtureSchema)}}"""
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/schemas/ids/7", ex => {
      val b = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type",
        "application/vnd.schemaregistry.v1+json")
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    // any other id: 404 like a real registry's unknown-schema answer
    server.createContext("/", ex => {
      ex.sendResponseHeaders(404, -1L); ex.close()
    })
    server.start()
    try {
      // DEFAULT transport — a real JDK GET against the fixture server
      val provider = new graft.functions.HttpSchemaProvider(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val good = AvroWire.encodeConfluent(7, fixtureSchema, Map("id" -> 11))
      val unknown = AvroWire.encodeConfluent(8, fixtureSchema, Map("id" -> 12))
      val out = wireDf(good, unknown).orderBy($"n").select(
        AvroWire.fromConfluentAvro($"value", fixtureSchema, provider)("id"))
        .as[Option[Int]].collect()
      assert(out.toSeq == Seq(Some(11), None)) // 404 id -> dropped row
    } finally server.stop(0)
  }

  test("multi-schema dispatch resolves different field orders") {
    val w0 = """{"type":"record","name":"R","fields":[
      {"name":"a","type":"int"},{"name":"b","type":"string"}]}"""
      .replaceAll("\n\\s*", "")
    val w1 = """{"type":"record","name":"R","fields":[
      {"name":"b","type":"string"},{"name":"a","type":"int"}]}"""
      .replaceAll("\n\\s*", "")
    val r0 = AvroWire.encodeConfluent(0, w0, Map("a" -> 1, "b" -> "x"))
    val r1 = AvroWire.encodeConfluent(1, w1, Map("a" -> 2, "b" -> "y"))
    val out = wireDf(r0, r1).orderBy($"n")
      .select(AvroWire.fromConfluentAvro($"value", w0,
        MapSchemaProvider(Map(0 -> w0, 1 -> w1))))
      .select($"from_confluent_avro(value).a", $"from_confluent_avro(value).b")
      .as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "x"), (2, "y")))
  }
}
