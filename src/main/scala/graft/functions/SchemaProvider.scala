package graft.functions

import scala.collection.concurrent.TrieMap

/** Writer-schema lookup seam for the registry-dispatched Avro decode —
  * the Spark analogue of the reference's `SchemaRegistry`
  * (reference: src/schema_registry/schema_registry.go:16-38): resolve a
  * Confluent schema-registry id to the writer schema JSON, caching
  * resolved schemas forever (schemas are immutable once registered).
  *
  * Two implementations:
  *  - [[MapSchemaProvider]]: config-frozen map, for the offline harness
  *    and for deployments that pin their schema set.
  *  - [[HttpSchemaProvider]]: the public Confluent REST shape
  *    (`GET {base}/schemas/ids/{id}` -> `{"schema": "..."}`), with the
  *    same cache-forever semantics as the reference client. The fetch
  *    function is injectable so the resolution/caching logic is testable
  *    offline.
  *
  * An id the registry says it does not know yields `None`, which the
  * decode expression turns into a null row (D6 drop semantics) — unlike
  * the reference, which errors the whole poison batch (SURVEY.md
  * §7.5.5). An unavailable registry (connection refused, timeout, any
  * other error status) is not an answer: the lookup throws, so the batch
  * fails before its offsets commit and the restart replays it. Unknown
  * ids are cached only NEGATIVELY with a short TTL: a late registration
  * is picked up after the window, while a topic carrying a
  * poison/unregistered id costs at most one registry GET per TTL per
  * executor instead of one per record — bounded load on the registry at
  * any scale. (The reference stores the result even on error —
  * schema_registry.go:24-26 — which pins an empty schema forever; that
  * is a bug we deliberately do not reproduce.)
  */
trait SchemaProvider extends Serializable {
  /** Writer schema JSON for a registry id; None = unknown. Throws when
    * the registry cannot answer.
    */
  def schemaFor(id: Int): Option[String]
}

/** Config-frozen registry: the offline-harness implementation. */
final case class MapSchemaProvider(schemas: Map[Int, String])
    extends SchemaProvider {
  override def schemaFor(id: Int): Option[String] = schemas.get(id)
}

/** Cache-forever HTTP registry client in the public Confluent REST API
  * shape. One instance is serialized into the decode expression and
  * deserialized per executor; the cache is per-JVM (transient), exactly
  * like the reference's per-process `sync.Map`
  * (schema_registry.go:12-14). At 1000 executors that is one GET per
  * (executor, id) lifetime — negligible against any registry.
  *
  * @param fetch injectable transport: url => response body. It throws
  *              [[HttpSchemaProvider.NotFound]] when the registry answers
  *              that the id is unknown, and anything else when the
  *              registry cannot answer. The default is a plain JDK HTTP
  *              GET; tests inject a fake.
  * @param negativeTtlMs how long an unknown id suppresses re-fetching
  *                      it (default 30 s — picks up a late registration
  *                      quickly, bounds the request rate under a poison
  *                      id)
  * @param nowMs injectable clock, for deterministic TTL tests
  */
final class HttpSchemaProvider(
    val baseUrl: String,
    fetch: String => String = HttpSchemaProvider.httpGet,
    negativeTtlMs: Long = 30000L,
    nowMs: () => Long = () => System.currentTimeMillis())
    extends SchemaProvider {

  @transient private lazy val cache = TrieMap.empty[Int, String]
  // id -> wall-clock expiry of the suppression window
  @transient private lazy val negative = TrieMap.empty[Int, Long]

  override def schemaFor(id: Int): Option[String] =
    cache.get(id).orElse {
      if (negative.get(id).exists(_ > nowMs())) None
      else try {
        val body = fetch(s"$baseUrl/schemas/ids/$id")
        val schema = HttpSchemaProvider.extractSchema(body)
        cache.putIfAbsent(id, schema)
        negative.remove(id)
        Some(schema)
      } catch {
        case _: HttpSchemaProvider.NotFound =>
          // negative-TTL, not cache-forever: retried after the window.
          // Bound the map too: corrupted frames can carry effectively
          // random ids, so sweep expired entries (and, still over the
          // cap, drop the map — worst case is pre-cache behavior) rather
          // than grow one entry per distinct poison id forever.
          if (negative.size >= HttpSchemaProvider.MaxNegativeEntries) {
            val now = nowMs()
            negative.filterInPlace((_, expiry) => expiry > now)
            if (negative.size >= HttpSchemaProvider.MaxNegativeEntries)
              negative.clear()
          }
          negative.put(id, nowMs() + negativeTtlMs)
          None
      }
    }
}

object HttpSchemaProvider {
  /** Cap on tracked unresolvable ids (per JVM); ~16 bytes each. */
  val MaxNegativeEntries: Int = 65536

  /** The registry's answer that it does not know an id: HTTP 404, or
    * Confluent error code 40403 ("schema not found").
    */
  final class NotFound(msg: String) extends RuntimeException(msg)

  /** Minimal JDK transport (no extra dependencies): the body of a 200,
    * [[NotFound]] for an unknown id, an IOException for any other
    * status; connection and read failures propagate.
    */
  def httpGet(url: String): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    conn.setRequestProperty("Accept",
      "application/vnd.schemaregistry.v1+json, application/json")
    def read(in: java.io.InputStream): String =
      if (in == null) ""
      else {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.mkString finally src.close()
      }
    try {
      val status = conn.getResponseCode
      if (status == 200) read(conn.getInputStream)
      else {
        val body = read(conn.getErrorStream)
        if (status == 404 || errorCode(body).contains(40403))
          throw new NotFound(s"$url: $status $body")
        throw new java.io.IOException(
          s"schema registry unavailable: $url answered $status $body")
      }
    } finally conn.disconnect()
  }

  /** The `error_code` of a Confluent error body, if it has one. */
  private def errorCode(body: String): Option[Int] =
    scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body).get("error_code")).toOption
      .filter(n => n != null && n.isInt).map(_.asInt)

  /** Pull the `schema` field out of the registry response
    * (`{"schema": "<escaped json>"}`) with the Jackson that ships in
    * Spark's classpath.
    */
  def extractSchema(responseBody: String): String = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(responseBody)
    val s = node.get("schema")
    require(s != null && s.isTextual, s"no 'schema' field in $responseBody")
    s.asText()
  }
}
