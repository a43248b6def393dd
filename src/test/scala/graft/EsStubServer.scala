package graft

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator,
  HttpsServer}

/** In-JVM HTTP server implementing the slice of the Elasticsearch REST
  * API the reference's sink and template bootstrap touch — the offline
  * dual of its tier-2 integration tests
  * (/root/reference/src/elasticsearch/elasticsearch_test.go:70-146):
  * `POST /_bulk` with per-item create semantics (201 / 409 on existing
  * id / 400 on an unindexable doc), `GET /{index}/_doc/{id}`, and
  * `HEAD|PUT /_template/{name}`. Real TCP, real NDJSON parsing, real
  * status routing — so [[graft.streaming.EsHttpSink]] is exercised on
  * the actual protocol rather than an injected seam. `failBulks`
  * injects whole-request 503s for the bounded-retry contract; `requests`
  * logs every call with its `Authorization` header.
  */
final class EsStubServer {
  private val docs = new ConcurrentHashMap[String, String]()
  private val templates = new ConcurrentHashMap[String, String]()
  val failBulks = new AtomicInteger(0)
  /** Next N `_bulk` responses drop their LAST item (docs still stored) —
    * the truncated-2xx case the sink must treat as a whole-request
    * failure rather than silently un-counting the unmatched rows.
    */
  val truncateItems = new AtomicInteger(0)
  /** Next N `_bulk` responses answer 200 with a body that is NOT a bulk
    * response (no `items`) — must route into bounded retry, not escape
    * as an uncaught task failure.
    */
  val garbageBulks = new AtomicInteger(0)
  /** Docs whose id is in this set answer 429 once (not stored), then
    * leave the set: the per-item throttle the sink retries positionally.
    */
  val throttleIds = ConcurrentHashMap.newKeySet[String]()
  /** Every `_bulk` request body, byte for byte, in arrival order. */
  val bulkBodies = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
  /** When true, `GET /` (the readiness ping endpoint) answers 503. */
  val healthDown = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Every request as (method, path, `Authorization` header), in arrival
    * order.
    */
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, String, Option[String])]()
  @volatile private var server: HttpServer = _

  /** Serves plain http, or https with `tls`'s certificate. */
  def start(tls: Option[javax.net.ssl.SSLContext] = None): Int = {
    server = tls match {
      case Some(ctx) =>
        val s = HttpsServer.create(new InetSocketAddress(0), 0)
        s.setHttpsConfigurator(new HttpsConfigurator(ctx))
        s
      case None => HttpServer.create(new InetSocketAddress(0), 0)
    }
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  def doc(index: String, id: String): Option[String] =
    Option(docs.get(s"$index/$id"))

  def docCount: Int = docs.size

  /** Every stored document as (index, id, source JSON). */
  def documents: Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    docs.asScala.toSeq.map { case (k, d) =>
      val slash = k.indexOf('/')
      (k.take(slash), k.drop(slash + 1), d)
    }
  }

  def hasTemplate(name: String): Boolean = templates.containsKey(name)

  def template(name: String): Option[String] = Option(templates.get(name))

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    // HEAD and empty bodies use -1 (no body); sendResponseHeaders with 0
    // would mean chunked-until-close
    if (ex.getRequestMethod == "HEAD" || b.isEmpty)
      ex.sendResponseHeaders(status, -1)
    else {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, b.length.toLong)
      val os = ex.getResponseBody
      try os.write(b) finally os.close()
    }
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    requests.add((method, path,
      Option(ex.getRequestHeaders.getFirst("Authorization"))))
    (method, path) match {
      case ("GET", "/") => // cluster-info root: the readiness ping target
        if (healthDown.get)
          respond(ex, 503, """{"error":"injected outage"}""")
        else respond(ex, 200, """{"name":"es-stub","version":{}}""")
      case ("POST", "/_bulk") =>
        val raw = org.apache.commons.io.IOUtils.toByteArray(ex.getRequestBody)
        bulkBodies.add(raw)
        if (failBulks.getAndUpdate(n => math.max(0, n - 1)) > 0)
          respond(ex, 503, """{"error":"injected unavailability"}""")
        else if (garbageBulks.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          // docs intentionally NOT stored: answer a 2xx that is not a
          // bulk response at all
          respond(ex, 200, """{"ok":true}""")
        } else {
          val body = new String(raw, "UTF-8")
          val lines = body.split("\n").filter(_.nonEmpty)
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val items = Seq.newBuilder[String]
          var errors = false
          var i = 0
          // pairs of (action, doc) lines; a trailing action without its
          // doc is a malformed request and simply isn't consumed
          while (i + 1 < lines.length) {
            val action = mapper.readTree(lines(i))
            val create = action.get("create")
            require(create != null, s"only create is implemented: ${lines(i)}")
            val index = create.get("_index").asText()
            val id = create.get("_id").asText()
            val doc = lines(i + 1)
            val status =
              try {
                val d = mapper.readTree(doc)
                // mapping-reject simulation: a boolean `reject` field
                // stands in for the 400 a real mapper conflict returns
                if (d.has("reject") && d.get("reject").asBoolean(false)) 400
                else if (throttleIds.remove(id)) 429
                else if (docs.putIfAbsent(s"$index/$id", doc) != null) 409
                else 201
              } catch { case _: Exception => 400 }
            if (status != 201) errors = true
            items += s"""{"create":{"_index":${mapper.writeValueAsString(
              mapper.getNodeFactory.textNode(index))},"_id":${mapper
              .writeValueAsString(mapper.getNodeFactory.textNode(id))},"status":$status}}"""
            i += 2
          }
          // truncation injection: the docs ABOVE are already stored, but
          // the response accounts for one fewer — the silent-loss shape
          // a malformed upstream proxy can produce
          val all = items.result()
          val sent =
            if (truncateItems.getAndUpdate(n => math.max(0, n - 1)) > 0)
              all.dropRight(1)
            else all
          respond(ex, 200,
            s"""{"errors":$errors,"items":[${sent.mkString(",")}]}""")
        }
      case ("GET", p) if p.contains("/_doc/") =>
        val parts = p.stripPrefix("/").split("/_doc/")
        docs.get(s"${parts(0)}/${parts(1)}") match {
          case null => respond(ex, 404, s"""{"found":false}""")
          case d => respond(ex, 200, s"""{"found":true,"_source":$d}""")
        }
      case ("HEAD", p) if p.startsWith("/_template/") =>
        respond(ex,
          if (templates.containsKey(p.stripPrefix("/_template/"))) 200
          else 404, "")
      case ("PUT", p) if p.startsWith("/_template/") =>
        val body = new String(org.apache.commons.io.IOUtils
          .toByteArray(ex.getRequestBody), "UTF-8")
        templates.put(p.stripPrefix("/_template/"), body)
        respond(ex, 200, """{"acknowledged":true}""")
      case _ => respond(ex, 404, """{"error":"not implemented"}""")
    }
  } catch {
    case e: Exception =>
      respond(ex, 500, s"""{"error":"${e.getMessage}"}""")
  }
}

object EsStubServer {
  /** A TLS context whose certificate is self-signed for `CN=es-stub`, so
    * a client passes it only by trusting any certificate and host name.
    * The key pair comes from the JDK's own `keytool`.
    */
  def selfSigned(): javax.net.ssl.SSLContext = {
    val pass = "changeit"
    val ks = java.nio.file.Files.createTempDirectory("graft-tls")
      .resolve("stub.p12").toString
    val keytool = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "keytool").toString
    val proc = new ProcessBuilder(keytool, "-genkeypair", "-alias", "es",
      "-keyalg", "RSA", "-keysize", "2048", "-dname", "CN=es-stub",
      "-validity", "2", "-storetype", "PKCS12", "-keystore", ks,
      "-storepass", pass, "-keypass", pass)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    require(proc.waitFor() == 0, s"keytool failed: $out")
    val store = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(ks)
    try store.load(in, pass.toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(store, pass.toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }
}
