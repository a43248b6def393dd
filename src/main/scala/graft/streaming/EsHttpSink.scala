package graft.streaming

import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.LongAdder

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The injector's Elasticsearch sink: bulk `create` over the wire
  * protocol — the reference's sink shape
  * (src/elasticsearch/elasticsearch.go:77-162) speaking actual HTTP
  * `_bulk` NDJSON, with the per-item status routing of the reference's
  * response loop (elasticsearch.go:115-134):
  *
  *  - 200/201 → inserted;
  *  - 409 → conflict: the id already exists — ES's per-doc version
  *    check IS the K2 dedup, server-side, exactly like the reference
  *    (at-least-once upstream + create-only = effective exactly-once);
  *  - 400 → bad request: counted and DROPPED, never retried
  *    (elasticsearch.go:115-119);
  *  - anything else (429/5xx, item- or request-level) → transient:
  *    the failed items retry with constant backoff a BOUNDED number of
  *    times, then fail the stream (the reference loops forever and can
  *    wedge a worker — SURVEY.md §7.5.5 documents the divergence).
  *
  * Scale shape: a batch is written from its planned rows
  * (`queryExecution.toRdd`), with no second plan per batch: each task
  * serializes every row to its `_bulk` lines at once (the payload
  * through the evaluator `to_json` runs, the action line through
  * Jackson's string encoder) and POSTs one request per chunk of at most
  * [[EsHttpSink.MaxDocsPerBulk]] docs over one JDK connection — no driver
  * funnel, no shared client state. A batch with more partitions than
  * the cluster's default parallelism is coalesced to it first (no
  * shuffle), so it runs in one wave of tasks. The counters (M5) flow back
  * through the JOB RESULT (one stats tuple per task), not through
  * executor-side shared adders, so they are correct on a real cluster,
  * not just in local mode. Uses only the JDK HTTP client and Spark's
  * bundled Jackson — zero extra dependencies, same discipline as
  * [[Probes]].
  *
  * The same connection settings (timeout, basic auth, self-signed-cert
  * trust) serve the bulk path, the readiness [[ping]] and the
  * [[ensureTemplate]] bootstrap through [[EsHttpSink.Config.open]].
  */
class EsHttpSink(conf: EsHttpSink.Config) extends Serializable {

  def this(url: String) = this(EsHttpSink.Config(url))

  val inserted = new LongAdder
  val conflicts = new LongAdder
  val badRequests = new LongAdder
  val retries = new LongAdder

  /** One micro-batch (or batch frame) of ASSEMBLED records —
    * `(es_index, doc_id, payload struct)` per [[graft.operators
    * .InjectorOps.assemble]] — bulk-created into the cluster.
    * Throws (failing the stream) when a chunk exhausts its retries.
    */
  def write(batch: DataFrame, batchId: Long): Unit = {
    val c = conf
    val lines = EsHttpSink.BulkLines(batch.schema,
      batch.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    val rows = batch.queryExecution.toRdd
    val wave = batch.sparkSession.sparkContext.defaultParallelism
    val stats = (if (rows.getNumPartitions > wave) rows.coalesce(wave)
                 else rows).mapPartitions { it =>
        val line = lines.serializer()
        var ins = 0L; var dup = 0L; var bad = 0L; var ret = 0L
        // each row becomes its doc's bytes at once: the planned rows are
        // reused by the iterator, and a retry resends exactly these bytes
        it.map(line).grouped(EsHttpSink.MaxDocsPerBulk).foreach { docs =>
          var pending = docs
          var attempt = 0
          while (pending.nonEmpty) {
            EsHttpSink.post(c, EsHttpSink.concat(pending)) match {
              // pair item statuses back to rows positionally (the
              // _bulk contract: items are in request order) — but ONLY
              // when the server answered one item per doc sent; a
              // truncated/padded item list would silently mis-route
              // rows, so it retries as a whole-request failure instead
              case Right(items) if items.size == pending.size =>
                val again = Seq.newBuilder[Array[Byte]]
                items.zip(pending).foreach { case (st, doc) =>
                  if (st == 200 || st == 201) ins += 1
                  else if (st == 409) dup += 1
                  else if (st == 400) bad += 1
                  else again += doc // 429/5xx item: retryable
                }
                pending = again.result()
              case Right(_) => () // item-count mismatch: retry all
              case Left(_) => () // whole-request failure: retry all
            }
            if (pending.nonEmpty) {
              if (attempt >= EsHttpSink.MaxRetries)
                throw new RuntimeException(
                  s"bulk to ${c.url}/_bulk failed for ${pending.size} docs " +
                    s"after ${EsHttpSink.MaxRetries} retries — failing the " +
                    "stream (SURVEY §7.5.5)")
              attempt += 1; ret += 1
              Thread.sleep(c.backoffMs)
            }
          }
        }
        Iterator.single((ins, dup, bad, ret))
      }.collect()
    stats.foreach { case (i, d, b, r) =>
      inserted.add(i); conflicts.add(d); badRequests.add(b); retries.add(r)
    }
  }

  /** The reference's readiness check pings the ES root endpoint
    * (`elasticsearch.go:142-150`: `client.Ping` → ok); here a `GET /`
    * answering 2xx. [[InjectorApp.start]] wires it into [[Probes.bind]]
    * so a cluster outage flips the pod unready (the orchestrator then
    * stops routing to it) even while the streaming query itself is
    * still alive between batches.
    */
  def ping(): Boolean =
    try EsHttpSink.status(conf.open("GET", "/")) / 100 == 2
    catch { case scala.util.control.NonFatal(_) => false }

  /** Idempotent pre-create step, the code form of the reference's
    * check-then-install (`IndexTemplateExists` → `IndexPutTemplate`,
    * elasticsearch_test.go:135-146): HEAD `_template/{name}`, PUT
    * [[EsHttpSink.defaultTemplate]] over `{name}-*` only when absent.
    * Returns true iff this call installed it.
    */
  def ensureTemplate(name: String): Boolean = {
    val path = s"/_template/$name"
    if (EsHttpSink.status(conf.open("HEAD", path)) == 200) false
    else {
      val put = conf.open("PUT", path)
      put.setDoOutput(true)
      put.setRequestProperty("Content-Type", "application/json")
      val os = put.getOutputStream
      try os.write(EsHttpSink.defaultTemplate(s"$name-*").getBytes("UTF-8"))
      finally os.close()
      val st = EsHttpSink.status(put)
      require(st / 100 == 2,
        s"template PUT ${conf.url}$path failed with HTTP $st")
      true
    }
  }
}

object EsHttpSink {

  /** Docs per `_bulk` request. */
  val MaxDocsPerBulk = 500

  /** Transient-failure retries per bulk chunk before the stream fails. */
  val MaxRetries = 3

  /** How a task turns the rows of an assembled frame with `schema` into
    * `_bulk` lines: one `create` action line, then the payload as
    * `to_json` writes it in the session time zone `timeZone`. A missing
    * column fails here, before any task starts.
    */
  private[streaming] final case class BulkLines(schema: StructType,
      timeZone: String) {
    private val index = schema.fieldIndex("es_index")
    private val id = schema.fieldIndex("doc_id")
    private val payload = schema.fieldIndex("payload")

    /** Column `i` read as a string, as `cast("string")` reads it. */
    private def text(i: Int): InternalRow => UTF8String =
      schema(i).dataType match {
        case _: StringType => _.getUTF8String(i)
        case t =>
          val cast = Cast(BoundReference(i, t, nullable = true), StringType,
            Some(timeZone))
          row => cast.eval(row).asInstanceOf[UTF8String]
      }

    /** One task's serializer: a doc's action and source lines as bytes.
      * The action line is SERIALIZED, never interpolated: R4/R3 let a user
      * payload column supply the doc id / index (reference codec.go:77-90
      * accepts any string), so a value containing `"`, `\` or a newline
      * is JSON-escaped as Jackson escapes it, or the NDJSON body would
      * frame-shift; a null one is written as `null`.
      */
    def serializer(): InternalRow => Array[Byte] = {
      val indexOf = text(index)
      val idOf = text(id)
      val payloadType = schema(payload).dataType
      val json = StructsToJsonEvaluator(Map.empty, payloadType, Some(timeZone))
      val quote = JsonStringEncoder.getInstance()
      val out = new java.io.ByteArrayOutputStream(256)
      def string(u: UTF8String): Unit =
        if (u == null) out.write(Null)
        else {
          out.write('"'); out.write(quote.quoteAsUTF8(u.toString)); out.write('"')
        }
      row => {
        out.reset()
        out.write(CreateIndex); string(indexOf(row))
        out.write(Id); string(idOf(row)); out.write(EndAction)
        out.write(if (row.isNullAt(payload)) Null
          else json.evaluate(row.get(payload, payloadType))
            .asInstanceOf[UTF8String].getBytes)
        out.write('\n')
        out.toByteArray
      }
    }
  }

  private val CreateIndex = "{\"create\":{\"_index\":".getBytes(UTF_8)
  private val Id = ",\"_id\":".getBytes(UTF_8)
  private val EndAction = "}}\n".getBytes(UTF_8)
  private val Null = "null".getBytes(UTF_8)

  /** The `_bulk` body of these docs' lines, in order. */
  private def concat(docs: Seq[Array[Byte]]): Array[Byte] = {
    val body = new Array[Byte](docs.iterator.map(_.length).sum)
    var at = 0
    docs.foreach { d =>
      System.arraycopy(d, 0, body, at, d.length); at += d.length
    }
    body
  }

  /** Reads `_bulk` responses; a configured mapper is thread-safe. */
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Where and how to reach the cluster (env names per
    * [[InjectorApp.fromEnv]]).
    *
    * @param url        `scheme://host:port` of the cluster root
    *                   (`ELASTICSEARCH_SCHEME`, `ELASTICSEARCH_HOST`)
    * @param backoffMs  constant sleep between retries (`ES_BULK_BACKOFF`)
    * @param timeoutMs  connect and read timeout of every request
    *                   (`ES_BULK_TIMEOUT`)
    * @param user       basic-auth user (`ELASTICSEARCH_USER`); sent only
    *                   together with `password` (`ELASTICSEARCH_PASSWORD`)
    * @param ignoreCert trust any certificate and host name on https
    *                   (`ELASTICSEARCH_IGNORE_CERT`)
    */
  final case class Config(
      url: String,
      backoffMs: Long = 25L,
      timeoutMs: Int = 30000,
      user: Option[String] = None,
      password: Option[String] = None,
      ignoreCert: Boolean = false) {

    @transient private lazy val authorization: Option[String] =
      for (u <- user; p <- password) yield "Basic " +
        java.util.Base64.getEncoder.encodeToString(s"$u:$p".getBytes("UTF-8"))

    @transient private lazy val trustAll: javax.net.ssl.SSLSocketFactory = {
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, Array[javax.net.ssl.TrustManager](
        new javax.net.ssl.X509TrustManager {
          override def checkClientTrusted(
              c: Array[java.security.cert.X509Certificate],
              a: String): Unit = ()
          override def checkServerTrusted(
              c: Array[java.security.cert.X509Certificate],
              a: String): Unit = ()
          override def getAcceptedIssuers
              : Array[java.security.cert.X509Certificate] = Array.empty
        }), new java.security.SecureRandom)
      ctx.getSocketFactory
    }

    /** The one connection helper: a `method` request to `url + path` with
      * the timeout, the auth header and (with `ignoreCert`) the trust-all
      * TLS settings applied. Plain http without credentials costs
      * nothing beyond the timeouts.
      */
    private[streaming] def open(method: String, path: String)
        : HttpURLConnection = {
      val conn = new java.net.URL(url + path).openConnection()
        .asInstanceOf[HttpURLConnection]
      conn match {
        case https: javax.net.ssl.HttpsURLConnection if ignoreCert =>
          https.setSSLSocketFactory(trustAll)
          https.setHostnameVerifier((_, _) => true)
        case _ => ()
      }
      conn.setRequestMethod(method)
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      authorization.foreach(conn.setRequestProperty("Authorization", _))
      conn
    }
  }

  private def status(conn: HttpURLConnection): Int =
    try conn.getResponseCode finally conn.disconnect()

  /** POST the NDJSON body; Right(per-item statuses) on a parseable
    * 2xx `_bulk` response, Left(status) on transport/server failure —
    * including a 2xx body that is not a well-formed `_bulk` response
    * (missing/non-array `items`, malformed JSON): any NonFatal failure
    * routes into the sink's bounded-retry path as a counted retry
    * rather than escaping as an uncounted task failure.
    */
  private def post(c: Config, body: Array[Byte]): Either[Int, Seq[Int]] =
    try {
      val conn = c.open("POST", "/_bulk")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-ndjson")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val status = conn.getResponseCode
      if (status / 100 != 2) { conn.disconnect(); Left(status) }
      else {
        val in = conn.getInputStream
        val resp = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally { in.close(); conn.disconnect() }
        val root = mapper.readTree(resp)
        val items = root.get("items")
        if (items == null || !items.isArray) Left(-2)
        else Right((0 until items.size).map { i =>
          val it = items.get(i)
          it.get(it.fieldNames().next()).get("status").asInt()
        })
      }
    } catch { case scala.util.control.NonFatal(_) => Left(-1) }

  /** The reference delegates mapping control to an index template
    * installed BEFORE the first insert (`src/elasticsearch/
    * elasticsearch_test.go:34-61,135-146`; README.md:44-67): without one,
    * the first bulk create lets ES dynamic mapping guess every field
    * type. Default body in the reference's shape — wildcard pattern,
    * `_source` enabled, strings dynamic-mapped to exact-match fields
    * (`keyword` is the current ES spelling of the reference's
    * `not_analyzed string`), `@timestamp` typed date for Kibana.
    */
  def defaultTemplate(indexPattern: String): String =
    s"""{
       |  "template": "$indexPattern",
       |  "settings": {},
       |  "mappings": {
       |    "_source": {"enabled": true},
       |    "dynamic_templates": [
       |      {"strings": {
       |        "match_mapping_type": "string",
       |        "mapping": {"type": "keyword"}}}
       |    ],
       |    "properties": {
       |      "@timestamp": {"type": "date"}
       |    }
       |  },
       |  "aliases": {}
       |}""".stripMargin
}
