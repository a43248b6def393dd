package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A `_bulk` endpoint with Elasticsearch `create` semantics at the
  * transport level, built to cost as little as possible so it measures the
  * client rather than itself:
  *
  *  - only action lines are parsed on the hot path; a document line is kept
  *    (as text) only for ids in the fixed payload sample;
  *  - the first create of an id answers 201 and records the ack time, a
  *    repeat answers 409, an id that is not `partition:offset` answers 400;
  *  - two daemon handler threads, so a live server never holds the JVM open;
  *  - `TCP_NODELAY` comes from `-Dsun.net.httpserver.nodelay=true`, set on
  *    the JVM command line (the JDK reads it once, at class load).
  *
  * Ids `p:o` inside `[0, capacity)` as `o * partitions + p` live in a flat
  * ack-time array; anything else (warm-up records) in a map.
  */
final class BulkEndpoint(val expectedIndex: String, partitions: Int,
    capacity: Int, sampleEvery: Int) {

  private val acks = new Array[Long](capacity)
  private val extra = mutable.HashMap.empty[String, Long]
  private val conflictAcks = mutable.ArrayBuffer.empty[Long]
  private val samples = mutable.HashMap.empty[Int, String]
  private val peers = mutable.HashSet.empty[String]
  private var inserted = 0L
  private var conflicts = 0L
  private var badRequests = 0L
  private var wrongIndex = 0L
  private var requests = 0L
  private var docs = 0L
  private var bodyBytes = 0L
  private var serviceNs = 0L

  private val pool = Executors.newFixedThreadPool(2, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "bulk-endpoint"); t.setDaemon(true); t
    }
  })
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  server.setExecutor(pool)
  server.createContext("/_bulk", (ex: HttpExchange) =>
    try bulk(ex) finally ex.close())
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def field(line: String, name: String): String = {
    val key = "\"" + name + "\":\""
    val i = line.indexOf(key)
    if (i < 0) null
    else {
      val s = i + key.length
      val e = line.indexOf('"', s)
      if (e < 0) null else line.substring(s, e)
    }
  }

  /** `p:o` to its flat slot; -1 when outside the array, -2 when not `p:o`. */
  private def slot(id: String): Long = {
    val c = id.indexOf(':')
    if (c <= 0) return -2L
    try {
      val p = id.substring(0, c).toInt
      val o = id.substring(c + 1).toLong
      val i = o * partitions + p
      if (p < 0 || p >= partitions || o < 0) -2L
      else if (i < capacity) i else -1L
    } catch { case _: NumberFormatException => -2L }
  }

  private def bulk(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    // split into lines; even lines are actions, odd lines documents
    val actions = mutable.ArrayBuffer.empty[(String, String, Int, Int)]
    var start = 0; var lineNo = 0; var pending: (String, String) = null
    var i = 0
    while (i <= body.length) {
      if (i == body.length || body(i) == '\n') {
        if (i > start) {
          if (lineNo % 2 == 0) {
            val a = new String(body, start, i - start, UTF_8)
            pending = (field(a, "_index"), field(a, "_id"))
          } else {
            actions += ((pending._1, pending._2, start, i))
            pending = null
          }
          lineNo += 1
        }
        start = i + 1
      }
      i += 1
    }
    val statuses = new Array[Int](actions.size)
    val peer = ex.getRemoteAddress.toString
    synchronized {
      val now = System.nanoTime()
      var k = 0
      while (k < actions.size) {
        val (idx, id, ds, de) = actions(k)
        val s = if (id == null) -2L else slot(id)
        statuses(k) =
          if (s == -2L) { badRequests += 1; 400 }
          else {
            if (idx != expectedIndex) wrongIndex += 1
            val seen = if (s >= 0) acks(s.toInt) != 0L else extra.contains(id)
            if (seen) { conflicts += 1; conflictAcks += now; 409 }
            else {
              if (s >= 0) {
                acks(s.toInt) = now
                if (s % sampleEvery == 0)
                  samples(s.toInt) = new String(body, ds, de - ds, UTF_8)
              } else extra(id) = now
              inserted += 1
              201
            }
          }
        k += 1
      }
      requests += 1; docs += actions.size; bodyBytes += body.length
      peers += peer
      notifyAll()
    }
    val sb = new java.lang.StringBuilder(32 + 30 * statuses.length)
    sb.append("{\"took\":0,\"errors\":")
      .append(statuses.exists(_ != 201)).append(",\"items\":[")
    var k = 0
    while (k < statuses.length) {
      if (k > 0) sb.append(',')
      sb.append("{\"create\":{\"status\":").append(statuses(k)).append("}}")
      k += 1
    }
    sb.append("]}")
    val out = sb.toString.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, out.length.toLong)
    ex.getResponseBody.write(out)
    val t1 = System.nanoTime()
    synchronized(serviceNs += t1 - t0)
    Trace.record("es_stub.service", t0, t1)
  }

  /** Wait until inserted + conflicts reaches `target`; false on timeout. */
  def awaitAcks(target: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (inserted + conflicts < target &&
        System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    inserted + conflicts >= target
  }

  def acked: Long = synchronized(inserted + conflicts)

  /** Forget every document and counter (between set-ups). */
  def reset(): Unit = synchronized {
    java.util.Arrays.fill(acks, 0L)
    extra.clear(); conflictAcks.clear(); samples.clear(); peers.clear()
    inserted = 0; conflicts = 0; badRequests = 0; wrongIndex = 0
    requests = 0; docs = 0; bodyBytes = 0; serviceNs = 0
  }

  final case class Counts(inserted: Long, conflicts: Long, badRequests: Long,
      wrongIndex: Long, requests: Long, docs: Long, bodyBytes: Long,
      serviceMs: Double, connections: Int, extraIds: Int)

  def counts: Counts = synchronized(Counts(inserted, conflicts, badRequests,
    wrongIndex, requests, docs, bodyBytes, serviceNs / 1e6, peers.size,
    extra.size))

  /** Ack time (ns) of slot `i`, 0 when never inserted. */
  def ackAt(i: Int): Long = acks(i)
  def conflictAckTimes: Seq[Long] = synchronized(conflictAcks.toSeq)
  def sample(i: Int): Option[String] = synchronized(samples.get(i))
}
