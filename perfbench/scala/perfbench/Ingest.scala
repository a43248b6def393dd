package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.operators.InjectorOps
import graft.streaming.{EsHttpSink, InjectorApp, Probes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** The injector's own job, timed from outside: JSON records appended to a
  * Kafka-shaped source stand-in flow through `InjectorApp.start` (record-
  * type dispatch, decode, enrich, route) into `EsHttpSink` and on to the
  * benchmark's `_bulk` endpoint, which stamps the ack time of every
  * document. The loop is open: it offers `rate` records/s in 10 ms ticks,
  * with tombstones, malformed records and redelivered offsets.
  *
  * Untraced runs start the deployment through `InjectorApp.start` with its
  * source and sink seams. Traced runs compose the same
  * public `InjectorOps` transforms inside `foreachBatch`, persisting
  * between them, so decode, enrich/route and the sink write are separate
  * spans.
  */
final class Ingest(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, workDir: String, stats: JobStats, phases: Phases) {

  import spark.implicits._

  private val P = Gen.Partitions
  private val rate = 5000
  private val tickMs = 10
  private val perTick = rate * tickMs / 1000
  private val sampleEvery = 97
  private val base = Gen.baseMs(seed)
  private val index = Gen.indexFor(seed)
  private val sc = spark.sparkContext
  private val rnd = new Random(seed)

  // ---------------------------------------------------------- the inputs

  // one entry per offered slot; originals are numbered j and land at
  // partition j % P, offset j / P, so the endpoint's flat slot is j
  private val origs = ArrayBuffer.empty[Payload]
  private val origSlot = ArrayBuffer.empty[Int]
  private val slotRecs = ArrayBuffer.empty[Rec]
  private var redeliveries = 0

  locally {
    val slots = rate * seconds
    var s = 0
    while (s < slots) {
      val redeliver = origs.size > 2000 && rnd.nextDouble() < 0.05
      if (redeliver) {
        // an earlier well-formed original, 0.4-4 s back
        var j = -1
        while (j < 0) {
          val c = origs.size - 2000 - rnd.nextInt(
            math.max(1, math.min(origs.size - 2000, 18000)))
          if (c >= 0 && origs(c).kind == 0) j = c
        }
        slotRecs += slotRecs(origSlot(j))
        redeliveries += 1
      } else {
        val j = origs.size
        val p = Gen.jsonPayload(rnd, 0.01, 0.01)
        origs += p; origSlot += s
        slotRecs += Gen.rec(p, j % P, (j / P).toLong, base + s * 1000L / rate)
      }
      s += 1
    }
  }

  private def tsOf(j: Int): Long = base + origSlot(j) * 1000L / rate

  // warm-up records sit far above the timed offsets
  private val warmOffset = 1L << 40
  private def warmRecs(k: Int, n: Int): Seq[Rec] = {
    val r = new Random(seed * 7919L + k)
    (0 until n).map { i =>
      Gen.rec(Gen.jsonPayload(r, 0.01, 0.01), i % P,
        warmOffset + k * 1000000L + i / P, base)
    }
  }

  val stub = new BulkEndpoint(index, P, origs.size, sampleEvery)

  // ------------------------------------------------------------ the query

  private final class Running(val query: StreamingQuery,
      val probes: Option[Probes], val sink: EsHttpSink,
      val stream: MemoryStream[Rec]) {
    def stop(): Unit = { query.stop(); probes.foreach(_.stop()) }
  }

  /** Counters the traced `foreachBatch` keeps per run. */
  private var decodedRows = 0L
  private var routedRows = 0L

  private def start(k: Int): Running = {
    val stream = MemoryStream[Rec](P)(implicitly, spark.sqlContext)
    val sink = new EsHttpSink(stub.url)
    val ckpt = s"$workDir/checkpoint-$k-${System.nanoTime()}"
    val cfg = InjectorApp.fromEnv(Map(
      "KAFKA_TOPICS" -> Gen.Topic,
      "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
      "PROBES_PORT" -> "0",
      "CHECKPOINT_LOCATION" -> ckpt))
    if (!traced) {
      val (q, probes) = InjectorApp.start(spark, cfg, Gen.jsonSchema,
        source = Some(stream.toDF()),
        startSink = Some(df => df.writeStream.queryName(s"ingest-$k")
          .option("checkpointLocation", ckpt)
          .foreachBatch((b: DataFrame, id: Long) =>
            Groups.within(sc, "es_http_sink.write")(sink.write(b, id)))
          .start()),
        sinkPing = Some(() => true))
      new Running(q, Some(probes), sink, stream)
    } else {
      val ic = cfg.injector
      val decode = InjectorOps.decoderFor("json", Gen.jsonSchema)
      val q = stream.toDF().writeStream.queryName(s"ingest-traced-$k")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (raw: DataFrame, id: Long) =>
          Trace.span("streaming_pipeline.add_batch") {
            val (d, r) = staged(raw, decode, ic, sink, id)
            decodedRows += d; routedRows += r
          }
        }.start()
      new Running(q, None, sink, stream)
    }
  }

  /** The injector's transforms staged for tracing: decode | enrich/route |
    * sink write, persisted between stages so each is its own span and job
    * group. Returns the decoded and the routed row counts.
    */
  private def staged(raw: DataFrame, decode: DataFrame => DataFrame,
      cfg: InjectorOps.InjectorConfig, sink: EsHttpSink,
      batchId: Long): (Long, Long) = {
    val (decoded, nDecoded) = Groups.within(sc, "injector_ops.decode") {
      val d = decode(InjectorOps.nilMessageFilter()(raw))
        .persist(StorageLevel.MEMORY_ONLY)
      (d, d.count())
    }
    val (routed, nRouted) = Groups.within(sc, "injector_ops.route") {
      val r = InjectorOps.assemble(InjectorOps.docId(cfg)(
        InjectorOps.indexName(cfg)(InjectorOps.blacklist(cfg.blacklist)(
          InjectorOps.injectTimestamp(decoded)))))
        .persist(StorageLevel.MEMORY_ONLY)
      (r, r.count())
    }
    Groups.within(sc, "es_http_sink.write")(sink.write(routed, batchId))
    routed.unpersist(); decoded.unpersist()
    (nDecoded, nRouted)
  }

  /** One set-up: start the deployment and get a first batch acknowledged. */
  private def setUp(k: Int, warmN: Int): (Running, Double) = {
    val t = System.nanoTime()
    val run = start(k)
    val warm = warmRecs(k, warmN)
    run.stream.addData(warm)
    val expect = warm.count(r => r.value != null && !isMalformed(r))
    if (!stub.awaitAcks(expect.toLong, 120000L))
      throw new IllegalStateException(s"set-up $k: warm-up batch not acked")
    (run, (System.nanoTime() - t) / 1e9)
  }

  private def isMalformed(r: Rec): Boolean =
    r.value != null && r.value.last != '}'

  // ------------------------------------------------------------- the run

  def run(out: Out): Unit = {
    val setups = ArrayBuffer.empty[Double]
    var running: Running = null
    for (k <- 1 to 3) {
      if (running != null) running.stop()
      stub.reset()
      val (r, s) = setUp(k, 2000)
      running = r; setups += s
    }
    // steady-state warm-up at the workload's own shape, then forget it
    val w = warmRecs(9, rate)
    w.grouped(perTick).foreach { g =>
      running.stream.addData(g); Thread.sleep(tickMs)
    }
    stub.awaitAcks(w.count(r => r.value != null && !isMalformed(r)).toLong,
      120000L)
    running.query.processAllAvailable()
    Groups.drain(sc)
    stub.reset()
    phases.clear()
    val sink = running.sink
    val sink0 = (sink.inserted.sum, sink.conflicts.sum, sink.badRequests.sum,
      sink.retries.sum)
    val work0 = stats.snapshot
    val gc0 = JobStats.gcMs
    decodedRows = 0L; routedRows = 0L
    Trace.clear(); Trace.on = traced

    val late = ArrayBuffer.empty[Double]
    var backlogMax = 0L
    val t0 = System.nanoTime() + 20000000L
    val end = t0 + seconds * 1000000000L
    var appended = 0L
    val ticks = slotRecs.size / perTick
    // records of each tick that will be acknowledged (201 or 409)
    val ackable = slotRecs.grouped(perTick)
      .map(_.count(r => r.value != null && !isMalformed(r))).toArray
    var offered = 0L
    var tick = 0
    while (tick < ticks) {
      val due = t0 + tick * tickMs * 1000000L
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      late += (now - due) / 1e6
      Trace.span("source.append")(running.stream.addData(
        slotRecs.slice(tick * perTick, (tick + 1) * perTick).toSeq))
      appended += perTick; offered += ackable(tick)
      backlogMax = math.max(backlogMax, offered - stub.acked)
      tick += 1
    }
    val expected = origs.count(_.kind == 0).toLong + redeliveries
    val drained = stub.awaitAcks(expected, 120000L)
    running.query.processAllAvailable()
    val tDone = System.nanoTime()
    Trace.on = false
    Groups.drain(sc)
    val work = JobStats.delta(stats.snapshot, work0)
    val gcMs = JobStats.gcMs - gc0
    val counts = stub.counts
    val nOrig = origs.size

    // ------------------------------------------------ throughput, latency
    var inWindow = 0L
    val lat = new Array[Double](nOrig)
    val latGroup = new Array[Int](nOrig)
    var nLat = 0
    var missing = 0L; var unexpected = 0L
    var j = 0
    while (j < nOrig) {
      val a = stub.ackAt(j)
      val ok = origs(j).kind == 0
      if (a != 0L && a >= t0 && a <= end) inWindow += 1
      if (ok && a == 0L) missing += 1
      if (!ok && a != 0L) unexpected += 1
      if (ok && a != 0L) {
        val due = t0 + (origSlot(j) / perTick) * tickMs * 1000000L
        lat(nLat) = (a - due) / 1e6
        latGroup(nLat) = origSlot(j) / rate
        nLat += 1
      }
      j += 1
    }
    inWindow += stub.conflictAckTimes.count(a => a >= t0 && a <= end)
    // percentiles per group (one second of offers), then the median over
    // groups: a transient stall moves one group, not the run
    val groups = (0 until nLat).groupBy(latGroup(_)).values.map { ix =>
      val g = ix.map(lat(_)).toArray; java.util.Arrays.sort(g)
      (Stats.pct(g, 50), Stats.pct(g, 99))
    }.toSeq

    // ------------------------------------------------------ correctness
    var badPayload = 0L; var sampled = 0L
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    j = 0
    while (j < nOrig) {
      val p = origs(j)
      if (p.kind == 0 && j % sampleEvery == 0) {
        sampled += 1
        val ok = stub.sample(j).exists { doc =>
          val n = mapper.readTree(doc)
          n.fieldNames().asScala.toSet == Set("user_id", "event_type", "value", "props",
              "@timestamp") &&
            n.get("user_id").asLong == p.userId &&
            n.get("event_type").asText == p.eventType &&
            n.get("value").asDouble == p.value &&
            n.get("props").asText == p.props &&
            n.get("@timestamp").asLong == tsOf(j)
        }
        if (!ok) badPayload += 1
      }
      j += 1
    }
    val sinkIns = sink.inserted.sum - sink0._1
    val sinkConf = sink.conflicts.sum - sink0._2
    val sinkBad = sink.badRequests.sum - sink0._3
    val sinkRetries = sink.retries.sum - sink0._4
    val wellFormed = origs.count(_.kind == 0).toLong
    val reconcile = Seq(
      "drained" -> (if (drained) 0L else 1L),
      "inserted_vs_generated" -> math.abs(counts.inserted - wellFormed),
      "conflicts_vs_redeliveries" -> math.abs(counts.conflicts - redeliveries),
      "sink_inserted_vs_endpoint" -> math.abs(sinkIns - counts.inserted),
      "sink_conflicts_vs_endpoint" -> math.abs(sinkConf - counts.conflicts),
      "sink_bad_vs_endpoint" -> math.abs(sinkBad - counts.badRequests),
      "bad_requests" -> counts.badRequests,
      "wrong_index" -> counts.wrongIndex,
      "unknown_ids" -> counts.extraIds.toLong)
    val failed = missing + unexpected + badPayload + reconcile.map(_._2).sum
    out.attempted = appended
    out.failed = failed
    out.correct = failed == 0 && nLat > 0
    out.detail("checks") = (Seq("missing" -> missing,
      "unexpected" -> unexpected, "payload_mismatch" -> badPayload,
      "payloads_sampled" -> sampled) ++ reconcile).toMap

    // ---------------------------------------------------------- metrics
    out.e2e("setup_s", Stats.median(setups.toSeq), "s")
    // acks (201 or 409) inside the offered interval
    out.e2e("throughput_rps", inWindow / seconds.toDouble, "1/s")
    out.e2e("latency_p50_ms", Stats.median(groups.map(_._1)), "ms")
    out.e2e("latency_p99_ms", Stats.median(groups.map(_._2)), "ms")
    val lats = lat.take(nLat); java.util.Arrays.sort(lats)
    out.detail("latency_all_ms") = Map("p50" -> Stats.pct(lats, 50),
      "p99" -> Stats.pct(lats, 99), "max" -> lats.lastOption.getOrElse(0.0))
    out.detail("latency_groups") = groups.size
    out.detail("setup_s_each") = setups.toSeq
    out.detail("latency_samples") = nLat
    out.detail("records") = Map("appended" -> appended,
      "originals" -> nOrig, "well_formed" -> wellFormed,
      "redeliveries" -> redeliveries, "drain_s" -> (tDone - end) / 1e9)

    val batches = phases.all
    val wall = batches.map(_.wallMs.toDouble).sorted.toArray
    def phaseMean(keys: String*): Double =
      if (batches.isEmpty) 0.0
      else batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum)
        .sum.toDouble / batches.size
    val phaseSum = batches.map(b =>
      (b.durations - "triggerExecution").values.sum).sum.toDouble
    val rowsIn = batches.map(_.rows).sum
    out.layer("streaming_pipeline.batches", batches.size, "count")
    out.layer("streaming_pipeline.batch_ms_p50", Stats.pct(wall, 50), "ms")
    out.layer("streaming_pipeline.batch_ms_p99", Stats.pct(wall, 99), "ms")
    out.layer("streaming_pipeline.planning_ms", phaseMean("queryPlanning"), "ms")
    out.layer("streaming_pipeline.wal_commit_ms", phaseMean("walCommit"), "ms")
    out.layer("streaming_pipeline.offset_commit_ms",
      phaseMean("commitOffsets"), "ms")
    out.layer("streaming_pipeline.source_ms",
      phaseMean("latestOffset", "getBatch", "getOffset", "setOffsetRange",
        "getEndOffset"), "ms")
    out.layer("streaming_pipeline.add_batch_ms", phaseMean("addBatch"), "ms")
    out.layer("streaming_pipeline.phase_coverage",
      if (batches.isEmpty) 0.0 else phaseSum / wall.sum, "ratio")
    out.layer("source.gen_late_p99_ms",
      Stats.pct(late.toArray.sorted, 99), "ms")
    out.layer("source.backlog_max", backlogMax.toDouble, "count")

    val spans = Trace.all
    val self = Trace.selfTimes(spans)
    def spanMs(n: String) = self.get(n).map(_._2).getOrElse(0.0)
    out.layer("injector_ops.decode_ms", spanMs("injector_ops.decode"), "ms")
    out.layer("injector_ops.route_ms", spanMs("injector_ops.route"), "ms")
    out.layer("injector_ops.rows_in", rowsIn.toDouble, "count")
    out.layer("injector_ops.rows_out",
      (if (traced) routedRows else sinkIns + sinkConf + sinkBad).toDouble,
      "count")
    out.layer("injector_ops.dropped",
      (if (traced) rowsIn - decodedRows
       else rowsIn - (sinkIns + sinkConf + sinkBad)).toDouble, "count")
    sinkLayers(out, spanMs("es_http_sink.write"), counts, sinkIns, sinkConf,
      sinkBad, sinkRetries)
    out.work(work, gcMs)
    out.spans(spans, self)
    running.stop()
    stub.stop()
  }

  private def sinkLayers(out: Out, writeMs: Double, c: stub.Counts,
      ins: Long, conf: Long, bad: Long, retries: Long): Unit = {
    out.layer("es_http_sink.write_ms", writeMs, "ms")
    out.layer("es_http_sink.requests", c.requests.toDouble, "count")
    out.layer("es_http_sink.docs_per_request",
      if (c.requests == 0) 0.0 else c.docs.toDouble / c.requests, "count")
    out.layer("es_http_sink.bytes_per_doc",
      if (c.docs == 0) 0.0 else c.bodyBytes.toDouble / c.docs, "B")
    out.layer("es_http_sink.inserted", ins.toDouble, "count")
    out.layer("es_http_sink.conflicts", conf.toDouble, "count")
    out.layer("es_http_sink.bad_requests", bad.toDouble, "count")
    out.layer("es_http_sink.retries", retries.toDouble, "count")
    out.layer("es_http_sink.useful_ratio",
      if (c.docs == 0) 0.0 else ins.toDouble / c.docs, "ratio")
    out.layer("es_stub.service_ms", c.serviceMs, "ms")
    out.layer("es_stub.connections", c.connections.toDouble, "count")
  }
}
