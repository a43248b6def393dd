package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One state row per Kafka partition: the consumer-group progress the
  * reference exports as gauges (M1, src/metrics/metrics.go) — highest
  * offset seen and total records consumed, carried across micro-batches
  * by the state store.
  */
case class PartitionProgress(partition: Int, highWater: Long, records: Long)

/** Chained funnel timestamps per user; -1 = stage not reached. */
case class FunnelState(t1: Long, t2: Long, t3: Long)

/** Emitted each time a user's furthest funnel stage advances. */
case class FunnelAdvance(user_id: Long, stage: Int, at: Long)

/** Per-event-type anomaly-detector state: open (not-yet-closed) hourly
  * buckets, the last closed hour (ms, -1 before the first closure), the
  * running count/sum/sum-of-squares over all CLOSED buckets, and the
  * newest REAL event time seen (ms, -1 before the first event) — the
  * retirement clock: a type silent past its TTL is evicted instead of
  * gap-filling zeros forever.
  */
case class AnomalyState(open: Map[Long, Long], lastClosed: Long,
    n: Long, s: Long, q: Long, lastEvent: Long = -1L)

/** One closed hourly bucket's verdict: its count, the history size the
  * gate saw (bucket included), and the z² > 4 flag.
  */
case class HourVerdict(event_type: String, hour_start: Long,
    doc_count: Long, n_hist: Long, flagged: Boolean)

/** The Kafka source of the deployment and the Structured Streaming duals
  * of the batch analytics (dedup, sessions, funnels, anomaly and SRM
  * alerts, throughput). The injector's own composition is
  * `InjectorOps.pipeline`, which runs unchanged on the frame
  * [[StreamingPipeline.kafkaSource]] returns; `InjectorApp.start` wires
  * the two to the sink.
  *
  * Reference operator mapping:
  *  - S1 consumer group/rebalance/offsets → the Kafka source + checkpoint
  *    (src/kafka/consumer.go:73-135)
  *  - S2 bounded buffer → `maxOffsetsPerTrigger` admission control
  *    (consumer.go:68,104-112)
  *  - S3 micro-batcher → trigger interval (consumer.go:137-178)
  *  - K6 at-least-once commit → offsets commit to the checkpoint WAL only
  *    after sink success (consumer.go:163-173), a strictly stronger
  *    guarantee than the reference's async MarkOffset
  */
object StreamingPipeline {

  /** Kafka source options mirroring the reference's env config (§2.2).
    * Compiles against plain Spark; running it needs the
    * spark-sql-kafka connector on the cluster classpath (not present in
    * the offline harness — tests use MemoryStream with identical schema).
    */
  final case class KafkaSourceConfig(
      bootstrapServers: String,
      topics: Seq[String],
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None)

  def kafkaSource(spark: SparkSession, cfg: KafkaSourceConfig): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topics.mkString(","))
      .option("startingOffsets", cfg.startingOffsets)
    cfg.maxOffsetsPerTrigger.fold(base)(n =>
      base.option("maxOffsetsPerTrigger", n)).load()
  }

  /** Streaming dual of the batch `dedup_exact` family: canonical-doc
    * selection by CONTENT hash (normalized text) on a live stream. The
    * batch operator's canonical window is unbounded; a stream needs
    * bounded state, so duplicate content is dropped only within
    * `watermarkDelay` of event time via `dropDuplicatesWithinWatermark`
    * on the content hash — the same bounded-state divergence documented
    * for the K2 id dedup (SURVEY.md §7.5.4). State is one row per
    * distinct in-watermark hash; the hash itself is a narrow scan-side
    * expression, so the only stateful work is the dedup store.
    */
  def streamingExactDedup(timeCol: String, watermarkDelay: String,
      textCol: String = "text")(df: DataFrame): DataFrame =
    df.withColumn("content_hash",
        graft.operators.TextOps.contentHash(col(textCol)))
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Near-dup streaming gate on the segment fingerprint: documents whose
    * k-token min-shingle rolling hash ([[graft.operators.TextOps
    * .shingleFingerprint]], a 1-permutation MinHash) collides within the
    * watermark are dropped — the streaming counterpart of the batch
    * shingle prefilter feeding `dedup_ngram_jaccard`. Catches
    * near-duplicates that exact content hashing misses (same core text,
    * trailing additions) at the same bounded per-key state cost.
    */
  def streamingFingerprintDedup(timeCol: String, watermarkDelay: String,
      k: Int = 5, textCol: String = "text")(df: DataFrame): DataFrame =
    df.withColumn("shingle_fp",
        graft.operators.TextOps.shingleFingerprint(col(textCol), k))
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("shingle_fp")

  /** Stream-stream interval join (the one Structured Streaming join
    * shape the suite did not yet exercise): each purchase joins every
    * view by the SAME user within `windowMs` BEFORE it — the join-time
    * form of the last-touch attribution window. The time-range
    * predicate plus both watermarks bound the join state (Spark retains
    * each side only `windowMs` + watermark past the event time); on
    * batch frames `withWatermark` is a no-op and the identical
    * expression runs as a plain interval join, so batch ≡ streaming by
    * construction (StreamingSpec pins it). At 100 TB this is the
    * standard two-stream equi-key + range join: state is per-user and
    * horizon-bounded, never corpus-bounded.
    */
  def viewPurchaseIntervalJoin(views: DataFrame, purchases: DataFrame,
      windowMs: Long, watermark: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
    val p = purchases
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", watermark)
    // the range predicate lives IN the join condition so the streaming
    // planner can derive the state eviction bound for both sides
    p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") -
            expr(s"INTERVAL $windowMs MILLISECONDS"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("v_ts"), col("p_ts"), col("value"))
  }

  /** Streaming dual of the batch `corpus_source_quality` dashboard:
    * per-source quality signals over watermarked tumbling windows — the
    * live monitoring view of a continuously-ingesting corpus. Per-doc
    * signals are the SAME pure column expressions as the batch rollup
    * (token count, lang-id, punct ratio, content hash); ratio averages
    * go through exact DECIMAL sums so window merges stay
    * order-independent; the dup share uses approx_count_distinct (HLL)
    * because exact distinct aggregation is unsupported — and unbounded —
    * in streaming state. State: one row per (window, source).
    */
  def streamingSourceQuality(timeCol: String, windowLen: String,
      watermarkDelay: String)(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val dec38 = (c: Column) => c.cast("decimal(38,10)")
    docs
      .withColumn("__nt", size(TextOps.tokens(col("text"))).cast("long"))
      .withColumn("__lid", TextOps.langId(TextOps.tokens(col("text"))))
      .withColumn("__ch", TextOps.contentHash(col("text")))
      .withColumn("__punct",
        TextOps.qualityColumns(col("text")).toMap.apply("punct_ratio"))
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(when(col("__lid") =!= "und", 1L).otherwise(0L)).as("n_lang"),
        approx_count_distinct(col("__ch")).as("approx_distinct"),
        sum(dec38(col("__punct"))).as("punct_dec"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("total_tokens"),
        (col("n_lang").cast("double") / col("n_docs").cast("double"))
          .as("lang_known_share"),
        col("approx_distinct"),
        (col("punct_dec").cast("double") / col("n_docs").cast("double"))
          .as("avg_punct_ratio"))
  }

  /** Live anomaly alerting — the streaming dual of the batch
    * `events_anomaly` query: watermarked tumbling counts per
    * (event_type, window), joined to the OFFLINE-trained per-type
    * profile (the batch query's (n, S, Q) stats frame, broadcast), and
    * flagged with the same divisionless integer gate
    * `(n·x − S)² > 4·(n·Q − S²)` — train-offline/apply-online, exact
    * BIGINT arithmetic in both worlds. Append mode: an alert fires when
    * its hour closes under the watermark. Silent hours don't emit in a
    * stream (no rows arrive to close them) — the batch query's gap-fill
    * covers those from the profile side.
    */
  def streamingAnomaly(stats: DataFrame, timeCol: String,
      windowLen: String, watermarkDelay: String)(
      events: DataFrame): DataFrame = {
    val dev = col("n") * col("x") - col("s")
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("x"))
      .join(broadcast(stats), Seq("event_type"))
      .filter(dev * dev > lit(4L) * (col("n") * col("q") -
        col("s") * col("s")))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("x").as("doc_count"))
  }

  /** Streaming sessionization: the streaming dual of the batch
    * `events_sessionize` query (gaps-and-islands, same inactivity gap),
    * expressed with `session_window` so state is merged incrementally per
    * key and bounded by the watermark — the canonical unbounded-stream
    * form of the operator. Emits one row per closed session with its
    * event count and bounds.
    */
  def sessionize(keyCol: String, timeCol: String, gap: String,
      watermarkDelay: String)(df: DataFrame): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(timeCol), gap).as("session"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"))

  /** Live sample-ratio-mismatch guard — the streaming dual of the
    * batch `events_ab_srm` readout, firing DURING the experiment
    * instead of at analysis time. First-seen user dedup
    * (`dropDuplicatesWithinWatermark`, state bounded by the watermark
    * horizon), the SAME deterministic arm hash as the batch readout
    * (PortableHash over "exp1:" + user), then per-window arm counts
    * with the identical z = (n_a − n/2)/√(n/4) gate. Append mode: a
    * window's verdict emits once, when the watermark closes it. A user
    * whose events span windows counts once — in the window of their
    * first-ARRIVING event inside the horizon (enrollment = first
    * observed event: `dropDuplicatesWithinWatermark` keeps the first
    * row in PROCESSING order, so with out-of-order input the same data
    * can attribute a user to a different window across runs — the
    * documented trade for one-row-per-user state; exact event-time-first
    * attribution would need a min-timestamp aggregate per user, at the
    * same state cost but an extra shuffle, and the per-window n_a/n_b
    * totals differ only for users whose first two events straddle a
    * window boundary out of order). Scale: dedup state is one row per
    * active user within the horizon; the aggregate is |windows|-grain.
    */
  def streamingSrm(timeCol: String, windowLen: String,
      watermarkDelay: String)(events: DataFrame): DataFrame = {
    val arm = pmod(graft.functions.PortableHash.h15(
      concat(lit("exp1:"), col("user_id").cast("string"))), lit(2L))
    val nd = col("n_users").cast("double")
    val z = (col("n_a").cast("double") - nd / lit(2.0)) /
      sqrt(nd * lit(0.25))
    events
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("user_id")
      .withColumn("arm", arm)
      .groupBy(window(col(timeCol), windowLen))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("window.start").as("window_start"), col("n_users"),
        col("n_a"), col("n_b"), z.as("z"), (abs(z) > lit(3.0)).as("srm_flag"))
  }

  /** Live count-anomaly alerting — the streaming dual of the batch
    * `events_anomaly` readout, flagging DURING ingestion instead of at
    * analysis time. Per event_type, arbitrary state carries the open
    * hourly buckets plus running (n, Σx, Σx²) over closed ones; an hour
    * CLOSES when the watermark passes its end, is folded into the
    * stats, and is judged by the SAME all-integer gate as batch —
    * (n·x − S)² > 4·(n·Q − S²), z² > 4 with the divisions multiplied
    * through. Silent hours close as x = 0 (gap-fill — a silent hour is
    * the outage signal), driven by an event-time timer so a type that
    * goes quiet still alerts while OTHER types advance the watermark.
    * Divergence from batch, by construction: batch judges every bucket
    * against full-history stats retrospectively; the live dual judges
    * each bucket against history UP TO ITSELF (all an online detector
    * can know) and converges to the batch verdicts as history grows —
    * StreamingSpec pins the exact prefix-fold semantics. Scale: state
    * per type is the open hours inside the watermark horizon + 4
    * counters; emission is hour-grain. A type silent past
    * `retireAfterMs` of EVENT time is RETIRED (the funnel-TTL pattern):
    * gap-fill stops at the retirement horizon, its state row is
    * removed, and a type that returns later restarts with fresh history
    * (the documented trade for bounded state on an unbounded type
    * universe — without it, every type ever seen gap-fills zero-count
    * verdicts and carries a timer forever). Inert in batch mode (no
    * watermark, nothing closes or retires).
    */
  def streamingAnomaly(timeCol: String, watermarkDelay: String,
      retireAfterMs: Long = 86400000L * 7L)(
      events: DataFrame): Dataset[HourVerdict] = {
    import events.sparkSession.implicits._
    val HourMs = 3600000L
    events
      .withWatermark(timeCol, watermarkDelay)
      // the watermarked TIMESTAMP column itself must survive into the
      // stateful operator (projecting it to a long severs the watermark)
      .select(col("event_type"), col(timeCol).as("__et"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyState, HourVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (ty: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[AnomalyState]) =>
          var st = state.getOption
            .getOrElse(AnomalyState(Map.empty, -1L, 0L, 0L, 0L))
          // fold this batch's events into their open hourly buckets
          rows.foreach { case (_, ts) =>
            val h = math.floorDiv(ts.getTime, HourMs) * HourMs
            st = st.copy(
              open = st.open + (h -> (st.open.getOrElse(h, 0L) + 1L)),
              lastEvent = math.max(st.lastEvent, ts.getTime))
          }
          val wm = state.getCurrentWatermarkMs()
          // close every hour fully below the watermark, ascending, with
          // the gaps zero-filled from the last closed hour forward —
          // but never past the retirement horizon: a dead type must not
          // zero-fill months of silence before its eviction fires
          val out = scala.collection.mutable.ArrayBuffer.empty[HourVerdict]
          val retireAt =
            if (st.lastEvent >= 0L && retireAfterMs < Long.MaxValue - st.lastEvent)
              st.lastEvent + retireAfterMs
            else Long.MaxValue
          if (wm > 0L) {
            val closable = math.min(
              math.floorDiv(wm, HourMs) * HourMs - HourMs,
              if (retireAt == Long.MaxValue) Long.MaxValue
              else math.floorDiv(retireAt, HourMs) * HourMs)
            var cursor =
              if (st.lastClosed >= 0L) st.lastClosed + HourMs
              else if (st.open.nonEmpty) st.open.keys.min
              else Long.MaxValue
            while (cursor <= closable) {
              val x = st.open.getOrElse(cursor, 0L)
              val n = st.n + 1L
              val s = st.s + x
              val q = st.q + x * x
              val dev = n * x - s
              out += HourVerdict(ty, cursor, x, n,
                dev * dev > 4L * (n * q - s * s))
              st = AnomalyState(st.open - cursor, cursor, n, s, q)
              cursor += HourMs
            }
          }
          // retirement: silent past the TTL with nothing left open →
          // evict the state row and stop gap-filling (a returning type
          // restarts with fresh history)
          if (wm > 0L && st.open.isEmpty && retireAt <= wm) {
            state.remove()
          } else {
            state.update(st)
            // wake when the watermark can close the next hour, so silent
            // types keep gap-filling while others advance the stream
            if (st.lastClosed >= 0L || st.open.nonEmpty) {
              // the next hour to close is c; it becomes closable once the
              // watermark reaches c + 1 h, so park the timer exactly there
              val c = if (st.lastClosed >= 0L) st.lastClosed + HourMs
                else st.open.keys.min
              state.setTimeoutTimestamp(math.max(c + HourMs, wm + 1L))
            }
          }
          out.iterator
      }
  }

  /** M1 streaming dual with CUSTOM state — per-partition high-water mark
    * and cumulative record count via
    * `KeyValueGroupedDataset.mapGroupsWithState`: the state store carries
    * one `(highWater, records)` pair per Kafka partition across
    * micro-batches (bounded state — one row per partition, no watermark
    * needed), and every batch emits the refreshed progress row for the
    * partitions it touched. Run with `outputMode("update")`.
    */
  def partitionProgress(df: DataFrame): Dataset[PartitionProgress] = {
    import df.sparkSession.implicits._
    df.select(col("partition").cast("int"), col("offset").cast("long"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (part: Int, rows: Iterator[(Int, Long)],
         st: GroupState[(Long, Long)]) =>
          var (hw, n) = st.getOption.getOrElse((-1L, 0L))
          rows.foreach { case (_, off) =>
            if (off > hw) hw = off
            n += 1
          }
          st.update((hw, n))
          PartitionProgress(part, hw, n)
      }
  }

  /** Funnel-stage tracking as ARBITRARY stateful streaming — the
    * events_funnel dual via `flatMapGroupsWithState` (the emit-only-on-
    * change API the other duals don't exercise): per-user state is the
    * chained (t1, t2, t3) minima under the same 24 h step windows as
    * the batch funnel, and a row is emitted exactly when a user's
    * furthest stage ADVANCES (view → first view; click/purchase →
    * first hit inside the previous stage's window). Contract: events
    * are processed in (t, order-of-arrival) within each batch and
    * assumed in order ACROSS batches (the per-partition Kafka ordering
    * the reference relies on) — a late view cannot retroactively
    * re-chain clicks that already streamed past. State is 3 longs per
    * user and is BOUNDED, not just assumed bounded: every funnel — open
    * OR completed — carries a processing-time TTL (`stateTtlMs`), and a
    * user quiet past the TTL is evicted (an evicted user restarts the
    * funnel on return — the documented trade for bounded state on an
    * unbounded user universe). Completed funnels deliberately KEEP
    * their state until the TTL reclaims it: dropping it eagerly would
    * break batch ≡ streaming, because a post-purchase 'view' arriving
    * in a later micro-batch would find empty state and re-emit stage 1
    * while batch mode (one group call, local state) emits nothing —
    * StreamingSpec pins the post-completion case. Each group's batch rows materialize in
    * memory for the in-batch sort — per (user, trigger) grain, fine
    * unless one user floods a single trigger. Runs identically on a
    * batch Dataset (empty state, one group call, TTL inert) —
    * StreamingSpec pins batch ≡ streamed emissions.
    */
  def funnelStages(events: Dataset[(Long, String, Long)],
      stepWindowMs: Long,
      stateTtlMs: Long = 86400000L * 7L): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // lapsed funnel: evict silently (no emission on timeout)
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            val out = scala.collection.mutable.ArrayBuffer
              .empty[FunnelAdvance]
            rows.toSeq.sortBy(_._3).foreach { case (_, ty, t) =>
              if (ty == "view" && st.t1 < 0L) {
                st = st.copy(t1 = t); out += FunnelAdvance(uid, 1, t)
              } else if (ty == "click" && st.t1 >= 0L && st.t2 < 0L &&
                  t > st.t1 && t <= st.t1 + stepWindowMs) {
                st = st.copy(t2 = t); out += FunnelAdvance(uid, 2, t)
              } else if (ty == "purchase" && st.t2 >= 0L && st.t3 < 0L &&
                  t > st.t2 && t <= st.t2 + stepWindowMs) {
                st = st.copy(t3 = t); out += FunnelAdvance(uid, 3, t)
              }
            }
            // completed funnels keep their state (TTL reclaims it):
            // removing it here would let a post-purchase view in a
            // later batch restart the funnel, diverging from batch mode
            state.update(st)
            state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }
  }

  /** M2 streaming dual — tumbling-window throughput with a watermark
    * bounding the window state (late data beyond `watermarkDelay` is
    * dropped, closed windows are evicted): counts per (window, topic).
    */
  def windowedThroughput(timeCol: String, windowLen: String,
      watermarkDelay: String)(df: DataFrame): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen).as("w"), col("topic"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("topic"), col("n"))
}
