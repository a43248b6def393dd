package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Operational metrics (reference M1-M4, src/metrics/metrics.go) as a
  * `StreamingQueryListener` — the Spark-native seam for the Prometheus
  * gauges the reference publishes from hand-rolled goroutines:
  *
  *  - M1 consumer lag → per-source `latestOffset - endOffset` backlog is
  *    already in each progress event (`sources[i].metrics`); snapshotted
  *    here per query.
  *  - M2 throughput counter → cumulative `numInputRows`
  *    (metrics.go:28-30 `records_consumed_successfully`).
  *  - M3 sink-latency summary → `durationMs("addBatch")` of the last
  *    batch (middleware.go:15-20 wall-clock of Insert).
  *  - M4 buffer-full gauge → nearest analogue is falling behind:
  *    `inputRowsPerSecond > processedRowsPerSecond` (there is no app
  *    buffer to saturate; admission control is `maxOffsetsPerTrigger`).
  *
  * M5's inserted/conflict/bad-request/retry counters live on
  * [[EsHttpSink]] itself.
  */
class MetricsListener extends StreamingQueryListener {

  final case class Snapshot(
      batchId: Long,
      inputRows: Long,
      lastBatchRows: Long,
      lastAddBatchMs: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double) {
    /** M4 analogue: true when the stream is receiving faster than it
      * processes (backlog growing).
      */
    def fallingBehind: Boolean =
      inputRowsPerSecond > processedRowsPerSecond &&
        processedRowsPerSecond > 0
  }

  private val totalRows = new AtomicLong(0L)
  private val last = new AtomicReference[Option[Snapshot]](None)

  def recordsConsumed: Long = totalRows.get() // M2
  def snapshot: Option[Snapshot] = last.get()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // publish the snapshot BEFORE the counter: a reader that observes the
    // new total must also observe a snapshot (events arrive sequentially
    // on the listener bus, so the non-atomic pair is otherwise safe)
    val total = totalRows.get() + p.numInputRows
    last.set(Some(Snapshot(
      batchId = p.batchId,
      inputRows = total,
      lastBatchRows = p.numInputRows,
      lastAddBatchMs = Option(p.durationMs.get("addBatch"))
        .map(_.longValue).getOrElse(0L),
      inputRowsPerSecond = p.inputRowsPerSecond,
      processedRowsPerSecond = p.processedRowsPerSecond)))
    totalRows.set(total)
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
