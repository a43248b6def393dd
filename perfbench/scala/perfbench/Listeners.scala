package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work counted per job group: jobs, tasks, executor CPU, GC and
  * shuffle bytes written.
  */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuMs: Double = 0,
    gcMs: Double = 0, shuffleBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks,
    cpuMs - o.cpuMs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
}

/** Attributes every job and task to the job group that was set on the
  * thread that launched it (see [[Groups.within]]).
  */
final class JobStats extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Work]

  private def add(g: String, w: Work): Unit =
    byGroup(g) = byGroup.getOrElse(g, Work()) + w

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Groups.GroupKey)))
      .getOrElse("(none)")
    e.stageIds.foreach(stageGroup(_) = g)
    add(g, Work(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w =
      if (m == null) Work(tasks = 1)
      else Work(tasks = 1, cpuMs = m.executorCpuTime / 1e6,
        gcMs = m.jvmGCTime.toDouble,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten)
    add(stageGroup.getOrElse(e.stageId, "(none)"), w)
  }

  def snapshot: Map[String, Work] = synchronized(byGroup.toMap)
}

object JobStats {
  /** Collection time of this JVM so far, all collectors (driver and
    * executors share the JVM in local mode).
    */
  def gcMs: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def total(m: Map[String, Work]): Work = m.values.foldLeft(Work())(_ + _)

  /** Per-group difference of two snapshots. */
  def delta(after: Map[String, Work], before: Map[String, Work])
      : Map[String, Work] =
    after.map { case (g, w) => g -> (w - before.getOrElse(g, Work())) }
      .filter { case (_, w) => w.jobs > 0 || w.tasks > 0 }
}

/** One finished micro-batch as the engine reports it. */
final case class BatchProgress(batchId: Long, rows: Long,
    durations: Map[String, Long]) {
  def wallMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Collects `StreamingQueryProgress.durationMs` for every batch that read
  * rows.
  */
final class Phases extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[BatchProgress]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(BatchProgress(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def clear(): Unit = batches.clear()
  def all: Seq[BatchProgress] = batches.asScala.toSeq
}

object Groups {
  val GroupKey = "spark.jobGroup.id"
  private val keys = Seq(GroupKey, "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Run `body` with job group `name` on this thread, then restore the
    * thread's previous group (the stream thread carries its own).
    */
  def within[T](sc: SparkContext, name: String)(body: => T): T = {
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try Trace.span(name)(body)
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbenchbridge.ListenerDrain(sc)
}
