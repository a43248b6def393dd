package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskStart}

/** The Spark jobs a block starts from the calling thread (and the threads
  * it hands its job group to), counted by a listener once the listener
  * bus, which is `private[spark]`, has delivered every event.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val r = watched(sc, group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e, group)) n.incrementAndGet()
    })(body)
    (r, n.get)
  }

  /** The tasks started by the Spark jobs of `body` (as in [[apply]]). */
  def tasks[T](sc: SparkContext)(body: => T): (T, Int) = {
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val n = new AtomicInteger
    val r = watched(sc, group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e, group)) e.stageIds.foreach(stages.add)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) n.incrementAndGet()
    })(body)
    (r, n.get)
  }

  private def inGroup(e: SparkListenerJobStart, group: String): Boolean =
    Option(e.properties).exists(p =>
      p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)

  /** `body` under a fresh job group, with `listener(group)` registered
    * until every event of it has been delivered.
    */
  private def watched[T](sc: SparkContext, listener: String => SparkListener)(
      body: => T): T = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val l = listener(group)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      r
    } finally sc.removeSparkListener(l)
  }
}
