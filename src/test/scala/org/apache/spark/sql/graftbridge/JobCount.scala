package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block starts from the calling thread (and the threads
  * it hands its job group to), counted by a listener once the listener
  * bus, which is `private[spark]`, has delivered every event.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
