package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the span that was
  * open on the same thread when this one started (0 = none); spans of one
  * micro-batch or one query share that chain.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, thread: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off by default: an untraced run pays one
  * volatile read per boundary. Spans are written out only when the run
  * ends.
  */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parent)
        spans.add(Span(id, parent, name, t0, t1,
          Thread.currentThread().getName))
      }
    }

  /** A span measured by the caller (the endpoint's service time, which
    * runs on its own threads and has no parent).
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, startNs, endNs,
      Thread.currentThread().getName))

  def clear(): Unit = spans.clear()
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of it covered by its children.
    */
  def selfTimes(ss: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
      name -> ((group.size, group.map(_.ms).sum, self))
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + math.max(0L, curE - curS)
  }
}
