package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated percentile of an ascending array (0 when empty). */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val r = p / 100.0 * (sorted.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 50)
}

/** A fixed CPU-bound loop; its time flags runs made in a throttled window. */
object Calibration {
  @volatile private var sink = 0L
  def run(): Double = {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t) / 1e6
  }
}

/** Everything one run reports: the verdict, every metric it measured and
  * the details that go into the run's artifact.
  */
final class Out {
  var correct = false
  var attempted = 0L
  var failed = 0L
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def e2e(name: String, v: Double, unit: String): Unit =
    e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit =
    layerMetrics(name) = (v, unit)

  /** Spark work of the measured interval; `gcMs` is the JVM's collection
    * time over it (task GC time alone reads 0 on small jobs).
    */
  def work(w: Map[String, Work], gcMs: Double): Unit = {
    val t = JobStats.total(w)
    layer("spark.jobs", t.jobs.toDouble, "count")
    layer("spark.tasks", t.tasks.toDouble, "count")
    layer("spark.executor_cpu_ms", t.cpuMs, "ms")
    layer("spark.gc_ms", gcMs, "ms")
    layer("spark.shuffle_bytes", t.shuffleBytes.toDouble, "B")
    detail("job_groups") = w.toSeq.sortBy(_._1).map { case (g, x) =>
      g -> Map("jobs" -> x.jobs, "tasks" -> x.tasks, "cpu_ms" -> x.cpuMs,
        "gc_ms" -> x.gcMs, "shuffle_bytes" -> x.shuffleBytes)
    }.toMap
  }

  def spans(ss: Seq[Span], self: Map[String, (Int, Double, Double)]): Unit =
    if (ss.nonEmpty) {
      detail("layer_self_ms") = self.toSeq.sortBy(_._1).map {
        case (n, (c, total, s)) =>
          n -> Map("spans" -> c, "total_ms" -> total, "self_ms" -> s)
      }.toMap
      val t0 = ss.map(_.startNs).min
      detail("spans") = ss.map(s => Seq(s.id, s.parent, s.name,
        (s.startNs - t0) / 1e6, s.ms, s.thread))
    }

  def metricsJson(m: collection.Map[String, (Double, String)]): Map[String, Any] =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
}

/** JSON for the result records (Scala maps, sequences and numbers). */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
}
