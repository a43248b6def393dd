package graft

import java.sql.Timestamp

import graft.operators.InjectorOps
import graft.operators.InjectorOps.InjectorConfig
import graft.streaming.EsHttpSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.JobCount
import org.apache.spark.sql.types._

/** One [[EsHttpSink.write]] of an 8-partition assembled batch to an
  * [[EsStubServer]], counting the tasks its job starts. The spec runs it
  * on its own session, and through [[fork]] on a `local[2]` session in a
  * separate JVM (one JVM holds one SparkContext).
  *
  * Run alone: `graft.SinkWave <master>` prints one `sinkwave` line.
  */
object SinkWave {

  final case class Result(partitions: Int, tasks: Int, inserted: Long)

  val Docs = 64

  def run(spark: SparkSession): Result = {
    import spark.implicits._
    val es = new EsStubServer
    val port = es.start()
    try {
      val msgs = (0 until Docs).map { i =>
        Msg(null, s"""{"id":"r$i","n":$i}""".getBytes("UTF-8"), "my-topic",
          i % 8, i.toLong, Timestamp.valueOf("2024-03-05 10:11:12.345"), 0)
      }
      val schema = StructType(Seq(StructField("id", StringType),
        StructField("n", IntegerType)))
      val batch = InjectorOps.pipeline(InjectorConfig(), schema)(
        spark.sparkContext.parallelize(msgs, 8).toDF())
      val sink = new EsHttpSink(s"http://localhost:$port")
      val (_, tasks) = JobCount.tasks(spark.sparkContext)(sink.write(batch, 0L))
      Result(batch.queryExecution.toRdd.getNumPartitions, tasks,
        sink.inserted.sum())
    } finally es.stop()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(args(0)).appName("sinkwave")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val r = run(spark)
      println(s"sinkwave ${r.partitions} ${r.tasks} ${r.inserted}")
    } finally spark.stop()
  }

  /** [[main]] on `master` in a fresh JVM with this JVM's class path and
    * module options: its result, or the end of its output when it fails
    * or outlives `timeoutSec`.
    */
  def fork(master: String, timeoutSec: Long = 240): Either[String, Result] = {
    import scala.jdk.CollectionConverters._
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = raw.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" && i + 1 < raw.length =>
        Seq(a, raw(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
    }.flatten
    val javaBin =
      java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val log = java.io.File.createTempFile("sinkwave", ".log")
    try {
      val proc = new ProcessBuilder((Seq(javaBin) ++ opens ++ Seq(
          "-Xmx768m", "-cp", sys.props("java.class.path"),
          "graft.SinkWave", master)): _*)
        .redirectErrorStream(true).redirectOutput(log).start()
      val done = proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) proc.destroyForcibly().waitFor()
      val out = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
      out.linesIterator.collectFirst {
        case l if done && l.startsWith("sinkwave ") =>
          val Array(_, p, t, n) = l.split(" ")
          Result(p.toInt, t.toInt, n.toLong)
      }.toRight(s"fork on $master failed (finished: $done): " +
        out.takeRight(3000))
    } finally log.delete()
  }
}
