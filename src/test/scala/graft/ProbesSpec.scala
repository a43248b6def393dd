package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.InjectorOps
import graft.operators.InjectorOps.InjectorConfig
import graft.streaming.{InjectorApp, Probes}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

/** M6 probe semantics (reference src/probes/probes.go + the ES readiness
  * ping): default-false checks, 200/500 answers, and the streaming-query
  * binding that turns a dead stream into an unready pod.
  */
class ProbesSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, route: String): Int = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$route")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(2000)
    conn.setReadTimeout(2000)
    try conn.getResponseCode finally conn.disconnect()
  }

  test("checks default to failing; flips answer 200; flips back 500") {
    val p = new Probes(0)
    val port = p.serve()
    try {
      assert(get(port, "/healthz") == 500)   // default false (probes.go:22-30)
      assert(get(port, "/readiness") == 500)
      p.alive(); p.ready()
      assert(get(port, "/healthz") == 200)
      assert(get(port, "/readiness") == 200)
      p.unready(); p.dead()
      assert(get(port, "/healthz") == 500)
      assert(get(port, "/readiness") == 500)
    } finally p.stop()
  }

  test("a throwing readiness check reads as unready, not a server error") {
    val p = new Probes(0)
    val port = p.serve()
    try {
      p.setReadinessCheck(() => throw new RuntimeException("es down"))
      assert(get(port, "/readiness") == 500)
    } finally p.stop()
  }

  test("bind: ready while the stream runs, unready after it stops") {
    implicit val sqlCtx = spark.sqlContext
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("n", IntegerType)))
    val stream = MemoryStream[Msg]
    stream.addData(Seq(Msg(null, """{"id":"a","n":1}""".getBytes("UTF-8"),
      "my-topic", 0, 1L, Timestamp.valueOf("2024-03-05 10:11:12"), 0)))
    val out = Files.createTempDirectory("graft-probes").toString
    val q = InjectorOps.pipeline(
        InjectorConfig(), schema)(stream.toDF())
      .writeStream.format("memory").queryName("probes_out")
      .option("checkpointLocation", s"$out/cp").start()
    val p = new Probes(0)
    val port = p.serve()
    try {
      p.bind(q)
      q.processAllAvailable()
      assert(get(port, "/healthz") == 200)
      assert(get(port, "/readiness") == 200)
      q.stop()
      assert(get(port, "/readiness") == 500) // stopped stream -> recycle pod
      assert(get(port, "/healthz") == 200)   // liveness is a separate switch
    } finally { p.stop(); if (q.isActive) q.stop() }
  }

  test("a busy PROBES_PORT fails InjectorApp.start with no stream left running") {
    implicit val sqlCtx = spark.sqlContext
    val held = new java.net.ServerSocket(0)
    try {
      val out = Files.createTempDirectory("graft-busy-port").toString
      val cfg = InjectorApp.fromEnv(Map(
        "KAFKA_TOPICS" -> "my-topic",
        "KAFKA_CONSUMER_RECORD_TYPE" -> "json",
        "PROBES_PORT" -> held.getLocalPort.toString,
        "CHECKPOINT_LOCATION" -> s"$out/cp"))
      val schema = StructType(Seq(StructField("id", StringType)))
      val before = spark.streams.active.map(_.id).toSet
      intercept[java.io.IOException] {
        InjectorApp.start(spark, cfg, schema,
          source = Some(MemoryStream[Msg].toDF()),
          startSink = Some(_.writeStream.format("memory")
            .queryName("busy_port_out")
            .option("checkpointLocation", s"$out/cp").start()),
          sinkPing = Some(() => true))
      }
      // the port is bound before the query starts, so none is left behind
      assert(spark.streams.active.map(_.id).toSet == before)
    } finally held.close()
  }
}
