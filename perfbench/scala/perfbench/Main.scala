package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --expected FILE --results DIR`.
  *
  * Prints a human summary, then as its last line `PERFBENCH {json}` with
  * the verdict and every metric it measured; `run.py` picks the ones
  * `BENCHMARK.json` declares. Writes the full result (and, traced, every
  * span) to the results directory.
  */
object Main {
  val Workloads = Seq("ingest_json_paced", "analytics_basket")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val results = new File(args("results"))
    results.mkdirs()

    val watchdog = new Thread(() => {
      Thread.sleep(args.getOrElse("limit", "170").toLong * 1000L)
      System.err.println("perfbench: run exceeded its time limit")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true); watchdog.start()

    val calib0 = Calibration.run()
    val work = new File(args("work")).getAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietBenignErrors()
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val phases = new Phases
    spark.streams.addListener(phases)

    val out = new Out
    val t = System.nanoTime()
    workload match {
      case "analytics_basket" =>
        new Basket(spark, seed, seconds, traced, args("data"),
          expected(args("expected")), stats).run(out)
      case _ =>
        new Ingest(spark, seed, seconds, traced, work, stats, phases).run(out)
    }
    val calib1 = Calibration.run()
    out.layer("host.calibration_ms", (calib0 + calib1) / 2, "ms")
    out.detail("host.calibration_ms_each") = Seq(calib0, calib1)
    out.detail("run_s") = (System.nanoTime() - t) / 1e9
    spark.stop()

    val name = s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"
    val untraced = new File(results, s"$workload-seed$seed-trace0.json")
    if (traced && untraced.exists()) {
      // tracing overhead: traced minus untraced end-to-end metrics
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(untraced).get("end_to_end")
      out.detail("trace_overhead") = out.e2eMetrics.collect {
        case (k, (v, u)) if m.has(k) =>
          val base = m.get(k).get("value").asDouble
          k -> Map("traced" -> v, "untraced" -> base, "delta" -> (v - base),
            "unit" -> u)
      }.toMap
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "correct" -> out.correct,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "error_rate" -> out.failed.toDouble / math.max(1L, out.attempted),
      "end_to_end" -> out.metricsJson(out.e2eMetrics),
      "per_layer" -> out.metricsJson(out.layerMetrics),
      "detail" -> out.detail)
    Files.write(new File(results, name).toPath, Json.write(record).getBytes(UTF_8))

    println(f"workload $workload seed $seed trace ${if (traced) 1 else 0}: " +
      f"correct=${out.correct} attempted=${out.attempted} failed=${out.failed} " +
      f"error_rate=${out.failed.toDouble / math.max(1L, out.attempted)}%.6f")
    (out.e2eMetrics ++ out.layerMetrics).foreach { case (k, (v, u)) =>
      println(f"  $k%-44s $v%14.4f $u")
    }
    out.detail.get("checks").foreach(c => println(s"  checks ${Json.write(c)}"))
    out.detail.get("mismatches").foreach(c => println(s"  mismatches ${Json.write(c)}"))
    println("PERFBENCH " + Json.write(Map(
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "end_to_end" -> out.metricsJson(out.e2eMetrics),
      "per_layer" -> out.metricsJson(out.layerMetrics))))
    System.out.flush()
    sys.exit(0)
  }

  /** `{query: {"rows": n, "digest": hex}}` pinned in the benchmark's files. */
  private def expected(path: String): Map[String, (Long, String)] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      root.fieldNames().asScala.map { q =>
        val n = root.get(q)
        q -> ((n.get("rows").asLong, n.get("digest").asText))
      }.toMap
    }
  }
}
