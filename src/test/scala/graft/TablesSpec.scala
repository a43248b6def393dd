package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Loader normalization guards. The driver regenerates testdata between
  * rounds and has already shipped `events.ts` under two different
  * physical encodings (TIMESTAMP(NANOS) read as long, then
  * TIMESTAMP_NTZ(µs)) — round 8's end-of-round gate lost 59
  * events-derived queries to exactly that drift. These tests pin the
  * loader contract — whatever the parquet says, consumers see a plain
  * TIMESTAMP column that `unix_millis`/`window()` accept — against the
  * CURRENT testdata, so a third encoding fails here first, not at the
  * driver.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("events.ts normalizes to TIMESTAMP under the current encoding") {
    val e = Tables.events(spark, dir)
    assert(e.schema("ts").dataType == TimestampType,
      s"ts decoded as ${e.schema("ts").dataType}")
    // unix_millis is the strictest consumer (rejects TIMESTAMP_NTZ)
    val row = e.select(unix_millis(col("ts")).as("ms")).limit(1).collect()
    assert(row.nonEmpty && row.head.getLong(0) > 0L)
  }

  test("every driver table loads with rows") {
    for (n <- Tables.names) {
      val df = n match {
        case "events" => Tables.events(spark, dir)
        case _        => Tables.load(spark, dir, n)
      }
      assert(df.limit(1).count() == 1L, s"$n is empty")
    }
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  // each conf test loads on a fresh session: its own conf, and a cache
  // miss in Tables' per-session spread cache
  test("events: the caller's session conf is untouched and ts loads as TIMESTAMP at every scale") {
    val caller = spark.newSession()
    val before = caller.conf.getOption(nanosKey)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = Tables.events(caller, s"${new java.io.File(dir).getParent}/$sf")
      assert(e.schema("ts").dataType == TimestampType, sf)
    }
    assert(firstMillis(Tables.events(caller, dir)) > 0L)
    assert(caller.conf.getOption(nanosKey) == before)
  }

  private def firstMillis(e: org.apache.spark.sql.DataFrame): Long =
    e.select(unix_millis(col("ts"))).limit(1).collect().head.getLong(0)

  test("events: a TIMESTAMP(NANOS) file loads as TIMESTAMP, truncated to µs, without the caller setting the nanos flag") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$d/events.parquet"))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val rows = Seq(1L -> 1709596800123456789L, 2L -> 1709683200000000999L)
    val groups = new SimpleGroupFactory(schema)
    rows.foreach { case (u, ns) =>
      w.write(groups.newGroup().append("user_id", u).append("ts", ns)) }
    w.close()
    val caller = spark.newSession()
    val before = caller.conf.getOption(nanosKey)
    val e = Tables.events(caller, d)
    assert(e.schema("ts").dataType == TimestampType)
    val got = e.select(col("user_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rows.map { case (u, ns) => u -> ns / 1000L }.toMap)
    assert(caller.conf.getOption(nanosKey) == before)
  }
}
