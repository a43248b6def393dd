package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCount
import org.apache.spark.sql.types.{LongType, TimestampType}

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

  test("events: one session clone per (session, setting), kept while another setting is in use") {
    import org.apache.spark.sql.graftbridge.SessionBridge
    val caller = spark.newSession()
    val before = caller.conf.getAll
    def planner(key: String, value: String) = {
      var seen: org.apache.spark.sql.SparkSession = null
      SessionBridge.withConf(caller, key, value) { s =>
        seen = s; s.range(1).toDF() }
      seen
    }
    val limitKey = "spark.sql.limit.initialNumPartitions"
    val events = planner(nanosKey, "true")
    val limit = planner(limitKey, "7")
    assert(events ne limit)
    assert(planner(nanosKey, "true") eq events)
    assert(planner(limitKey, "7") eq limit)
    assert(events.conf.get(nanosKey) == "true" &&
      limit.conf.get(limitKey) == "7")
    assert(caller.conf.getAll == before)
    // a changed caller conf takes a fresh clone that carries it
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    val fresh = planner(nanosKey, "true")
    assert((fresh ne events) &&
      fresh.conf.get("spark.sql.shuffle.partitions") == "3")
  }

  private def firstMillis(e: org.apache.spark.sql.DataFrame): Long =
    e.select(unix_millis(col("ts"))).limit(1).collect().head.getLong(0)

  private val nanosRows =
    Seq(1L -> 1709596800123456789L, 2L -> 1709683200000000999L)

  /** A dir whose events.parquet holds `nanosRows` as (user_id,
    * ts TIMESTAMP(NANOS)).
    */
  private def nanosEvents(): String = {
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
    val groups = new SimpleGroupFactory(schema)
    nanosRows.foreach { case (u, ns) =>
      w.write(groups.newGroup().append("user_id", u).append("ts", ns)) }
    w.close()
    d
  }

  test("events: a TIMESTAMP(NANOS) file loads as TIMESTAMP, truncated to µs, without the caller setting the nanos flag") {
    val d = nanosEvents()
    val caller = spark.newSession()
    val before = caller.conf.getOption(nanosKey)
    val e = Tables.events(caller, d)
    assert(e.schema("ts").dataType == TimestampType)
    val got = e.select(col("user_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == nanosRows.map { case (u, ns) => u -> ns / 1000L }.toMap)
    assert(caller.conf.getOption(nanosKey) == before)
  }

  // the schema memo: a table's schema is inferred on its first load only

  private def jobs[T](body: => T): Int = JobCount(spark.sparkContext)(body)._2

  private def tmpTable(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val d = Files.createTempDirectory("graft-memo").toString
    df.write.parquet(s"$d/$name.parquet")
    d
  }

  test("load: a warm load starts no job and its schema is the inferred one, for a directory and a single-file table") {
    import spark.implicits._
    val dirTable = tmpTable("t",
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "x").repartition(2))
    assert(new java.io.File(s"$dirTable/t.parquet").isDirectory)
    assert(new java.io.File(s"$dir/lineitem.parquet").isFile)
    for ((d, n) <- Seq(dirTable -> "t", dir -> "lineitem")) {
      Tables.load(spark, d, n)
      val (df, started) = JobCount(spark.sparkContext)(Tables.load(spark, d, n))
      assert(started == 0, s"$n: a warm load started $started jobs")
      assert(df.schema == spark.read.parquet(s"$d/$n.parquet").schema, n)
      assert(df.count() == spark.read.parquet(s"$d/$n.parquet").count(), n)
    }
  }

  test("load: a rewritten table with an added column infers again") {
    import spark.implicits._
    val d = tmpTable("t", Seq((1L, "a")).toDF("k", "s"))
    Tables.load(spark, d, "t")
    assert(jobs(Tables.load(spark, d, "t")) == 0)
    Seq((2L, "b", 3.0)).toDF("k", "s", "x")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val (df, started) = JobCount(spark.sparkContext)(Tables.load(spark, d, "t"))
    assert(started > 0)
    assert(df.columns.toSeq == Seq("k", "s", "x"))
    assert(df.collect().toSeq == Seq(Row(2L, "b", 3.0)))
  }

  test("load: a missing path fails as an unmemoized read does") {
    val d = Files.createTempDirectory("graft-missing").toString
    val want = scala.util.Try(spark.read.parquet(s"$d/absent.parquet"))
    val got = scala.util.Try(Tables.load(spark, d, "absent"))
    assert(want.isFailure && got.isFailure)
    assert(got.failed.get.getClass == want.failed.get.getClass)
  }

  test("load: sessions with different parquet confs do not share a schema entry") {
    val d = nanosEvents()
    val path = s"$d/events.parquet"
    val flagged = spark.newSession()
    flagged.conf.set(nanosKey, "true")
    assert(Tables.load(flagged, d, "events").schema("ts").dataType == LongType)
    assert(Tables.events(spark.newSession(), d).schema("ts").dataType ==
      TimestampType)
    assert(jobs(Tables.load(flagged, d, "events")) == 0)
    // the unflagged session decodes as a plain read does, not as the
    // flagged entries
    val plain = spark.newSession()
    val want = scala.util.Try(plain.read.parquet(path).schema)
    val got = scala.util.Try(Tables.load(plain, d, "events").schema)
    assert(got.toOption == want.toOption)
    assert(got.failed.toOption.map(_.getClass) ==
      want.failed.toOption.map(_.getClass))
    assert(!want.toOption.exists(_("ts").dataType == LongType))
  }
}
