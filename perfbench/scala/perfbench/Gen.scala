package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

/** A Kafka message as Spark's Kafka source shapes it. */
final case class Rec(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

/** The payload a producer wrote. `kind`: 0 well-formed, 1 tombstone (null
  * value), 2 malformed bytes.
  */
final case class Payload(userId: Long, eventType: String, value: Double,
    props: String, kind: Int, bytes: Array[Byte])

/** Input generation. Every byte comes from the seed; the Kafka timestamp
  * is the message's scheduled creation time on a seed-chosen day, so the
  * same seed gives the same records and the same target index.
  */
object Gen {
  val Topic = "events"
  val Partitions = 8
  val EventTypes = Array("view", "click", "purchase", "signup", "error")

  val jsonSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** 01:00 UTC on a seed-chosen day of 2024, in epoch ms. */
  def baseMs(seed: Long): Long =
    1704067200000L + java.lang.Math.floorMod(seed, 365L) * 86400000L +
      3600000L

  def indexFor(seed: Long): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    s"$Topic-${f.format(new java.util.Date(baseMs(seed)))}"
  }

  private def fields(r: scala.util.Random) = {
    val uid = r.nextInt(100000).toLong
    val et = EventTypes(r.nextInt(EventTypes.length))
    val v = r.nextInt(1000000) / 100.0
    val props = s"k${r.nextInt(100)};s${r.nextInt(20)}"
    (uid, et, v, props)
  }

  /** JSON payloads; `tombstone`/`malformed` are shares in [0, 1). */
  def jsonPayload(r: scala.util.Random, tombstone: Double,
      malformed: Double): Payload = {
    val (uid, et, v, props) = fields(r)
    val u = r.nextDouble()
    val kind = if (u < tombstone) 1 else if (u < tombstone + malformed) 2
      else 0
    val json = s"""{"user_id":$uid,"event_type":"$et","value":$v,""" +
      s""""props":"$props"}"""
    val bytes = kind match {
      case 0 => json.getBytes(UTF_8)
      case 1 => null
      case _ => json.substring(0, json.length / 2).getBytes(UTF_8)
    }
    Payload(uid, et, v, props, kind, bytes)
  }

  def rec(p: Payload, partition: Int, offset: Long, tsMs: Long): Rec =
    Rec(null, p.bytes, Topic, partition, offset, new Timestamp(tsMs), 0)
}
