package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, JsonToStructs}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.graftbridge.CompiledJsonToStructs
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** [[CompiledJsonToStructs]] ≡ Spark's own `from_json` (`JsonToStructs`),
  * row for row and schema for schema, through its generated code (a
  * compiled `UnsafeProjection`, no interpreted fallback) and through its
  * interpreted `eval`, with the injector's PERMISSIVE options over
  * broken, partial and oddly encoded input. The time zone is passed to
  * each expression, as the analyzer does; no session conf is written.
  */
class CompiledJsonSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("user_id", LongType),
    StructField("d", DoubleType),
    StructField("ts", TimestampType),
    StructField("nested", StructType(Seq(StructField("x", IntegerType)))),
    StructField("arr", ArrayType(IntegerType)),
    StructField("_corrupt_record", StringType)))
  private val options = Map("mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt_record")

  private def utf8(s: String) = UTF8String.fromBytes(s.getBytes(UTF_8))
  private def bytes(b: Int*) = UTF8String.fromBytes(b.map(_.toByte).toArray)

  private val inputs: Seq[(String, UTF8String)] = Seq(
    "well-formed" -> utf8("""{"id":"a","user_id":5,"d":1.5,""" +
      """"ts":"2024-03-05 10:11:12","nested":{"x":1},"arr":[1,2]}"""),
    "malformed" -> utf8("""{"alo": 60"""),
    "truncated" -> utf8("""{"id":"a","user_id":5"""),
    "not json" -> utf8("hello"),
    "top-level array" -> utf8("""[{"id":"a"}]"""),
    "missing fields" -> utf8("""{"id":"b"}"""),
    "type mismatch" -> utf8("""{"id":"c","user_id":"abc"}"""),
    "nested mismatch" -> utf8("""{"nested":{"x":"y"},"arr":["z"]}"""),
    // 0xC3 0x28 is not UTF-8: the reader decodes it to U+FFFD
    "invalid utf-8" -> bytes('{', '"', 'i', 'd', '"', ':', '"', 0xC3, 0x28,
      '"', '}'),
    "utf-8 bom" -> bytes(0xEF, 0xBB, 0xBF, '{', '"', 'i', 'd', '"', ':',
      '"', 'b', 'o', 'm', '"', '}'),
    "empty" -> utf8(""),
    "blank" -> utf8("   "),
    "null" -> null)

  private def stock(tz: String): Expression = JsonToStructs(schema, options,
    BoundReference(0, StringType, nullable = true), Some(tz))
  private def compiled(tz: String): Expression = CompiledJsonToStructs(
    schema, options, BoundReference(0, StringType, nullable = true), Some(tz))

  /** The result as an external Row, taken at once: the parser reuses its
    * result row from one input to the next.
    */
  private def external(v: Any, t: DataType): Any =
    CatalystTypeConverters.convertToScala(v, t)

  private def interpreted(e: Expression, in: UTF8String): Any =
    external(e.eval(InternalRow(in)), e.dataType)

  private def generated(e: Expression, in: UTF8String): Any = {
    val out = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow(in))
    if (out.isNullAt(0)) null
    else external(out.getStruct(0, schema.length), e.dataType)
  }

  test("schema: same data type and nullability as from_json") {
    assert(compiled("UTC").dataType == stock("UTC").dataType)
    assert(compiled("UTC").nullable == stock("UTC").nullable)
    assert(compiled("UTC").dataType.asInstanceOf[StructType]
      .forall(_.nullable))
  }

  test("rows: generated and interpreted decode equal from_json on broken, partial and oddly encoded input") {
    for ((name, in) <- inputs) {
      val want = interpreted(stock("UTC"), in)
      assert(interpreted(compiled("UTC"), in) == want, s"interpreted: $name")
      assert(generated(compiled("UTC"), in) == want, s"generated: $name")
    }
    // the cases decode the way the injector relies on: it drops a null
    // struct and one with `_corrupt_record` set, and keeps the rest
    def row(name: String) = interpreted(compiled("UTC"),
      inputs.toMap.apply(name)).asInstanceOf[org.apache.spark.sql.Row]
    def dropped(name: String) = row(name) == null || !row(name).isNullAt(6)
    for (bad <- Seq("malformed", "truncated", "not json", "type mismatch",
        "utf-8 bom", "empty", "blank", "null"))
      assert(dropped(bad), s"$bad must be dropped")
    for (kept <- Seq("well-formed", "missing fields", "invalid utf-8"))
      assert(!dropped(kept), s"$kept must be kept")
    assert(row("invalid utf-8").getString(0) == "\uFFFD(")
  }

  test("time zone: a zone-less timestamp decodes per zone, as from_json does") {
    val in = inputs.head._2
    val perZone = for (tz <- Seq("UTC", "America/Los_Angeles")) yield {
      val want = interpreted(stock(tz), in)
      assert(interpreted(compiled(tz), in) == want, tz)
      assert(generated(compiled(tz), in) == want, tz)
      want.asInstanceOf[org.apache.spark.sql.Row].getTimestamp(3).getTime
    }
    assert(perZone(1) - perZone(0) == 8L * 3600 * 1000,
      "Los Angeles is 8 h behind UTC on 2024-03-05")
  }

  test("one compiled projection decodes many rows without carrying state between them") {
    val proj = GenerateUnsafeProjection.generate(Seq(compiled("UTC")))
    val stockE = stock("UTC")
    for ((name, in) <- inputs ++ inputs.reverse) {
      val out = proj(InternalRow(in))
      val got = if (out.isNullAt(0)) null
        else external(out.getStruct(0, schema.length), schema)
      assert(got == interpreted(stockE, in), name)
    }
  }
}
