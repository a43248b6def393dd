package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Confluent wire format + registry-dispatched Avro decode, built on the
  * Avro runtime that ships with Spark (`avro-1.12.1.jar`) — no external
  * connector needed.
  *
  * Wire format (reference: src/kafka/encode_decode.go:115-147 and
  * src/kafka/fixtures/producer.go:96-118): byte 0 = magic `0`, bytes 1-4 =
  * big-endian schema-registry id, bytes 5.. = Avro binary body.
  *
  * The decode is the one genuinely custom operator in the engine
  * (SURVEY.md §7.4): Spark's built-in Avro path takes a single fixed
  * schema, while the reference dispatches per message on the embedded
  * schema id with a cached codec per id
  * (src/kafka/encode_decode.go:122-134; registry cache
  * src/schema_registry/schema_registry.go:16-27). [[MultiSchemaAvroDecode]]
  * reproduces exactly that: a [[SchemaProvider]] resolving writer schemas
  * by id (config map offline, cached HTTP live), a per-(thread,id)
  * `GenericDatumReader` cache, and decode into the reader schema's
  * Catalyst struct. Decode errors and unknown ids yield null (D6 drop
  * semantics — a poison message can't wedge the stream, SURVEY.md §7.5.5).
  *
  * Type surface: everything goavro hands the reference
  * (encode_decode.go:42-81 just reflects whatever the codec yields) —
  * records (arbitrarily nested), arrays, string-keyed maps, enums, fixed,
  * multi-branch unions, and the standard logical types (decimal on
  * bytes/fixed, date, timestamp-millis/micros). Multi-branch unions follow
  * the usual Spark-Avro convention: `[null, T]` unwraps to nullable `T`,
  * `[int,long]`/`[float,double]` promote, anything else becomes a struct
  * of `member0..memberN` with exactly one branch set per value.
  *
  * Scale: the decode is evaluated per partition on executors with zero
  * shuffle. Its generated code calls the expression's own decode through
  * a reference object, so the projection that decodes stays inside
  * whole-stage codegen (one `CodegenFallback` expression would take the
  * whole `Project` out of the generated stage). The Avro->Catalyst
  * converter tree is compiled once per schema (not re-dispatched per
  * value).
  */
object AvroWire {

  // ------------------------------------------------------------ D2: header

  /** Big-endian int32 schema id from bytes [1,5) of the value. `conv` is
    * unsigned, so re-sign manually to preserve the reference's int32 cast
    * (encode_decode.go:144-147).
    */
  def schemaId(value: Column): Column = {
    val unsigned = conv(hex(substring(value, 2, 4)), 16, 10).cast("long")
    when(unsigned >= 2147483648L, (unsigned - 4294967296L).cast("int"))
      .otherwise(unsigned.cast("int"))
  }

  /** Magic-byte check: first byte must be 0. */
  def magicOk(value: Column): Column =
    substring(value, 1, 1) === lit(Array[Byte](0))

  /** Avro body: everything after the 5-byte header (encode_decode.go:117). */
  def avroBody(value: Column): Column =
    substring(value, 6, Int.MaxValue)

  // ----------------------------------------------- Avro <-> Catalyst types

  private def nonNullBranches(s: Schema): Seq[Schema] =
    s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toSeq

  /** Catalyst type for an Avro schema — full goavro-equivalent surface. */
  def catalystType(s: Schema): DataType = (s.getLogicalType, s.getType) match {
    case (d: LogicalTypes.Decimal, _) => DecimalType(d.getPrecision, d.getScale)
    case (_: LogicalTypes.Date, _) => DateType
    case (_: LogicalTypes.TimestampMillis, _) => TimestampType
    case (_: LogicalTypes.TimestampMicros, _) => TimestampType
    case (_, Schema.Type.BOOLEAN) => BooleanType
    case (_, Schema.Type.INT) => IntegerType
    case (_, Schema.Type.LONG) => LongType
    case (_, Schema.Type.FLOAT) => FloatType
    case (_, Schema.Type.DOUBLE) => DoubleType
    case (_, Schema.Type.STRING) => StringType
    case (_, Schema.Type.BYTES) => BinaryType
    case (_, Schema.Type.ENUM) => StringType
    case (_, Schema.Type.FIXED) => BinaryType
    case (_, Schema.Type.ARRAY) => ArrayType(catalystType(s.getElementType))
    case (_, Schema.Type.MAP) => MapType(StringType, catalystType(s.getValueType))
    case (_, Schema.Type.UNION) =>
      val branches = nonNullBranches(s)
      val kinds = branches.map(_.getType).toSet
      if (branches.size == 1) catalystType(branches.head)
      else if (kinds == Set(Schema.Type.INT, Schema.Type.LONG)) LongType
      else if (kinds == Set(Schema.Type.FLOAT, Schema.Type.DOUBLE)) DoubleType
      else StructType(branches.zipWithIndex.map { case (b, i) =>
        StructField(s"member$i", catalystType(b))
      })
    case (_, Schema.Type.RECORD) =>
      StructType(s.getFields.asScala.toSeq.map(f =>
        StructField(f.name, catalystType(f.schema))))
    case (_, other) => throw new IllegalArgumentException(s"unsupported $other")
  }

  /** Compile an Avro-value -> Catalyst-value converter for a schema. Done
    * once per schema (the per-value path is a pre-resolved closure tree,
    * no type re-dispatch per record).
    */
  private def converter(s: Schema): Any => Any = (s.getLogicalType, s.getType) match {
    case (d: LogicalTypes.Decimal, _) =>
      val (p, sc) = (d.getPrecision, d.getScale)
      v => {
        val bytes = v match {
          case b: ByteBuffer =>
            val a = new Array[Byte](b.remaining); b.duplicate.get(a); a
          case f: GenericFixed => f.bytes()
        }
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(bytes), sc), p, sc)
      }
    case (_: LogicalTypes.Date, _) => identity // epoch days == DateType encoding
    case (_: LogicalTypes.TimestampMillis, _) =>
      v => java.lang.Long.valueOf(v.asInstanceOf[java.lang.Long] * 1000L) // ms -> µs
    case (_: LogicalTypes.TimestampMicros, _) => identity
    case (_, Schema.Type.STRING) => v => UTF8String.fromString(v.toString)
    case (_, Schema.Type.ENUM) => v => UTF8String.fromString(v.toString)
    case (_, Schema.Type.BYTES) => v => {
      val b = v.asInstanceOf[ByteBuffer]
      val a = new Array[Byte](b.remaining); b.duplicate.get(a); a
    }
    case (_, Schema.Type.FIXED) => v => v.asInstanceOf[GenericFixed].bytes().clone()
    case (_, Schema.Type.ARRAY) =>
      val elem = nullSafe(s.getElementType)
      v => {
        val it = v.asInstanceOf[java.util.Collection[_]].iterator
        val out = Array.newBuilder[Any]
        while (it.hasNext) out += elem(it.next())
        new GenericArrayData(out.result())
      }
    case (_, Schema.Type.MAP) =>
      val value = nullSafe(s.getValueType)
      v => {
        val m = v.asInstanceOf[java.util.Map[_, _]]
        val keys = new Array[Any](m.size)
        val vals = new Array[Any](m.size)
        var i = 0
        val it = m.entrySet.iterator
        while (it.hasNext) {
          val e = it.next()
          keys(i) = UTF8String.fromString(e.getKey.toString)
          vals(i) = value(e.getValue)
          i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
      }
    case (_, Schema.Type.UNION) =>
      val branches = nonNullBranches(s)
      val kinds = branches.map(_.getType).toSet
      if (branches.size == 1) nullSafe(branches.head)
      else if (kinds == Set(Schema.Type.INT, Schema.Type.LONG))
        v => if (v == null) null
             else java.lang.Long.valueOf(v.asInstanceOf[Number].longValue)
      else if (kinds == Set(Schema.Type.FLOAT, Schema.Type.DOUBLE))
        v => if (v == null) null
             else java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue)
      else {
        // member position of each full-union branch index (null branch -> -1)
        val memberOf = s.getTypes.asScala.toIndexedSeq
          .map(b => branches.indexWhere(_ eq b)).toArray
        val convs = branches.map(nullSafe).toArray
        v => if (v == null) null else {
          val mi = memberOf(GenericData.get().resolveUnion(s, v))
          val row = new Array[Any](branches.size)
          row(mi) = convs(mi)(v)
          new GenericInternalRow(row)
        }
      }
    case (_, Schema.Type.RECORD) =>
      val fields = s.getFields.asScala.toIndexedSeq.map(f => nullSafe(f.schema))
      v => {
        val r = v.asInstanceOf[GenericRecord]
        val row = new Array[Any](fields.size)
        var i = 0
        while (i < fields.size) { row(i) = fields(i)(r.get(i)); i += 1 }
        new GenericInternalRow(row)
      }
    case _ => identity // boolean / int / long / float / double pass through
  }

  private def nullSafe(s: Schema): Any => Any = {
    val c = converter(s)
    v => if (v == null) null else c(v)
  }

  // --------------------------------------------- D3: registry-driven decode

  /** Registry-dispatched Confluent-Avro decode expression. */
  case class MultiSchemaAvroDecode(
      child: Expression,
      readerSchemaJson: String,
      provider: SchemaProvider)
      extends UnaryExpression {

    override def dataType: DataType =
      catalystType(new Schema.Parser().parse(readerSchemaJson))
    override def nullable: Boolean = true
    override def prettyName: String = "from_confluent_avro"

    // per-(thread, schema id) reader cache — the Spark analogue of the
    // reference's sync.Map codec cache (encode_decode.go:122-134);
    // DatumReader/decoder are not thread-safe, hence the thread key
    @transient private lazy val readers =
      new ThreadLocal[TrieMap[Int, GenericDatumReader[GenericRecord]]] {
        override def initialValue() = TrieMap.empty
      }
    @transient private lazy val readerSchema =
      new Schema.Parser().parse(readerSchemaJson)
    @transient private lazy val rootConverter = nullSafe(readerSchema)

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      if (bytes.length < 6 || bytes(0) != 0) return null // bad magic/short
      val id = ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
        ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
      provider.schemaFor(id) match {
        case None => null // unknown schema id -> drop (D6)
        case Some(writerJson) =>
          try {
            val reader = readers.get().getOrElseUpdate(id,
              new GenericDatumReader[GenericRecord](
                new Schema.Parser().parse(writerJson), readerSchema))
            val dec = DecoderFactory.get()
              .binaryDecoder(bytes, 5, bytes.length - 5, null)
            rootConverter(reader.read(null, dec))
          } catch { case _: Exception => null } // malformed body -> drop
      }
    }

    // each task deserializes its own copy of the referenced expression,
    // so the reader cache above stays per task
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val decode = ctx.addReferenceObj("avroDecode", this)
      val boxed = CodeGenerator.boxedType(dataType)
      nullSafeCodeGen(ctx, ev, bytes =>
        s"""${ev.value} = ($boxed) $decode.nullSafeEval($bytes);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Column wrapper: decode a Confluent-framed Avro binary column into a
    * struct of the reader schema, writer schemas from `provider` (a
    * [[MapSchemaProvider]] config map or the cached-HTTP registry client).
    */
  def fromConfluentAvro(value: Column, readerSchemaJson: String,
      provider: SchemaProvider): Column =
    ColumnBridge.column(MultiSchemaAvroDecode(
      ColumnBridge.expression(value), readerSchemaJson, provider))

  // --------------------------------------- serialization dual (fixtures)

  // parsed-schema + writer cache for the fixture encoder: schema parsing
  // per record is ~100× the cost of the encode itself. Keyed per thread
  // (GenericDatumWriter isn't thread-safe) by the schema text itself —
  // callers may encode different schemas under one registry id.
  @transient private lazy val encoders =
    new ThreadLocal[TrieMap[String, (Schema, GenericDatumWriter[GenericRecord])]] {
      override def initialValue() = TrieMap.empty
    }

  /** Thread-cached parsed schema — for fixture builders that need
    * subschemas (enum symbols, fixed, nested records).
    */
  def schemaOf(schemaJson: String): Schema =
    encoders.get().getOrElseUpdate(schemaJson, {
      val s = new Schema.Parser().parse(schemaJson)
      (s, new GenericDatumWriter[GenericRecord](s))
    })._1

  /** Encode one record in Confluent wire format — the test-producer dual
    * (reference: src/kafka/fixtures/producer.go:96-118). Driver/test-side
    * fixture machinery, not a data-path operator. Field values must
    * already be Avro-generic-compatible (java.util collections,
    * GenericData.EnumSymbol/Fixed/Record, ByteBuffer for bytes/decimal).
    */
  def encodeConfluent(id: Int, schemaJson: String,
      fields: Map[String, Any]): Array[Byte] = {
    val (schema, writer) = encoders.get().getOrElseUpdate(schemaJson, {
      val s = new Schema.Parser().parse(schemaJson)
      (s, new GenericDatumWriter[GenericRecord](s))
    })
    val rec = new GenericData.Record(schema)
    fields.foreach { case (k, v) => rec.put(k, v) }
    val out = new ByteArrayOutputStream()
    out.write(0)
    out.write(ByteBuffer.allocate(4).putInt(id).array())
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }
}
