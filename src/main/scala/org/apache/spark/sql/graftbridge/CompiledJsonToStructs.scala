package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(child, schema, options)` that whole-stage codegen keeps in
  * its stage. Spark's `JsonToStructs` is a `CodegenFallback`, and one
  * fallback expression takes its whole `Project` out of the generated
  * stage: the plan splits around a bare `ProjectExec`, which generates an
  * `UnsafeProjection` in every partition of every batch. This expression
  * parses through the same `JsonToStructsEvaluator` that `JsonToStructs`
  * uses, built from the same options, schema, corrupt-record default and
  * time zone, so the parser, the parse modes and `_corrupt_record`
  * handling are Spark's own. Generated code and the interpreted `eval`
  * both call that evaluator; each task deserializes its own copy, and
  * with it its own (not thread-safe) parser.
  */
case class CompiledJsonToStructs(
    schema: DataType,
    options: Map[String, String],
    child: Expression,
    timeZoneId: Option[String] = None,
    variantAllowDuplicateKeys: Boolean =
      SQLConf.get.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))
    extends UnaryExpression with TimeZoneAwareExpression
    with ExpectsInputTypes {

  // as JsonToStructs: the input may lack fields, so every field is nullable
  override def dataType: DataType = schema.asNullable
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "from_json"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val evaluator = JsonToStructsEvaluator(options,
    dataType, SQLConf.get.columnNameOfCorruptRecord, timeZoneId,
    variantAllowDuplicateKeys)

  override def nullSafeEval(json: Any): Any =
    evaluator.evaluate(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val parse = ctx.addReferenceObj("jsonToStructs", evaluator)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, json =>
      s"""${ev.value} = ($boxed) $parse.evaluate($json);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression)
      : CompiledJsonToStructs = copy(child = c)
}
