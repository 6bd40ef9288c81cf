package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-row edX validation verdict as ONE single-child expression:
  * `edx_row_validate(raw)` → struct<status, model, ts>.
  *
  * Everything — envelope presence/format, the 105-family selector, the
  * per-model payload + envelope rules ([[EdxModels]]), event-time parse —
  * comes from a single Jackson parse of the raw line. Single-child,
  * single-call design matters as much as the parse count: Catalyst's
  * predicate pushdown substitutes projected columns into filter conditions
  * wholesale, so a verdict assembled from N subexpressions re-evaluates all
  * N per filter (the r1-shaped plan measured 27× the single-evaluation row
  * cost). With one expression the substitution can only duplicate one call.
  */
case class EdxRowValidate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = EdxRowValidate.schema
  override def nullIntolerant: Boolean = false
  override def nullable: Boolean = false
  override def prettyName: String = "edx_row_validate"

  override def eval(input: InternalRow): Any =
    EdxModels.verdictRow(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.EdxModels.verdictRow(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object EdxRowValidate {
  /** Verdict + every envelope field the convert stage consumes — the
    * verdict parse doubles as the envelope parse for the production path. */
  val schema: StructType = StructType(Seq(
    StructField("status", StringType, nullable = false),
    StructField("model", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("time", StringType, nullable = true),
    StructField("event", StringType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("session", StringType, nullable = true),
    StructField("agent", StringType, nullable = true),
    StructField("page", StringType, nullable = true),
    StructField("user_id", StringType, nullable = true),
    StructField("course_id", StringType, nullable = true),
    // payload fields the convert stage consumes, extracted from the SAME
    // parsed node the payload validation walked — convert does not re-parse
    // the payload
    StructField("event_video_id", StringType, nullable = true),
    StructField("event_current_time", DoubleType, nullable = true),
    StructField("event_old_time", DoubleType, nullable = true),
    StructField("event_new_time", DoubleType, nullable = true),
    StructField("event_pl_course_id", StringType, nullable = true)))

  def apply(raw: Column): Column =
    ExpressionUtils.column(EdxRowValidate(ExpressionUtils.expression(raw)))
}
