package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.DataType

/** A driver-built value inlined into a plan: evaluates (and codegens)
  * to `value` exactly as a `Literal` of it would, but renders as
  * `label`. Every SQL execution renders its plan into a description
  * string, and a literal renders every element, so a probe side carried
  * as a literal would cost a string of its whole size per action.
  */
case class Inlined(value: Any, dataType: DataType, label: String)
    extends LeafExpression {
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else ExprCode.forNonNullValue(JavaCode.global(
      ctx.addReferenceObj("inlined", value, CodeGenerator.javaType(dataType)),
      dataType))

  override def toString: String = label
}

object Inlined {
  /** `value` (a Scala value of `dataType`, as a Row-based frame holds
    * it) as a column. */
  def apply(value: Any, dataType: DataType, label: String): Column =
    Glue.column(new Inlined(
      CatalystTypeConverters.createToCatalystConverter(dataType)(value),
      dataType, label))
}
