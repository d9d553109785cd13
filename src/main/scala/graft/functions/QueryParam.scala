package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-call value bound into a plan as a query parameter. It evaluates
  * to `value` (Catalyst's internal representation of `dataType`) like a
  * `Literal`, but it is not foldable and its generated code reads the
  * value from the plan's reference array instead of inlining it. Spark
  * caches compiled classes by their source text, and it inlines int and
  * long literals into that text, so a lookup plan rebuilt with a new
  * literal compiles fresh classes on every call; plans that differ only in
  * a QueryParam's value share one compiled class.
  *
  * The trade: a predicate over a QueryParam is not translated into a
  * data-source pushed filter (translation needs a `Literal`), so it prunes
  * rows in the Filter operator, not parquet row groups. */
case class QueryParam(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override def prettyName: String = "param"
  override def toString: String = s"param(${Literal(value, dataType)})"
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) Literal(null, dataType).genCode(ctx)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      ev.copy(code = code"final $javaType ${ev.value} = $read;", isNull = FalseLiteral)
    }
}
