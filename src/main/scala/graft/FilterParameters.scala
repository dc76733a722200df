package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A comparison constant whose generated code reads its value from a field
  * set when the generated class is initialised, instead of inlining it.
  *
  * It prints, evaluates and compares like the [[Literal]] it replaces. Its
  * equality and canonical form include the value, so exchange reuse never
  * merges two plans that differ only in a bound.
  */
case class FilterParameter(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule (loaded by [[GraftExtensions]]): in every `FilterExec`
  * condition, a non-null int, long, double, date or timestamp literal that is
  * a direct operand of a comparison becomes a [[FilterParameter]].
  *
  * Spark inlines primitive literals into the generated Java, so a filter
  * whose bounds change between runs, like the window predicate
  * `ts > from AND ts <= to` of [[graft.pipeline.WindowedSource]], makes its
  * whole-stage-codegen stage a new source text every time. That text is
  * compiled by Janino on the driver and again in the task (the codegen cache
  * is keyed on the context classloader too), and a class that is new each
  * time is never JIT-compiled. With the bounds as parameters, one plan shape
  * compiles one class.
  *
  * Only the physical filter changes: pushdown is decided earlier, from the
  * logical plan, so Parquet's `PushedFilters` and a JDBC scan's `WHERE`
  * clause still carry the literal bounds. Other literals stay inlined: a
  * string or decimal literal is already a reference, and an operand outside
  * a comparison may be one an expression needs to see at compile time.
  */
object ParameterizeFilterLiterals extends Rule[SparkPlan] {

  private def parameterizable(t: DataType): Boolean = t match {
    case IntegerType | LongType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def parameterize(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.mapChildren {
      case Literal(v, t) if v != null && parameterizable(t) => FilterParameter(v, t)
      case other => other
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val condition = parameterize(f.condition)
      if (condition eq f.condition) f else f.copy(condition = condition)
  }
}
