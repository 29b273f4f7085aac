package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive literal whose generated code does not depend on its value.
  *
  * Spark inlines an int, long, double or date literal into generated Java
  * (`compareDoubles(v, 33.0D)`, `== 2`), and the generated-class cache is
  * keyed on the source, so every new value compiles new classes. This
  * expression has the literal's value, type, `eval`, `toString` and `sql`,
  * but its code reads the value from the `references` array into a field
  * set once at init, the way Spark already treats string and decimal
  * literals. Two plans that differ only in such values then generate the
  * same source and share one compiled class.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = ($javaType) $ref;",
      forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** The types whose literals Spark inlines into generated code. */
  def parameterizable(t: DataType): Boolean = t match {
    case IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Replaces each non-null primitive literal in a `FilterExec` condition
  * with a [[ParamLiteral]], so a serving request with new parameters (a
  * frame id, a bbox, a date range) reuses the classes of the last one.
  *
  * The scan's own `dataFilters` are left alone: parquet pushdown and
  * row-group skipping keep their literals. Idempotent, because a
  * `ParamLiteral` is not a `Literal`, so AQE's re-planning may apply it
  * to a plan it has already rewritten.
  */
object ParamLiteralRule extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transform {
        case Literal(v, t) if v != null && ParamLiteral.parameterizable(t) => ParamLiteral(v, t)
      }
      if (c eq f.condition) f else f.copy(condition = c)
  }
}

/** Runs [[ParamLiteralRule]] after the columnar transitions, which is
  * before whole-stage codegen collapses the plan, with and without AQE. */
object ParamLiteralColumnarRule extends ColumnarRule {
  override def postColumnarTransitions: Rule[SparkPlan] = ParamLiteralRule
}
