package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{
  ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{
  DataType, DateType, DoubleType, IntegerType, LongType, TimestampNTZType,
  TimestampType}

/** A literal whose value reaches the generated code through the
  * references array instead of the source text. Spark's `Literal` writes
  * an int, long, double, date or timestamp value into the generated Java
  * (`x > 5` compiles `x > 5`), so two statements that differ only in such
  * a value compile two classes; a `ParamLiteral` reads its value from
  * `references[i]` into a primitive field, once per partition (the field
  * is initialized in the generated class's `init`), and both statements
  * generate one source.
  *
  * It equals, hashes and canonicalizes by value and type, like `Literal`,
  * so exchange and subquery reuse never merge two plans that differ in a
  * value. A NaN double is never made one: `Literal` equals NaN to NaN, a
  * case class's equality does not, and a plan must equal its own copy. It prints and renders as the literal it replaced. It is not
  * foldable: nothing evaluates it at planning time, and no parent's code
  * generation can inline it. */
final case class ParamLiteral(value: Any, dataType: DataType)
    extends LeafExpression {

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj(
      "param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(
      javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode(FalseLiteral, JavaCode.global(field, dataType))
  }
}

/** Physical rule: swap each non-null int, long, double, date or timestamp
  * `Literal` that is a direct child of a comparison or an arithmetic
  * operator in a `FilterExec` condition or a `ProjectExec` list for a
  * `ParamLiteral` (BETWEEN reaches here as two comparisons). A statement
  * re-run with an edited literal — the workbench's edit-and-run loop,
  * a DML key window that moved, an export's `% m = r` — then reuses the
  * classes its first run compiled instead of compiling and running new
  * ones cold.
  *
  * Runs as a `ColumnarRule.preColumnarTransitions`, which Spark applies
  * before `CollapseCodegenStages` both in the plain physical preparations
  * and to each adaptive query stage, so every whole-stage class sees it.
  * Scan nodes keep their literals: `PushedFilters` and row-group skipping
  * are planned from the scan's own filters and do not change. An operator
  * whose operands are all foldable is left alone, so no expression's
  * foldability changes. Strings and decimals already reach generated code
  * through references, and aggregate, join and window expressions are not
  * rewritten. */
object ParamLiterals extends Rule[SparkPlan] {

  private val paramTypes: Set[DataType] = Set(
    IntegerType, LongType, DoubleType, DateType, TimestampType,
    TimestampNTZType)

  private def param(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) if !op.foldable =>
      op.mapChildren {
        case Literal(v, t) if v != null && paramTypes(t) && !isNaN(v) =>
          ParamLiteral(v, t)
        case child => child
      }
  }

  private def isNaN(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case _ => false
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = param(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(param(_).asInstanceOf[NamedExpression]))
  }

  /** Injection hook for `SparkSession.builder().withExtensions`. */
  def install(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
}
