package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BinaryComparison, Divide, Expression, Greatest, LeafExpression, Least, Literal, Multiply, NamedExpression, Subtract}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** A non-null numeric [[Literal]] whose generated code reads its value from
  * the generated class's `references` array instead of inlining it as a
  * Java constant. Two plans that differ only in such values then generate
  * the SAME source, and Spark's codegen cache (keyed by source) hands back
  * the class compiled for the first one. Everything else — `eval`,
  * `toString`, `sql`, equality — is the literal's, so plan strings and
  * EXPLAIN output read exactly as before. */
final case class ReferencedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(
      JavaCode.expression(s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}

/** Per-request constants out of generated code. A serving read — a range
  * scan or range aggregate with fresh bounds — plans the same operators
  * every time, but its bounds (and `rangeStats`' metadata partials) are
  * inlined into the whole-stage-codegen source, so each new window missed
  * the codegen cache and paid a Janino compile on the driver and another
  * on the executor thread (10–26 ms each on a 4-core host). This rule
  * swaps the non-null `Long`/`Int`/`Double` literals that are DIRECT
  * operands of a comparison, `+ - * /`, `least` or `greatest` for
  * [[ReferencedLiteral]]s in the expressions of `FilterExec`,
  * `ProjectExec` and the result expressions of `HashAggregateExec` — the
  * operators whose code those reads compile. Scan nodes are never
  * touched: partition pruning, the manifest's zone-map file skipping and
  * parquet pushdown keep seeing real literals.
  *
  * Registered after the columnar transitions ([[StableCodegen]]), the last
  * hook before `CollapseCodegenStages` on both the plain and the adaptive
  * path — plans without an exchange never reach AQE's stage rules. */
object ReferenceLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = stabilize(f.condition))
    case p: ProjectExec => p.copy(projectList = p.projectList.map(named))
    case a: HashAggregateExec => a.copy(resultExpressions = a.resultExpressions.map(named))
  }

  private def named(e: NamedExpression): NamedExpression =
    stabilize(e).asInstanceOf[NamedExpression]

  private def stabilize(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: Add | _: Subtract | _: Multiply | _: Divide |
        _: Least | _: Greatest) =>
      op.mapChildren {
        case l @ Literal(v, LongType | IntegerType | DoubleType) if v != null =>
          ReferencedLiteral(l)
        case c => c
      }
  }
}

/** The registration handle for [[ReferenceLiterals]]
  * (`SparkSessionExtensions.injectColumnar`). */
object StableCodegen extends ColumnarRule {
  override def postColumnarTransitions: Rule[SparkPlan] = ReferenceLiterals
}
