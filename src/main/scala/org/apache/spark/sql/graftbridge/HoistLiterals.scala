package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionWithRandomSeed, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec,
  SparkPlan}
import org.apache.spark.sql.types._

/** Spark writes every primitive literal into the generated Java source,
  * so two plans that differ only in a timestamp bound or the folded clock
  * compile two classes, and the JIT warms each one up from scratch.
  * [[HoistLiterals.apply]] replaces the non-null primitive literals of
  * `FilterExec` conditions and `ProjectExec` lists with
  * [[HoistedLiteral]]s, whose generated code reads the value from the
  * class's references: one query shape compiles one class, whatever its
  * values. It runs after the scan has taken its pushed filters and before
  * `CollapseCodegenStages` (in AQE stages too), so pushdown and plan text
  * are unchanged. `spark.sql.extensions` names this class;
  * [[graft.core.GraftSession.builder]] sets it. */
class HoistLiterals extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    e.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
    })
}

object HoistLiterals extends Rule[SparkPlan] {
  private val Hoistable: Set[DataType] = Set(BooleanType, ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType,
    TimestampNTZType)

  def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec => f.copy(condition = hoist(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(hoist(_).asInstanceOf[NamedExpression]))
  }

  // string, decimal and other literals are already read from the
  // references; a random seed must stay a Literal, its expression reads
  // it by pattern
  private def hoist(e: Expression): Expression = e match {
    case l: Literal if l.value != null && Hoistable(l.dataType) => HoistedLiteral(l)
    case _: ExpressionWithRandomSeed => e
    case _ => e.mapChildren(hoist)
  }
}

/** `literal` with the same value, type, equality and text, whose
  * generated code reads the value once into a primitive field instead of
  * spelling it out, so the source does not depend on it. */
case class HoistedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}
