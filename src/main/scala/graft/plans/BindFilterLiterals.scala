package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** A filter literal whose generated code reads the value from the compiled
  * class's `references` array instead of writing it into the Java source.
  * Spark inlines int, long, date and timestamp literals (`… > 18262`,
  * `… <= 1600000000000000L`), so every new dashboard parameter used to be
  * a new class to compile; with the value bound, two queries that differ
  * only in it generate the same source and share one cached class — the
  * way Spark already treats string literals. `toString` and `sql` print
  * exactly what the literal prints, so `explain` output does not change.
  */
case class BoundLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  // not a compile-time constant: nothing may fold it back into the source
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", literal.value, CodeGenerator.boxedType(dataType))
    // unboxed once, when the class is initialized, not per row
    val field = ctx.addMutableState(javaType, "boundLiteral", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical rule: in every `FilterExec` condition, bind each non-null int,
  * long, date or timestamp (with or without time zone) literal that is an
  * operand of a comparison or an `In` list ([[BoundLiteral]]). Scan nodes are left alone: the
  * cached-batch pruning predicates of `InMemoryTableScanExec` and the
  * pushed filters of file scans match on real `Literal`s.
  *
  * It runs as a pre-transition columnar rule ([[columnar]]), the one hook
  * that sees every physical plan before `CollapseCodegenStages`: the
  * non-adaptive preparations, each adaptive query stage and the final
  * stage, including the stages of an AQE re-plan. (The post-planner
  * strategy hook reaches only adaptive plans, so a filter over a cached
  * table with no shuffle would keep its inlined literal.) Physical rules
  * cannot be added to a running session: [[GraftExtensions]] injects it
  * and `Session.get` builds its session with those extensions.
  */
object BindFilterLiterals extends Rule[SparkPlan] {

  private def bind(e: Expression): Expression = e match {
    case l: Literal if l.value != null && (l.dataType match {
      case IntegerType | LongType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }) => BoundLiteral(l)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
        case in: In => in.copy(list = in.list.map(bind))
      }
      if (bound fastEquals f.condition) f else f.copy(condition = bound)
  }

  /** The form `SparkSessionExtensions.injectColumnar` takes. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindFilterLiterals
  }
}
