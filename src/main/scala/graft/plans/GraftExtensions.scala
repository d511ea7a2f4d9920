package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, ExpressionInfo, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/**
 * Installable Catalyst extension point: build a session with
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions …
 * }}}
 *
 * and every session of the application gets
 *  - every graft native function (`graft_cosine`, `graft_minhash`,
 *    `graft_simhash`, `graft_shingles`, `graft_hyperplane_bucket`, …) by
 *    name in SQL text — the [[NativeFunctions]] Column helpers need no
 *    names, they build their expressions directly;
 *  - the [[BindFilterValues]] physical rule, so a query that differs from
 *    an earlier one only in its filter values reuses the earlier one's
 *    compiled classes.
 *
 * This is the standard packaging path for a Spark-native library (the
 * same mechanism Delta/Iceberg use to install their functions and
 * rules), and the right deployment story for a 1000-executor cluster
 * where sessions are created by platform tooling, not user code.
 * [[graft.GraftSession.builder]] installs the same object with
 * `withExtensions`, so local sessions and `spark.sql.extensions`
 * deployments share one install path (installing it both ways runs the
 * rule twice, which changes nothing: a bound value is not a literal).
 *
 * NOTE: `spark.sql.extensions` is a STATIC conf — it must be set before
 * the application's first SparkContext is created (spark-submit --conf /
 * spark-defaults); setting it on a later builder is silently ignored.
 * A session built elsewhere that wants the names in SQL text takes
 * [[NativeFunctions.register]] (the rule then stays off).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // pre-transition columnar rules run in the non-adaptive preparations
    // AND in AQE's post-stage-creation rules, both before
    // CollapseCodegenStages — so every plan's filters are bound before
    // their code is generated, whether or not AQE wraps the plan
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindFilterValues
    })
  }
}

/**
 * Keeps filter values out of generated code. Spark inlines a primitive
 * literal into the Java source it compiles (`l_extendedprice <= 43117.0D`),
 * and its compiled-class cache is keyed on that source, so every new
 * filter value of an otherwise identical query costs a Janino compile
 * (~15–25 ms). This rule replaces, in each `FilterExec.condition`, every
 * non-null primitive literal (numeric, boolean, date, timestamp) that is
 * a direct operand of a comparison or of an `In` list with a
 * [[BoundFilterValue]], whose generated code reads the value from the
 * class's reference objects instead — so the source repeats.
 *
 * Nothing else is touched: string and decimal literals already ride as
 * reference objects in Spark's own codegen, a literal anywhere else (the
 * scale of `round`, an arithmetic operand) keeps its `Literal` node, and
 * an `InSet` (an `in` list over Spark's conversion threshold, 10 values)
 * is left as Spark generates it. The scan's `PushedFilters` are translated
 * from the logical plan before this rule runs, so Parquet row-group
 * pruning still sees every value.
 */
object BindFilterValues extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
        case in: In => in.withNewChildren(in.children.map(bind))
      }
      if (bound.fastEquals(f.condition)) f else f.copy(condition = bound)
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && CodeGenerator.isPrimitiveType(t) =>
      BoundFilterValue(v, t)
    case other => other
  }
}

/**
 * A non-null primitive filter value that is not part of the generated
 * source: its code reads the boxed value once, from the class's reference
 * objects, into a field (the `ctx.addReferenceObj` idiom
 * [[NearestCentroidExpr]] uses for its centroids). Evaluates, compares
 * and canonicalizes as the value itself; prints as the literal it
 * replaced, so plan strings do not change.
 */
case class BoundFilterValue(value: Any, dataType: DataType)
    extends LeafExpression {

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString

  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("filterValue", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "filterValue",
      v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}
