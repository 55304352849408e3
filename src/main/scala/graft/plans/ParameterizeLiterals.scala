package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, BinaryComparison, Expression, Literal, Multiply, NamedExpression, Subtract}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}

import graft.functions.ParamLiteral

/** Physical-plan rule: per-call values become [[ParamLiteral]]s, so each
  * query shape compiles once per JVM instead of once per value.
  *
  * What it rewrites: non-null integral, date and timestamp `Literal`s that
  * are an operand of a comparison (`id = 42`, `chunk_index >= 3`, a
  * range bound), an operand of `+`, `-` or `*` (the id base `denseIds`
  * adds to each row number), or the whole value of a projected column
  * (ingest's `lit(now) AS created_at`). Only `FilterExec` conditions and
  * `ProjectExec` lists are touched. Those operators keep nothing but the
  * value, so swapping the literal changes no plan-time decision.
  * Literals everywhere else stay put, because some expressions read a
  * literal operand when the plan is built (`round`'s scale is checked as
  * foldable, a random seed is baked into the source).
  *
  * Why scans keep literals: the scan's pushed and partition filters are
  * separate copies of the predicate that never reach generated code.
  * Parquet row-group pruning, hive partition pruning, the doc_bucket
  * pruning [[ChunkBucketPruning]] derives, and `TableStore.readRange`'s
  * footer pruning all still see the plain key; only the post-scan
  * `Filter` re-check reads it as a parameter.
  *
  * Injected through `injectColumnar` (pre-transition): that hook runs in
  * the non-adaptive preparations — which plan the one-partition serving
  * reads, since they have no exchange — and on every stage adaptive
  * execution creates or re-plans, always before whole-stage codegen
  * collapses the plan. Spark's post-planner hook runs only inside
  * adaptive plans, so it would miss the serving reads.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = operands(f.condition)
      if (c fastEquals f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val list = p.projectList.map {
        case a @ Alias(l: Literal, _) => a.withNewChildren(Seq(param(l)))
        case e => operands(e)
      }.map(_.asInstanceOf[NamedExpression])
      if (list.zip(p.projectList).forall { case (x, y) => x fastEquals y }) p
      else p.copy(projectList = list)
  }

  /** The rule as the columnar hook `GraftExtensions` injects. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeLiterals
  }

  private def operands(e: Expression): Expression = e.transformDown {
    case c: BinaryComparison => c.mapChildren(param)
    case a: Add => a.mapChildren(param)
    case s: Subtract => s.mapChildren(param)
    case m: Multiply => m.mapChildren(param)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && ParamLiteral.parameterizable(t) => ParamLiteral(v, t)
    case other => other
  }
}
