package graft.plans

import graft.functions.ParseMoneyExpr
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst extension-point exhibit (SURVEY.md §4.3: "document the
  * hook"). The operator surface needs no custom planner rules — this
  * demonstrates the mechanism with a real, safe optimization: constant
  * folding for [[ParseMoneyExpr]]. Custom expressions don't get
  * Catalyst's built-in ConstantFolding unless they declare
  * foldability; this rule evaluates `parse_money_native(<literal>)` at
  * plan time so a literal money string costs nothing per row.
  *
  * Two registration paths:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (cluster deployment; applies at session build);
  *  - runtime: `spark.experimental.extraOptimizations ++= Seq(FoldParseMoney)`
  *    (live session; what PlanSpec exercises). */
object FoldParseMoney extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case p @ ParseMoneyExpr(Literal(s, StringType)) =>
        val v = if (s == null) null
        else ParseMoneyExpr.parseOrNull(
          ParseMoneyExpr.strip(s.asInstanceOf[UTF8String].toString))
        Literal(v, DoubleType)
    }
}

/** Installs every Catalyst extension of the engine at session build:
  *  - [[FoldParseMoney]]: plan-time `parse_money_native` folding;
  *  - [[BinRangeJoin]]: auto-binned range joins;
  *  - [[SortBeforeProject]]: a global sort's computed projection runs
  *    once, after the range shuffle;
  *  - [[TopKPerKeyStrategy]]: the bounded top-k physical operator. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(_ => FoldParseMoney)
    extensions.injectOptimizerRule(_ => BinRangeJoin)
    extensions.injectOptimizerRule(_ => SortBeforeProject)
    extensions.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
