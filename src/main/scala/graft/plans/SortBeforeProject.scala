package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSession

/** Run a global sort's computed projection once, after the range
  * shuffle:
  *
  *   Sort(order, global, Project(list, child))
  *     ⇒ Project(list, Sort(order′, global, Project(needed, child)))
  *
  * Before a global sort can shuffle, `RangePartitioner` runs a sampling
  * job that recomputes the whole child of the range exchange, so an
  * expensive projection under ORDER BY (the silver money parse) is
  * evaluated twice, both times in the pre-shuffle stage — a single task
  * when the input is one parquet row group. Rewritten, the sample reads
  * only the pruned input columns and the projection runs once, over the
  * post-shuffle partitions. The inner `Project(needed, …)` is required:
  * column pruning has already run, and without it the sort would
  * shuffle every column of the relation.
  *
  * Results are unchanged: the range keys, bounds and partition count
  * are the same, so the same rows land in the same partitions in the
  * same order, and the projection is a per-row deterministic function.
  *
  * It fires only when
  *  - every projection expression is deterministic;
  *  - at least one is computed (not an attribute or an alias of one);
  *  - every sort key is deterministic and references only pass-through
  *    attributes, which are rewritten onto the child's attributes;
  *  - the summed `defaultSize` of the attributes the projection and the
  *    keys need is at most the projection's output width, so the
  *    shuffle never carries wider rows.
  *
  * Registered by [[GraftExtensions]], `graft.Graft.enable` and, once
  * per session, by `graft.Tables.read` ([[register]]). */
object SortBeforeProject extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case s @ Sort(order, true, Project(list, child), _) =>
      rewrite(s, order, list, child).getOrElse(s)
  }

  private def rewrite(s: Sort, order: Seq[SortOrder], list: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val passThrough = AttributeMap(list.collect {
      case a: Attribute => a -> a
      case al @ Alias(a: Attribute, _) => al.toAttribute -> a
    })
    val computed = list.exists {
      case _: Attribute | Alias(_: Attribute, _) => false
      case _ => true
    }
    val keysPassThrough = order.forall(o =>
      o.deterministic && o.references.forall(passThrough.contains))
    if (!computed || !keysPassThrough || !list.forall(_.deterministic)) None
    else {
      val newOrder = order.map(_.transform {
        case a: Attribute if passThrough.contains(a) => passThrough(a)
      }.asInstanceOf[SortOrder])
      val needed = AttributeSet(list.flatMap(_.references) ++ newOrder.flatMap(_.references))
      val pruned = child.output.filter(needed.contains)
      val width = (xs: Seq[NamedExpression]) => xs.map(_.dataType.defaultSize.toLong).sum
      if (!needed.subsetOf(child.outputSet) || width(pruned) > width(list)) None
      else {
        val input = if (pruned.size == child.output.size) child else Project(pruned, child)
        Some(Project(list, s.copy(order = newOrder, child = input)))
      }
    }
  }

  /** Add the rule to a live session's optimizer, once per session. */
  def register(spark: SparkSession): Unit =
    graft.SessionMemo.oncePerSession(spark, "register:sort_before_project") {
      if (!spark.experimental.extraOptimizations.contains(this))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ this
    }
}
