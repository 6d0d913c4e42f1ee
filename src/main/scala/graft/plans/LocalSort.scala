package graft.plans

import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: a global sort of a driver-resident relation
  * is done on the driver. `Sort(order, global = true, LocalRelation)`
  * becomes the relation with its rows sorted by Spark's own
  * `InterpretedOrdering` over the same sort orders, so directions, null
  * placement and NaN order are Spark's; the sort is stable, so tied rows
  * keep their relation order. Without the rule Spark plans a range
  * partitioning (a sampling job and an exchange) over rows that are
  * already on the driver — e.g. a graph kernel's driver-tier result
  * ordered for output.
  *
  * Left alone: a partition-local sort (`sortWithinPartitions`), keys that
  * are nondeterministic or hold a subquery, and streaming relations.
  * Injected next to [[RangeJoinRewrite]] by `GraftExtensions`.
  */
object LocalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Sort(order, true, l: LocalRelation, _) if !l.isStreaming &&
        order.forall(o => o.deterministic && !SubqueryExpression.hasSubquery(o)) =>
      l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
  }
}
