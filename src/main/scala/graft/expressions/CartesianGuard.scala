package graft.expressions

import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer guardrail: detect UNSANCTIONED cartesian products — cross
  * joins where neither side carries a broadcast hint. The engine's own
  * bounded cross joins (single-row totals, centroid tables, probe
  * sets) all go through `crossJoin(broadcast(...))` and stay exempt;
  * what this rule catches is the accidental unkeyed join of two fact
  * tables, the single most expensive mistake a query author can ship
  * to a 1000-executor cluster.
  *
  * A sighting is a plan-time error: the engine's own cross joins are
  * all broadcast-hinted, so an unhinted one can only be a mistake.
  *
  * Installed once per session by [[GraftExtensions]]: through
  * `injectOptimizerRule` on sessions from `GraftSession.create`, or
  * through `spark.experimental.extraOptimizations` when
  * `GraftExtensions.register` installs the engine on a session built
  * elsewhere.
  */
object CartesianGuard extends Rule[LogicalPlan] {

  private def broadcastHinted(hint: JoinHint): Boolean =
    hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
      hint.rightHint.exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case j: Join if (j.joinType == Cross || j.condition.isEmpty) && !broadcastHinted(j.hint) =>
        throw new IllegalStateException(
          "CartesianGuard: unsanctioned cartesian product (cross join without " +
            s"a broadcast hint) in plan\n$j")
      case _ => ()
    }
    plan
  }
}
