package graft.expressions

import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer guardrail: detect UNSANCTIONED cartesian products — cross
  * joins where neither side carries a broadcast hint. The engine's own
  * bounded cross joins (single-row totals, centroid tables, probe
  * sets) all go through `crossJoin(broadcast(...))` and stay exempt;
  * what this rule catches is the accidental unkeyed join of two fact
  * tables, the single most expensive mistake a query author can ship
  * to a 1000-executor cluster.
  *
  * Observe-only by default: every sighting increments [[seen]] (a
  * monitoring hook; the full oracle gate runs with the rule active,
  * which is the no-interference proof). Set
  * `spark.graft.failOnCartesian=true` to turn sightings into plan-time
  * errors — CI can enforce what a review would have flagged.
  *
  * Installed once per session by [[GraftExtensions]]: through
  * `injectOptimizerRule` on sessions from `GraftSession.create`, or
  * through `spark.experimental.extraOptimizations` when
  * `GraftExtensions.register` installs the engine on a session built
  * elsewhere.
  */
object CartesianGuard extends Rule[LogicalPlan] {

  val FailFlag = "spark.graft.failOnCartesian"

  /** Unsanctioned-cartesian sightings (rule invocations may revisit a
    * plan, so treat this as a monotone signal, not a per-query count).
    */
  val seen = new java.util.concurrent.atomic.LongAdder

  private def broadcastHinted(hint: JoinHint): Boolean =
    hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
      hint.rightHint.exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case j: Join if (j.joinType == Cross || j.condition.isEmpty) && !broadcastHinted(j.hint) =>
        seen.increment()
        if (SQLConf.get.getConfString(FailFlag, "false") == "true")
          throw new IllegalStateException(
            "CartesianGuard: unsanctioned cartesian product (cross join without " +
              s"a broadcast hint) in plan; unset $FailFlag to allow\n$j")
      case _ => ()
    }
    plan
  }
}
