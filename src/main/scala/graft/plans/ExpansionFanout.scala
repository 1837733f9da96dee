package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

import graft.expressions.CpuDenseKernel

/** Pins the parallelism of a CPU-dense stage that AQE would starve.
  * AQE sizes a reduce stage by shuffle BYTES, so a stage whose input
  * is byte-small but whose work is quadratic in it (pair/triple
  * expansion of aggregated arrays, per-pair set verification) gets
  * coalesced onto a few tasks (measured: q202's C(50,2) expansion ran
  * 7.1 s of CPU on 3 tasks). An explicit-count exchange is AQE-exempt:
  * the kernel keeps `max(defaultParallelism,
  * spark.sql.shuffle.partitions)` tasks, and only its input moves.
  *
  * Fires on the LOWEST Generate/Project that evaluates a
  * [[CpuDenseKernel]] when its input, through narrow nodes, is a
  * shuffle AQE may coalesce (join, aggregate, window, rebalance,
  * count-less repartition). Never over a leaf (scan, checkpoint, local
  * relation), a global sort (the order would be lost), a repartition
  * with a count, which also makes the rule idempotent, or a
  * broadcast-hinted join: the engine's bounded lookup/cross shape keeps
  * its streamed side's partitioning and carries few rows (an exchange
  * there measured +27% on q204 and +14% on q153 at sf0.1).
  *
  * A kernel Filter is walked through, not fanned: the optimizer's late
  * filter-pushdown batch moves any filter under a
  * RepartitionByExpression, so an exchange put under it would end up
  * above it, and a second pass would add another. The exchange hashes
  * `xxhash64` of the input columns: a repartition on the upstream
  * groupBy key itself would be elided as already satisfied.
  *
  * Installed by [[graft.expressions.GraftExtensions]] as a pre-CBO
  * rule: it runs once, after the operator-optimization fixed point.
  */
final case class ExpansionFanout(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case node @ (_: Generate | _: Project)
        if evaluatesKernel(node) && fedByCoalescedShuffle(node.children.head) =>
      val in = node.children.head
      val key = new XxHash64(in.output)
      // map columns cannot be hashed; no kernel input carries one
      if (key.checkInputDataTypes().isFailure) node
      else {
        val n = math.max(spark.sparkContext.defaultParallelism,
          SQLConf.get.defaultNumShufflePartitions)
        node.withNewChildren(Seq(RepartitionByExpression(Seq(key), in, Some(n))))
      }
  }

  private def evaluatesKernel(node: LogicalPlan): Boolean =
    node.expressions.exists(_.exists(_.isInstanceOf[CpuDenseKernel]))

  @tailrec private def fedByCoalescedShuffle(p: LogicalPlan): Boolean = p match {
    // a kernel Generate/Project below is the lowest one; it decides
    case n @ (_: Project | _: Generate) =>
      !evaluatesKernel(n) && fedByCoalescedShuffle(n.children.head)
    case n @ (_: Filter | _: SubqueryAlias) => fedByCoalescedShuffle(n.children.head)
    case r: RepartitionByExpression => r.optNumPartitions.isEmpty
    case j: Join if Seq(j.hint.leftHint, j.hint.rightHint)
        .exists(_.exists(_.strategy.contains(BROADCAST))) => false
    case _: Join | _: Aggregate | _: Window | _: RebalancePartitions => true
    case _ => false
  }
}
