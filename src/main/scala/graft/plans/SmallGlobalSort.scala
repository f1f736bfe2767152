package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small global `ORDER BY` result in one partition.
  *
  * A global `Sort` plans an `Exchange rangepartitioning`, and the
  * `RangePartitioner` behind it runs one extra job that samples its
  * whole input to pick the range bounds. For a result that AQE then
  * coalesces back into one partition anyway, that job is pure overhead.
  *
  * This runtime rule (AQE re-optimization only) puts `Repartition(1)`
  * under a global `Sort` once everything below the sort is a
  * materialized query stage and the sort's runtime input size is at or
  * below the bound Spark already uses for "small enough to gather on
  * one node": `spark.sql.adaptive.autoBroadcastJoinThreshold`, else
  * `spark.sql.autoBroadcastJoinThreshold`. `SinglePartition` satisfies
  * the sort's ordering, so no range exchange (and no sampling job) is
  * planned; the shuffle count is unchanged, and AQE's cost check still
  * rejects any rewrite that would add a shuffle.
  *
  * Left alone: sorts under a limit (they plan `TakeOrderedAndProject`),
  * sorts of at most one row (`OptimizeOneRowPlan` drops them), and
  * sorts already over a `Repartition` (this rule's output, also once
  * its shuffle is a query stage). Registered via
  * [[graft.GraftExtensions]] (`injectRuntimeOptimizerRule`).
  */
object SmallGlobalSort extends Rule[LogicalPlan] {

  private def bound: Long =
    conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
      .getOrElse(conf.autoBroadcastJoinThreshold)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = bound
    if (limit <= 0) plan else rewrite(plan, limit, underLimit = false)
  }

  private def rewrite(p: LogicalPlan, limit: Long, underLimit: Boolean): LogicalPlan =
    p match {
      case s @ Sort(_, true, child, _) if !underLimit && small(s, limit) =>
        s.copy(child = Repartition(1, shuffle = true, child))
      case _ =>
        val limited = underLimit || (p match {
          case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => true
          case _ => false
        })
        p.mapChildren(rewrite(_, limit, limited))
    }

  private def isRepartition(p: LogicalPlan): Boolean = p match {
    case _: Repartition => true
    case q: LogicalQueryStage => isRepartition(q.logicalPlan)
    case _ => false
  }

  private def small(s: Sort, limit: Long): Boolean =
    !s.maxRows.exists(_ <= 1) && !isRepartition(s.child) &&
      s.child.collectLeaves().forall {
        case q: LogicalQueryStage => q.isMaterialized
        case _ => false
      } &&
      s.child.stats.sizeInBytes <= limit
}
