package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** Adaptive runtime rule: a global sort whose whole input is already
  * computed and small runs in ONE partition instead of through a range
  * shuffle.
  *
  * A global `Sort` plans as a range exchange: one job samples the input
  * for bounds, a shuffle map stage routes rows to ranges, and the sort
  * runs after it. When every input of the sort is a materialized query
  * stage of at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * bytes and coalescing is on, AQE would fold that exchange's output into
  * one partition or a few tiny ones anyway, so the sampling job and the
  * shuffle are pure fixed cost; a short query's final `ORDER BY` over a
  * few-row aggregate is the common case. The rule rewrites
  * `Sort(order, global, child)` to `Sort(order, global,
  * Repartition(1, shuffle = false, child))`: the coalesce's single
  * partition satisfies the sort's ordered distribution, so no exchange is
  * planned, and the output is the same rows in the same key order (rows
  * tied on every key come in no defined order, as with the range sort).
  *
  * The threshold is Spark's own setting, not a new one. Untouched: a sort
  * under a limit or offset (planned as `TakeOrderedAndProject` and its
  * kin), sorts over any input that is not a finished stage, local sorts
  * (`sortWithinPartitions`, hence [[graft.ops.RangeSort]]), and sessions
  * without AQE, where runtime rules never run. Injected at session build
  * by [[graft.extensions.GraftExtensions]]; Spark offers no runtime hook to
  * add it to an existing session.
  */
object SmallSortSinglePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) plan
    else rewrite(plan, underLimit = false)

  private def rewrite(p: LogicalPlan, underLimit: Boolean): LogicalPlan = p match {
    case s @ Sort(_, true, child, _) if !underLimit && small(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _ =>
      // a limit plans its sort as a top-k, through a Project as well
      val limits = p match {
        case _: LocalLimit | _: GlobalLimit | _: Offset | _: Tail => true
        case _: Project => underLimit
        case _ => false
      }
      p.withNewChildren(p.children.map(rewrite(_, limits)))
  }

  private def small(child: LogicalPlan): Boolean = {
    val done = child match {
      case Repartition(1, false, _) => false // already rewritten
      case _ => child.collectLeaves().forall {
        case s: LogicalQueryStage =>
          val stages = s.physicalPlan.collect { case q: QueryStageExec => q }
          stages.nonEmpty && stages.forall(_.isMaterialized)
        case _ => false
      }
    }
    done && child.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }
}
