package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, FlatMapGroupsWithState, Generate, GlobalLimit, LocalLimit, LogicalPlan, MapGroups, MapPartitions, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule sorting a small global sort's input in one partition.
  *
  * A global `Sort` plans a range exchange. Building its partitioner runs
  * a sampling job that computes the child once more, and the exchange
  * adds a shuffle stage. When the child is small enough that AQE would
  * coalesce that shuffle back into one partition anyway, the sort
  * already runs as one task, so both costs buy nothing. This rule
  * rewrites
  *
  * `Sort(order, global = true, child)` → `Sort(order, true, Repartition(1, shuffle = false, child))`
  *
  * The `CoalesceExec(1)` planned for the repartition has a single
  * partition, which satisfies the sort's ordered distribution: no
  * exchange is planned and no sampling job runs. Presto plans a small
  * final ORDER BY the same way, as a SINGLE-distribution stage.
  *
  * The bound is the size AQE coalesces into one partition:
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` when
  * `parallelismFirst` is on (the default), else the advisory partition
  * size. With AQE or its partition coalescing off the rule never fires,
  * and above the bound the plan is left as it is. A sort is left alone
  * when:
  *  - it sits under a limit, offset or tail (possibly through
  *    projections): those plan as `TakeOrderedAndProject` or a bounded
  *    collect already;
  *  - its child holds a `Generate` or a typed flatMap / mapPartitions /
  *    group or cogroup operator, whose output rows Spark's size
  *    estimate does not bound;
  *  - its own range exchange has already run, which under AQE shows as
  *    a materialized range shuffle stage in the child: the rewrite
  *    would save nothing there.
  *
  * The rule is registered twice. As an optimizer rule it sees static
  * estimates, which bound scans and projections. As an AQE runtime
  * optimizer rule it sees the statistics of materialized stages, which
  * bound sorts above aggregates and joins once their stages have run.
  */
object OnePartitionSort extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = bound(conf) match {
    case Some(maxBytes) if !plan.isStreaming => rewrite(plan, maxBytes, underLimit = false)
    case _ => plan
  }

  /** The bytes AQE coalesces into one partition; None when it does not
    * coalesce. */
  private def bound(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  private def rewrite(plan: LogicalPlan, maxBytes: Long, underLimit: Boolean): LogicalPlan =
    plan match {
      case s @ Sort(_, true, child, _) if !underLimit && fits(child, maxBytes) =>
        s.copy(child = Repartition(1, shuffle = false, rewrite(child, maxBytes, underLimit = false)))
      case _ =>
        val limited = plan match {
          case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => true
          case _: Project => underLimit
          case _ => false
        }
        plan.mapChildren(rewrite(_, maxBytes, limited))
    }

  private def fits(child: LogicalPlan, maxBytes: Long): Boolean = child match {
    case Repartition(1, _, _) => false // rewritten already: the batch reruns the rule
    case _ =>
      !child.exists {
        case _: Generate | _: MapPartitions | _: MapGroups | _: CoGroup |
            _: FlatMapGroupsWithState => true
        case LogicalQueryStage(_, stage: ShuffleQueryStageExec) =>
          stage.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      } && child.stats.sizeInBytes <= maxBytes
  }
}
