package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.internal.SQLConf

/** Planner rule: a global `ORDER BY` over a small input sorts in one
  * partition, with no range exchange and so no range-sampling job.
  *
  * Spark plans every global `Sort` as `SortExec(global = true)` over a
  * `RangePartitioning` exchange. Its `RangePartitioner` computes the
  * sort's whole input once to sample the bounds, and the shuffle then
  * computes it again. When the input is small, AQE's
  * `CoalesceShufflePartitions` reads that shuffle back as one partition
  * anyway, so the sampling job bought nothing. This rule plans such a
  * sort as
  * {{{
  *   SortExec(order, global = true, CoalesceExec(1, planLater(child)))
  * }}}
  * The one-partition child satisfies `OrderedDistribution`, so
  * EnsureRequirements adds no exchange. The stage after the child's
  * last shuffle runs as one task.
  *
  * Gate: the child's estimated `sizeInBytes` is at or below the size
  * that `CoalesceShufflePartitions` would read in one partition. Its
  * target size is `max(minPartitionSize, min(advisory, total / minNum))`,
  * where `minNum` is `coalescePartitions.minPartitionNum`, else the
  * default parallelism while `parallelismFirst` is on, else 1. So the
  * gate is `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * (1 MB) in the default posture, and the larger of it and
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` when `minNum` is 1.
  * The rule never fires while `spark.sql.adaptive.enabled` or
  * `spark.sql.adaptive.coalescePartitions.enabled` is false (streaming
  * micro-batches run with AQE off). To opt out in an AQE session, set
  * `minPartitionSize` to `1b`.
  *
  * `Limit` over `Sort` still plans `TakeOrderedAndProject`: the
  * `SpecialLimits` strategy matches the limit before this rule sees the
  * sort.
  *
  * An estimate can be low. A `Generate` that explodes a small input,
  * for one, keeps its child's estimate. Then the one-partition sort
  * reads more than the gate, in one task, and its rows are the same.
  * When AQE re-plans after a shuffle stage with the stage's real size,
  * this rule may no longer fire, and the new plan carries a range
  * exchange. AQE adopts a re-planned plan only if it has no more
  * shuffles than the current one, so the one-partition sort stays.
  * The reverse also happens: over an input with no size estimate (an
  * RDD-backed frame), the first plan range-partitions; once that
  * exchange has run, the re-plan sees its real size and AQE may adopt a
  * one-partition sort over the finished exchange.
  */
object SmallSortStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if child.stats.sizeInBytes <= gate(SQLConf.get) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Input size up to which AQE's coalescing reads one partition; -1
    * while AQE or its coalescing is off. */
  private[graft] def gate(conf: SQLConf): BigInt =
    if (!conf.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED) ||
        !conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) -1
    else {
      val minSize = BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      val oneMin = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM) match {
        case Some(n) => n == 1
        case None => !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)
      }
      if (oneMin) minSize.max(BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
      else minSize
    }
}
