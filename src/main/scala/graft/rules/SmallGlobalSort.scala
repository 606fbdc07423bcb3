package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a total `orderBy` whose input AQE
  * has already measured as small sorts in one task instead of going
  * through a range exchange.
  *
  * A global sort plans as `Sort(global) ← Exchange(RangePartitioning)`.
  * Running that exchange costs a `RangePartitioner` sampling job (one
  * pass over the sort's child) and a shuffle map stage (a second
  * pass), after which AQE's coalescer often folds the exchange back
  * into a single partition. When the child's input is already known
  * to fit in that single partition, this rule plans
  * `Sort(global) ← Coalesce(1)` instead: same rows, same order, one
  * pass, no sampling job, one stage fewer.
  *
  * Known input bytes are the summed map output of materialized shuffle
  * stages, reached from the exchange's child through shuffle reads and
  * operators that never add rows (project, filter, aggregates, windows,
  * local sorts). Anything else on the way (a scan, a join, a generator,
  * a stage still running) leaves the size unknown and the exchange in
  * place. The bound is the one AQE's coalescer applies to the range
  * exchange it would otherwise plan ([[singlePartitionBytes]]). The
  * measured input estimates the sort's input (a project or window can
  * widen rows), so a misjudged sort runs as one task on an input near
  * that bound; its rows are the same either way. It does nothing with
  * partition coalescing off, and leaves `repartitionByRange` (a
  * user-requested exchange, not `ENSURE_REQUIREMENTS`) alone.
  *
  * AQE applies it, after `EnsureRequirements`, when it first plans a
  * query and each time it re-plans after a stage materializes; only
  * the re-plans see measured stages. With AQE off it never runs.
  */
case class SmallGlobalSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    lazy val limit = singlePartitionBytes
    plan.transformUp {
      case s @ SortExec(_, true, ShuffleExchangeExec(
          _: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if knownBytes(child).exists(_ <= limit) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }
  }

  /** The largest input `CoalesceShufflePartitions` keeps in a single
    * partition. It targets `max(min(total / minPartitions, advisory),
    * minPartitionSize)` bytes per partition, where `minPartitions` is
    * `coalescePartitions.minPartitionNum`, else the default parallelism
    * when `parallelismFirst` is on, else 1. One partition then holds
    * everything iff the total is at most `minPartitionSize`, or, when
    * `minPartitions` is 1, at most `advisory` too.
    */
  private def singlePartitionBytes: Long = {
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
      .getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (minPartitions > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  /** Summed map-output bytes under `p`, if every path from `p` down
    * ends at a materialized shuffle stage through operators that add
    * no rows.
    */
  private def knownBytes(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      s.mapStats.map(_.bytesByPartitionId.sum)
    case r: AQEShuffleReadExec => knownBytes(r.child)
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec |
        _: WindowExec | _: WindowGroupLimitExec |
        SortExec(_, false, _, _) =>
      p.children.foldLeft(Option(0L)) { (acc, c) =>
        acc.flatMap(a => knownBytes(c).map(a + _))
      }
    case _ => None
  }
}
