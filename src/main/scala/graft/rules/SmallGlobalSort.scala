package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, CollectMetricsExec, DeserializeToObjectExec, FileSourceScanExec, FilterExec, GenerateExec, MapPartitionsExec, ProjectExec, RDDScanExec, SerializeFromObjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a total `orderBy` whose input
  * already runs as one task sorts in that task instead of going through
  * a range exchange.
  *
  * A global sort plans as `Sort(global) ← Exchange(RangePartitioning)`.
  * Running that exchange costs a `RangePartitioner` sampling job (one
  * pass over the sort's child) and a shuffle map stage (a second
  * pass), after which AQE's coalescer often folds the exchange back
  * into a single partition. When the child provably produces exactly
  * one partition ([[onePartition]]: a structural walk through narrow
  * operators down to a one-partition read, which includes a measured
  * stage small enough for the coalescer to read as one partition),
  * this rule plans `Sort(global) ← Coalesce(1)` instead: same rows,
  * same order, one pass, no sampling job, one stage fewer.
  *
  * Why that is safe: the child's work already runs in one task. The
  * rewrite computes it once instead of twice (sampling pass and map
  * stage) and drops a shuffle write and read. What it gives up is the
  * parallelism after the exchange: the sort itself, and every operator
  * above it up to the next exchange (a narrow UDF, or a write, which
  * then writes one file), now run in one task instead of in the
  * exchange's coalesced partition count. `UnsafeExternalSorter`
  * spills, so the sort's memory stays bounded. On the registered
  * queries at most a project runs above a rewritten sort before the
  * plan's root or the next exchange (PERF.md). Timings cover sf0.01
  * and sf0.1; a one-row input exploded to 200k rows
  * (`SmallGlobalSortSpec`) is the largest input checked.
  *
  * It does nothing with partition coalescing off, and leaves
  * `repartitionByRange` (a user-requested exchange, not
  * `ENSURE_REQUIREMENTS`) alone.
  *
  * AQE applies it, after `EnsureRequirements`, when it first plans a
  * query (it can fire there, over scans and checkpoints) and each time
  * it re-plans after a stage materializes (it can fire over the
  * measured stages too). With AQE off it never runs.
  */
case class SmallGlobalSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    lazy val limit = singlePartitionBytes
    plan.transformUp {
      case s @ SortExec(_, true, ShuffleExchangeExec(
          _: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if onePartition(child, limit) =>
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

  /** Whether `p` provably produces exactly one partition, computed
    * without running anything. The walk passes only through operators
    * that keep their input's partitions (project, filter, generate,
    * local sort, aggregates and windows, which sit above a shuffle read,
    * `CollectMetrics`, object (de)serialization, `MapPartitions`, and
    * the streamed side of a broadcast join) and ends at one of:
    *  - a shuffle read with one partition spec;
    *  - a materialized shuffle stage with one partition, or one AQE's
    *    coalescer will read as one: it may coalesce the shuffle and the
    *    map output fits in `limit`, what the coalescer keeps in one
    *    partition;
    *  - a file scan with one file split (static file listing only: a
    *    scan with a dynamic-pruning filter, whose subquery would have
    *    to run, or a bucketed scan is not counted);
    *  - an RDD scan (a checkpoint) whose RDD has one partition.
    * Anything else leaves the count unknown.
    */
  private def onePartition(p: SparkPlan, limit: => Long): Boolean = p match {
    case r: AQEShuffleReadExec => r.partitionSpecs.size == 1
    case s: ShuffleQueryStageExec =>
      s.isMaterialized && (s.shuffle.numPartitions == 1 ||
        coalescer.isSupported(s.shuffle) &&
          s.mapStats.exists(_.bytesByPartitionId.sum <= limit))
    case f: FileSourceScanExec => oneFileSplit(f)
    case r: RDDScanExec => r.rdd.getNumPartitions == 1
    case j: BroadcastHashJoinExec =>
      onePartition(if (j.buildSide == BuildRight) j.left else j.right, limit)
    // only the join types whose output is the streamed side's
    // partitions; the others add a partition for unmatched build rows
    case j: BroadcastNestedLoopJoinExec => (j.joinType, j.buildSide) match {
      case (_: InnerLike | LeftOuter | LeftSemi | LeftAnti, BuildRight) =>
        onePartition(j.left, limit)
      case (_: InnerLike | RightOuter, BuildLeft) => onePartition(j.right, limit)
      case _ => false
    }
    case _: ProjectExec | _: FilterExec | _: GenerateExec |
        SortExec(_, false, _, _) | _: BaseAggregateExec | _: WindowExec |
        _: WindowGroupLimitExec | _: CollectMetricsExec |
        _: DeserializeToObjectExec | _: SerializeFromObjectExec |
        _: MapPartitionsExec =>
      onePartition(p.children.head, limit)
    case _ => false
  }

  /** The coalescer whose `isSupported` says which shuffles it may
    * coalesce (not, for one, a user's `repartition(n)`).
    */
  private lazy val coalescer = CoalesceShufflePartitions(session)

  /** One file, no longer than the split size the scan itself will use,
    * so it reads as one split in one partition.
    */
  private def oneFileSplit(f: FileSourceScanExec): Boolean =
    !f.bucketedScan &&
      !f.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) && {
        val files = f.selectedPartitions
        files.totalNumberOfFiles == 1 &&
          files.totalFileSize <= FilePartition.maxSplitBytes(f.relation.sparkSession, files)
      }
}
