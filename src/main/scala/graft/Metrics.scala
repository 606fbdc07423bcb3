package graft

import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Surfaces `Dataset.observe` metrics (e.g. LSH skew-guard dropped
  * bucket counts) to stderr after each action — the "counters visible
  * in logs" requirement, with zero extra jobs.
  *
  * Beyond logging, two process-wide accumulators let the stress mains
  * attribute "did the guards actually fire?" to individual queries by
  * snapshotting before/after:
  *   - [[observedSums]]: every numeric field of every observed-metrics
  *     row, summed per `<metric>.<field>` key (so the LshSkew caps'
  *     `dropped_buckets`/`dropped_rows` are machine-readable, not just
  *     stderr lines);
  *   - [[aqeSkewSplits]]: the number of `PartialReducerPartitionSpec`s
  *     in the final adaptive plans — i.e. how many skew-split
  *     sub-partitions AQE's skew handling actually created at runtime.
  */
object Metrics {

  /** Sum of AQE skew-split sub-partitions across all finished actions. */
  val aqeSkewSplits = new LongAdder

  /** `<metricName>.<field>` -> summed value across finished actions. */
  val observedSums: TrieMap[String, Long] = TrieMap.empty

  /** Snapshot for delta-attribution in stress harnesses. */
  def snapshot(): (Long, Map[String, Long]) =
    (aqeSkewSplits.sum(), observedSums.toMap)

  /** QueryExecutionListeners run async on the listener bus; poll until
    * the counters stop moving so before/after deltas attribute cleanly.
    */
  def settle(timeoutMs: Long = 3000): (Long, Map[String, Long]) = {
    var prev = snapshot()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val cur = snapshot()
      if (cur == prev) return cur
      prev = cur
    }
    prev
  }

  /** Wall seconds of one evaluation of `f`, for the stress mains. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def countSkewSplits(p: SparkPlan): Long = {
    val self = p match {
      case r: AQEShuffleReadExec =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec]).toLong
      case _ => 0L
    }
    // AdaptiveSparkPlanExec and the QueryStageExec wrappers are leaf
    // nodes — recurse into their wrapped plans explicitly (post-action
    // they hold the final physical plan / materialized stage subtree).
    val nested = p match {
      case a: AdaptiveSparkPlanExec => countSkewSplits(a.executedPlan)
      case q: QueryStageExec => countSkewSplits(q.plan)
      case other =>
        other.children.map(countSkewSplits).sum +
          other.subqueries.map(countSkewSplits).sum
    }
    self + nested
  }

  final class LogListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row) =>
        System.err.println(s"[graft-metrics] $name: $row")
        row.schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!row.isNullAt(i)) row.get(i) match {
            case n: Number =>
              val k = s"$name.${f.name}"
              observedSums.updateWith(k) {
                case Some(v) => Some(v + n.longValue())
                case None => Some(n.longValue())
              }
            case _ => ()
          }
        }
      }
      try aqeSkewSplits.add(countSkewSplits(qe.executedPlan))
      catch { case NonFatal(_) => () } // diagnostics must never fail a job
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Adds one [[LogListener]] per session; later calls are no-ops, so
    * a row is summed and logged once however often this is called.
    */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark))
      spark.listenerManager.register(new LogListener)
  }
}
