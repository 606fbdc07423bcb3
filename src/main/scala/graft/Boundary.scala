package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Compute-once stage boundaries. */
object Boundary {

  /** `df.localCheckpoint(eager = false)`, plus one fix: the SQL
    * metrics of `df`'s executed plan stay reachable for as long as the
    * checkpointed RDD is.
    *
    * Why: the first job that computes a lazy checkpoint truncates its
    * lineage, and from then on nothing on the driver refers to the
    * physical plan that produced it. Its SQL-metric accumulators are
    * weakly registered, so a GC drops them, while tasks of other jobs
    * that were already computing the same partitions through the old
    * lineage (consumers AQE planned and started together) still report
    * updates to them. The scheduler then logs `SparkException:
    * attempted to access non-existent accumulator` for each metric of
    * each such task. Measured on q25's pipeline at sf0.1 on a 4-core
    * box, 12 runs per JVM: 0–374 such errors per JVM (median 204, 7
    * JVMs) without the retention, 0 in each of 6 JVMs with it (and 0
    * with an eager checkpoint, whose computing job ends before any
    * consumer starts).
    *
    * Only the metric objects are kept, not the plan (keeping the whole
    * executed plan also stopped the errors but left 1.3 MB more heap
    * after a run), and they are released with the checkpointed RDD:
    * the map holds the RDD weakly.
    */
  def lazyLocal(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    val accumulators = Metrics.finalNodes(df.queryExecution.executedPlan)
      .flatMap(_.metrics.values).toVector
    checkpointRdd(cp)
      .foreach(rdd => retained.synchronized(retained.put(rdd, accumulators)))
    cp
  }

  /** Frees the blocks of a local checkpoint (`localCheckpoint` or
    * [[lazyLocal]]) that no plan will read again, without waiting.
    * `Dataset.unpersist` only drops cache-manager entries, and a
    * checkpoint has none, so without this the blocks of every
    * superseded round of an iterative loop stay until the
    * ContextCleaner sees the RDD collected.
    */
  def release(cp: Dataset[_]): Unit =
    checkpointRdd(cp).foreach(_.unpersist(blocking = false))

  private def checkpointRdd(cp: Dataset[_]) =
    cp.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }

  private val retained = new java.util.WeakHashMap[AnyRef, AnyRef]()
}
