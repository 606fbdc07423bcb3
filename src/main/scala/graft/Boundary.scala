package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Compute-once stage boundaries: the only code in `src/main` that
  * checkpoints a frame, widens a checkpoint's input or frees a
  * checkpoint (`ArtifactHygieneSpec` fails on any other
  * `localCheckpoint`, `checkpoint`, `persist` or `cache` call). A
  * boundary stops a subtree that several consumers read from being
  * recomputed once per consumer.
  *
  * A call site states the one fact this object cannot observe:
  * whether its boundary is eager or lazy. The rule, from the r15/r16
  * A/Bs (OPTIMIZATION_r16.md §3): go [[eagerLocal]] when separately
  * planned consumers (query-stage trees AQE plans and starts apart)
  * race to materialize a heavy shared subtree, as in the curation
  * funnel's scored frame, KMeans' fixed-point vectors and
  * Containment's shingles (q164 isolation median 4.4 s lazy, 2.9 s
  * eager, same session, 8 reps); stay [[lazyLocal]] when the
  * consumers sit in one AQE plan that already reuses the exchange,
  * where an eager barrier only serializes construction (two eager
  * flips were reverted by A/B: Stupid Backoff's token table,
  * q136/q158/q160 +0.2/+0.3/+1.0 s, and q48/q62's exact-dedup
  * boundary). Each site's comment names only its fan-out.
  *
  * A lazy boundary is computed by the first job that reads it, for
  * the partitions that job computes. A full-scan action (`count`,
  * `collect`, a write) computes every partition and leaves nothing
  * for later readers; a partial action (`head`, `limit`, `take`)
  * computes only the partitions it scans, and the next full reader
  * runs one more job for the rest (`BoundarySpec`). So a lazy
  * boundary's job count depends on which reader comes first.
  */
object Boundary {

  /** `ds.localCheckpoint(eager = true)`: one job at call time computes
    * every partition before any consumer is planned. Unlike
    * [[lazyLocal]] it needs no metric retention: that job ends before
    * any consumer starts.
    */
  def eagerLocal[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(eager = true)

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

  /** [[lazyLocal]] over `df` hash-repartitioned by `key` to the worker
    * count when `Tables.wideningEngages(spark, dir, table)`, the
    * file-count guard `Tables.loadWide` uses; otherwise [[lazyLocal]]
    * alone. A checkpoint freezes whatever partitioning AQE left on its
    * input, and on the degenerate one-file layout AQE coalesces a
    * sub-MB shuffle to ONE partition, so every consumer of the
    * checkpoint (the BM25 scoring join) would run single-threaded
    * however many cores exist. The guard makes this a no-op at any
    * healthy production layout: there the checkpoint inherits real
    * parallelism and an extra exchange would be pure cost. Key-hashed,
    * never round-robin: results are repartition-invariant by contract.
    * The exchange carries the whole frame, which is not always
    * text-free: in q119/q120/q128 it is the postings frame, whose
    * `term` column holds raw tokens. The safety argument is the
    * file-count guard, which keeps the exchange off every healthily
    * split layout.
    */
  def lazyWide(dir: String, table: String, key: Column)(df: DataFrame)
      : DataFrame = {
    val spark = df.sparkSession
    lazyLocal(
      if (!Tables.wideningEngages(spark, dir, table)) df
      else df.repartition(spark.sparkContext.defaultParallelism, key))
  }

  /** Frees the blocks of a checkpoint made here that no plan will read
    * again, without waiting. `Dataset.unpersist` only drops
    * cache-manager entries, and a checkpoint has none, so without this
    * the blocks of every superseded round of an iterative loop stay
    * until the ContextCleaner sees the RDD collected.
    */
  def release(cp: Dataset[_]): Unit =
    checkpointRdd(cp).foreach(_.unpersist(blocking = false))

  private def checkpointRdd(cp: Dataset[_]) =
    cp.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }

  private val retained = new java.util.WeakHashMap[AnyRef, AnyRef]()
}
