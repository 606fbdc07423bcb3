package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** `Boundary`'s compute-once contract, counted in Spark jobs: when each
  * kind of boundary runs its work, and that `release` frees it. Jobs
  * are counted by a listener on a local property this suite sets, so
  * other suites' jobs never count.
  */
class BoundarySpec extends SparkSpec {
  import spark.implicits._

  private val key = "graft.boundarySpec"

  /** Jobs `body` starts on this thread. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      body
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** 1000 rows in 4 non-empty partitions, no exchange; `computed`
    * counts the source rows each run computes.
    */
  private def source(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val computed = spark.sparkContext.longAccumulator
    val df = spark.range(0, 1000, 1, 4).as[Long]
      .map { x => computed.add(1); x }.toDF("id")
    (df, computed)
  }

  test("eagerLocal runs its job at call time") {
    val (df, computed) = source()
    var cp: DataFrame = null
    assert(jobsIn { cp = Boundary.eagerLocal(df) } == 1)
    assert(computed.value == 1000L)
    assert(jobsIn(cp.collect()) == 1)
    assert(computed.value == 1000L, "a read recomputed the source")
    Boundary.release(cp)
  }

  test("a lazyLocal boundary first read by a full scan runs no extra job") {
    val (df, computed) = source()
    var cp: DataFrame = null
    assert(jobsIn { cp = Boundary.lazyLocal(df) } == 0)
    assert(computed.value == 0L)
    assert(jobsIn(cp.collect()) == 1)
    assert(computed.value == 1000L)
    assert(jobsIn(cp.collect()) == 1)
    assert(computed.value == 1000L, "a read recomputed the source")
    Boundary.release(cp)
  }

  test("a lazy boundary first read by a partial action runs one more " +
      "job for the partitions that action did not compute") {
    val (df, computed) = source()
    val cp = Boundary.lazyLocal(df)
    // head scans partition 0 (250 rows); the checkpoint then runs its
    // own job for partitions 1-3
    assert(jobsIn(cp.head()) == 2)
    assert(computed.value == 1000L)
    assert(jobsIn(cp.collect()) == 1)
    assert(computed.value == 1000L, "a read recomputed the source")
    // the same partial read of an eager boundary runs only its own job
    val eager = Boundary.eagerLocal(source()._1)
    assert(jobsIn(eager.head()) == 1)
    Boundary.release(cp)
    Boundary.release(eager)
  }

  test("release drops the checkpointed RDD from getPersistentRDDs") {
    val sc = spark.sparkContext
    def rddId(cp: DataFrame): Int = cp.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.get
    val eager = Boundary.eagerLocal(source()._1)
    val lzy = Boundary.lazyLocal(source()._1)
    lzy.collect()
    Seq(eager, lzy).foreach { cp =>
      val id = rddId(cp)
      assert(sc.getPersistentRDDs.contains(id))
      Boundary.release(cp)
      assert(!sc.getPersistentRDDs.contains(id))
    }
  }
}
