package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Plan shape of `graft.rules.SmallGlobalSort`: a total `orderBy` over
  * an input AQE has measured as small runs as one sort task (no range
  * exchange, no sampling job); a sort over anything unmeasured, or a
  * user-requested `repartitionByRange`, keeps its exchange.
  *
  * The job counts are exact: none of these queries checkpoints, so
  * they repeat from run to run.
  */
class SmallGlobalSortSpec extends SparkSpec {
  private val sf001 = "/root/testdata/sf0.01"
  private val minPartitionSize =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Collects `df` once; its rows, job count and final AQE plan's
    * shape: (ENSURE_REQUIREMENTS range exchanges, other range
    * exchanges, single-partition coalesces).
    */
  private def run(df: DataFrame): (Seq[Row], Long, (Int, Int, Int)) = {
    Metrics.register(spark)
    val (rows, p) = Metrics.measure(spark)(df.collect().toSeq)
    val nodes = Metrics.finalNodes(df.queryExecution.executedPlan).toSeq
    val ranges = nodes.collect {
      case ex: ShuffleExchangeExec
          if ex.outputPartitioning.isInstanceOf[RangePartitioning] =>
        ex.shuffleOrigin == ENSURE_REQUIREMENTS
    }
    val coalesces = nodes.count {
      case CoalesceExec(1, _) => true
      case _ => false
    }
    (rows, p.jobs, (ranges.count(identity), ranges.count(!_), coalesces))
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf001)

  private val fired = Seq(
    "q01_pricing_summary" -> 2L, "q30_xwindow_tumbling" -> 3L,
    "q23_sessionize" -> 2L)

  for ((name, jobs) <- fired)
    test(s"$name sorts its measured-small input in one task: $jobs " +
        "jobs, no range exchange; with the coalescer's floor lowered " +
        "the exchange returns and the rows are identical") {
      assume(new java.io.File(sf001).isDirectory)
      val (rows, j, shape) = run(query(name))
      assert(rows.nonEmpty)
      assert(j == jobs, s"$name ran $j jobs")
      assert(shape == ((0, 0, 1)), s"$name final plan (range, other, coalesce)")
      val (exchanged, jx, shapeX) =
        withConf(minPartitionSize, "1b")(run(query(name)))
      assert(shapeX._1 == 1 && shapeX._3 == 0,
        s"$name kept no range exchange with a 1-byte floor: $shapeX")
      assert(jx > j, s"$name: $jx jobs with the exchange vs $j without")
      assert(exchanged == rows)
    }

  test("inert with partition coalescing off") {
    assume(new java.io.File(sf001).isDirectory)
    val (_, _, shape) = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled", "false")(
      run(query("q01_pricing_summary")))
    assert(shape == ((1, 0, 0)), s"(range, other, coalesce) = $shape")
  }

  test("repartitionByRange keeps its exchange over a measured input, " +
      "also under a global sort it satisfies") {
    val counts = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
    val (rows, _, shape) = run(
      counts.repartitionByRange(2, col("k")).orderBy("k"))
    assert(rows.size == 10)
    assert(shape == ((0, 1, 0)), s"(range, other, coalesce) = $shape")
  }

  test("a sort over a generator, a join or a bare scan keeps its " +
      "exchange") {
    val counts = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
    val generated = counts
      .select(col("k"), explode(sequence(lit(1), col("k"))).as("i"))
      .orderBy("k", "i")
    val joined = counts.join(counts.withColumnRenamed("count", "c2"), "k")
      .orderBy("k")
    val scanned = spark.range(1000).toDF().orderBy(col("id").desc)
    for (df <- Seq(generated, joined, scanned)) {
      val (rows, _, shape) = run(df)
      assert(rows.nonEmpty)
      assert(shape == ((1, 0, 0)),
        s"(range, other, coalesce) = $shape\n${df.queryExecution.executedPlan}")
    }
  }
}
