package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Plan shape of `graft.rules.SmallGlobalSort`: a total `orderBy` over
  * an input that provably runs as one partition (among them a stage AQE
  * has measured as small enough to read as one) runs as one sort task
  * (no range exchange, no sampling job); a sort over anything else, or
  * a user-requested `repartitionByRange`, keeps its exchange.
  *
  * The job counts are exact: none of these queries checkpoints, so
  * they repeat from run to run.
  */
class SmallGlobalSortSpec extends SparkSpec {
  private val sf001 = "/root/testdata/sf0.01"
  private val minPartitionSize =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val coalescing = "spark.sql.adaptive.coalescePartitions.enabled"

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

  /** `k` = 0..n-1 in an RDD of `slices` partitions: an input whose
    * partition count the rule can read without running anything.
    */
  private def keys(n: Int, slices: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until n).map(Row(_)), slices),
      StructType(Seq(StructField("k", LongType))))

  private def counts: DataFrame =
    spark.range(1000).groupBy((col("id") % 10).as("k")).count()

  /** A one-partition build side for broadcast joins. */
  private def small: DataFrame = keys(5, 1).withColumn("v", col("k") * 2)

  /** A sort fires: one coalesce, no range exchange, and the same rows
    * as with partition coalescing off, where the rule is inert and the
    * exchange stays. Returns the fired run's job count.
    */
  private def assertFires(what: String, df: () => DataFrame): Long = {
    val (rows, jobs, shape) = run(df())
    assert(rows.nonEmpty, what)
    assert(shape == ((0, 0, 1)),
      s"$what: (range, other, coalesce) = $shape\n${df().queryExecution.executedPlan}")
    val (inert, _, shapeOff) = withConf(coalescing, "false")(run(df()))
    assert(shapeOff == ((1, 0, 0)), s"$what with coalescing off: $shapeOff")
    assert(rows == inert, what)
    jobs
  }

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

  // one-file scan (q22), a scan streamed through a broadcast join and a
  // generator (q32), a generator over a measured aggregate (q34)
  private val onePartitionQueries = Seq(
    "q22_try_except" -> 1L, "q32_match" -> 2L, "q34_child_path" -> 2L)

  for ((name, jobs) <- onePartitionQueries)
    test(s"$name sorts its one-partition input in one task: $jobs " +
        "jobs, no range exchange, rows identical with coalescing off") {
      assume(new java.io.File(sf001).isDirectory)
      val j = assertFires(name, () => query(name))
      assert(j == jobs, s"$name ran $j jobs")
    }

  test("a sort over a one-partition generator, broadcast join or " +
      "checkpoint-like RDD scan fires") {
    val inputs = Seq[(String, () => DataFrame)](
      "generator over a coalesced aggregate" -> (() => counts
        .select(col("k"), explode(sequence(lit(1), col("k"))).as("i"))
        .orderBy("k", "i")),
      "join of two coalesced aggregates" -> (() => counts
        .join(counts.withColumnRenamed("count", "c2"), "k").orderBy("k")),
      "generator over a one-partition RDD" -> (() => keys(100, 1)
        .select(col("k"), explode(sequence(lit(0L), col("k") % 7)).as("i"))
        .orderBy(col("k").desc, col("i"))),
      "broadcast hash join streaming a one-partition RDD" -> (() =>
        keys(100, 1).join(broadcast(small), "k").orderBy(col("k").desc)),
      "broadcast nested-loop join streaming a one-partition RDD" -> (() =>
        keys(20, 1).crossJoin(broadcast(small.withColumnRenamed("k", "k2")))
          .orderBy(col("k").desc, col("k2"))))
    for ((what, df) <- inputs) assertFires(what, df)
  }

  test("a one-row input exploded to 200k rows sorts in one task and " +
      "matches the coalescing-off rows") {
    val exploded = () => keys(1, 1)
      .select(explode(sequence(lit(1L), lit(200000L))).as("i"))
      .orderBy(col("i").desc)
    val jobs = assertFires("exploded", exploded)
    assert(jobs == 1L, s"$jobs jobs")
  }

  test("inert with partition coalescing off") {
    assume(new java.io.File(sf001).isDirectory)
    val (_, _, shape) = withConf(coalescing, "false")(
      run(query("q01_pricing_summary")))
    assert(shape == ((1, 0, 0)), s"(range, other, coalesce) = $shape")
  }

  test("repartitionByRange keeps its exchange over a measured input, " +
      "also under a global sort it satisfies") {
    val (rows, _, shape) = run(
      counts.repartitionByRange(2, col("k")).orderBy("k"))
    assert(rows.size == 10)
    assert(shape == ((0, 1, 0)), s"(range, other, coalesce) = $shape")
  }

  test("a sort over a generator, a join or a bare scan keeps its " +
      "exchange") {
    val generated = keys(100, 4)
      .select(col("k"), explode(sequence(lit(0L), col("k") % 7)).as("i"))
      .orderBy("k", "i")
    val joined = keys(100, 4).join(broadcast(small), "k").orderBy("k")
    // a full outer nested-loop join adds a partition for unmatched
    // build rows, so even a one-partition streamed side is not one
    val outer = keys(20, 1)
      .join(broadcast(small.withColumnRenamed("k", "k2")),
        col("k") < col("k2"), "full_outer")
      .orderBy("k", "k2")
    // a user's repartition(n) is a measured stage AQE does not coalesce
    val repartitioned = spark.range(1000).repartition(4)
      .select(col("id"), explode(sequence(lit(0L), col("id") % 3)).as("i"))
      .orderBy("id", "i")
    val scanned = spark.range(1000).toDF().orderBy(col("id").desc)
    for (df <- Seq(generated, joined, outer, repartitioned, scanned)) {
      val (rows, _, shape) = run(df)
      assert(rows.nonEmpty)
      assert(shape == ((1, 0, 0)),
        s"(range, other, coalesce) = $shape\n${df.queryExecution.executedPlan}")
    }
  }
}
