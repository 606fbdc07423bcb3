package graft

import org.apache.spark.sql.functions._

/** The guard-observability counters (PERF.md stress tables): proves the
  * AQE skew-split counter counts REAL skew handling — a deliberately
  * hot-keyed sort-merge join under lowered thresholds must be detected
  * and split by AQE, and `Metrics.aqeSkewSplits` must see it. The
  * `graft.Stress` tables report zeros for these counters (token-disjoint
  * replication builds an unskewed corpus by construction); this spec is
  * the evidence those zeros are measurements, not a dead listener.
  */
class MetricsSpec extends SparkSpec {

  test("register is idempotent per session: an observed row counts once") {
    Metrics.register(spark)
    Metrics.register(spark)
    val n = 1000L
    val (_, p) = Metrics.measure(spark)(
      spark.range(n).observe("probe", count(lit(1)).as("n")).collect())
    assert(p.observed.get("probe.n").contains(n))
  }

  test("measure attributes an action's observed rows, jobs and tasks " +
      "to its body, and nothing to a body without an action") {
    Metrics.register(spark)
    val independent = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        independent.add(1)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      val n0 = independent.sum
      val (_, p) = Metrics.measure(spark)(spark.range(1000).repartition(4)
        .observe("probe", count(lit(1)).as("n")).collect())
      assert(p.observed.get("probe.n").contains(1000L))
      assert(p.jobs > 0 && p.tasks > 0)
      assert(p.tasks == independent.sum - n0)
      assert(p.sec > 0)

      val (_, idle) = Metrics.measure(spark)(Seq(1, 2, 3).sum)
      assert(idle.jobs == 0 && idle.tasks == 0 && idle.observed.isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("aqeSkewSplits counts AQE skew-join splits on a hot-keyed join") {
    Metrics.register(spark)
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      // thresholds scaled to a test-sized corpus (same ratios as the
      // production defaults — see Stress.session); broadcasts off so the
      // join is sort-merge and skew handling is in play
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      // 90% of rows share key 0 (incompressible ~96-char payloads so
      // the hot shuffle partition clears the byte threshold); the
      // other keys spread thin — median stays tiny.
      val left = spark.range(120000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") * 7).cast("string")),
          md5((col("id") * 13).cast("string"))).as("payload"))
      val right = spark.range(2000).select(col("id").as("k"),
        md5(col("id").cast("string")).as("r"))

      // aggregate over the payload so column pruning can't strip it
      // from the exchange (an all-identical-key partition of bare
      // longs compresses below any threshold)
      val df = left.join(right, "k")
        .agg(count(lit(1)).as("n"), max(col("payload")).as("p"))
      val (joined, p) = Metrics.measure(spark)(df.collect()(0).getLong(0))
      println("=== FINAL PLAN ===")
      println(df.queryExecution.executedPlan.toString)
      assert(joined > 0)
      assert(p.skewSplits > 0,
        s"expected AQE to skew-split the hot key-0 partition; counter delta ${p.skewSplits}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("json escapes string values: a reader gets back quotes, " +
      "backslashes and control characters") {
    val nasty = "say \"hi\" \\ C:\\dir\nnext\tcol\u0001end"
    val out = Metrics.json(Seq("err \"q\"" -> nasty, "n" -> 3,
      "nan" -> Double.NaN))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out)
    assert(node.get("err \"q\"").asText == nasty, out)
    assert(node.get("n").asInt == 3)
    assert(node.get("nan").isNull)
  }
}
