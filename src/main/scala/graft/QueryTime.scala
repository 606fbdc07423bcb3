package graft

/** Time individual registered queries (PlanDump's timing sibling):
  * `runMain graft.QueryTime q63_repetition_filter q67_boilerplate`,
  * or every benched query with no args. Same session and noop-sink
  * forcing as Bench, one untimed warmup per query, N timed repeats
  * (SPARK_GRAFT_REPS, default 3; 1 gives one warm and one timed run).
  *
  * Each `[qtime]` line also carries the Spark jobs and tasks of the
  * last timed rep. At sf0.1 the tables are tiny, so wall-clock is
  * dominated by driver round-trips (job submissions, AQE stage
  * materializations): jobs ARE the cost model (under AQE each job runs
  * one stage), and they are also what a 100 TB run pays as
  * synchronization barriers.
  *
  * stderr carries the session's `Metrics` listener logs (`[joblog]`,
  * `[stagelog]`, `[planmetrics]`), so a slow rep attributes to a job,
  * a stage and an operator.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = Tables.localSession("graft-querytime")

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq
        .filterNot(SparkEntry.benchExempt).sorted
    def run(name: String): Metrics.Profile = Metrics.measure(spark)(
      Bench.force(SparkEntry.queries(name)(spark, sfDir)))._2
    names.foreach { name =>
      run(name) // warmup
      val ps = (1 to reps).map(_ => run(name))
      val all = ps.map(_.sec).sorted
      val last = ps.last
      println(f"[qtime] $name%-28s min=${all.head}%.2f med=${all(reps / 2)}%.2f " +
        f"max=${all.last}%.2f jobs=${last.jobs}%3d tasks=${last.tasks}%5d")
    }
    spark.stop()
  }
}
