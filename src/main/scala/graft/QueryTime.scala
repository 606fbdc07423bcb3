package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Time individual registered queries (PlanDump's timing sibling):
  * `runMain graft.QueryTime q63_repetition_filter q67_boilerplate`,
  * or every benched query with no args. Same session and noop-sink
  * forcing as Bench, one untimed warmup per query, N timed repeats
  * (SPARK_GRAFT_REPS, default 3; 1 gives one warm and one timed run).
  *
  * Each `[qtime]` line also carries the Spark jobs, stages and tasks of
  * the last timed rep. At sf0.1 the tables are tiny, so wall-clock is
  * dominated by driver round-trips (job submissions, AQE stage
  * materializations): jobs/stages ARE the cost model, and they are
  * also what a 100 TB run pays as synchronization barriers.
  *
  * stderr carries, from the listener bus and outside the timed window:
  * `[joblog]` jobs over 0.2 s with their first stage's callsite,
  * `[stagelog]` stages over 0.2 s with task metrics, and
  * `[planmetrics]` the executed-plan nodes that burned the most time,
  * so a slow rep attributes to a job, a stage and an operator.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = Tables.localSession("graft-querytime")

    val jobs = new LongAdder
    val stages = new LongAdder
    val tasks = new LongAdder
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(1)
        val site = j.stageInfos.headOption.map(_.details.linesIterator
          .find(_.contains("graft")).getOrElse("").trim).getOrElse("")
        starts.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec > 0.2)
            System.err.println(f"[joblog] job=${j.jobId}%4d sec=$sec%7.3f $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.add(1)
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        if (wall > 0.2) {
          val m = i.taskMetrics
          System.err.println(f"[stagelog] stage=${i.stageId}%4d wall=$wall%7.3f " +
            f"tasks=${i.numTasks}%4d run=${m.executorRunTime / 1e3}%7.3f " +
            f"cpu=${m.executorCpuTime / 1e9}%7.3f gc=${m.jvmGCTime / 1e3}%6.3f " +
            f"deser=${m.executorDeserializeTime / 1e3}%6.3f " +
            f"fetchWait=${m.shuffleReadMetrics.fetchWaitTime / 1e3}%6.3f " +
            i.name.take(70))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.add(1)
    })
    // after every action, print the executed-plan nodes that burned
    // the most time (codegen `duration`, agg/join build+sort times)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        def walk(p: SparkPlan): Seq[(Long, String)] = {
          val timeKeys = Seq("duration", "time in aggregation build",
            "sort time", "build time", "collect time", "shuffle write time",
            "time to build hash map", "scan time")
          val self = p.metrics.toSeq.collect {
            case (k, m) if timeKeys.exists(
                m.name.getOrElse("").toLowerCase.contains) &&
              m.value > 500 =>
              (m.value, s"${p.nodeName}#${p.id} ${m.name.getOrElse(k)}=${m.value}ms " +
                s"rows=${p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)}")
          }
          val kids = p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec => walk(q.plan)
            case other => other.children.flatMap(walk) ++
              other.subqueries.flatMap(walk)
          }
          self ++ kids
        }
        val hot = walk(qe.executedPlan).sortBy(-_._1).take(8)
        if (hot.nonEmpty)
          System.err.println("[planmetrics]\n  " +
            hot.map(_._2).mkString("\n  "))
      }
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq
        .filterNot(SparkEntry.benchExempt).sorted
    def timed(name: String): Double =
      Metrics.time(Bench.force(SparkEntry.queries(name)(spark, sfDir)))._2
    names.foreach { name =>
      timed(name) // warmup
      val times = (1 until reps).map(_ => timed(name))
      // listener events are async: settle before and after the last
      // rep so its job/stage/task deltas attribute cleanly
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      val (j0, s0, t0) = (jobs.sum, stages.sum, tasks.sum)
      val all = (times :+ timed(name)).sorted
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      println(f"[qtime] $name%-28s min=${all.head}%.2f med=${all(reps / 2)}%.2f " +
        f"max=${all.last}%.2f jobs=${jobs.sum - j0}%3d " +
        f"stages=${stages.sum - s0}%3d tasks=${tasks.sum - t0}%5d")
    }
    spark.stop()
  }
}
