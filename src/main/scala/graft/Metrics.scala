package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one profiler. [[register]] (called by
  * `Tables.localSession`) installs one [[Listener]], which keeps
  * process-wide counters and logs to stderr:
  *   - [[observedSums]]: every numeric field of every `Dataset.observe`
  *     row, summed per `<metric>.<field>` key (the LshSkew caps'
  *     `dropped_buckets`/`dropped_rows`), each row also logged as a
  *     `[graft-metrics]` line;
  *   - [[aqeSkewSplits]]: the `PartialReducerPartitionSpec`s in the
  *     final adaptive plans, i.e. the skew-split sub-partitions AQE's
  *     skew handling created at runtime;
  *   - Spark jobs and tasks (no stage count: under AQE each job
  *     completes one stage, so it would equal the job count);
  *   - `[joblog]` jobs over 0.2 s with their first stage's callsite,
  *     `[stagelog]` stages over 0.2 s with task metrics, and
  *     `[planmetrics]` the executed-plan nodes that burned the most
  *     time, so a slow query attributes to a job, a stage and an
  *     operator.
  *
  * Every main reads them through [[measure]], which attributes the
  * counters to one body and times it.
  */
object Metrics {

  /** Sum of AQE skew-split sub-partitions across all finished actions. */
  val aqeSkewSplits = new LongAdder

  /** `<metricName>.<field>` -> summed value across finished actions. */
  val observedSums: TrieMap[String, Long] = TrieMap.empty

  private val jobs = new LongAdder
  private val tasks = new LongAdder

  /** What one [[measure]]d body cost: wall seconds, the Spark jobs
    * and tasks it ran, the AQE skew splits its plans made, the
    * observed-metric sums it moved (keys whose sum changed, with the
    * change) and the artifact (re)builds it triggered.
    */
  final case class Profile(sec: Double, jobs: Long, tasks: Long,
      skewSplits: Long, observed: Map[String, Long],
      artifactBuilds: Long) {
    /** Sum of the observed deltas whose key ends with `suffix`. */
    def observedSum(suffix: String): Long =
      observed.collect { case (k, v) if k.endsWith(suffix) => v }.sum

    /** [[sec]] rounded to ms. */
    def roundedSec: Double = math.rint(sec * 1000) / 1000

    /** The guard counters: AQE skew splits and the LshSkew cap drops
      * (buckets, rows) this body caused.
      */
    def counters: Seq[(String, Long)] = Seq(
      "aqe_skew_splits" -> skewSplits,
      "cap_buckets" -> observedSum(".dropped_buckets"),
      "cap_rows" -> observedSum(".dropped_rows"))
  }

  private def counters(): (Long, Long, Long, Map[String, Long], Long) =
    (jobs.sum, tasks.sum, aqeSkewSplits.sum, observedSums.toMap,
      graft.sources.ArtifactGuard.buildEventCount.toLong)

  /** Runs `body` once and returns its result with its [[Profile]].
    * Listener events are async, so the bus is drained before and after
    * the body; both drains fall outside the timed window. Exceptions
    * from `body` propagate.
    */
  def measure[A](spark: SparkSession)(body: => A): (A, Profile) = {
    GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    val (j0, t0, k0, m0, b0) = counters()
    val start = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - start) / 1e9
    GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    val (j1, t1, k1, m1, b1) = counters()
    val observed = m1.collect {
      case (k, v) if v != m0.getOrElse(k, 0L) => k -> (v - m0.getOrElse(k, 0L))
    }
    (a, Profile(sec, j1 - j0, t1 - t0, k1 - k0, observed, b1 - b0))
  }

  /** One JSON object of `fields` in order: strings quoted, a NaN or
    * null as `null`, anything else as its `toString`.
    */
  def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val s = v match {
      case null => "null"
      case s: String => quote(s)
      case d: Double if d.isNaN => "null"
      case other => other.toString
    }
    quote(k) + ":" + s
  }.mkString("{", ",", "}")

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped, so a tab or newline in an error
    * message or in SQL cannot break the reader's parse.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every node of an executed plan as it finally ran: AQE's final
    * plan, each query stage's materialized subtree, children and
    * subqueries (`AdaptiveSparkPlanExec` and `QueryStageExec` are leaf
    * nodes, so their wrapped plans are entered explicitly).
    */
  def finalNodes(p: SparkPlan): Iterator[SparkPlan] =
    Iterator.single(p) ++ (p match {
      case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
      case q: QueryStageExec => finalNodes(q.plan)
      case other =>
        (other.children.iterator ++ other.subqueries.iterator)
          .flatMap(finalNodes)
    })

  private val timeKeys = Seq("duration", "time in aggregation build",
    "sort time", "build time", "collect time", "shuffle write time",
    "time to build hash map", "scan time")

  /** Both a `SparkListener` (jobs, tasks, joblog, stagelog) and
    * a `QueryExecutionListener` (observed metrics, skew splits,
    * planmetrics). Both kinds of callback run on Spark's shared
    * listener queue, so one drain settles them.
    */
  final class Listener extends SparkListener with QueryExecutionListener {
    private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.add(1)
      val site = j.stageInfos.headOption.map(_.details.linesIterator
        .find(_.contains("graft")).getOrElse("").trim).getOrElse("")
      jobStarts.put(j.jobId, (j.time, site))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach { case (t0, site) =>
        val sec = (j.time - t0) / 1e3
        if (sec > 0.2)
          System.err.println(f"[joblog] job=${j.jobId}%4d sec=$sec%7.3f $site")
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
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
      try {
        val nodes = finalNodes(qe.executedPlan).toSeq
        aqeSkewSplits.add(nodes.collect { case r: AQEShuffleReadExec =>
          r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec]).toLong
        }.sum)
        // the nodes that burned the most time (codegen `duration`,
        // agg/join build and sort times)
        val hot = nodes.flatMap { p =>
          p.metrics.toSeq.collect {
            case (k, m) if timeKeys.exists(
                m.name.getOrElse("").toLowerCase.contains) && m.value > 500 =>
              (m.value, s"${p.nodeName}#${p.id} ${m.name.getOrElse(k)}=${m.value}ms " +
                s"rows=${p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)}")
          }
        }.sortBy(-_._1).take(8)
        if (hot.nonEmpty)
          System.err.println("[planmetrics]\n  " + hot.map(_._2).mkString("\n  "))
      } catch { case NonFatal(_) => () } // diagnostics must never fail a job
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  /** Installs the [[Listener]]'s query callbacks once per session and
    * its scheduler callbacks once per SparkContext (which sessions
    * share); later calls are no-ops, so nothing is counted or logged
    * twice however often this is called.
    */
  def register(spark: SparkSession): Unit = registered.synchronized {
    val l = new Listener
    if (registered.add(spark)) spark.listenerManager.register(l)
    if (registered.add(spark.sparkContext)) spark.sparkContext.addSparkListener(l)
  }
}
