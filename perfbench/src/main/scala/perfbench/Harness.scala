package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Metrics, SparkEntry, Tables}
import graft.sources.{ArtifactGuard, Artifacts}

/** JVM side of the benchmark. Drives the engine only through its public
  * surface (`SparkEntry`, `Tables`, the registered query functions,
  * `ArtifactGuard.buildEventCount`, `Metrics.aqeSkewSplits`) and Spark's
  * public listener APIs, as one closed-loop client against
  * `local[cpus]`: each op is one registered query, built and forced
  * through the `noop` sink, start to finish.
  *
  * Modes (`--mode`):
  *  - `setup`: JVM start → session → registry, then exit; prints the
  *    set-up seconds. `run.py` launches a few of these per run.
  *  - `run`: set-up, one timed cold pass, one untimed pass that writes
  *    each op's output for the oracle check, `--warmup-passes` untimed
  *    warm-up passes, then measured passes until `--seconds` have
  *    elapsed and at least `--min-passes` have run.
  *    `--ops` run on the `--data` tables; `--build-ops` run on a fresh
  *    byte copy of them in every pass, so they build their artifacts
  *    each time.
  *    With `--trace 1` every other measured pass records jobs, tasks,
  *    Catalyst phases and per-op counters from outside the engine.
  *
  * All raw records go to `--out` as JSON; `run.py` does the arithmetic.
  */
object Harness {

  // Epoch-millisecond clock with sub-ms resolution, comparable with the
  // millisecond timestamps Spark stamps on listener events.
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Op(id: Int, pass: Int, measured: Boolean,
      traced: Boolean, name: String, build: Boolean,
      start: Double, end: Double, constructEnd: Double,
      ok: Boolean, error: String, builds: Int, skewSplits: Long,
      artifactBytes: Long, fsBytesRead: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = opt("cpus").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = Tables.localSession("perfbench", cpus)
    val tReg = nowMs
    val queries = SparkEntry.queries
    val registryMs = nowMs - tReg
    val setupS = (nowMs - jvmStart) / 1000.0
    if (opt("mode") == "setup") {
      println(f"""{"setup_s":$setupS%.6f,"registry_ms":$registryMs%.4f}""")
      System.out.flush()
      Runtime.getRuntime.halt(0) // nothing to keep: skip the orderly stop
    }
    new Run(spark, queries, opt, cpus, setupS, registryMs).go()
    spark.stop()
  }

  /** Force every output column: the `noop` sink, as `graft.Bench` does,
    * or, on the untimed check pass, one parquet file for the oracle.
    */
  private def force(df: DataFrame, dumpTo: Option[Path]): Unit = dumpTo match {
    case None => df.write.format("noop").mode("overwrite").save()
    case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p.toString)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Bytes read through Hadoop's local `file` file system so far. */
  private def fsBytesRead(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesRead")))
      .map(_.longValue).getOrElse(0L)

  private def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Job, task and Catalyst-phase records, kept in memory while a traced
    * pass runs and written out at the end of the run.
    */
  final class Recorder extends SparkListener with QueryExecutionListener {
    @volatile var on = false
    @volatile var lastMarker = ""
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, Int)]()
    // jobId -> [tasks, failed, runMs, cpuMs, gcMs, shWrite, shRead, spill, fetchWaitMs]
    private val jobAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.op"))).getOrElse("")
      if (op.startsWith("marker")) lastMarker = op
      else if (on) start(e, op)
    }

    private def start(e: SparkListenerJobStart, op: String): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, (e.time.toDouble, op, e.stageIds.size))
      jobAgg.put(e.jobId, new Array[Double](9))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobAgg.get(j)))
      a.foreach { a => a.synchronized {
        a(0) += 1
        if (!e.taskInfo.successful) a(1) += 1
        val m = e.taskMetrics
        if (m != null) {
          a(2) += m.executorRunTime
          a(3) += m.executorCpuTime / 1e6
          a(4) += m.jvmGCTime
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.shuffleReadMetrics.totalBytesRead
          a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(8) += m.shuffleReadMetrics.fetchWaitTime
        }
      } }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, op, nStages) =>
        val a = Option(jobAgg.remove(e.jobId)).getOrElse(new Array[Double](9))
        jobs.add(f"""{"job":${e.jobId},"start":$t0%.3f,"end":${e.time.toDouble}%.3f,""" +
          s""""prop":${esc(op)},"stages":$nStages,"tasks":${a(0).toLong},""" +
          s""""tasks_failed":${a(1).toLong},"run_ms":${a(2)},"cpu_ms":${a(3)},""" +
          s""""gc_ms":${a(4)},"shuffle_write":${a(5).toLong},""" +
          s""""shuffle_read":${a(6).toLong},"spill":${a(7).toLong},""" +
          s""""fetch_wait_ms":${a(8)}}""")
      }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)

    private def record(qe: QueryExecution): Unit = if (on) {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(s"""{"phase":${esc(name)},"start":${p.startTimeMs},"end":${p.endTimeMs}}""")
      }
    }
  }

  final class Run(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      opt: Map[String, String], cpus: Int, setupS: Double,
      registryMs: Double) {
    private val names = opt("ops").split(",").toSeq
    private val seed = opt("seed").toLong
    private val seconds = opt("seconds").toDouble
    private val warmupPasses = opt("warmup-passes").toInt
    private val minPasses = opt("min-passes").toInt
    private val trace = opt("trace") == "1"
    private val buildNames = opt.get("build-ops").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    private val baseDir = opt("data")
    private val workDir = Paths.get(opt("work"))
    private val artifactRoot = Paths.get(Artifacts.root)
    private val recorder = new Recorder
    private val ops = ArrayBuffer[Op]()
    private val tableLoads = ArrayBuffer[Double]()
    private val sc = spark.sparkContext
    private var nextId = 0
    private var markers = 0

    /** A fresh byte copy of the tables for one pass's build ops, under
      * the artifact root so it lives and dies with the artifacts it feeds.
      */
    private def snapshotFor(pass: Int): String = {
      val dst = artifactRoot.resolve(s"snapshot_s${seed}_p$pass")
      Files.createDirectories(dst)
      Files.list(Paths.get(baseDir)).forEach(f =>
        Files.copy(f, dst.resolve(f.getFileName)))
      dst.toString
    }

    /** Delete a pass's snapshot and every artifact keyed to it. */
    private def dropSnapshot(dir: String): Unit = {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Artifacts.sha8(dir)
      val doomed = Paths.get(dir) +: (if (!Files.exists(artifactRoot)) Nil else {
        val s = Files.list(artifactRoot)
        try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
          .flatMap { k =>
            val t = Files.list(k)
            try t.toArray.toSeq.map(_.asInstanceOf[Path])
              .filter(_.getFileName.toString.startsWith(key))
            finally t.close()
          }
        finally s.close()
      })
      doomed.foreach { p =>
        if (Files.exists(p)) {
          val s = Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.delete(f))
          finally s.close()
        }
      }
    }

    private def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names ++ buildNames)

    /** Wait until the listener bus has delivered every event posted so
      * far: run a one-task marker job and wait for the recorder to see it
      * start. The recorder, the session's `Metrics` listener and every
      * `QueryExecutionListener` sit on Spark's shared listener queue,
      * which delivers in order.
      */
    private def drain(): Unit = {
      markers += 1
      val tag = s"marker$markers"
      sc.setLocalProperty("perfbench.op", tag)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty("perfbench.op", null)
      val deadline = System.nanoTime() + 30000000000L
      while (recorder.lastMarker != tag && System.nanoTime() < deadline)
        Thread.sleep(1)
      if (recorder.lastMarker != tag)
        throw new IllegalStateException(
          s"listener bus did not deliver $tag within 30 s: the trace would be incomplete")
    }

    private def runOp(pass: Int, measured: Boolean, traced: Boolean,
        name: String, dir: String, dumpTo: Option[Path]): Op = {
      val id = nextId; nextId += 1
      val fn = queries(name)
      sc.setLocalProperty("perfbench.op", id.toString)
      val b0 = ArtifactGuard.buildEventCount
      val s0 = Metrics.aqeSkewSplits.sum()
      val a0 = if (traced) dirBytes(artifactRoot) else 0L
      val y0 = if (traced) fsBytesRead() else 0L
      val t0 = nowMs
      var c1 = t0
      val err =
        try {
          val df = fn(spark, dir)
          c1 = nowMs
          force(df, dumpTo)
          ""
        } catch {
          case e: Exception =>
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        }
      val t1 = nowMs
      sc.setLocalProperty("perfbench.op", null)
      // a traced op's listener events, the skew-split count among them,
      // are all in before its counters are read
      if (traced) drain()
      val y1 = if (traced) fsBytesRead() else 0L
      val a1 = if (traced) dirBytes(artifactRoot) else 0L
      val op = Op(id, pass, measured, traced, name, dir != baseDir, t0, t1, c1,
        err.isEmpty, err,
        ArtifactGuard.buildEventCount - b0, Metrics.aqeSkewSplits.sum() - s0,
        math.max(0L, a1 - a0), y1 - y0)
      ops += op
      op
    }

    /** The benchmark's own probe of the tables layer: a timed
      * `Tables.load(…).schema` per table.
      */
    private def probeTables(dir: String): Unit =
      Tables.names.filter(t => Files.exists(Paths.get(dir, s"$t.parquet"))).foreach { t =>
        val t0 = nowMs
        Tables.load(spark, dir, t).schema
        tableLoads += nowMs - t0
      }

    /** The oracle SQL for the ops the check pass dumped, each resolved
      * against the data dir it ran on (for build ops, the pass's snapshot,
      * which is kept until the run ends).
      */
    private def writeOracles(snapshotDir: String): Unit = {
      val out = workDir.resolve("check")
      Files.createDirectories(out)
      val base = SparkEntry.oracleSqlFor(baseDir)
      val snap =
        if (buildNames.isEmpty) Map.empty[String, String]
        else SparkEntry.oracleSqlFor(snapshotDir)
      val json = (names.distinct.flatMap(n => base.get(n).map(n -> _)) ++
        buildNames.distinct.flatMap(n => snap.get(n).map(n -> _)))
        .map { case (n, q) => s"${esc(n)}:${esc(q)}" }.mkString("{", ",", "}")
      Files.writeString(out.resolve("oracle_sql.json"), json)
      Files.writeString(out.resolve("data_dir"), baseDir)
    }

    /** Driver heap in use after collection. Each collection lets Spark's
      * ContextCleaner drop more dead blocks and broadcasts, which frees
      * more heap on the next one, so collect until the figure settles.
      */
    private def retainedHeapMb(): Double = {
      val mem = ManagementFactory.getMemoryMXBean
      def used(): Double = { mem.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
      var prev = used()
      var cur = prev
      var i = 0
      while (i < 10 && { Thread.sleep(200); cur = used(); cur < prev * 0.99 }) {
        prev = cur; i += 1
      }
      cur
    }

    private def spinSec(): Double = {
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val ts = (1 to cpus).map { t =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + t
          var i = 0L
          while (i < 50000000L) {
            x = x * 6364136223846793005L + 1442695040888963407L; i += 1
          }
          sink.addAndGet(x)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    def go(): Unit = {
      val os = ManagementFactory.getOperatingSystemMXBean
      spinSec() // JIT-warm the probe loop, untimed
      val spinPre = spinSec()
      val loadPre = os.getSystemLoadAverage

      if (trace) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      var pass = 0
      /** One pass over the ops in the seed's order for that pass; build ops
        * run on the pass's own snapshot. Returns the snapshot's path.
        */
      def runPass(measured: Boolean, traced: Boolean,
          dump: Boolean = false): String = {
        val snap = if (buildNames.isEmpty) "" else snapshotFor(pass)
        if (traced) { probeTables(baseDir); drain(); recorder.on = true }
        order(pass).foreach { n =>
          val d = if (buildNames.contains(n)) snap else baseDir
          runOp(pass, measured, traced, n, d,
            if (dump) Some(workDir.resolve("check").resolve(n)) else None)
        }
        recorder.on = false
        pass += 1
        snap
      }
      def runAndDrop(measured: Boolean, traced: Boolean): Unit = {
        val snap = runPass(measured, traced)
        if (snap.nonEmpty) dropSnapshot(snap)
      }

      // the cold pass, timed as a one-shot batch job would run it: the
      // sum of its ops, without the snapshot copy around them
      runAndDrop(false, false)
      val firstPassS = ops.map(o => o.end - o.start).sum / 1000.0
      // an untimed pass that writes every op's output for the oracle
      // check; its snapshot stays until run.py has checked it
      writeOracles(runPass(false, false, dump = true))

      // untimed warm-up passes: pass totals keep falling for the first
      // minute of a fresh JVM as the JIT catches up, so every run starts
      // measuring after the same amount of work, not the same time
      (1 to warmupPasses).foreach(_ => runAndDrop(false, false))
      // measured passes, whole ones, until --seconds have elapsed and at
      // least `--min-passes` have run, so that a slow box does not shift
      // the measured window earlier in the warm-up; a traced run
      // alternates untraced and traced passes
      val w0 = nowMs
      var k = 0
      while (k < minPasses || (nowMs - w0) / 1000.0 < seconds) {
        runAndDrop(measured = true, traced = trace && k % 2 == 1)
        k += 1
      }
      val warmS = (nowMs - w0) / 1000.0
      val spinPost = spinSec()
      val loadPost = os.getSystemLoadAverage
      val heapMb = retainedHeapMb()

      val opsJson = ops.map { o =>
        f"""{"id":${o.id},"pass":${o.pass},"measured":${o.measured},""" +
          f""""traced":${o.traced},"name":${esc(o.name)},"build":${o.build},""" +
          f""""start":${o.start}%.3f,"end":${o.end}%.3f,"c_end":${o.constructEnd}%.3f,""" +
          f""""ok":${o.ok},"error":${esc(o.error)},""" +
          s""""builds":${o.builds},"skew_splits":${o.skewSplits},""" +
          s""""artifact_bytes":${o.artifactBytes},"fs_bytes_read":${o.fsBytesRead}}"""
      }.mkString("[", ",\n", "]")
      val env = s"""{"nproc":$cpus,"load_avg":[$loadPre,$loadPost],""" +
        s""""spin_sec":[$spinPre,$spinPost],""" +
        s""""jvm":${esc(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))},""" +
        s""""spark":${esc(spark.version)}}"""
      val out =
        s"""{"setup_s":$setupS,"registry_ms":$registryMs,"first_pass_s":$firstPassS,""" +
          s""""warm_s":$warmS,"warmup_passes":$warmupPasses,"passes":$k,"heap_retained_mb":$heapMb,""" +
          s""""env":$env,"table_loads_ms":${tableLoads.mkString("[", ",", "]")},""" +
          s""""jobs":${recorder.jobs.toArray.mkString("[", ",\n", "]")},""" +
          s""""phases":${recorder.phases.toArray.mkString("[", ",\n", "]")},""" +
          s""""ops":$opsJson}"""
      Files.writeString(Paths.get(opt("out")), out)
    }
  }
}
