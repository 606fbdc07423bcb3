package graft

/** Scale rehearsal of the slowest REGISTERED queries (r11 verdict #5):
  * the per-family stress harnesses (ScaleStress / CorpusStress /
  * EmbedStress) replicate inputs per operator family, but no single
  * run had confirmed that the slowest registered tail COMPOSES — the
  * same `SparkEntry.queries` entries the bench times, run verbatim
  * against a ×N corpus in ONE session, so exchange-reuse, AQE
  * re-planning and artifact builds interact exactly as they do in the
  * driver's sweep.
  *
  * Inputs are replicated with `StressData`'s disjointness schemes so
  * corpus statistics replicate instead of interfering:
  *   - documents: token-disjoint copies (every token suffixed `~cp`,
  *     ids remapped by a stride that preserves the structural modulo
  *     splits);
  *   - embeddings: per-copy ±1 diagonal sign flip (orthogonal, so
  *     each copy keeps its geometry but copies are far apart in
  *     embedding space), ids remapped by the same EVEN stride so the
  *     q162/q169 query/neighbor parity split is identical in every
  *     copy.
  *
  * Protocol per factor: write the two tables to a fresh dir, run each
  * query once UNTIMED (codegen + parquet footers + the learn-once
  * artifact builds, which are keyed by data dir and therefore fresh
  * here — the bench's warmup convention), then time min-over-reps of
  * a full-result noop write (every column computed and serialized).
  * Output: one JSON line per factor and a final per-query ratio
  * table — near-factor ratios are the claim under test; sub-factor
  * ratios mean fixed overheads still dominate at sf0.1×N.
  */
object TailStress {
  private val defaultTail = Seq(
    "q140_pca_project", "q142_abtt_correct", "q143_kmeans",
    "q146_nb_crossval", "q161_dsir_select", "q164_containment_dedup",
    "q169_margin_align_ivf", "q183_curation_funnel", "q192_bm25_cdc",
    "q199_dedup_savings")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factors = (if (args.length > 1) args(1) else "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val outBase = if (args.length > 2) args(2)
      else graft.sources.Artifacts.root + "/tail_stress"
    // optional arg 4: run only these queries (e.g. a single re-row
    // after a sizing fix); still verbatim registry entries
    val tailQueries = if (args.length > 3)
      args(3).split(",").map(_.trim).toSeq else defaultTail
    val unknown = tailQueries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unregistered queries: $unknown")
    // the ratio table below divides by the factor-1 row — fail before
    // any Spark work rather than after the expensive measurement
    // (advisor r12)
    require(factors.contains(1),
      s"factors $factors must include 1: ratios are vs the factor-1 run")
    // standing composition gate (r12 verdict #4): at ×10 no tail
    // query may scale worse than maxRatio× — a fixed-size index or
    // unbounded model would trip it here, a round before it trips
    // at ×50. Overridable for exploratory runs; non-positive disables.
    val maxRatio =
      sys.env.getOrElse("SPARK_GRAFT_TAIL_MAX_RATIO", "15").toDouble
    val reps = sys.env.getOrElse("SPARK_GRAFT_TAIL_REPS", "2").toInt.max(1)
    val spark = Tables.localSession("graft-tailstress")

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")

    val timings =
      scala.collection.mutable.LinkedHashMap[(Int, String), Double]()
    factors.foreach { f =>
      val dirX = s"$outBase/x$f"
      // the embeddings share their definition with the suite's
      // sized-corpus quality gate (IvfSizedRecallSpec): what the
      // stress measures is what the gate gates
      val nD = StressData.writeSplits(StressData.replicateDocuments(docs, f),
        s"$dirX/documents.parquet", "doc_id").count()
      val nE = StressData.writeSplits(StressData.replicateEmbeddings(emb, f),
        s"$dirX/embeddings.parquet", "vec_id").count()

      // untimed warmup sweep (includes the per-dir artifact builds)
      tailQueries.foreach(q =>
        Bench.force(SparkEntry.queries(q)(spark, dirX)))
      val mins = new Metrics.Report(spark)
      tailQueries.foreach { q =>
        val best = (1 to reps).map(_ => Metrics.measure(spark)(
          Bench.force(SparkEntry.queries(q)(spark, dirX)))._2).minBy(_.sec)
        timings((f, q)) = best.sec
        mins.sec(q, best)
      }
      println(new Metrics.Report(spark, "harness" -> "tail_stress",
        "factor" -> f, "docs" -> nD, "vecs" -> nE, "reps" -> reps,
        "queries" -> mins).json)
    }
    // ratio table vs factor 1 (the archived PERF.md artifact), then
    // the gate on the LARGEST factor present (advisor r13: a run
    // invoked with factors like "1,50" must not print ratios while
    // silently skipping the gate the close-out relies on). The
    // ceiling scales linearly with the factor — maxRatio is
    // calibrated as "at ×10, no worse than 15×" (≈ linear + 50%
    // headroom), so ×f gates at maxRatio·f/10: the r12 q169 ×50 row
    // (243.9×) would have failed at a 75× ceiling, the post-law
    // 13.8× passes.
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val gateF = factors.filter(_ != 1).maxOption.getOrElse(1)
    factors.filter(_ != 1).foreach { f =>
      val ceiling = maxRatio * f / 10.0
      tailQueries.foreach { q =>
        val b = timings((1, q)); val v = timings((f, q))
        val r = v / b
        println(f"""ratio x$f%-3d $q%-28s ${b}%8.2f s -> ${v}%8.2f s""" +
          f"""  ${r}%6.2fx""")
        if (f == gateF && maxRatio > 0 && r > ceiling)
          violations += f"$q at x$f: ${r}%.1fx > ${ceiling}%.0fx"
      }
    }
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(
        "TAIL GATE FAILED:\n  " + violations.mkString("\n  "))
      sys.exit(1)
    }
  }
}
