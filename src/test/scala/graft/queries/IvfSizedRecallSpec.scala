package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, StressData, Tables}
import graft.operators.Similarity
import graft.sources.{ArtifactGuard, Artifacts}

/** The QUALITY half of the IVF sizing contract, gated where it can
  * actually fail (r13 verdict #1): RetrievalSpec's q169-vs-q162
  * recall contract runs at the floor quantizer (nLists=16, sf0.001),
  * where the nLists law never engages — so a probe count that decays
  * toward noise at scale (fixed nProbe=8 under nLists ∝ √n: measured
  * recall@1 0.856 → 0.376 on the ×50 corpus, PERF.md r13) stayed
  * invisible to the suite. This spec measures the law point on a
  * SIZED corpus (n = 100 000 ≥ the ×50 stress size — the same
  * replication `graft.Stress` stresses, via the shared `StressData`,
  * which is the adversarial case: 50 mutually decorrelated isometric
  * copies, no global cluster structure for the quantizer to exploit)
  * against a deterministic sampled EXACT anchor, through the SAME
  * registered derivations q46/q169/q190 use (`ivfNLists`/`ivfNProbe`/
  * `sharedIvfIndex`). Thresholds sit between the law's measured
  * promise (recall@1 0.694, cos-ratio 0.9841 at nLists=159,
  * nProbe=26 — the r14 probe-sweep table in PERF.md) and the broken
  * law's measured decay (0.41 at nProbe=8), so reverting the law —
  * or regressing the quantizer — fails the suite instead of staying
  * silently hash-green (the oracle replays the same approximation,
  * so hash gates can never catch quality).
  *
  * Everything heavy is artifact-cached (corpus, index, exact anchor;
  * fingerprint-guarded), so only the first run in a fresh
  * environment pays the build cost.
  */
class IvfSizedRecallSpec extends SparkSpec {

  private val baseDir = "/root/testdata/sf0.1"
  private val factor = 50

  /** Sized corpus: ×50 replication of the sf0.1 embeddings, written
    * once under the artifact root and re-derived only when the base
    * data changes. Looks like any data dir to the registered
    * derivations (embeddings.parquet inside).
    */
  private lazy val sizedDir: String = {
    val out = Artifacts.dir("sized_recall", baseDir, s"x$factor")
    ArtifactGuard.once(spark, out, Some(ArtifactGuard.dataFingerprint(
        spark, s"$baseDir/embeddings.parquet"))) {
      val base = Tables.load(spark, baseDir, "embeddings")
      StressData.replicateEmbeddings(base, factor)
        .repartition(16, col("vec_id"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }(out)
  }

  private def corpus: DataFrame =
    spark.read.parquet(s"$sizedDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Deterministic 1/101 sample of the even-id (query-side) vectors —
    * the same sample `graft.Stress`'s IVF entries anchor on.
    */
  private def sampleQueries(emb: DataFrame): DataFrame =
    emb.filter(col("id") % 2 === 0)
      .filter(pmod(col("id"), lit(101)) === 0)

  /** Brute-force top-1 over the odd-id corpus for the sample — the
    * exact anchor, cached beside the corpus (it is a pure function of
    * the corpus, so it shares the corpus guard's lifecycle).
    */
  private lazy val exactAnchor: DataFrame = {
    val path = s"$sizedDir/exact_anchor.parquet"
    ArtifactGuard.once(spark, path, Some(ArtifactGuard.dataFingerprint(
        spark, s"$sizedDir/embeddings.parquet"))) {
      val emb = corpus
      Similarity.bruteForceTopK(
          emb.filter(col("id") % 2 === 1), sampleQueries(emb), k = 1)
        .select(col("query_id"), col("neighbor_id").as("exact_id"),
          col("cosine").as("exact_cos"))
        .write.mode("overwrite").parquet(path)
    }(spark.read.parquet(path))
  }

  private def recallAndRatio(leg: DataFrame): (Double, Double) = {
    val r = leg.join(exactAnchor, Seq("query_id"))
      .agg(avg(when(col("neighbor_id") === col("exact_id"), 1.0)
          .otherwise(0.0)),
        avg(col("cosine")) / avg(col("exact_cos"))).head
    (r.getDouble(0), r.getDouble(1))
  }

  test("nProbe law: max(8, ceil(2*sqrt(nLists))) — exactly the " +
      "historical 8 at the floor quantizer, growing as n^(1/4)") {
    assert(Similarity.IvfIndex.nProbeLaw(16) == 8)
    assert(Similarity.IvfIndex.nProbeLaw(23) == 10)
    assert(Similarity.IvfIndex.nProbeLaw(64) == 16)
    assert(Similarity.IvfIndex.nProbeLaw(159) == 26)
    // the registered derivation is the law over the registered nLists
    assert(DedupQueries.ivfNProbe(sf0001) ==
      Similarity.IvfIndex.nProbeLaw(DedupQueries.ivfNLists(sf0001)))
    // floor corpora keep the historical plans/hashes bit-identical
    assert(DedupQueries.ivfNProbe(sf0001) == 8)
  }

  test("registered q169/q46/q190 oracles probe at the law's nProbe " +
      "(the registration, not just the law function, is bound)") {
    val nProbe = DedupQueries.ivfNProbe(sizedDir)
    assert(nProbe == Similarity.IvfIndex.nProbeLaw(
      DedupQueries.ivfNLists(sizedDir)))
    assert(nProbe > 8, s"sized corpus must engage the law (got $nProbe)")
    val oracles = graft.SparkEntry.oracleSqlFor(sizedDir)
    Seq("q169_margin_align_ivf", "q46_ann_ivf", "q190_ivfpq").foreach {
      q => assert(oracles(q).contains(s"pr <= $nProbe"),
        s"$q oracle does not probe at the law's nProbe=$nProbe")
    }
  }

  test("sized-corpus recall gate: at n >= 100k the law's probe " +
      "recovers recall@1 >= 0.6 and cosine >= 0.975 of exact vs the " +
      "sampled exact anchor, and beats the broken (fixed-8) probe") {
    val emb = corpus
    val n = Artifacts.parquetRowCount(s"$sizedDir/embeddings.parquet")
    assert(n >= 100000L, s"sized corpus too small: $n")
    val nLists = DedupQueries.ivfNLists(sizedDir)
    val nProbe = DedupQueries.ivfNProbe(sizedDir)
    val idx = DedupQueries.sharedIvfIndex(spark, sizedDir, emb)
    assert(idx.nLists == nLists)
    val sq = sampleQueries(emb).localCheckpoint(eager = false)
    def leg(p: Int): DataFrame =
      idx.topK(sq, k = 1, nProbe = p,
        neighborFilter = col("neighbor_id") % 2 === 1)
    val (recallLaw, cosLaw) = recallAndRatio(leg(nProbe))
    info(f"sized gate: n=$n nLists=$nLists nProbe=$nProbe " +
      f"recall@1=$recallLaw%.4f cosRatio=$cosLaw%.4f")
    // thresholds: between the law's measured promise (0.694 / 0.9841
    // on this corpus, PERF.md r14 sweep) and the broken law's
    // measured decay (0.41 / 0.9558 at fixed 8) — band-tolerant but
    // binding
    assert(recallLaw >= 0.6,
      s"law recall@1 $recallLaw < 0.6 at nLists=$nLists nProbe=$nProbe")
    assert(cosLaw >= 0.975, s"law cosine ratio $cosLaw < 0.975")
    val (recallFixed, _) = recallAndRatio(leg(8))
    assert(recallLaw > recallFixed + 0.1,
      s"law recall@1 $recallLaw does not materially beat the " +
        s"fixed-8 probe's $recallFixed — the law is not engaging")
    // _meta carries the quality half of the contract beside the
    // postings it sizes
    val meta = graft.sources.ArtifactGuard.readMeta(
      spark, DedupQueries.ivfArtifactDir(sizedDir))
    assert(meta.get("n_probe").contains(nProbe.toString), meta)
    assert(meta.get("n_probe_law")
      .exists(_.contains("sqrt(n_lists)")), meta)
  }
}
