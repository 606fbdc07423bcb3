package graft

import org.apache.spark.sql.functions._

import graft.operators.{MinHashDedup, SimHashDedup}

/** Local scale-stress for the LSH dedup family (round-3 verdict #7):
  * replicate the sf0.1 documents corpus N× and measure how
  * q25/q27/q42-shaped pipelines scale.
  *
  * Corpus synthesis (`StressData.replicateDocuments`): copy `cp` of a
  * doc gets every token suffixed with `~cp`, so shingle/token sets are
  * DISJOINT across copies — true near-dup pairs stay within a copy and
  * the expected pair count scales linearly with the factor
  * (cross-copy duplicate clusters would grow it quadratically and
  * measure the verify join, not the LSH machinery). Copy 0 keeps the
  * original text. Each synthesized corpus is written to parquet first
  * so every factor measures the same scan→signature→exchange→verify
  * pipeline.
  *
  * Output: one JSON line per (factor, query) with wall seconds and
  * result rows; LshSkew drop metrics surface on stderr via the
  * Metrics listener ([graft-metrics] lines).
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factors = (if (args.length > 1) args(1) else "1,10,50")
      .split(",").map(_.trim.toInt).toSeq
    val outBase = if (args.length > 2) args(2) else graft.sources.Artifacts.root + "/stress"
    val spark = Tables.localSession("graft-scalestress")

    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))

    factors.foreach { f =>
      val docs = StressData.writeSplits(StressData.replicateDocuments(base, f),
        s"$outBase/docs_x$f", "doc_id")
      val out = new Metrics.Report(spark, "factor" -> f, "docs" -> docs.count())

      out("q25_pairs") = out.measure("q25")(MinHashDedup.nearDuplicatePairs(
        docs, "doc_id", "text", threshold = 0.8).count())
      out("q27_pairs") = out.measure("q27")(SimHashDedup.nearDuplicatePairs(
        docs, "doc_id", "text", maxHamming = 8).count())
      // radius scaled down for large corpora: 64-bit simhash at
      // radius h blocks into 2^(64/(h+1)) buckets — at 50x the
      // radius-8 layout (~128 buckets/band) saturates the bucket cap,
      // so the production setting for this corpus size is h=4
      out("q27r4_pairs") = out.measure("q27r4")(SimHashDedup.nearDuplicatePairs(
        docs, "doc_id", "text", maxHamming = 4).count())
      // the width fix for large radii: 128-bit fingerprints give
      // radius 8 ~14-bit bands (~16k buckets/band) — this run is the
      // evidence that radius 8 survives 50x without bucket drops
      // (watch the simhash128_lsh_skew metric lines)
      out("q56_pairs") = out.measure("q56")(SimHashDedup.nearDuplicatePairs(
        docs, "doc_id", "text", maxHamming = 8, fpBits = 128).count())
      // same layout on the xxhash production family: the md5 hex
      // parse dominates the portable pipeline (3x the fingerprint
      // cost), so this is the number a non-oracle deployment sees
      out("q56x_pairs") = out.measure("q56x")(SimHashDedup.nearDuplicatePairs(
        docs, "doc_id", "text", maxHamming = 8, fpBits = 128,
        portable = false).count())
      out.measure("q42")(MinHashDedup.topKSimilarPairs(
        docs, "doc_id", "text", k = 10).count())
      println(out.json)
    }
    spark.stop()
  }
}
