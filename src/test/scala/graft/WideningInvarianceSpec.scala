package graft

import org.apache.spark.sql.functions.col

import graft.operators.MinHashDedup

/** Registered queries are repartition-invariant by contract; that is
  * what lets `Tables.loadWide` add its round-robin exchange, and
  * `Boundary.lazyWide` its key-hashed one, on a degenerate layout.
  * This checks the contract where widening really engages: the
  * 1-file sf0.1 tables on a 4-core session.
  */
class WideningInvarianceSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.1"

  test("q25 returns the same rows through load and through loadWide") {
    assume(new java.io.File(s"$sf01/documents.parquet").exists())
    assert(Tables.wideningEngages(spark, sf01, "documents"))
    val viaLoad = MinHashDedup.nearDuplicatePairs(
        Tables.load(spark, sf01, "documents"), "doc_id", "text",
        threshold = 0.8)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    val viaLoadWide =
      SparkEntry.queries("q25_minhash_neardup")(spark, sf01).collect().toSeq
    assert(viaLoad.nonEmpty)
    assert(viaLoadWide == viaLoad)
  }

  test("the widened MinHash-pair family returns the same rows on the " +
      "1-file layout (widened) and on a 2-file copy (not widened)") {
    assume(new java.io.File(s"$sf01/documents.parquet").exists())
    val split = new java.io.File("target/widening_invariance/sf0.1_split")
    org.apache.commons.io.FileUtils.deleteDirectory(split)
    spark.read.parquet(s"$sf01/documents.parquet").repartition(2)
      .write.parquet(s"$split/documents.parquet")
    assert(Tables.wideningEngages(spark, sf01, "documents"))
    assert(!Tables.wideningEngages(spark, split.getPath, "documents"))
    // the MinHash-pair family widens through loadWide; the three
    // rankers also widen their postings checkpoint (Boundary.lazyWide)
    val differing = Seq("q59_dup_clusters", "q60_leak_safe_split",
        "q91_crosscorpus_neardup", "q159_dup_degree", "q175_dup_triangles",
        "q188_cluster_survivors", "q119_bm25_topk", "q120_rrf_fusion",
        "q128_hard_negatives").filter { name =>
      val q = SparkEntry.queries(name)
      def rows(dir: String) = q(spark, dir).collect().map(_.toString).sorted
      !rows(sf01).sameElements(rows(split.getPath))
    }
    assert(differing.isEmpty, differing)
  }
}
