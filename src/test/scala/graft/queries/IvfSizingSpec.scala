package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The artifact sizing contract (r12 verdict #1/#2, SCALE.md §7):
  * the shared IVF quantizer derives nLists from the corpus it
  * indexes (cells ∝ √n, floor 16) instead of a hardcoded constant —
  * the fix for the measured ×50 tail-stress quadratic (q169 at 244×
  * under nLists=16) — and records what it was sized for in the
  * artifact's `_meta`, readable without rebuilding the index.
  */
class IvfSizingSpec extends SparkSpec {

  test("ivfNLists follows the sizing law: max(16, ceil(sqrt(n)/2)) " +
      "of the embeddings row count, derived without a session") {
    val n = graft.sources.Artifacts
      .parquetRowCount(s"$sf0001/embeddings.parquet")
    assert(n > 0)
    val want = math.max(16, math.ceil(math.sqrt(n.toDouble) / 2.0).toInt)
    assert(DedupQueries.ivfNLists(sf0001) == want)
    // the law is baked into the artifact path, so two corpora with
    // different counts can never share a quantizer
    assert(DedupQueries.ivfArtifactDir(sf0001).endsWith(s"_n$want"))
  }

  test("sharedIvfIndex builds with the law's nLists and stamps " +
      "build-time sizing metadata beside the postings") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idx = DedupQueries.sharedIvfIndex(spark, sf0001, emb)
    val wantLists = DedupQueries.ivfNLists(sf0001)
    assert(idx.nLists == wantLists,
      s"index has ${idx.nLists} lists, law says $wantLists")
    val meta = graft.sources.ArtifactGuard
      .readMeta(spark, DedupQueries.ivfArtifactDir(sf0001))
    assert(meta.get("n_lists").contains(wantLists.toString), meta)
    val n = graft.sources.Artifacts
      .parquetRowCount(s"$sf0001/embeddings.parquet")
    assert(meta.get("corpus_rows").contains(n.toString), meta)
    assert(meta.get("sizing_law")
      .exists(_.contains("sqrt(corpus_rows)")), meta)
    // the quality half (r13 verdict #1): the probe count the law
    // pairs with this quantizer, stamped beside it — a pre-r14
    // artifact upgrades its _meta in place on reuse
    assert(meta.get("n_probe")
      .contains(DedupQueries.ivfNProbe(sf0001).toString), meta)
    assert(meta.get("n_probe_law")
      .exists(_.contains("sqrt(n_lists)")), meta)
  }

  test("parquetRowCount matches a Spark count and caches") {
    val viaFooters = graft.sources.Artifacts
      .parquetRowCount(s"$sf0001/documents.parquet")
    val viaSpark = spark.read
      .parquet(s"$sf0001/documents.parquet").count()
    assert(viaFooters == viaSpark)
  }
}
