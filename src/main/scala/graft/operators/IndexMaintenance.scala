package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental ANN-index maintenance via CDC — the composition the
  * snapshot-versioning primitive exists for (SCALE.md §12): when a
  * corpus re-crawl lands, update the coarse-quantizer POSTINGS from
  * the change set instead of re-assigning every vector. The invariant
  * the gate proves (q191): `update(postings_v1, changeSet(v1, v2)) ==
  * assign(v2)` row-for-row — incremental maintenance is
  * indistinguishable from a full rebuild under the same fitted model.
  *
  * Change detection fingerprints the 6-decimal canonical rendering of
  * the vector ([[vecFp6]]) — the SAME granularity the exact assignment
  * arithmetic sees (`KMeansExact.assignFitted` rounds every coordinate
  * half-up to 6 before the distance sums), so a sub-1e-6 perturbation
  * that cannot move an assignment is correctly treated as unchanged,
  * and any change the quantizer could observe re-fingerprints. The
  * rendering is engine-shared (round → DECIMAL(18,6) → string), so an
  * oracle can replay it bit-exactly.
  *
  * Scale shape: the diff exchange carries (id, 16-byte fp); the
  * delta-sized id sets broadcast onto the v2 scan and into the
  * postings anti-join (the SnapshotDiff r11 contract — vectors and
  * postings never hash-shuffle; `broadcastDelta = false` is the keyed
  * fallback for corpus-scale deltas); re-assignment is scan-local
  * under the broadcast centroid model. At 100 TB the unchanged bulk
  * of the index is never touched, read, or moved — the cost is the
  * two fingerprint scans plus work proportional to the delta.
  */
object IndexMaintenance {

  /** 6-decimal canonical vector fingerprint (see object doc). */
  def vecFp6(vecCol: Column): Column =
    md5(concat_ws(",", transform(vecCol, x =>
      round(x.cast("double"), 6).cast("decimal(18,6)").cast("string"))))

  /** Update coarse-quantizer postings (idCol, cluster) from v1 → v2
    * under the fitted centroid `model` (the
    * [[KMeansExact.fitModel]] table). Removed/changed ids leave the
    * postings; changed/added vectors re-assign with the exact fitted
    * arithmetic. Requires v1/v2 unique per id (the SnapshotDiff
    * contract).
    */
  def updatePostings(postings: DataFrame, v1: DataFrame, v2: DataFrame,
      idCol: String, vecCol: String,
      model: Map[(Int, Int), java.math.BigDecimal],
      broadcastDelta: Boolean = true): DataFrame = {
    def fp(df: DataFrame): DataFrame =
      df.select(col(idCol), vecFp6(col(vecCol)).as("_efp"))
    // the diff feeds TWO consumers (evictions and fresh ids) — the
    // stage boundary computes the fingerprint scans once (q67's
    // multi-consumer argument; at 100 TB the fp scans are the
    // dominant cost of the incremental path)
    val d = SnapshotDiff.diff(fp(v1), fp(v2), idCol, Seq("_efp"))
      .transform(graft.Boundary.lazyLocal)
    def bc(df: DataFrame): DataFrame =
      if (broadcastDelta) broadcast(df) else df
    val gone = d.filter(col("status").isin("removed", "changed"))
      .select(col(idCol))
    val freshIds = d.filter(col("status").isin("added", "changed"))
      .select(col(idCol))
    val fresh = v2.select(col(idCol), col(vecCol)).join(bc(freshIds), Seq(idCol))
    val newAssign = KMeansExact
      .assignFitted(fresh, idCol, vecCol, model)
      .select(col(idCol), col("cluster"))
    postings.join(bc(gone), Seq(idCol), "left_anti")
      .unionByName(newAssign)
  }

  /** The text-index instance of the same pattern: update a BM25
    * inverted-index POSTINGS table (doc_id, dl, term, tf —
    * [[Retrieval.postings]]) from a v1 → v2 re-crawl. Postings are
    * per-document, so maintenance is delta-local: removed/changed
    * docs' rows evict, changed/added docs re-tokenize scan-locally.
    * The corpus-level BM25 model terms (df, N, avgdl) are DERIVED
    * from the postings by the rankers at query time, so they follow
    * the update with no extra machinery — which is exactly what the
    * q192 gate checks: ranking over the updated postings must equal
    * ranking over a full re-index of v2, idf/avgdl shifts included.
    * Change detection fingerprints the raw text (the
    * [[SnapshotDiff.contentFp]] scan-local md5), matching exact-dedup
    * granularity: any byte change re-fingerprints.
    */
  def updateTextPostings(postings: DataFrame, v1: DataFrame,
      v2: DataFrame, idCol: String, textCol: String,
      broadcastDelta: Boolean = true): DataFrame = {
    // two consumers of the diff — checkpoint so the text-fingerprint
    // scans run once (same argument as updatePostings)
    val d = SnapshotDiff.diff(v1, v2, idCol, Seq(textCol))
      .transform(graft.Boundary.lazyLocal)
    def bc(df: DataFrame): DataFrame =
      if (broadcastDelta) broadcast(df) else df
    val gone = d.filter(col("status").isin("removed", "changed"))
      .select(col(idCol).as("doc_id"))
    val freshIds = d.filter(col("status").isin("added", "changed"))
      .select(col(idCol))
    val fresh = v2.select(col(idCol), col(textCol))
      .join(bc(freshIds), Seq(idCol))
    postings.join(bc(gone), Seq("doc_id"), "left_anti")
      .unionByName(Retrieval.postings(fresh, idCol, textCol))
  }
}
