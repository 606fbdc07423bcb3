package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection:
  * shingle → minhash signature → banded bucket join → exact-Jaccard
  * verification. The classic trillion-token-corpus dedup pipeline,
  * expressed entirely as DataFrame transformations:
  *
  *   1. per-doc shingling + signatures are scan-local (no shuffle,
  *      whole-stage-codegen'd higher-order functions, no UDFs);
  *   2. the only shuffles are the band-bucket exchange (`numBands`
  *      rows per doc, ~16 bytes each — tiny next to the text) and the
  *      two verification joins;
  *   3. oversized buckets (hot bands from boilerplate text) are
  *      capped at `maxBucketSize` to keep the candidate join from
  *      going quadratic on skew — the standard large-corpus guard.
  *
  * Hash family: the engine never BUILDS shingle strings — profiling
  * showed `concat_ws`-per-shingle string construction dominating the
  * whole pipeline (PERF.md round 3). A shingle's base hash is
  * xxhash64 over the sliding window of its tokens' xxhash64 values,
  * and h_i = XXH64.hashLong(base, i) is the i-indexed permutation
  * rehash. Set identity is preserved modulo 64-bit hash collisions
  * (P ≈ |shingles|²·2⁻⁶⁴ per doc — vanishing), so distinct-shingle
  * counts and exact-Jaccard verification still match the DuckDB
  * oracle's string-shingle arithmetic.
  *
  * With numHashes=128 / 32 bands of 4 rows, recall at Jaccard 0.9 is
  * 1 - (1-0.9⁴)³² ≈ 1 - 1.4e-15 — effectively exact, which is why the
  * driver-facing query can be checked against a brute-force oracle.
  */
object MinHashDedup {

  /** One xxhash64 per whitespace token. Materialize this as its own
    * column BEFORE windowing (withColumn, kept un-collapsed because
    * it is non-cheap and multiply referenced) so the per-window
    * expressions read an attribute instead of re-evaluating the
    * tokenize+hash subtree.
    */
  def tokenHashes(text: Column): Column =
    transform(split(text, " "), t => xxhash64(t))

  /** Distinct k-token shingle HASHES from a token-hash array column:
    * each window hashes k scalar longs with one multi-arg xxhash64 —
    * no shingle strings, no per-window array allocation. Under k
    * tokens, the whole token-hash array is the single shingle
    * (mirrors the reference's whole-text fallback).
    */
  def shingleHashesFromTokens(th: Column, k: Int = 3): Column =
    when(size(th) >= k,
      array_distinct(transform(sequence(lit(0), size(th) - k),
        i => xxhash64((1 to k).map(j => element_at(th, i + lit(j))): _*))))
      .otherwise(array(xxhash64(th)))

  /** docs → (id, <out> = distinct shingle hashes). */
  private def withShingleHashes(docs: DataFrame, idCol: String,
      textCol: String, k: Int, out: String): DataFrame =
    docs.withColumn("_th", tokenHashes(col(textCol)))
      .select(col(idCol).as("id"),
        shingleHashesFromTokens(col("_th"), k).as(out))

  /** MinHash signature column over a shingle-hash array column — the
    * 128-permutation min pass as one codegen'd two-level loop
    * (MinHashSig), not 128 interpreted lambda passes.
    */
  def signatureCol(shingleHashes: Column, numHashes: Int = 128): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expr.MinHashSig(
        org.apache.spark.sql.GraftSqlBridge.expression(shingleHashes),
        numHashes))

  /** Band-bucket hash columns over a signature column (band j =
    * xxhash64 of its `rowsPerBand` signature slice, salted by j).
    */
  def bandHashCols(sig: Column, numBands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until numBands).map { j =>
      xxhash64(slice(sig, j * rowsPerBand + 1, rowsPerBand), lit(j))
    }

  /** doc → (id, sig: array<long>[numHashes]). */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, shingleSize: Int = 3): DataFrame = {
    val base = withShingleHashes(docs, idCol, textCol, shingleSize, "hs")
    base.select(col("id"), signatureCol(col("hs"), numHashes).as("sig"))
  }

  /** Candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.
    * Single-pass shape: signatures are computed once, (id, band,
    * bucket) rows take ONE groupBy exchange, and in-bucket pairs are
    * generated post-shuffle (no self-join recomputing signatures).
    * Oversized buckets (boilerplate skew) are capped with observed
    * drop metrics — see LshSkew.
    */
  def candidatePairs(sigs: DataFrame, numBands: Int, rowsPerBand: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val bandHashes = array(bandHashCols(col("sig"), numBands, rowsPerBand): _*)
    val buckets = sigs.select(
      struct(col("id")).as("m"),
      posexplode(bandHashes).as(Seq("band", "bucket")))
    val capped = LshSkew.groupCapped(buckets, maxBucketSize, "minhash_lsh_skew")
    LshSkew.bucketPairs(capped)
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"))
      .distinct()
  }

  /** Full pipeline: near-duplicate pairs with exact shingle Jaccard ≥
    * `threshold`. Output: (doc_a, doc_b, jaccard), jaccard as exact
    * |∩|/|∪| double.
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, numBands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    // The shingle-hash table feeds THREE consumers — the signature
    // pass and both verification-join sides. Without a stage boundary
    // each consumer re-runs the tokenize+window-hash+distinct scan
    // (Catalyst shares no common subtrees across join branches), and
    // under AQE the three copies materialize CONCURRENTLY, tripling
    // the hottest scan in the plan (measured r15: q199's 250k-row
    // shingle aggregate swung 41→253 cumulative task-seconds
    // rep-to-rep from exactly this). One lazy localCheckpoint = one
    // computation, the Containment.pairs discipline (guide §2.4:
    // remove repeated passes before tuning anything else).
    val sh = withShingleHashes(docs, idCol, textCol, shingleSize, "shingles")
      .transform(graft.Boundary.lazyLocal)
    val sigs = sh.select(col("id"),
      signatureCol(col("shingles"), numHashes).as("sig"))
    val cands = candidatePairs(sigs, numBands, numHashes / numBands, maxBucketSize)
    cands
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** Exact n-gram-Jaccard top-k most-similar pairs (brute force over
    * LSH candidates with a low-similarity band threshold, then global
    * top-k). For "show me the k closest pairs" UX; at corpus scale the
    * candidate generation is the same LSH machinery.
    */
  def topKSimilarPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int = 128, numBands: Int = 64): DataFrame =
    nearDuplicatePairs(docs, idCol, textCol, threshold = 0.0,
      numHashes = numHashes, numBands = numBands)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(k)

  /** Cross-corpus NEAR-duplicate contamination — the paraphrase-
    * tolerant complement of exact n-gram decontamination
    * (Contamination.flagNgramOverlap, reference capability: the
    * training-data hygiene the reference's users run before a
    * benchmark eval): (corpus, reference) pairs whose exact shingle
    * Jaccard is ≥ `threshold`. Verbatim 13-gram overlap catches
    * copied spans; this catches lightly-edited near-copies of an
    * eval document that share most of their shingle set.
    *
    * Scale shape: signatures are computed ONCE per side (scan-local,
    * the q25 machinery verbatim); both sides meet in ONE union →
    * (band, bucket) groupBy exchange whose member payload is
    * (id, side) — 17-ish bytes; candidate pairs are generated
    * post-shuffle and only ACROSS sides (within-side duplicates are
    * q25's business, not this operator's); exact-Jaccard
    * verification re-joins the shingle-hash sets by id. Neither
    * corpus is ever shuffled on text, no join is keyed on a payload,
    * and hot buckets are capped with observed drop metrics.
    *
    * With the default 32 bands × 4 rows, recall at Jaccard 0.8 is
    * 1-(1-0.8⁴)³² ≈ 1-5e-8 — effectively exact, which is why the
    * registered query (q91) can be hash-gated against a brute-force
    * cross-join oracle just like q25.
    *
    * Output: (corp_id, ref_id, jaccard). Ids may collide ACROSS
    * corpora (they are independent tables) — the side tag keeps the
    * pair orientation unambiguous.
    */
  def crossCorpusNearDupPairs(
      corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, numBands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    // per side, the shingle table feeds the signature pass AND its
    // verification-join side — same compute-once checkpoint as
    // nearDuplicatePairs (one scan per corpus instead of two)
    val shC = withShingleHashes(corpus, idCol, textCol, shingleSize, "sh")
      .transform(graft.Boundary.lazyLocal)
    val shR = withShingleHashes(reference, idCol, textCol, shingleSize, "sh")
      .transform(graft.Boundary.lazyLocal)
    def sideSigs(sh: DataFrame, side: Int): DataFrame =
      sh.select(col("id"), signatureCol(col("sh"), numHashes).as("sig"),
        lit(side).as("side"))
    val sigs = sideSigs(shR, 0).unionByName(sideSigs(shC, 1))
    val bandHashes = array(bandHashCols(col("sig"), numBands, rowsPerBand): _*)
    val buckets = sigs.select(
      struct(col("id"), col("side")).as("m"),
      posexplode(bandHashes).as(Seq("band", "bucket")))
    val capped = LshSkew.groupCapped(buckets, maxBucketSize,
      "cross_minhash_lsh_skew")
    val cands = capped
      .select(explode(col("members")).as("m1"), col("members"))
      .select(col("m1"), explode(col("members")).as("m2"))
      .filter(col("m1.side") < col("m2.side"))
      .select(col("m1.id").as("ref_id"), col("m2.id").as("corp_id"))
      .distinct()
    cands
      .join(shR.select(col("id").as("ref_id"), col("sh").as("sh_r")), "ref_id")
      .join(shC.select(col("id").as("corp_id"), col("sh").as("sh_c")), "corp_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_c"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_c"), col("sh_r"))))
      .filter(col("jaccard") >= threshold)
      .select(col("corp_id"), col("ref_id"), col("jaccard"))
  }

  /** Corpus rows that survive near-dup decontamination against the
    * reference: drop every corpus doc with ≥1 `crossCorpusNearDupPairs`
    * hit. The anti-join is keyed on the flagged-id set, which is
    * contamination-sized (small by construction at any corpus scale).
    */
  def dedupNearAgainstReference(
      corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val flagged = crossCorpusNearDupPairs(corpus, reference, idCol, textCol,
      threshold).select(col("corp_id").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
