package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

import graft.operators.{Containment, MinHashDedup, SimHashDedup}

/** Streaming near-duplicate detection — the incremental dual of
  * `SimHashDedup.nearDuplicatePairs`: fingerprints are computed
  * scan-local on each micro-batch (same codegen'd expressions as the
  * batch operator), band buckets explode statelessly, and per-bucket
  * state in `flatMapGroupsWithState` holds the (id, fingerprint)
  * members seen so far — 16 bytes per doc per band, the same exchange
  * payload discipline as the batch plan. A new arrival is verified
  * (`Long.bitCount`) against its bucket's members and emits its
  * near-dup pairs immediately, so a duplicate of a document ingested
  * hours ago is caught in the batch it arrives in.
  *
  * Deltas from the batch operator (documented, not silent):
  *   - a pair colliding in several bands emits once PER band
  *     (at-least-once; the batch operator dedupes with `distinct()` —
  *     downstream streaming dedup can use dropDuplicatesWithinWatermark
  *     on (doc_a, doc_b));
  *   - bucket state is capped at `maxBucketSize` members (hot
  *     boilerplate buckets): later members of a full bucket are
  *     checked against the stored members but not added — the
  *     streaming analog of LshSkew's cap;
  *   - with `evictAfter` set (requires an upstream watermark +
  *     `eventTimeOf`), a bucket idle past the TTL drops its state —
  *     dedup scope becomes "within the TTL horizon", which is what an
  *     unbounded stream can afford (same contract as
  *     `Streams.dedupExactStream`).
  */
object StreamDedup {

  /** One band-bucket row of a document: `fp` its fingerprint, one
    * `Long` at 64 bits, (hi, lo) at 128.
    */
  final case class DocFp[F](band: Int, bucket: Long, id: Long, fp: F,
      et: Long, ts: java.sql.Timestamp)
  final case class BucketState[F](members: List[(Long, F)])
  final case class PairHit(doc_a: Long, doc_b: Long, hamming: Int, band: Int)

  /** `docs` needs (doc_id, text[, ts]); ts (timestamp) is required
    * only with `evictAfter`. `fpBits` 64 or 128 — same width trade as
    * the batch operator (128 buys band capacity at large radii; state
    * member is 24 B instead of 16 B).
    */
  def simhashPairsStream(docs: DataFrame, maxHamming: Int = 8,
      maxBucketSize: Int = 1000, portable: Boolean = true,
      evictAfter: Option[Long] = None, fpBits: Int = 64): Dataset[PairHit] = {
    require(fpBits == 64 || fpBits == 128, "fpBits must be 64 or 128")
    require(maxHamming >= 0 && maxHamming < fpBits, s"maxHamming in [0, $fpBits)")
    if (fpBits == 128) {
      val fp = docs
        .withColumn("_bits", SimHashDedup.simhashBits("text", portable, 128))
        .withColumn("hi", SimHashDedup.packBits("slice(_bits, 1, 64)"))
        .withColumn("lo", SimHashDedup.packBits("slice(_bits, 65, 64)"))
        .drop("_bits")
      return bucketPairs[(Long, Long)](fp,
        struct(col("hi").as("_1"), col("lo").as("_2")),
        SimHashDedup.bandBucketCols128(maxHamming), maxHamming,
        maxBucketSize, evictAfter)((a, b) =>
        java.lang.Long.bitCount(a._1 ^ b._1) +
          java.lang.Long.bitCount(a._2 ^ b._2))
    }
    val numBands = maxHamming + 1
    val bounds = (0 to numBands).map(j => j * 64 / numBands)
    val fp = docs
      .withColumn("_bits", SimHashDedup.simhashBits("text", portable))
      .withColumn("fp", SimHashDedup.packBits("_bits")).drop("_bits")
    val bandBuckets = (0 until numBands).map { j =>
      val width = bounds(j + 1) - bounds(j)
      val mask = if (width == 64) -1L else (1L << width) - 1
      expr(s"shiftrightunsigned(fp, ${64 - bounds(j + 1)})")
        .bitwiseAND(lit(mask))
    }
    bucketPairs[Long](fp, col("fp"), bandBuckets, maxHamming,
      maxBucketSize, evictAfter)((a, b) => java.lang.Long.bitCount(a ^ b))
  }

  /** The per-(band, bucket) state machine of [[simhashPairsStream]],
    * shared by both widths: `fpCol` is a document's fingerprint in
    * `fp`'s columns, `bandBuckets` its bucket in each band, `hamming`
    * the distance between two fingerprints.
    */
  private def bucketPairs[F: TypeTag](fp: DataFrame, fpCol: Column,
      bandBuckets: Seq[Column], maxHamming: Int, maxBucketSize: Int,
      evictAfter: Option[Long])(hamming: (F, F) => Int): Dataset[PairHit] = {
    // the WATERMARKED ts column must survive into the operator input:
    // EventTimeTimeout is rejected at analysis without it, and its
    // presence lets FlatMapGroupsWithStateExec drop late rows before
    // they reach the function (a derived unix_millis long carries no
    // event-time metadata and would get neither)
    val (et, tsCol) =
      if (evictAfter.isDefined) (unix_millis(col("ts")), col("ts"))
      else (lit(0L), lit(null).cast("timestamp"))
    implicit val inEnc = Encoders.product[DocFp[F]]
    implicit val stEnc = Encoders.product[BucketState[F]]
    implicit val outEnc = Encoders.product[PairHit]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    val banded = array(bandBuckets.zipWithIndex.map { case (b, j) =>
      struct(lit(j).as("band"), b.as("bucket"))
    }: _*)
    val exploded = fp.select(explode(banded).as("bb"),
        col("doc_id").as("id"), fpCol.as("fp"), et.as("et"), tsCol.as("ts"))
      .select(col("bb.band"), col("bb.bucket"), col("id"), col("fp"),
        col("et"), col("ts"))
      .as[DocFp[F]]
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    exploded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState[F], PairHit](
        OutputMode.Append(), timeoutConf) {
        (key, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members =
              state.getOption.getOrElse(BucketState[F](Nil)).members
            val out = scala.collection.mutable.ListBuffer[PairHit]()
            var maxEt = Long.MinValue
            rows.foreach { d =>
              maxEt = math.max(maxEt, d.et)
              members.foreach { case (mid, mfp) =>
                if (mid != d.id) {
                  val h = hamming(mfp, d.fp)
                  if (h <= maxHamming) {
                    val (a, b) = if (mid < d.id) (mid, d.id) else (d.id, mid)
                    out += PairHit(a, b, h, key._1)
                  }
                }
              }
              if (members.length < maxBucketSize)
                members = (d.id, d.fp) :: members
            }
            state.update(BucketState(members))
            evictAfter.foreach { ttl =>
              // et is a derived long (no event-time metadata), so late
              // rows DO reach this function; a batch of only-late rows
              // would make maxEt + ttl <= watermark and
              // setTimeoutTimestamp would throw — clamp to just past
              // the current watermark
              if (maxEt > Long.MinValue) state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, maxEt + ttl))
            }
            out.iterator
          }
      }
  }

  final case class DocBand(band: Int, bucket: Long, id: Long,
      et: Long, ts: java.sql.Timestamp)
  final case class IdMembers(members: List[Long])
  final case class CandHit(id_a: Long, id_b: Long, band: Int)

  /** Streaming MinHash near-dup CANDIDATES — the incremental dual of
    * `MinHashDedup.candidatePairs`. Signatures (shingle-hash →
    * 128-permutation MinHashSig) are computed scan-local per
    * micro-batch with the same codegen'd expressions as the batch
    * operator; band buckets explode statelessly; per-(band, bucket)
    * state holds member doc IDS ONLY — 8 bytes per doc per band,
    * exactly the batch plan's exchange payload (the signature itself
    * never enters state, unlike the SimHash stream where the whole
    * 8-byte fingerprint IS the payload). A new arrival pairs with its
    * bucket's members immediately, so a near-dup of a document
    * ingested hours ago is caught in the batch it arrives in.
    *
    * Same documented deltas as `simhashPairsStream`: per-band
    * at-least-once emission, `maxBucketSize` state cap, optional
    * watermark-driven TTL eviction.
    */
  def minhashCandidatesStream(docs: DataFrame, numHashes: Int = 128,
      numBands: Int = 32, shingleSize: Int = 3, maxBucketSize: Int = 1000,
      evictAfter: Option[Long] = None): Dataset[CandHit] = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sig = docs
      .withColumn("_th", MinHashDedup.tokenHashes(col("text")))
      .withColumn("_hs", MinHashDedup.shingleHashesFromTokens(col("_th"),
        shingleSize))
      .withColumn("sig", MinHashDedup.signatureCol(col("_hs"), numHashes))
      .drop("_th", "_hs")
    val bandBuckets = array(MinHashDedup.bandHashCols(col("sig"), numBands,
      numHashes / numBands).zipWithIndex.map { case (h, j) =>
      struct(lit(j).as("band"), h.as("bucket"))
    }: _*)
    // same watermark-survival requirement as simhashPairsStream: the
    // watermarked ts column must reach the operator input
    val (et, tsCol) =
      if (evictAfter.isDefined) (unix_millis(col("ts")), col("ts"))
      else (lit(0L), lit(null).cast("timestamp"))
    implicit val inEnc = Encoders.product[DocBand]
    implicit val stEnc = Encoders.product[IdMembers]
    implicit val outEnc = Encoders.product[CandHit]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    val exploded = sig.select(explode(bandBuckets).as("bb"),
        col("doc_id").as("id"), et.as("et"), tsCol.as("ts"))
      .select(col("bb.band"), col("bb.bucket"), col("id"), col("et"), col("ts"))
      .as[DocBand]
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    exploded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[IdMembers, CandHit](
        OutputMode.Append(), timeoutConf) {
        (key, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption.getOrElse(IdMembers(Nil)).members
            val out = scala.collection.mutable.ListBuffer[CandHit]()
            var maxEt = Long.MinValue
            rows.foreach { d =>
              maxEt = math.max(maxEt, d.et)
              members.foreach { mid =>
                if (mid != d.id) {
                  val (a, b) = if (mid < d.id) (mid, d.id) else (d.id, mid)
                  out += CandHit(a, b, key._1)
                }
              }
              if (members.length < maxBucketSize) members = d.id :: members
            }
            state.update(IdMembers(members))
            evictAfter.foreach { ttl =>
              if (maxEt > Long.MinValue) state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, maxEt + ttl))
            }
            out.iterator
          }
      }
  }

  /** Streaming MinHash near-dup PAIRS: candidates from
    * `minhashCandidatesStream`, verified with EXACT shingle Jaccard by
    * a stream-static join against `corpus` (doc_id, text) — the
    * production shape where ingested documents also land in the corpus
    * table, so verification reads the text from storage instead of
    * carrying shingle sets (doc-sized!) in streaming state. Output
    * matches the batch operator's (doc_a, doc_b, jaccard) modulo the
    * per-band at-least-once delta (dedupe downstream).
    */
  def minhashPairsStream(docs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, numHashes: Int = 128, numBands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      evictAfter: Option[Long] = None): DataFrame = {
    val cands = minhashCandidatesStream(docs, numHashes, numBands,
      shingleSize, maxBucketSize, evictAfter).toDF()
    val sh = corpus
      .withColumn("_th", MinHashDedup.tokenHashes(col("text")))
      .select(col("doc_id"),
        MinHashDedup.shingleHashesFromTokens(col("_th"), shingleSize).as("sh"))
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** Streaming near-dup DECONTAMINATION against a STATIC reference —
    * the incremental form of `MinHashDedup.crossCorpusNearDupPairs`
    * (q91): each incoming document is flagged if its exact shingle
    * Jaccard against any reference document is ≥ `threshold`.
    *
    * STATELESS BY DESIGN, like the streaming n-gram decontamination:
    * the reference's (band, bucket, ref_id, shingles) table is fixed,
    * so collisions are a plain stream-static inner join — no
    * `flatMapGroupsWithState`, no watermark, no state store. The
    * incoming doc's shingle set is computed scan-local in the same
    * micro-batch (it never enters state), and the reference side is
    * artifact-shaped: in production, persist/bucket it once — Spark
    * re-plans the static side per micro-batch otherwise.
    *
    * Output: (doc_id, ref_id, jaccard) — at-least-once per colliding
    * band like `minhashPairsStream` (dedupe downstream; a streaming
    * `distinct` would reintroduce exactly the keyed state this shape
    * avoids). StreamingSpec checks the DISTINCT flag set equals the
    * batch operator's.
    */
  final case class CellVec(cell: Int, id: Long, vec: Array[Float],
      nrm: Double, et: Long, ts: java.sql.Timestamp)
  final case class CellState(members: List[(Long, Array[Float], Double)],
      closed: Boolean)
  final case class SemHit(id_a: Long, id_b: Long, cosine: Double, cell: Int)

  /** Streaming SemDeDup — the incremental dual of
    * `Similarity.semDedupPairs`, completing the streaming dedup
    * family (exact / SimHash / MinHash / cross-corpus / SEMANTIC):
    * each incoming embedding is flagged against every semantically
    * near vector already seen in its region of embedding space.
    *
    * Blocking is the SAME prebuilt IVF coarse quantizer as q46/q73
    * (never trained here): the incoming vector's cell is its nearest
    * centroid, computed scan-local from plan literals — zero
    * exchanges before the one keyed state access. Per-cell
    * `flatMapGroupsWithState` state holds the (id, vec, norm) members
    * seen so far (vec = dim·4 B, the honest cost of semantic streaming
    * state — bounded by `maxCellSize` per cell). The cap is the batch
    * whole-cell drop's closest streaming analog: the arrival that
    * would overflow the cap CLOSES the cell — state is freed and no
    * further pairs emit from it, matching `semDedupPairs`' zero pairs
    * for an oversized cell going forward. Append mode cannot retract
    * the pairs emitted before saturation (the one documented
    * batch/stream delta; exact parity therefore holds for corpora
    * whose cells stay under the cap — StreamingSpec pins both the
    * parity and the closure). Verification is the
    * exact 9-rounded cosine via `Similarity.cosine9` — bit-identical
    * to the batch operator's Catalyst arithmetic, so the
    * StreamingSpec parity gate is exact equality, not approximate.
    *
    * Pairs within one micro-batch are caught too (arrivals append to
    * the working member list as the batch drains), so batch/stream
    * parity holds for any chunking of the corpus. With `evictAfter`
    * (requires a watermarked `ts`), an idle cell drops its state
    * after the TTL — dedup scope becomes the TTL horizon, the
    * `simhashPairsStream` contract. Centroid-assignment parity with
    * the saved postings holds when cells are separated beyond
    * float-rounding scale (spec-pinned on the corpus; KMeans cells
    * are, by construction).
    */
  def semanticPairsStream(vecs: DataFrame,
      idx: graft.operators.Similarity.IvfIndex,
      threshold: Double, maxCellSize: Int = 20000,
      evictAfter: Option[Long] = None): Dataset[SemHit] = {
    import graft.functions.VectorFunctions.{l2Norm, l2Sq}
    val distStructs = array(idx.centroids.zipWithIndex.map { case (c, i) =>
      struct(l2Sq(col("vec"), typedlit(c)).as("d"), lit(i).as("idx"))
    }: _*)
    val (et, tsCol) =
      if (evictAfter.isDefined) (unix_millis(col("ts")), col("ts"))
      else (lit(0L), lit(null).cast("timestamp"))
    implicit val inEnc = Encoders.product[CellVec]
    implicit val stEnc = Encoders.product[CellState]
    implicit val outEnc = Encoders.product[SemHit]
    implicit val keyEnc = Encoders.scalaInt
    val assigned = vecs.select(
        element_at(slice(array_sort(distStructs), 1, 1), 1)
          .getField("idx").as("cell"),
        col("id"), col("vec"), l2Norm(col("vec")).as("nrm"),
        et.as("et"), tsCol.as("ts"))
      .as[CellVec]
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    assigned.groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, SemHit](
        OutputMode.Append(), timeoutConf) {
        (cell, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(CellState(Nil, closed = false))
            var members = prev.members
            var closed = prev.closed
            var size = members.length
            val out = scala.collection.mutable.ListBuffer[SemHit]()
            var maxEt = Long.MinValue
            rows.foreach { d =>
              maxEt = math.max(maxEt, d.et)
              if (!closed) {
                if (size >= maxCellSize) {
                  // this arrival overflows the cap: the batch operator
                  // would drop the WHOLE cell — close it and free the
                  // vectors; only the closed marker stays in state
                  closed = true
                  members = Nil
                  size = 0
                } else {
                  members.foreach { case (mid, mvec, mnrm) =>
                    if (mid != d.id) {
                      val cos = graft.operators.Similarity
                        .cosine9(mvec, mnrm, d.vec, d.nrm)
                      if (cos >= threshold) {
                        val (a, b) =
                          if (mid < d.id) (mid, d.id) else (d.id, mid)
                        out += SemHit(a, b, cos, cell)
                      }
                    }
                  }
                  members = (d.id, d.vec, d.nrm) :: members
                  size += 1
                }
              }
            }
            state.update(CellState(members, closed))
            evictAfter.foreach { ttl =>
              if (maxEt > Long.MinValue) state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, maxEt + ttl))
            }
            out.iterator
          }
      }
  }

  def crossCorpusFlagStream(docs: DataFrame, reference: DataFrame,
      threshold: Double = 0.8, numHashes: Int = 128, numBands: Int = 32,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    def banded(df: DataFrame, idOut: String, shOut: String): DataFrame = df
      .withColumn("_th", MinHashDedup.tokenHashes(col("text")))
      .withColumn("_sh",
        MinHashDedup.shingleHashesFromTokens(col("_th"), shingleSize))
      .withColumn("_sig", MinHashDedup.signatureCol(col("_sh"), numHashes))
      .select(col("doc_id").as(idOut), col("_sh").as(shOut),
        posexplode(array(MinHashDedup.bandHashCols(col("_sig"), numBands,
          rowsPerBand): _*)).as(Seq("band", "bucket")))
    val ref = banded(reference, "ref_id", "sh_r")
    val stream = banded(docs, "doc_id", "sh_c")
    stream.join(ref, Seq("band", "bucket"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_c"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_c"), col("sh_r"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ref_id"), col("jaccard"))
  }

  /** Arriving-image near-dup flagging against a STATIC corpus dHash
    * table — the streaming face of q168 (r9 verdict #7). `media` is a
    * stream of (doc_id, payload) real images; `corpusHashes` is the
    * batch `ImageHash.dhash` output of the indexed corpus. Decode +
    * dHash are scan-local (the payload never shuffles — each image
    * collapses to 16 bytes in the scan), banding explodes 8×(band,
    * 8-bit key) rows, and candidates come from a stream-static join
    * on the band key — stateless, no watermark, recall exact to 7
    * bits by the same pigeonhole as the batch operator.
    *
    * The batch operator dedupes band-collisions with `distinct()`;
    * a streaming distinct would be STATE. Instead each matched row
    * recomputes, scan-locally from the two fingerprints it already
    * carries, the pair's FIRST matching band, and survives only if it
    * IS that band — exactly-once per pair with zero state.
    */
  def dhashNearDupStream(media: DataFrame, corpusHashes: DataFrame,
      maxHamming: Int = 7): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming=$maxHamming: 8x8-bit banding guarantees recall only to 7")
    def bandKey(hi: Column, lo: Column, j: Int): Column = {
      val h = if (j < 4) hi else lo
      h.bitwiseAND(lit(255L << (8 * (j % 4))))
    }
    val hs = graft.multimodal.ImageHash.dhash(media)
      .select(col("doc_id"), explode(array((0 until 8).map(j =>
          struct(lit(j).as("band"),
            bandKey(col("hash_hi"), col("hash_lo"), j).as("key"))): _*))
          .as("bk"),
        col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"),
        col("hi_a"), col("lo_a"))
    val corpus = corpusHashes
      .select(col("doc_id").as("corpus_id"), explode(array((0 until 8).map(j =>
          struct(lit(j).as("band"),
            bandKey(col("hash_hi"), col("hash_lo"), j).as("key"))): _*))
          .as("bk"),
        col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b"))
      .select(col("corpus_id"), col("bk.band"), col("bk.key"),
        col("hi_b"), col("lo_b"))
    val firstBand = least((0 until 8).map { j =>
      when(bandKey(col("hi_a"), col("lo_a"), j) ===
        bandKey(col("hi_b"), col("lo_b"), j), lit(j))
    }: _*)
    hs.join(corpus, Seq("band", "key"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .filter(col("band") === firstBand)
      .select(col("doc_id"), col("corpus_id"),
        (expr("bit_count(hi_a ^ hi_b)") +
          expr("bit_count(lo_a ^ lo_b)")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Streaming CONTAINMENT flagging against a static corpus — the
    * incremental dual of [[Containment.pairs]] and the last
    * dedup-family member to gain one (exact / SimHash / MinHash /
    * cross-corpus / semantic / containment): an arriving document
    * sharing a rare shingle with a corpus document is verified with
    * the EXACT containment measure |A∩B| / min(|A|,|B|) and flagged at
    * ≥ `threshold` — the quote-inclusion pair resemblance-based
    * streams structurally miss (Broder's containment, the batch
    * operator's scaladoc).
    *
    * STATELESS BY DESIGN, the `crossCorpusFlagStream` shape: the
    * rare-shingle blocking frame is FITTED once from the static corpus
    * (df over the corpus in [dfMin, dfMax] — the fitted-model split:
    * arriving docs don't move the blocking df, exactly as
    * `fitBm25Queries` pins idf to the fit-time postings) and rides the
    * join as two budget-gated `broadcast()` frames in normal form —
    * (s, corpus_id) postings and a per-doc (rare_b, sh_b, n_b) table,
    * so no doc-sized array is duplicated inside the model. The
    * arriving document's distinct 60-bit md5-prefix shingle keys (the
    * batch operator's exact key function) are computed scan-local;
    * explode + two BroadcastHashJoins + verify stay in one
    * whole-stage-codegen pass with NO stream-side exchange, no state
    * store, no watermark — `sh_a` is duplicated per exploded shingle
    * only inside the scan, never across an exchange.
    *
    * Exactly-once WITHOUT streaming `distinct` (the `dhashNearDupStream`
    * trick): a (doc, corpus_id) match emits once per shared rare
    * shingle from the postings join; each row recomputes the pair's
    * least shared rare shingle (`array_min(array_intersect(sh_a,
    * rare_b))`) scan-locally and survives only if it IS that shingle.
    *
    * Bit-exact parity: `inter` is a distinct-array intersection over
    * the same md5-prefix keys the batch operator `distinct()`s, and
    * `containment` is the identical `round(inter / least(n_a, n_b), 6)`
    * double division — so when the static side equals the corpus the
    * batch operator ran on, the flagged set equals
    * [[Containment.pairs]] restricted to arriving ids, value-for-value
    * (StreamingSpec replay gate).
    *
    * Scale envelope (documented, gated): the model is corpus-shaped —
    * the postings frame is ≤ dfMax rows per rare shingle and the doc
    * table carries each blocking doc's full key set once, so this face
    * fits the STANDING-REFERENCE shapes (contamination benchmark,
    * curated boilerplate corpus, licensing blocklist) whose frames
    * pass `maxModelRows`; a corpus-scale static side fails the gate
    * loudly — run the batch operator over accumulated micro-batches
    * instead. In production, persist the two fitted frames: Spark
    * re-derives the static side of a stream-static join every
    * micro-batch otherwise.
    *
    * Output: (doc_id, corpus_id, n_a, n_b, inter, containment).
    */
  def containmentFlagStream(docs: DataFrame, corpus: DataFrame,
      w: Int = 5, dfMin: Int = 2, dfMax: Int = 5,
      threshold: Double = 0.5, maxModelRows: Long = 2000000L): DataFrame = {
    require(w >= 2 && w <= 16, s"w=$w")
    require(dfMin >= 2 && dfMax >= dfMin, s"df window [$dfMin,$dfMax]")
    // fit: rare-shingle blocking frames from the STATIC corpus (same
    // 60-bit md5-prefix keys as the batch operator; checkpointed — the
    // distinct-shingle table feeds three readers at fit)
    val sh = Containment.shingles(corpus, "doc_id", "text", w)
      .transform(graft.Boundary.lazyLocal)
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfMin && col("df") <= dfMax)
      .select(col("s"))
    val postings = sh.join(rare, Seq("s"))
      .select(col("s"), col("doc_id").as("corpus_id"))
      .transform(graft.Boundary.lazyLocal)
    val docTab = postings
      .groupBy(col("corpus_id"))
      .agg(sort_array(collect_list(col("s"))).as("rare_b"))
      .join(sh.groupBy(col("doc_id").as("corpus_id"))
          .agg(sort_array(collect_list(col("s"))).as("sh_b"),
            count(lit(1)).as("n_b")),
        Seq("corpus_id"))
      .transform(graft.Boundary.lazyLocal)
    // budget gate: the fitted frames must stay broadcast-sized (the
    // fitBm25Queries maxTerms convention) — counted ONCE at fit time.
    // Row counts alone are not enough: each docTab row carries the
    // corpus doc's ENTIRE distinct-shingle array (sh_b), so a corpus
    // of few very large documents passes a row gate while the
    // broadcast payload stays unbounded (advisor r12) — bound total
    // shingle CELLS (Σ n_b) under the same budget.
    val pRows = postings.count()
    val dStats = docTab
      .agg(count(lit(1)).as("r"), sum(col("n_b")).as("c")).head
    val dRows = dStats.getLong(0)
    val dCells = if (dStats.isNullAt(1)) 0L else dStats.getLong(1)
    require(pRows <= maxModelRows && dRows <= maxModelRows &&
        dCells <= maxModelRows,
      s"fitted blocking frames exceed maxModelRows=$maxModelRows " +
        s"(postings=$pRows, docs=$dRows, shingleCells=$dCells) — a " +
        "standing-reference model " +
        "must stay broadcast-sized; batch-containment the accumulated " +
        "corpus instead")
    // apply: scan-local distinct shingle keys for each arriving doc.
    // `_tk` materialized first (the Containment.shingles r15 fix): a
    // bare split() referenced inside the window lambda re-splits the
    // text per shingle position — O(L²·w) per doc.
    val tk = col("_tk")
    val shA = array_distinct(transform(
      when(size(tk) >= w,
        transform(sequence(lit(1), size(tk) - (w - 1)), i =>
          concat_ws(" ", (0 until w).map(o =>
            element_at(tk, i + o)): _*)))
        .otherwise(array().cast("array<string>")),
      sx => conv(substring(md5(sx), 1, 15), 16, 10).cast("long")))
    docs
      .withColumn("_tk", split(col("text"), " "))
      .select(col("doc_id"), shA.as("sh_a"))
      .select(col("doc_id"), col("sh_a"),
        size(col("sh_a")).cast("long").as("n_a"),
        explode(col("sh_a")).as("s"))
      .join(broadcast(postings), Seq("s"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .join(broadcast(docTab), Seq("corpus_id"))
      .filter(col("s") ===
        array_min(array_intersect(col("sh_a"), col("rare_b"))))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("containment",
        round(col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("corpus_id"), col("n_a"), col("n_b"),
        col("inter"), col("containment"))
  }
}
