package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: 64- or 128-bit sign fingerprints
  * of the token-hash distribution, Hamming-ball search via bit-band
  * blocking (Charikar'02 / the Google-crawl dedup construction).
  *
  * Representation: the fingerprint is packed BIGINTs (bit 0 of the
  * hash = bit 63 of the first long). Everything downstream works on
  * those 8/16 bytes — band buckets are bit-slices (shift+mask, no
  * extra hashing), Hamming verification is `bit_count(a ^ b)` per
  * long, and the only exchanged payloads are (id, band, bucket) rows
  * and the fingerprints. At corpus scale that is the difference
  * between shuffling ~1 KB of int-array per doc and 8-16 bytes.
  *
  * Band layout is DERIVED from the search radius: `maxHamming + 1`
  * bands guarantee by pigeonhole that any pair within the radius
  * shares at least one exact band — candidate generation has perfect
  * recall at every radius, so the pair query is
  * brute-force-oracle-checkable.
  *
  * Scale law (measured by `graft.Stress` / PERF.md): a band of
  * `fpBits/(maxHamming+1)` bits has only `2^(fpBits/(maxHamming+1))`
  * possible buckets, so the radius bounds the blocking capacity at a
  * given width — 64-bit at radius 8 (~128 buckets/band) saturates the
  * bucket cap around 10⁵ docs. The fix is `fpBits = 128` (all of md5
  * instead of its first half): radius 8 then gets ~14-bit bands
  * (~16k buckets/band), which the 50× stress run shows is
  * drop-free where the 64-bit layout dropped 2M rows. Cost: 8 extra
  * bytes/doc exchanged and a 2× wider sign accumulator at scan time.
  *
  * Two token-hash families:
  *   - md5-hex (default): bit j of a token's hash = bit (3 - j%4) of
  *     hex digit j/4 of md5(token) — identical arithmetic is
  *     expressible in DuckDB SQL, making fingerprints cross-engine
  *     verifiable at BOTH widths. Parsed 4 hex chars at a time via
  *     conv() + getbit (width/16 string ops per token, not width).
  *   - xxhash64 (salted per 64-bit word): pure long arithmetic, no
  *     hex parsing — the production family where cross-engine
  *     verifiability is not needed; both widths.
  */
object SimHashDedup {

  /** width-slot signed bit-count accumulator over token hashes, then
    * sign → bits. Output: array<int>[width] of 0/1, bit 0 first.
    * One SQL lambda expression — codegen-friendly, ANSI-safe.
    */
  def simhashBits(textColName: String, portable: Boolean = true,
      width: Int = 64): Column =
    if (portable) {
      require(width % 16 == 0 && width > 0 && width <= 128,
        s"portable simhash width must be a multiple of 16 in (0,128], got $width")
      // per token: width/16 16-bit chunks of md5's first width/4 hex
      // chars (chunk 0 most significant); the sign accumulation is one
      // codegen'd loop (SimHashBits expression) — not a width-element
      // zip_with allocation per token
      // conv() is nullable in Catalyst (can return null on bad input);
      // md5 hex never triggers that, so coalesce to 0 purely to make
      // the element type non-null — SimHashBits rejects containsNull
      // arrays (its getLong would silently read null as 0).
      val chunks = expr(
        s"""transform(split($textColName, ' '), t ->
              transform(sequence(0, ${width / 16 - 1}), c ->
                coalesce(CAST(conv(substring(md5(t), CAST(1 + c * 4 AS INT), 4),
                              16, 10) AS BIGINT), CAST(0 AS BIGINT))))""")
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.expr.SimHashBits(
          org.apache.spark.sql.GraftSqlBridge.expression(chunks), width))
    } else {
      require(width % 64 == 0 && width > 0 && width <= 128,
        s"xxhash simhash family widths: 64, 128 — got $width")
      // per token: width/64 salted xxhash64 words (salt = word index),
      // each split into four 16-bit chunks (chunk 0 most significant)
      // — pure long arithmetic, no hex parsing, same codegen'd
      // SimHashBits accumulator as the md5 family. The coalesce is
      // for the element-nullability contract only (see above).
      val chunks = expr(
        s"""transform(split($textColName, ' '), t ->
              flatten(transform(sequence(0, ${width / 64 - 1}), w ->
                transform(sequence(0, 3), c ->
                  coalesce(shiftrightunsigned(xxhash64(t, w),
                             CAST((3 - c) * 16 AS INT)) & CAST(65535 AS BIGINT),
                    CAST(0 AS BIGINT))))))""")
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.expr.SimHashBits(
          org.apache.spark.sql.GraftSqlBridge.expression(chunks), width))
    }

  /** Pack a 64-element 0/1 bit-array SQL expression into one BIGINT
    * (element 0 → bit 63 of the long), the engine-internal form.
    * `bitsSql` is spliced into SQL — a column name or a slice().
    */
  def packBits(bitsSql: String): Column =
    expr(s"""aggregate(zip_with($bitsSql, sequence(63, 0, -1),
         (b, p) -> IF(b = 1, shiftleft(CAST(1 AS BIGINT), CAST(p AS INT)),
                      CAST(0 AS BIGINT))),
         CAST(0 AS BIGINT), (a, x) -> a | x)""")

  /** Hamming distance between two packed fingerprint columns. */
  def hammingPacked(aName: String, bName: String): Column =
    expr(s"bit_count($aName ^ $bName)")

  /** docs → (id, bits array<int>[width]) — the human-readable form. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = true, width: Int = 64): DataFrame =
    docs.select(col(idCol).as("id"),
      simhashBits(textCol, portable, width).as("bits"))

  /** docs → (id, fp BIGINT) — the 64-bit engine form. */
  def fingerprintsPacked(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = true): DataFrame =
    fingerprints(docs, idCol, textCol, portable)
      .select(col("id"), packBits("bits").as("fp"))

  /** docs → (id, hi BIGINT, lo BIGINT) — the 128-bit engine form:
    * fingerprint bits 0..63 pack into `hi` (bit 0 = MSB), 64..127
    * into `lo`.
    */
  def fingerprintsPacked128(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = true): DataFrame =
    fingerprints(docs, idCol, textCol, portable, width = 128)
      .select(col("id"),
        packBits("slice(bits, 1, 64)").as("hi"),
        packBits("slice(bits, 65, 64)").as("lo"))

  private def bandMask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1

  /** The `maxHamming + 1` band-bucket columns over a (hi, lo) packed
    * 128-bit fingerprint (shared by the batch operator and the
    * streaming dual).
    */
  def bandBucketCols128(maxHamming: Int): Seq[Column] = {
    val numBands = maxHamming + 1
    require(numBands >= 2,
      "128-bit simhash needs maxHamming >= 1 (band width must fit a long)")
    val bounds = (0 to numBands).map(j => j * 128 / numBands)
    (0 until numBands).map(j => bandSlice128(bounds(j), bounds(j + 1)))
  }

  /** Bucket id for fingerprint bits [start, end) of a (hi, lo)
    * 128-bit fingerprint — shift+mask on one long, or a two-long
    * stitch when the band spans the hi/lo boundary. Band width must
    * be ≤ 64 (guaranteed by numBands ≥ 2).
    */
  private def bandSlice128(start: Int, end: Int): Column = {
    val width = end - start
    if (end <= 64)
      shiftrightunsigned(col("hi"), 64 - end).bitwiseAND(lit(bandMask(width)))
    else if (start >= 64)
      shiftrightunsigned(col("lo"), 128 - end).bitwiseAND(lit(bandMask(width)))
    else {
      val hiBits = 64 - start // low hiBits of `hi` = fingerprint bits start..63
      val loBits = end - 64   // high loBits of `lo` = fingerprint bits 64..end-1
      shiftleft(col("hi").bitwiseAND(lit(bandMask(hiBits))), loBits)
        .bitwiseOR(shiftrightunsigned(col("lo"), 64 - loBits)
          .bitwiseAND(lit(bandMask(loBits))))
    }
  }

  /** Near-duplicate pairs with Hamming distance ≤ maxHamming.
    * Band blocking with `maxHamming + 1` bands of ~fpBits/(maxHamming+1)
    * bits each: a pair within the radius differs in ≤ maxHamming
    * bands, so (pigeonhole) at least one band matches exactly —
    * perfect candidate recall; exact bit_count verification follows.
    *
    * `fpBits` 64 (default, cheapest) or 128 (use when the radius is
    * large relative to the corpus: capacity per band is
    * 2^(fpBits/(maxHamming+1)) buckets — see the scale law above).
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      portable: Boolean = true, fpBits: Int = 64): DataFrame = {
    require(fpBits == 64 || fpBits == 128, "fpBits must be 64 or 128")
    require(maxHamming >= 0 && maxHamming < fpBits,
      s"maxHamming in [0, $fpBits)")
    val numBands = maxHamming + 1
    if (fpBits == 64) {
      val bounds = (0 to numBands).map(j => j * 64 / numBands)
      val fp = fingerprintsPacked(docs, idCol, textCol, portable)
      // band j = bits [bounds(j), bounds(j+1)) of the fingerprint,
      // extracted by shift+mask — the bucket id IS the slice value
      val bandBuckets = array((0 until numBands).map { j =>
        val width = bounds(j + 1) - bounds(j)
        // JVM shift counts are mod 64: `1L << 64` is 1, so the width-64
        // band (maxHamming = 0, one band = whole fingerprint) needs the
        // explicit all-ones mask or every doc lands in bucket 0.
        expr(s"shiftrightunsigned(fp, ${64 - bounds(j + 1)})")
          .bitwiseAND(lit(bandMask(width)))
      }: _*)
      // Single-pass shape: the 8-byte fingerprint rides through ONE
      // bucket exchange as the member payload; in-bucket pairs are
      // generated post-shuffle, so fingerprints are computed exactly
      // once and no join appears anywhere in the plan.
      val buckets = fp.select(
        struct(col("id"), col("fp")).as("m"),
        posexplode(bandBuckets).as(Seq("band", "bucket")))
      val capped = LshSkew.groupCapped(buckets, maxBucketSize, "simhash_lsh_skew")
      LshSkew.bucketPairs(capped)
        .withColumn("hamming", hammingPacked("m1.fp", "m2.fp"))
        .filter(col("hamming") <= maxHamming)
        .select(col("m1.id").as("doc_a"), col("m2.id").as("doc_b"),
          col("hamming"))
        .distinct()
    } else {
      val fp = fingerprintsPacked128(docs, idCol, textCol, portable)
      val bandBuckets = array(bandBucketCols128(maxHamming): _*)
      // Same single-exchange shape as the 64-bit path; the member
      // payload is 16 bytes (hi, lo) instead of 8.
      val buckets = fp.select(
        struct(col("id"), col("hi"), col("lo")).as("m"),
        posexplode(bandBuckets).as(Seq("band", "bucket")))
      val capped =
        LshSkew.groupCapped(buckets, maxBucketSize, "simhash128_lsh_skew")
      LshSkew.bucketPairs(capped)
        .withColumn("hamming",
          expr("bit_count(m1.hi ^ m2.hi) + bit_count(m1.lo ^ m2.lo)"))
        .filter(col("hamming") <= maxHamming)
        .select(col("m1.id").as("doc_a"), col("m2.id").as("doc_b"),
          col("hamming"))
        .distinct()
    }
  }
}
