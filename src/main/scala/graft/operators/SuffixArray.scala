package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array ranks by prefix doubling (Manber–Myers
  * 1990; the distributed formulation follows Flick & Aluru 2015):
  * rank every token-level suffix of every document by its first
  * `maxLen` tokens in O(log maxLen) rounds, each round one keyed
  * self-join (shift by k) plus one global dense-rank. This is the
  * exact-substring-dedup primitive (Lee et al. 2021, arXiv:2107.06499
  * use a suffix array to strip duplicated training spans): equal
  * rank at level L = identical L-token span, so one structure yields
  * the repeated-span curve at every power-of-two length.
  *
  * The global dense-rank is NOT a single-task window: keys land in
  * ORDER-COMPATIBLE range buckets (round 1: the token's first two
  * chars; doubling rounds: the previous rank, already dense in
  * [1, R], divided into equal ranges — uniform by construction), each
  * bucket dense-ranks locally under `Window.partitionBy(bucket)`, and
  * bucket offsets come from one prefix sum over the ≤nBuckets-row
  * bucket-count table (the q95 two-level decomposition; the tiny
  * window is bounded by config, not data). Ranks are identical to the
  * one-window formulation the oracle spells.
  *
  * Exactness: ranks are integers; ordering token sequences
  * elementwise equals ordering their space-joined strings because the
  * corpus contract is non-empty tokens over [a-z0-9_] (every token
  * char > ' '), so DuckDB can replay level-L ranks as
  * `dense_rank() OVER (ORDER BY array_to_string(tk[i:i+L-1], ' '))`.
  * Suffixes shorter than the compare window rank a missing side as 0
  * (< every real rank ≥ 1) = string prefix-shorter-sorts-first.
  */
object SuffixArray {

  /** (idCol, pos:long 0-based, tok) token table. */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("tok"))

  /** Global dense rank of `df`'s rows over `orderKeys` (row set must
    * be DISTINCT on the keys), two-level via the order-compatible
    * `bucket` column: rank = bucket prefix-count offset + in-bucket
    * dense rank. Returns df + rank column.
    */
  private def bucketedDenseRank(df: DataFrame, bucket: Column,
      orderKeys: Seq[Column], out: String): DataFrame =
    Ranks.bucketedRowNumber(df, bucket, orderKeys, out)

  /** Bucket-count sizing rule (r9 verdict #8, documented in SCALE.md
    * §"suffix-array"): one range bucket per ~4M suffix positions so
    * each per-bucket `row_number` sort stays executor-memory-sized at
    * ANY corpus scale, clamped to [256, 65536] (floor keeps small
    * corpora parallel; ceiling bounds the offset table the prefix-sum
    * window scans — still one tiny config-bounded task).
    */
  def nBucketsFor(positions: Long): Int =
    math.min(65536L, math.max(256L, positions / 4000000L)).toInt

  /** Suffix rank tables at levels 1, 2, 4, …, maxLen:
    * level → (idCol, pos, rank:long). maxLen must be a power of two.
    * nBuckets = 0 (the default) derives the bucket count from the
    * corpus position count via [[nBucketsFor]] — one count() on the
    * token table the pyramid scans anyway.
    */
  def rankLevels(docs: DataFrame, idCol: String, textCol: String,
      maxLen: Int = 16, nBuckets: Int = 0): Map[Int, DataFrame] = {
    require(maxLen >= 2 && (maxLen & (maxLen - 1)) == 0,
      s"maxLen=$maxLen must be a power of two")
    require(nBuckets == 0 || (nBuckets >= 2 && nBuckets <= 65536),
      s"nBuckets=$nBuckets")
    val tok = tokens(docs, idCol, textCol)
      .transform(graft.Boundary.lazyLocal)
    val nb = if (nBuckets > 0) nBuckets else nBucketsFor(tok.count())
    // round 1: vocabulary rank, bucketed by the first two chars
    // (order-compatible: (c1, c2) is a prefix of the string order;
    // ascii('') = 0 sorts the 1-char tokens first, same as strings)
    val vocab = tok.select(col("tok")).distinct()
    val v = bucketedDenseRank(vocab,
      ascii(substring(col("tok"), 1, 1)) * 256 +
        ascii(substring(col("tok"), 2, 1)),
      Seq(col("tok")), "r")
    var s = tok.join(v, Seq("tok"))
      .select(col(idCol), col("pos"), col("r").cast("long").as("r"))
      .transform(graft.Boundary.lazyLocal)
    var level = 1
    var out = Map(level -> s)
    while (level < maxLen) {
      val k = level
      // pair ranks: (r(pos), r(pos+k)) orders by the first 2k tokens;
      // a missing right side (suffix shorter than 2k) ranks as 0
      val shifted = s.select(col(idCol),
        (col("pos") - k).as("pos"), col("r").as("r2"))
      val paired = s.join(shifted, Seq(idCol, "pos"), "left")
        .withColumn("r2", coalesce(col("r2"), lit(0L)))
      // previous ranks are dense in [1, R] → equal ranges are
      // uniform buckets; R rides in as a one-row broadcast literal.
      // Integral `div` over DECIMAL(38,0), not double division: IEEE
      // floor((r-1)·nB/rmax) silently loses exactness once the
      // product passes 2⁵³, which 100 TB rank counts approach (r9
      // advisory #4) — the decimal product is exact at any scale.
      val rmax = s.agg(max(col("r")).as("_rmax"))
      val withB = paired.crossJoin(broadcast(rmax))
        .withColumn("_b",
          expr(s"cast((r - 1) as decimal(38,0)) * $nb" +
            " div cast(_rmax as decimal(38,0))"))
        .drop("_rmax")
      val pairs = withB.select(col("_b"), col("r"), col("r2")).distinct()
      val ranked = bucketedDenseRank(pairs, col("_b"),
        Seq(col("r"), col("r2")), "rn")
        .select(col("r"), col("r2"), col("rn"))
      s = withB.join(ranked, Seq("r", "r2"))
        .select(col(idCol), col("pos"), col("rn").cast("long").as("r"))
        .transform(graft.Boundary.lazyLocal)
      level = 2 * k
      out += level -> s
    }
    out
  }
}
