package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact cross-corpus deduplication through a Bloom-filter prefilter —
  * "remove from this corpus everything already present in that one"
  * (decontaminating a crawl against a benchmark dump, dropping a new
  * snapshot's overlap with the previous one, CCNet-style head dedup
  * across shards).
  *
  * The naive shape — `corpus LEFT ANTI JOIN reference ON key` — hash-
  * partitions BOTH corpora on the key: at 100 TB that is the single
  * largest shuffle a pipeline can issue, and it moves mostly rows that
  * match nothing. This operator keeps both sides scan-local:
  *
  *  1. ONE pass over the reference builds a Bloom filter of the 8-byte
  *     `xxhash64(key)`s (the native `bloom_filter_agg` aggregate —
  *     map-side partial filters merged once; the driver holds only the
  *     final bit array — ~1.2 GB for 10⁹ keys at 1 % fpp, shipped to
  *     executors inside the torrent-broadcast task binary).
  *  2. ONE pass over the corpus keeps only rows the filter *might*
  *     contain, via the native codegen'd `might_contain` expression
  *     (no per-row Scala-UDF dispatch on the full-corpus scan):
  *     candidate keys ≈ true duplicates + fpp·|corpus| — the only
  *     data that ever leaves a scan, collapsed map-side by the
  *     partial aggregate under `distinct`.
  *  3. The candidate keys broadcast back across the reference
  *     (broadcast LEFT SEMI — the reference still never shuffles),
  *     confirming which candidates are real: Bloom false positives die
  *     here, so the result is EXACT for any fpp.
  *  4. The confirmed duplicate keys (⊆ candidates, small) broadcast
  *     into a LEFT ANTI against the corpus — the corpus never shuffles
  *     either.
  *
  * Net: two corpus scans + two reference scans, zero wide exchanges;
  * the two `distinct`s move only the candidate set. The exactness
  * argument: the Bloom filter has no false negatives, so step 2's
  * candidates are a superset of `keys(corpus) ∩ keys(reference)`, and
  * steps 3–4 are plain relational algebra on that superset.
  *
  * The broadcast in steps 3–4 presumes the OVERLAP is small — the
  * decontamination/head-dedup regime. When most of the corpus is
  * duplicate (re-crawl vs previous snapshot), the candidate set is
  * corpus-scale and a forced broadcast would OOM; the MEASURED
  * candidate count therefore gates the plan (r5, advisor finding):
  * above `broadcastBudgetRows` the confirm/anti joins fall back to
  * plain shuffles — at that overlap fraction corpus-scale key movement
  * is inherent to exactness, and the Bloom prefilter still spared the
  * non-candidate rows the exchange.
  *
  * NULL keys are never duplicates (join semantics); rows whose key is
  * NULL always survive.
  */
object BloomDedup {

  /** Rows of `corpus` whose `key` does not occur in `reference`.
    * Output columns = `corpus`'s, unchanged.
    *
    * @param expectedItems sizing for the Bloom filter — the reference's
    *   (approximate) distinct key count; at scale feed it from table
    *   stats or a prior `approx_count_distinct`. Overshooting wastes
    *   bits; undershooting raises fpp, which costs confirm-join traffic
    *   but never correctness.
    * @param fpp false-positive probability; tune against broadcast
    *   budget for the candidate set (candidates ≈ dups + fpp·|corpus|).
    * @param broadcastBudgetRows max candidate-key count the confirm/
    *   anti joins may broadcast; above it they degrade to shuffle
    *   joins (loud-OOM-free at snapshot-overlap scale). The default
    *   (8M 8-to-64-byte keys, low hundreds of MB) sits under Spark's
    *   8 GB broadcast hard cap with headroom for executor heaps.
    */
  def dedupAgainstReference(
      corpus: DataFrame,
      reference: DataFrame,
      key: Column,
      expectedItems: Long,
      fpp: Double = 0.01,
      broadcastBudgetRows: Long = 8_000_000L): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"expectedItems=$expectedItems fpp=$fpp")
    val kc = corpus.withColumn("__bd_key", key)
    val kr = reference.select(key.as("__bd_key"))

    // 1. distributed build over 8-byte key hashes (constant item width
    //    whatever the key type; collisions only widen the candidate
    //    set). NATIVE `bloom_filter_agg` (r6 advisory #1): the same
    //    partial-aggregate build shape as stat.bloomFilter, but the
    //    serialized filter comes back as an aggregate's binary result.
    //    Clamped so optimalNumOfBits never rounds to zero for tiny
    //    estimates — undersizing is a candidate-set cost, never
    //    exactness.
    val bloomBytes = buildFilterBytes(kr, expectedItems, fpp)
    // an empty reference aggregates to NULL — nothing to dedup against
    if (bloomBytes == null) return corpus
    val mightContain = (h: Column) => mightContainColumn(bloomBytes, h)

    // 2. scan-local prefilter; only candidates reach an exchange.
    //    Materialized (MEMORY_AND_DISK blocks, no lineage recompute)
    //    because the count below gates the plan and steps 3-4 read it
    //    again; the blocks are at most candidate-set-sized — the same
    //    data a broadcast would have shipped.
    val candKeys = kc
      .filter(col("__bd_key").isNotNull &&
        mightContain(xxhash64(col("__bd_key"))))
      .select(col("__bd_key"))
      .distinct()
      .transform(graft.Boundary.eagerLocal)
    val nCand = candKeys.count()
    val fits = nCand <= broadcastBudgetRows
    def sized(df: DataFrame): DataFrame = if (fits) broadcast(df) else df

    // 3. exact confirm — reference side stays scan-local on the
    //    broadcast path; above budget it degrades to a key shuffle
    val dupKeys = kr
      .join(sized(candKeys), Seq("__bd_key"), "left_semi")
      .distinct()

    // 4. corpus side: scan-local under budget, shuffle anti-join above
    kc.join(sized(dupKeys), Seq("__bd_key"), "left_anti")
      .drop("__bd_key")
  }

  /** Serialized Bloom filter over `xxhash64(__bd_key)` of `keyed`,
    * built by the native `bloom_filter_agg` aggregate (map-side
    * partial filters merged once). NULL when `keyed` is empty.
    */
  private[graft] def buildFilterBytes(keyed: DataFrame,
      expectedItems: Long, fpp: Double): Array[Byte] = {
    val items = math.max(expectedItems, 64L)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(items, fpp)
    val bloomAgg = org.apache.spark.sql.GraftSqlBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          org.apache.spark.sql.GraftSqlBridge.expression(
            xxhash64(col("__bd_key"))),
          org.apache.spark.sql.catalyst.expressions.Literal(items),
          org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    keyed.agg(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
  }

  /** Probe via the NATIVE `might_contain` expression against the
    * serialized filter as a binary literal: the scan-side filter
    * codegens instead of dispatching a per-row Scala UDF (the
    * operator's hottest path — at 100 TB the prefilter scan is the
    * whole job), and the filter still deserializes once per task.
    * Transport is unchanged at scale: literals ride the serialized
    * task binary, which Spark torrent-broadcasts per stage exactly
    * like an explicit Broadcast variable would be.
    */
  private[graft] def mightContainColumn(bloomBytes: Array[Byte],
      h: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftSqlBridge.expression(h)))
}
