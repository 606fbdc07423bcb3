package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by the log importance
  * weight of a hashed-n-gram bag-of-features model of the TARGET
  * distribution against one of the RAW distribution, then keep the
  * top-weighted docs. The public method behind "make the crawl look
  * like the target domain" selection at pretraining scale.
  *
  * Exactness contract (the repo-wide fixed-point discipline): bucket
  * counts are integers; each bucket's log-probability is ONE pinned
  * double division + ln rounded to 6 decimals into DECIMAL(18,6); a
  * document's log-weight is the exact DECIMAL sum of
  * count[b] · (lp_target[b] − lp_raw[b]) — order-free, so the oracle
  * replays it bit-for-bit.
  *
  * Scale shape: one keyed exchange builds the per-(doc, bucket) count
  * table; the two models collapse to `buckets` rows (config-bounded,
  * §2 of SCALE.md: a model, so it broadcasts); scoring is a broadcast
  * join back onto the per-doc buckets plus one keyed sum — no
  * per-document state, no driver data path, linear in corpus tokens.
  */
object Dsir {

  /** Per-document hashed unigram+bigram counts:
    * (idCol, carry..., b:int, k:long). The md5-prefix bucket is the
    * same cross-engine-exact hash `LogReg.features` uses.
    */
  /** The unigram+bigram array of a text column — shared by the batch
    * counter below and the streaming scan-local scorer
    * ([[graft.streaming.Streams.dsirScoreStream]]) so the two can
    * never drift on gram extraction.
    */
  def gramsExpr(textCol: String): Column =
    gramsFromTokens(split(col(textCol), " "))

  /** [[gramsExpr]] over an already-materialized token-array column.
    * Callers MUST bind `tk` to an attribute (withColumn) before
    * referencing it here: a bare `split(...)` passed in is
    * re-evaluated per bigram position inside the interpreted HOF
    * lambda — the O(L²) re-inlining trap (r15: the same pattern cost
    * Containment.shingles 89 cumulative task-CPU-seconds at sf0.1).
    */
  def gramsFromTokens(tk: Column): Column = {
    val bigrams = when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(tk, bigrams)
  }

  /** The gram's hashed bucket — one definition for batch and stream. */
  def bucketExpr(g: Column, buckets: Int): Column =
    (conv(substring(md5(g), 1, 8), 16, 10).cast("long")
      % buckets).cast("int")

  def hashedGramCounts(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int, carry: Seq[String] = Nil): DataFrame = {
    require(buckets >= 2 && buckets <= 65536, s"buckets=$buckets")
    val keep = (col(idCol) +: carry.map(col)) :+
      explode(gramsFromTokens(col("_tk"))).as("g")
    docs.withColumn("_tk", split(col(textCol), " ")).select(keep: _*)
      .groupBy((col(idCol) +: carry.map(col)) :+
        bucketExpr(col("g"), buckets).as("b"): _*)
      .agg(count(lit(1)).as("k"))
  }

  /** Log importance weight of every document under the
    * target-vs-raw hashed-gram models: (idCol, logw:decimal). The
    * `isTarget` docs define the target distribution; ALL docs are
    * scored (target docs included — their weights are useful for
    * sanity-checking the direction of the gate).
    */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    // NULL predicate rows (e.g. a NULL lang) count as raw, pinned
    // EXPLICITLY: Spark's when(!tgt, k) yields 0 for NULL while SQL's
    // CASE WHEN tgt THEN 0 ELSE k END yields k — coalescing to false
    // here (and COALESCE in the oracle) removes the latent
    // cross-engine divergence (r9 advisory #2).
    val dk = hashedGramCounts(
      docs.withColumn("_tgt", coalesce(isTarget, lit(false))),
      idCol, textCol, buckets, carry = Seq("_tgt"))
      .transform(graft.Boundary.lazyLocal)
    dk.join(broadcast(lwFromCounts(dk, buckets)), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("k").cast("decimal(18,0)") * col("lw")).as("logw"))
  }

  /** The fitted (b, lw:decimal(19,6)) log-weight MODEL alone —
    * ≤ `buckets` rows, so it broadcasts (SCALE.md §2) and, for the
    * streaming face, collapses to a plan-literal map: fit once here
    * in batch, score any arriving stream scan-locally via
    * [[graft.streaming.Streams.dsirScoreStream]].
    */
  def logWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame =
    lwFromCounts(hashedGramCounts(
      docs.withColumn("_tgt", coalesce(isTarget, lit(false))),
      idCol, textCol, buckets, carry = Seq("_tgt")), buckets)

  private def lwFromCounts(dk: DataFrame, buckets: Int): DataFrame = {
    val m = dk.groupBy(col("b"))
      .agg(sum(when(col("_tgt"), col("k")).otherwise(0L)).as("ct"),
        sum(when(!col("_tgt"), col("k")).otherwise(0L)).as("cr"))
    val tot = m.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    def lp(c: Column, t: Column): Column =
      round(log((c + 1).cast("double") /
        (t + buckets).cast("double")), 6).cast("decimal(18,6)")
    m.crossJoin(broadcast(tot))
      .select(col("b"),
        (lp(col("ct"), col("tt")) - lp(col("cr"), col("tr"))).as("lw"))
  }
}
