package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond dedup/similarity: repetition-based quality filters
  * (Gopher rules), deterministic mixture resampling, context-window
  * chunking, and corpus-level boilerplate detection.
  *
  * These go beyond the reference's own operator set (the builder brief
  * names them first-class alongside SURVEY §2); each is shaped for the
  * 100 TB case — scan-local where possible, and where a corpus-wide
  * statistic forces a shuffle, the exchange carries ids and 8-byte
  * hashes, never document text.
  */
object CorpusOps {

  // ---- Gopher repetition stats, explode route -----------------------

  /** Per-document repetition stats via explode + two-level aggregation:
    * O(L) per document vs the O(L²) scan-local higher-order-function
    * route in `TextFunctions.topWordFrac`/`dupWordFrac`. Returns one
    * row per document: (id, n_tokens, top_word_frac, dup_word_frac).
    *
    * Scale shape: the exchange is (id, token-hash) pairs — 16 bytes per
    * token position after map-side partial aggregation collapses
    * repeats within a partition. Documents of unbounded length stay
    * distributed (a single pathological 1 GB document never needs to
    * fit one executor's HOF evaluation). Prefer the HOF route when the
    * corpus bounds document length; prefer this when it doesn't.
    */
  def repetitionStatsExploded(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val perTok = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      // hash before the shuffle: 8-byte key, not the token string
      .select(col(idCol), xxhash64(col("tok")).as("t"))
      .groupBy(col(idCol), col("t"))
      .agg(count(lit(1)).as("c"))
    perTok
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_tokens"),
        max(col("c")).as("max_c"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_c"))
      .select(
        col(idCol),
        col("n_tokens"),
        (col("max_c").cast("double") / col("n_tokens")).as("top_word_frac"),
        (col("dup_c").cast("double") / col("n_tokens")).as("dup_word_frac"))
  }

  // ---- Deterministic mixture resampling ------------------------------

  /** Down-sample each class to a target keep-rate with a deterministic
    * Bernoulli draw: row kept iff
    * `((id * 2654435761) mod 2147483647) mod 10000 < rate * 10000`
    * (Knuth multiplicative hash — the same cross-engine hash as q55's
    * consistent sampler). Classes absent from `rates` keep everything.
    *
    * Scale shape: a scan-local filter — no shuffle, no sort, no state.
    * Determinism is the point: the draw depends only on the row id, so
    * the sample is identical across retries, repartitioning, and
    * engines — a training-mixture rebalance (e.g. 'cap web text at 30%,
    * keep all code') that reproduces bit-for-bit, unlike
    * `df.sample()` whose outcome changes with partitioning.
    */
  def weightedResample(
      df: DataFrame,
      idCol: String,
      classCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0,1]: $rates")
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L)) % 10000
    val rate = rates.foldLeft(lit(1.0)) { case (acc, (k, r)) =>
      when(col(classCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(h < rate * 10000)
  }

  /** The UP-sampling dual of [[weightedResample]]: fractional-epoch
    * repetition per class — the data-mixing move every pretraining
    * recipe publishes ("2.5 epochs of wiki, 0.8 of web"). Each row is
    * emitted `floor(e)` times, plus one extra copy iff its Knuth-hash
    * draw lands under `frac(e)` (expressed in myriads, so the
    * boundary is integer-exact and bit-reproducible across engines).
    * `e = 0.0` drops the class; classes absent from `epochs` get
    * `defaultEpochs`.
    *
    * Output: input columns + `epoch_copy` (1-based copy index) — a
    * stable per-copy identity, so a downstream shuffle-by-hash of
    * (id, epoch_copy) spreads the repeats instead of co-locating
    * them.
    *
    * Scale shape: scan-local `explode(sequence(1, n))` — no shuffle,
    * no state; output size is exactly Σ n_copies. Epoch factors are
    * capped at 8: past that, repeats belong in the training loader,
    * not the corpus.
    */
  def epochUpsample(
      df: DataFrame,
      idCol: String,
      classCol: String,
      epochs: Map[String, Double],
      defaultEpochs: Double = 1.0): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(e =>
      e >= 0.0 && e <= 8.0), s"epochs must be in [0,8]: $epochs")
    def parts(e: Double): (Int, Int) = {
      val whole = math.floor(e).toInt
      (whole, math.round((e - whole) * 10000).toInt)
    }
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L)) % 10000
    def copies(e: Double) = {
      val (whole, fracMyriad) = parts(e)
      lit(whole) + when(h < fracMyriad, 1).otherwise(0)
    }
    val n = epochs.foldLeft(copies(defaultEpochs)) { case (acc, (k, e)) =>
      when(col(classCol) === k, copies(e)).otherwise(acc)
    }
    df.withColumn("_n", n)
      .filter(col("_n") > 0)
      .select(df.columns.map(col) :+
        explode(sequence(lit(1), col("_n"))).as("epoch_copy"): _*)
  }

  /** Weighted sampling WITHOUT replacement, k per class — the
    * Efraimidis–Spirakis exponential-keys scheme: each row draws
    * u ∈ (0,1) and ranks by key u^(1/w); the top-k keys per class are
    * a weighted-without-replacement sample (inclusion probability
    * increasing in w). The draw is the deterministic Knuth-hash
    * myriad (u = (h + 0.5)/10⁴ — never 0 or 1), so the "random"
    * sample is a pure function of the row ids: bit-reproducible
    * across retries, partitionings, and engines, like q55/q65/q88.
    *
    * Ranking uses the monotone-equivalent key ln(u)/w (descending),
    * with ln in micros (the q127 discipline) and ONE pinned division
    * by the weight — cross-engine exact; ties (only 10⁴ distinct u
    * values) break by id. Rows with non-positive weight are excluded,
    * not sampled.
    *
    * Scale shape: scan-local key computation + per-class top-k — the
    * rank exchange collapses map-side via WindowGroupLimit, so ~k
    * rows per class per partition ride the shuffle, not the corpus.
    */
  def weightedSampleK(
      df: DataFrame,
      idCol: String,
      classCol: String,
      weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 100000, s"k=$k")
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L)) % 10000
    val lnuM = round(
      log((h.cast("double") + lit(0.5)) / lit(10000.0)) * lit(1000000.0),
      0).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(col("_esk").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("_esk", lnuM.cast("double") / col(weightCol).cast("double"))
      .withColumn("samp_rank", row_number().over(w).cast("long"))
      .filter(col("samp_rank") <= k)
      .drop("_esk")
  }

  /** Exact proportional stratified split: within every class, rank
    * rows by the deterministic Knuth-hash order (id tiebreak) and
    * assign the first ⌈n_c · trainPerMyriad/10⁴⌉ to `train`, the rest
    * to `holdout` — per-stratum proportions are EXACT (ceiling, so a
    * non-empty stratum always contributes ≥1 training row), and the
    * assignment is a pure function of the ids: stable under
    * repartitioning, retries, and engines, and STABLE UNDER CORPUS
    * GROWTH in distribution (each row's hash position doesn't move
    * when others arrive, though ranks — and therefore boundary rows —
    * can shift; for leakage-safe splits of near-dup corpora use the
    * cluster-keyed q60 split instead, which this complements).
    *
    * Scale shape: one count-over-class window + one rank window on
    * the same partitioning — a single exchange keyed on the class.
    * Per-class streams sort within partitions; strata are assumed
    * many and balanced (the stratified-split use case) — a single
    * giant stratum degenerates to one task's sort, the same explicit
    * trade the keyless XQuery windows document.
    */
  def stratifiedSplit(
      df: DataFrame,
      idCol: String,
      classCol: String,
      trainPerMyriad: Int): DataFrame = {
    require(trainPerMyriad >= 0 && trainPerMyriad <= 10000,
      s"trainPerMyriad=$trainPerMyriad")
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L))
    val byClass = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol))
    val rk = row_number().over(byClass.orderBy(h, col(idCol))).cast("long")
    val nC = count(lit(1)).over(byClass)
    df.withColumn("_rk", rk)
      .withColumn("_n", nC)
      .withColumn("split",
        when(col("_rk") <= expr(s"(_n * $trainPerMyriad + 9999) div 10000"),
          lit("train")).otherwise(lit("holdout")))
      .select(df.columns.map(col) :+ col("split") :+
        col("_rk").as("strat_rank"): _*)
  }

  /** Quantile-bucketed resampling: rank every row's `valueCol` into
    * one of `keepPerMyriad.length` buckets by EXACT corpus quantiles
    * (equi-spaced; rounded to 6 decimals so any SQL oracle derives
    * bit-identical cut points — the q79 discipline) and keep each row
    * with its bucket's deterministic hash-Bernoulli rate (per-myriad,
    * the q88/q55 Knuth-hash convention — bit-reproducible under
    * repartitioning, retries, and engines).
    *
    * The quality-aware mixture move: score docs by a model statistic
    * (e.g. q71's bigram cross-entropy), then downsample the worst
    * quartiles instead of hard-cutting — CCNet's perplexity-bucket
    * curation as one operator. The quantile aggregation is one pass
    * over the scores; cut points are a `keepPerMyriad.length`-row
    * broadcast; the gate is scan-local.
    *
    * Output: input columns + `bucket` (0 = lowest values) — callers
    * order the semantics of "low" (for cross-entropy, low = fluent).
    */
  def quantileBucketResample(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      keepPerMyriad: Seq[Int]): DataFrame = {
    val nb = keepPerMyriad.length
    require(nb >= 2 && keepPerMyriad.forall(r => r >= 0 && r <= 10000),
      s"keepPerMyriad=$keepPerMyriad")
    val qs = (1 until nb).map(i => i.toDouble / nb)
    // unscored rows (NULL value) are excluded, not sampled: the
    // when-chain would otherwise silently fall them through to the
    // LAST bucket (most aggressively downsampled) — an unscored doc
    // is not a worst-quality doc. Callers wanting them must score
    // first (q93 filters to n_bigrams >= 1 upstream).
    // compute-once boundary (r16, guide §2.4): the quantile-cut
    // action below and the final bucketing scan BOTH consume the
    // scored input — without a checkpoint the caller's whole scoring
    // subtree (q93: the bigram cross-entropy joins) runs twice, once
    // inside the percentile head() and again at execution.
    val df0 = df.filter(col(valueCol).isNotNull)
      .transform(graft.Boundary.lazyLocal)
    val cutsRow = df0.select(
      (0 until nb - 1).map(i =>
        round(expr(s"percentile($valueCol, ${qs(i)})"), 6)
          .as(s"_q$i")): _*)
    val cuts = cutsRow.head()
    // percentile over zero rows is NULL: an emptied-upstream corpus
    // has no quantiles — return the (empty) input with the output
    // schema instead of crashing on a NULL cut point
    if (cuts.anyNull)
      return df0.withColumn("bucket", lit(0)).filter(lit(false))
    val bucket = (0 until nb - 1).foldRight(lit(nb - 1): Column) {
      case (i, rest) =>
        when(col(valueCol) <= lit(cuts.getDouble(i)), lit(i)).otherwise(rest)
    }
    val thr = (0 until nb).foldLeft(lit(keepPerMyriad(nb - 1)): Column) {
      case (acc, i) => when(col("bucket") === i, lit(keepPerMyriad(i)))
        .otherwise(acc)
    }
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L)) % 10000
    df0.withColumn("bucket", bucket)
      .filter(h < thr)
  }

  /** Token-budget sampling: per class, keep documents in consistent
    * hash order (Knuth hash asc, id tiebreak) until the class's token
    * budget is exhausted — "give me 1M tokens per language", the
    * mixture primitive that budgets by TOKENS rather than documents
    * (what a training run actually consumes). A doc is kept iff the
    * running token total BEFORE it is under budget, so the result
    * overshoots by at most one document and is a prefix of the hash
    * order — bit-reproducible, and adding documents to the corpus
    * only perturbs the sample where the hash order changes.
    *
    * Scale shape: a naive cumulative-sum window sorts EVERY class's
    * rows in one task (the hot-language straggler q83 exists to
    * avoid). Instead the prefix sum is two-level: rows land in 1024
    * hash sub-buckets, per-(class, bucket) token sums aggregate
    * map-side (tiny table), bucket-level prefix offsets come from a
    * window over THAT table (≤1024 rows per class), and only rows in
    * the one BOUNDARY bucket per class — expected class_tokens/1024 —
    * pay an intra-bucket sort. Whole buckets before the boundary are
    * kept outright; buckets after it are dropped outright. The
    * decomposition is exactly the global prefix sum (the oracle
    * spells it as one window), at 1/1024th the sort.
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      tokCol: String,
      classCol: String,
      budget: Long,
      nBuckets: Int = 1024): DataFrame = {
    require(budget > 0 && nBuckets >= 2, s"budget=$budget nBuckets=$nBuckets")
    budgetSampleCore(df, idCol, tokCol, classCol, nBuckets,
      _.withColumn("_budget", lit(budget)))
  }

  /** [[tokenBudgetSample]] with PER-CLASS budgets from a two-column
    * (class, budget-tokens) frame — the shape a computed allocation
    * (q193's water-fill, a DoReMi weight table scaled to tokens)
    * hands to the sampler. Classes absent from `budgets` or with a
    * NULL/≤0 budget are dropped entirely (an allocation that grants a
    * source nothing grants it nothing). Identical prefix semantics
    * and two-level decomposition as the constant-budget form; the
    * budget frame is class-cardinality-sized and broadcasts onto the
    * bucket-offset table, never the corpus.
    */
  def tokenBudgetSamplePerClass(
      df: DataFrame,
      idCol: String,
      tokCol: String,
      classCol: String,
      budgets: DataFrame,
      nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets")
    require(budgets.columns.length == 2,
      s"budgets must be (class, budget): ${budgets.columns.toSeq}")
    // Duplicate class rows would pass the inner join and silently
    // re-emit every bucket row once per duplicate (advisor r11) —
    // enforce key-uniqueness INSIDE the plan (raise_error keeps the
    // check lazy; the aggregate rides the class-cardinality frame, so
    // its cost is a broadcast-sized exchange, never the corpus).
    val b = budgets.select(col(budgets.columns(0)).as("_bcls"),
      col(budgets.columns(1)).cast("long").as("_budget"))
      .groupBy(col("_bcls"))
      .agg(max(col("_budget")).as("_bmax"), count(lit(1)).as("_bn"))
      .select(col("_bcls"),
        when(col("_bn") === 1, col("_bmax"))
          // coalesce: a NULL class key would NULL the whole concat
          // and raise_error would fire with a null message, losing
          // the diagnostic (advisor r12)
          .otherwise(raise_error(concat(
            lit("tokenBudgetSamplePerClass: duplicate budget rows " +
              "for class "),
            coalesce(col("_bcls").cast("string"), lit("NULL")))))
          .as("_budget"))
    budgetSampleCore(df, idCol, tokCol, classCol, nBuckets,
      off => off.join(broadcast(b), off("_cls") <=> b("_bcls"))
        .drop("_bcls"))
  }

  private def budgetSampleCore(
      df: DataFrame,
      idCol: String,
      tokCol: String,
      classCol: String,
      nBuckets: Int,
      withBudget: DataFrame => DataFrame): DataFrame = {
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L))
    // RANGE bucketing (not modulo): bucket is monotone in the hash, so
    // the bucket-prefix + intra-bucket-prefix decomposition IS the
    // global (h, id) prefix sum
    val width = (2147483647L + nBuckets - 1) / nBuckets
    // NULL token counts cost zero budget (and are kept): a SQL SUM
    // skips NULLs, so anything else would diverge from the naive
    // window formulation — and an all-NULL bucket would otherwise
    // NULL-poison both whole-bucket verdicts and silently vanish
    val tokSafe = coalesce(col(tokCol).cast("long"), lit(0L))
    val rows = df.withColumn("_h", h)
      .withColumn("_bk", floor(col("_h") / lit(width)))
      .withColumn("_nt", tokSafe)
    val bkSums = rows.groupBy(col(classCol).as("_cls"), col("_bk"))
      .agg(sum(col("_nt")).as("_bsum"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("_cls").orderBy("_bk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = withBudget(bkSums.withColumn("_boff",
      coalesce(sum(col("_bsum")).over(wB), lit(0L))))
    val joined = rows.join(broadcast(offsets),
      col(classCol) <=> col("_cls") && rows("_bk") === offsets("_bk"))
      .drop(offsets("_bk"))
    // whole-bucket verdicts: fully inside / fully outside the budget.
    // STRICTLY inside for keep: a bucket whose cumulative sum lands
    // exactly on the budget may end in zero-token rows, which the
    // naive per-row rule (_run < budget) drops (run-before == budget);
    // routing the exact-budget bucket through the boundary path keeps
    // whole-bucket and per-row semantics identical (advisor r5).
    val keepAll = col("_boff") + col("_bsum") < col("_budget")
    val dropAll = col("_boff") >= col("_budget")
    val boundary = joined.filter(!keepAll && !dropAll)
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(col("_h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boundaryKept = boundary.withColumn("_run",
        col("_boff") + coalesce(sum(col("_nt")).over(wR), lit(0L)))
      .filter(col("_run") < col("_budget"))
      .drop("_run")
    joined.filter(keepAll).unionByName(boundaryKept)
      .drop("_h", "_bk", "_nt", "_cls", "_bsum", "_boff", "_budget")
  }

  /** Temperature-flattened source rebalancing — the multilingual /
    * multi-source mixing pass: downsample each class so post-sampling
    * shares go from the natural p_s to p_s^alpha (alpha < 1 flattens —
    * rare sources keep everything, dominant ones shed mass; alpha = 1
    * is a no-op). Keep-rate per class: r_s = (c_min / c_s)^(1-alpha),
    * normalized so the rarest class keeps 100% — rebalancing by
    * DELETION only, the shape that needs no data generation. The
    * Bernoulli draw is [[weightedResample]]'s Knuth multiplicative
    * hash, so kept rows are bit-reproducible across partitionings,
    * retries, and engines.
    *
    * Scale shape: one map-side-combined groupBy for the class counts
    * (class-cardinality rows), broadcast back; the keep decision is
    * scan-local. Determinism across engines: for alpha = 0.5 the rate
    * is sqrt(c_min/c_s) — IEEE sqrt and division are both correctly
    * rounded, so Spark and any oracle compute bit-identical thresholds
    * (no such guarantee for pow(x, y) generally; the REGISTERED query
    * pins alpha = 0.5, and other alphas document the last-ulp caveat).
    */
  def temperatureResample(
      df: DataFrame,
      idCol: String,
      classCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    val counts = df.groupBy(col(classCol))
      .agg(count(lit(1)).cast("double").as("_c"))
    // keyless window over the COUNTS relation, whose cardinality is
    // the number of classes — bounded and tiny at any corpus size, so
    // the single-partition move is free, it reads the corpus once
    // (a min-aggregate join would scan it twice), and the plan stays
    // NLJ-free for the whole-battery audit (a crossJoin with the
    // 1-row min — even a literal-keyed join, after constant folding —
    // plans as BroadcastNestedLoopJoin)
    val withMin = counts.withColumn("_cmin",
      min(col("_c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val rate =
      if (alpha == 0.5) sqrt(col("_cmin") / col("_c"))
      else pow(col("_cmin") / col("_c"), 1.0 - alpha)
    val thresholds = withMin
      .select(col(classCol).as("_tr_cls"),
        floor(rate * 10000).cast("long").as("_thr"))
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L)) % 10000
    // null-safe equality: a NULL class is a class like any other (it
    // got a count and a threshold above) — a plain inner join would
    // silently DROP every null-class row
    df.join(broadcast(thresholds), col(classCol) <=> col("_tr_cls"))
      .filter(h < col("_thr"))
      .drop("_tr_cls", "_thr")
  }

  // ---- Context-window chunking ---------------------------------------

  /** Split each document into token windows of `window` tokens with
    * `stride` tokens between window starts (stride < window ⇒
    * overlapping windows, the LLM-training idiom for long documents).
    * Output: (id, chunk_id, n_chunk_tokens, chunk_text), one row per
    * window; the final window may be short.
    *
    * Scale shape: scan-local generate — sequence + explode + slice are
    * all codegen'd builtins, no shuffle, and peak memory per row is one
    * document plus one window. The explode multiplies rows by
    * ceil(L/stride), which is exactly the output size — nothing is
    * materialized beyond what the sink receives.
    */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride")
    val t = split(col(textCol), " ")
    df.select(
        col(idCol),
        posexplode(sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_id", "start")),
        t.as("t"))
      .select(
        col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        size(slice(col("t"), col("start") + 1, lit(window))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("t"), col("start") + 1, lit(window)), " ")
          .as("chunk_text"))
  }

  // ---- Greedy sequence packing ---------------------------------------

  /** Pack documents into training sequences: within each shard
    * (`id mod nShards`), walk documents in id order and append each to
    * the current pack unless it would push the pack past `budget`
    * tokens, in which case it starts a new pack. A single document
    * larger than `budget` gets its own pack. Output: (id, shard,
    * n_tokens, pack_id) with pack_id dense per shard.
    *
    * Greedy next-fit is inherently sequential, so this is the one
    * operator in the engine that earns `mapPartitions`: shards are
    * hash-partitioned (one exchange), sorted within partitions, and
    * walked with O(1) state per task. Parallelism is nShards — set it
    * to a multiple of the cluster's cores at scale; the assignment
    * depends only on (id, nShards, budget), so results are
    * deterministic under retries and repartitioning, and the DuckDB
    * recursive-CTE oracle (q70) reproduces them exactly.
    */
  def packGreedy(
      df: DataFrame,
      idCol: String,
      nTokCol: String,
      budget: Long,
      nShards: Int,
      decreasing: Boolean = false): DataFrame = {
    require(budget > 0 && nShards > 0, s"budget=$budget nShards=$nShards")
    val spark = df.sparkSession
    import spark.implicits._
    // `decreasing` = next-fit-DECREASING (Johnson 1973): walk each
    // shard longest-first, which tail-packs the short docs into the
    // space long docs leave — strictly the same one-exchange plan,
    // only the within-partition sort key changes
    val order =
      if (decreasing) Seq(col("shard"), col("n").desc, col("id"))
      else Seq(col("shard"), col("id"))
    df.select(
        pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        col(idCol).cast("long").as("id"),
        // a NULL token count (e.g. tokenizing a NULL text) packs as a
        // zero-length doc — it must not kill the walk's encoder
        coalesce(col(nTokCol).cast("long"), lit(0L)).as("n"))
      .as[(Long, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions(order: _*)
      .mapPartitions { it =>
        var shard = -1L
        var acc = 0L
        var pack = 0L
        it.map { case (s, id, n) =>
          if (s != shard) { shard = s; pack = 0L; acc = n }
          else if (acc + n <= budget) acc += n
          else { pack += 1L; acc = n }
          (id, s, n, pack)
        }
      }
      .toDF(idCol, "shard", "n_tokens", "pack_id")
  }

  // ---- Bigram language-model scoring ---------------------------------

  /** Per-document cross-entropy under the corpus's own bigram language
    * model — the CCNet-style fluency signal (Wenzek et al. 2020): low
    * average −ln P(wᵢ₊₁|wᵢ) means common, fluent phrasing; high means
    * rare or garbled text. P(w2|w1) = c(w1 w2) / c(w1 ·), both counted
    * over bigram POSITIONS corpus-wide; no smoothing is needed because
    * every scored bigram occurs at least once (in the document
    * itself). Output: (id, n_bigrams, avg_ce), with nulls for
    * documents that have no bigram.
    *
    * Cross-engine exactness: ln is the one step IEEE-754 does not pin
    * down, so each bigram TYPE's term is rounded to 4 decimals and the
    * per-document sum runs in DECIMAL — order-independent and
    * bit-reproducible; the final divide is exact double division.
    *
    * Scale shape: the exchange carries (doc_id, h1, h12) 8-byte token
    * hashes, never text; per-doc bigram counts are one
    * map-side-combined groupBy, localCheckpoint-ed because they feed
    * three consumers (the two model aggregations and the scoring
    * join) — without the boundary the corpus would explode three
    * times (same argument as q67's stage boundary). The model tables
    * cb/cu are vocabulary-sized (≪ corpus); at 100 TB they are written
    * once, reused across scoring runs, and the scoring joins hash on
    * the 8-byte gram key — broadcastable whenever the vocabulary fits.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // token hashes materialized ONCE (q80's anti-collapse discipline:
    // element_at(split(...), i) inside the lambda re-splits the text
    // per element — O(L²) per doc); h1 keeps its old value
    // (xxhash64 of the token), h12 becomes a hash of two hashes —
    // both are only grouping keys
    val th = transform(split(col(textCol), " "), t => xxhash64(t))
    val pairs = when(size(col("_th")) >= 2,
      transform(sequence(lit(1), size(col("_th")) - 1),
        i => struct(
          element_at(col("_th"), i).as("h1"),
          xxhash64(element_at(col("_th"), i), element_at(col("_th"), i + 1))
            .as("h12"))))
      .otherwise(array().cast("array<struct<h1:bigint,h12:bigint>>"))
    val docBi = df
      .withColumn("_th", th)
      .select(col(idCol), explode(pairs).as("p"))
      .select(col(idCol), col("p.h1"), col("p.h12"))
      .groupBy(col(idCol), col("h1"), col("h12"))
      .agg(count(lit(1)).as("k"))
      .transform(graft.Boundary.lazyLocal)
    val cb = docBi.groupBy(col("h12")).agg(sum(col("k")).as("cb"))
    val cu = docBi.groupBy(col("h1")).agg(sum(col("k")).as("cu"))
    val term = round(-log(col("cb").cast("double") / col("cu").cast("double")), 4)
      .cast("decimal(18,4)")
    val perDoc = docBi
      .join(cb, "h12")
      .join(cu, "h1")
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).as("n_bigrams"),
        sum(term * col("k")).as("ce"))
      .select(col(idCol), col("n_bigrams"),
        (col("ce").cast("double") / col("n_bigrams")).as("avg_ce"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  // ---- Vocabulary construction ---------------------------------------

  /** Corpus-wide top-`k` word `n`-grams by occurrence count, with a
    * dense deterministic rank (count desc, gram asc) — the vocabulary
    * statistic a tokenizer-training pass starts from.
    *
    * This is the one corpus-prep operator whose exchange payload is
    * legitimately TEXT: the vocabulary is the output, so gram strings
    * can't be hashed away. Map-side partial aggregation collapses the
    * exchange to (distinct grams per partition) and the top-k is
    * TakeOrdered — no global sort of the vocabulary. A hash-first
    * two-pass (count by window hash, build strings only for top-k
    * candidate positions) was tried and REJECTED by measurement:
    * 13.4 s vs 3.6 s at sf0.1, because the candidate join re-shuffles
    * every gram position and each carries its token array — the
    * per-position concat_ws it avoids is cheaper than that.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, s"n=$n k=$k")
    // token array materialized once (q80's anti-collapse discipline);
    // the n-gram strings themselves are the output, so the concat is
    // irreducible — but each element access must be O(1)
    val grams =
      if (n == 1) col("_t")
      else when(size(col("_t")) >= n,
        transform(sequence(lit(1), size(col("_t")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(col("_t"), i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    val counted = df
      .withColumn("_t", split(col(textCol), " "))
      .select(explode(grams).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
    counted.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("gram"))).cast("long"))
  }

  // ---- Feature-hashed document embeddings ----------------------------

  /** Bag-of-words document embedding via the hashing trick (Weinberger
    * et al. 2009): each token lands in slot `(first 8 md5 hex chars
    * mod dim)` with sign ± from the 9th hex char's parity, and
    * vec[j] = signed token count of slot j. No vocabulary and no
    * training — a deterministic featurizer that bridges the documents
    * table into the embedding operator family (the output feeds
    * bruteForceTopK / lshNearDupPairs / semDedup unchanged).
    *
    * md5 rather than xxhash64 because the oracle must reproduce the
    * embedding bit-for-bit and md5 is the hash both engines share
    * (q19's portability argument); counts are integers, so the double
    * vector is exact.
    *
    * Scale shape: explode the per-token (slot, sign) pairs and run
    * two codegen'd hash aggregations — (id, slot) partial sums, then
    * per-doc map assembly — exactly `repetitionStatsExploded`'s
    * unbounded-document shape. The exchange carries 24-byte rows,
    * collapsed by map-side combine. A scan-local `dim` conditional
    * sums variant was tried and REJECTED by measurement: higher-order
    * function lambdas are interpreted, not codegen'd, and O(dim·L)
    * interpreted evals benched 28 s vs ~1 s for this route at sf0.1.
    */
  def hashedBowEmbedding(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 32): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim")
    val bucketed = transform(split(col(textCol), " "), t => {
      val h = md5(t)
      struct(
        (conv(substring(h, 1, 8), 16, 10).cast("long") % dim).as("j"),
        when(conv(substring(h, 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("s"))
    })
    df.select(col(idCol), explode(bucketed).as("x"))
      .groupBy(col(idCol), col("x.j").as("j"))
      .agg(sum(col("x.s")).as("v"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("j"), col("v")))).as("m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          coalesce(element_at(col("m"), j.cast("long")), lit(0L))
            .cast("double"))
          .as("vec"))
  }

  // ---- TF-IDF weighted hashed embeddings -----------------------------

  /** [[hashedBowEmbedding]] with TF-IDF weighting: each distinct term
    * of a document contributes `tf · ln(N / df) · sign` to its md5
    * slot instead of a raw signed count — the classic relevance
    * weighting, so common corpus-wide terms stop dominating the
    * vector and near-dup cosines sharpen. Combines q74's portable
    * bucketing with q71's cross-engine ln discipline (per-term
    * 4-decimal rounding, DECIMAL sums), so every vector element is
    * still bit-exactly verifiable against the oracle.
    *
    * Scale shape: per-doc term counts are one map-side-combined
    * groupBy, localCheckpoint-ed because they feed both the
    * document-frequency aggregation and the scoring join (the q67/q71
    * stage-boundary argument); the df table is vocabulary-sized. The
    * exchange key is the md5 hex string — kept portable for the
    * oracle; a production deployment would key on xxhash64 like the
    * minhash family. N is one `count()` action — at deployment scale
    * a metadata lookup, or a parameter from the stats store.
    */
  def tfidfHashedEmbedding(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 32): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim")
    val nDocs = df.count()
    val dt = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .select(col(idCol), md5(col("w")).as("term"))
      .select(col(idCol), col("term"),
        (conv(substring(col("term"), 1, 8), 16, 10).cast("long") % dim)
          .as("j"),
        when(conv(substring(col("term"), 9, 1), 16, 10).cast("long") % 2
          === 0, 1L).otherwise(-1L).as("s"))
      .groupBy(col(idCol), col("term"), col("j"), col("s"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.Boundary.lazyLocal)
    val dfTab = dt.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val idf = round(log(lit(nDocs.toDouble) / col("dfc").cast("double")), 4)
      .cast("decimal(18,4)")
    val slotSums = dt.join(dfTab, "term")
      .groupBy(col(idCol), col("j"))
      .agg(sum(idf * col("tf") * col("s")).as("v"))
    val perDoc = slotSums
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("j"), col("v"))))
        .as("m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          coalesce(element_at(col("m"), j.cast("long")), lit(0))
            .cast("double"))
          .as("vec"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  // ---- Shared window-hash machinery ----------------------------------

  /** (id, g) rows: each document's DISTINCT `n`-token window hashes.
    * Multi-arg xxhash64 per window over a once-materialized token-hash
    * array (the anti-collapse discipline: element_at(split(...), i)
    * inside the lambda would re-split the text per element, O(L²) per
    * doc), with per-doc dedup doc-LOCAL via array_distinct before the
    * explode — no corpus-wide distinct exchange, and no exchange ever
    * carries gram text. Documents shorter than `n` tokens contribute
    * no windows.
    */
  /** Per-token xxhash64 array — bind with withColumn so downstream
    * window lambdas see a materialized array, not a re-split per
    * element (the q67/q71/q76 trap).
    */
  private[operators] def tokenHashes(textCol: String): Column =
    transform(split(col(textCol), " "), t => xxhash64(t))

  /** All n-token window hashes of a bound token-hash array column —
    * multi-arg xxhash64 per window, no gram-string construction.
    */
  private[operators] def windowHashes(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(1), size(th) - (n - 1)),
        i => xxhash64((0 until n).map(k => element_at(th, i + k)): _*)))
      .otherwise(array().cast("array<bigint>"))

  private[operators] def distinctWindowHashes(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.withColumn("_th", tokenHashes(textCol))
      .select(col(idCol),
        explode(array_distinct(windowHashes(col("_th"), n))).as("g"))

  // ---- Duplicated-span removal (ExactSubstr-style) -------------------

  /** Splice corpus-duplicated token spans OUT of every document: any
    * window of `n` consecutive tokens that occurs at least `minCount`
    * times across the corpus (counting multiplicity — a span repeated
    * inside one document counts twice) has all its token positions
    * removed, and each document is rebuilt from the surviving tokens.
    * This is the span-level companion to document-level dedup — the
    * ExactSubstr idea of Lee et al. 2021 ("Deduplicating Training Data
    * Makes Language Models Better") at word granularity: boilerplate,
    * licence blocks and templated chrome disappear from otherwise
    * unique documents instead of dragging whole documents into a
    * near-dup cluster. Deliberately aggressive: ALL occurrences are
    * removed (the canonical copy of a span a pipeline wants to keep
    * should live in a curated table, not be an arbitrary winner of a
    * corpus-order race). Output: (id, n_tokens, n_kept, n_removed,
    * clean_text), one row per input document — fully-removed documents
    * surface as n_kept=0 / clean_text='' rather than vanishing.
    *
    * Scale shape: window hashes are scan-local multi-arg xxhash64 over
    * token slices (q67's no-gram-string discipline — NO exchange in
    * this operator ever carries text). The occurrence count is one
    * map-side-combined groupBy on the 8-byte hash; duplicated-window
    * starts come back via a hash join on that key (AQE skew-splits hot
    * boilerplate hashes); covered positions collapse to one int array
    * per affected document (collect_set dedups map-side).
    * Reconstruction is then doc-LOCAL: one id-keyed join of that
    * (typically sparse) coverage array back to the documents scan,
    * and `array_except(sequence(1,L), covered)` — a codegen'd
    * single position-indexed filter pass over the materialized token
    * array — picks the surviving tokens. A first cut reassembled
    * documents relationally (explode to (id, position, token),
    * anti-join, re-sort) and benched 6.6 s at sf0.1 vs 1.4 s for this
    * shape: the relational route pays two extra exchanges that carry
    * token TEXT, and rebuilding a document is inherently doc-local
    * work — the same per-row bound as every other operator here that
    * slices a token array.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minCount: Int = 2): DataFrame = {
    require(n >= 2 && minCount >= 2, s"n=$n minCount=$minCount")
    // hash tokens ONCE into a materialized column, then hash windows
    // of n LONGS — element_at(split(...), i) inside the lambda would
    // re-split the text per element, O(L²) per doc (the minhash
    // expression-reuse trap; the multi-reference keeps CollapseProject
    // from re-inlining the split)
    val th = transform(split(col(textCol), " "), t => xxhash64(t))
    val winHashes = when(size(col("_th")) >= n,
      transform(sequence(lit(1), size(col("_th")) - (n - 1)),
        i => xxhash64((0 until n).map(k => element_at(col("_th"), i + k)): _*)))
      .otherwise(array().cast("array<bigint>"))
    // every window occurrence with its 1-based start position; feeds
    // both the count and the join back (q67/q71 stage boundary)
    val wins = df
      .withColumn("_th", th)
      .select(col(idCol), posexplode(winHashes).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("s"), col("h"))
      .transform(graft.Boundary.lazyLocal)
    val dupH = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("h"))
    // per-doc covered-position arrays — ints through the exchange
    val covered = wins.join(dupH, "h")
      .select(col(idCol),
        explode(sequence(col("s"), col("s") + (n - 1))).as("i"))
      .groupBy(col(idCol))
      .agg(collect_set(col("i")).as("cov"))
    // materialize the token array and the surviving-token array each
    // ONCE (multi-reference columns — same anti-collapse discipline),
    // then the output scalars are cheap array ops over them
    val covArr = coalesce(col("cov"), array().cast("array<int>"))
    df.join(covered, Seq(idCol), "left")
      .withColumn("_t", split(col(textCol), " "))
      .withColumn("_kept",
        filter(col("_t"), (_, i) => not(array_contains(covArr, i + 1))))
      .select(
        col(idCol),
        size(col("_t")).cast("long").as("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept"),
        (size(col("_t")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("clean_text"))
  }

  // ---- Corpus-level boilerplate detection ----------------------------

  /** Fraction of each document's distinct word `n`-grams that also
    * appear in at least `minDocs - 1` OTHER documents — high values
    * mean the document is assembled from corpus-common phrasing
    * (templates, navigation chrome, licence blocks). One row per
    * document with ≥ n tokens: (id, n_grams, dup_grams, dup_gram_frac).
    *
    * This is inherently a corpus-level statistic, so a shuffle is
    * honest — but the exchange carries (id, xxhash64(gram)) pairs, 16
    * bytes per distinct gram position, never gram text. Plan:
    * array_distinct (per-doc dedup is doc-local — scan-side, no
    * corpus-wide distinct exchange) → explode → gram doc-frequency
    * (map-side partial agg) → join doc-frequency back. The
    * doc-frequency side is gram-cardinality rows of 16 bytes; at
    * corpus scale AQE picks the join strategy (skew-splitting hot
    * grams), and the final aggregation re-uses the (id,) key.
    *
    * The distinct (id, gram) stage feeds BOTH join sides, so it is
    * localCheckpoint-ed: without the boundary Spark re-derives it from
    * the scan on each side — two full corpus explodes + exchanges
    * instead of one (observed in the q67 plan audit). In a production
    * pipeline this boundary is a written stage table; localCheckpoint
    * is its in-query analog (same argument as q48's stage boundary).
    */
  def boilerplateNgrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 1, s"n=$n minDocs=$minDocs")
    val docGrams = distinctWindowHashes(df, idCol, textCol, n)
      .transform(graft.Boundary.eagerLocal)
    val docFreq = docGrams
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
    docGrams
      .join(docFreq, "g")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("dup_grams"))
      .select(
        col(idCol), col("n_grams"), col("dup_grams"),
        (col("dup_grams").cast("double") / col("n_grams"))
          .as("dup_gram_frac"))
  }
}
