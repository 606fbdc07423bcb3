package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** UniMax-style token-budget water-filling (Chung et al. 2023,
  * arXiv:2304.09151): spread a total token budget B over sources as
  * uniformly as possible subject to a per-source epoch cap — no
  * source is sampled more than `epochCap` times its own token count,
  * and budget a capped (small) source cannot absorb spreads evenly
  * over the remaining sources. The mixture rule UniMax showed
  * dominates temperature sampling (q163) for multilingual corpora:
  * temperature still over-samples the head and has a free parameter;
  * water-filling has none beyond the epoch cap.
  *
  * Closed form instead of the paper's sequential greedy: with caps
  * c_s = E·n_s sorted ascending and prefix sums P, source i is capped
  * iff P_{i−1} + c_i·(k−i+1) ≤ B, and the capped set is a PREFIX of
  * the sort order (if i passes the test, so does every j < i — the
  * proof is inlined at the window below), so one pass of window
  * arithmetic replaces the loop. Every uncapped source receives the
  * water level τ = (B − P_m)/(k − m).
  *
  * Exactness: caps, prefix sums, and the budget stay integer
  * end-to-end; τ is emitted micro-scaled by ONE 128-bit integral
  * division (`div` over DECIMAL(38,0) — the q163 draws shape), so
  * both engines render identical BIGINTs; only the reader-facing
  * `epochs` column pays a pinned double division rounded to 6.
  *
  * Scale: callers reduce the corpus to a per-source count frame
  * first (ONE exchange); the water-fill itself — including its
  * unpartitioned window — runs on that |sources|-row frame, which is
  * domain-bounded, never corpus-sized (PlanAuditSpec's
  * boundedGlobalWindows contract).
  */
object Budgeting {

  /** Water-fill `budNum/budDen · Σn` tokens over the groups of
    * `counts` (groupCol, nCol long), capping each group at
    * `epochCap · n`. Output: (groupCol, nCol, cap_tokens, capped,
    * alloc_micro, epochs).
    */
  def waterFill(counts: DataFrame, groupCol: String, nCol: String,
      epochCap: Long, budNum: Long, budDen: Long): DataFrame = {
    require(epochCap > 0 && budNum > 0 && budDen > 0,
      s"epochCap/budget fraction must be positive: " +
        s"$epochCap, $budNum/$budDen")
    // `counts` is typically a corpus reduce and feeds TWO consumers
    // (the budget total and the cap frame), and the cap frame feeds
    // two more — checkpoint both so the corpus pays its scan ONCE
    // (the q67 multi-consumer discipline; without this the water-fill
    // plan re-derives the per-source reduce four times)
    val cnts = counts.transform(graft.Boundary.lazyLocal)
    val tot = cnts.agg(sum(col(nCol)).as("t"), count(lit(1)).as("k"))
      .select(expr(s"cast(t as decimal(38,0)) * $budNum div $budDen")
        .as("budget"), col("k"))
    // caps ascend along the window, so "capped" rows form a prefix:
    // if i is capped then for j = i−1,
    // P_{j−1} + c_j·(k−j+1) = P_{i−1} + c_j·(k−i+1)
    //                       ≤ P_{i−1} + c_i·(k−i+1) ≤ B.
    val w = Window.orderBy(col("cap"), col(groupCol))
    val c = cnts.select(col(groupCol), col(nCol),
        (col(nCol) * epochCap).as("cap"))
      .crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(w))
      .withColumn("pprev", coalesce(sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped",
        col("pprev").cast("decimal(38,0)") +
          col("cap").cast("decimal(38,0)") *
          (col("k") - col("rn") + 1).cast("decimal(38,0)") <=
          col("budget"))
      .transform(graft.Boundary.lazyLocal)
    val mf = c.agg(
      coalesce(sum(when(col("capped"), col("cap"))), lit(0L))
        .as("p_m"),
      coalesce(sum(when(col("capped"), lit(1L))), lit(0L)).as("m"))
    c.crossJoin(broadcast(mf))
      .withColumn("alloc_micro",
        when(col("capped"),
          (col("cap").cast("decimal(38,0)") * 1000000).cast("long"))
        .otherwise(expr(
          """(cast(budget as decimal(38,0)) -
               cast(p_m as decimal(38,0))) * 1000000
             div cast(k - m as decimal(38,0))""")))
      .select(col(groupCol), col(nCol), col("cap").as("cap_tokens"),
        col("capped"), col("alloc_micro"),
        // n = 0 means cap 0, capped, alloc 0 — epochs is 0, not NaN
        // (the same guard materializeSample's `_w` applies)
        when(col(nCol) > 0,
          round(col("alloc_micro").cast("double") /
            (col(nCol).cast("double") * 1000000d), 6))
          .otherwise(lit(0.0)).as("epochs"))
  }

  /** Materialize a [[waterFill]] allocation into an epoch-stamped
    * sample MANIFEST — the executable form of the budget: per group,
    * every document appears once per whole epoch (epoch 0 .. w−1,
    * w = ⌊alloc / n⌋) and the FRACTIONAL last epoch (index w) takes
    * documents in consistent Knuth-hash order until the remainder
    * tokens are spent — q95's prefix semantics (≤ 1 doc overshoot),
    * through the same two-level prefix-sum decomposition, with the
    * remainder budgets coming from the allocation frame instead of a
    * constant. The output (id, group, tokens, epoch) is what a
    * shard writer (q77) ingests: deterministic, repartition-invariant,
    * and exactly reproducible from the corpus + the allocation.
    *
    * Scale: whole-epoch replication is scan-local
    * (`explode` of a per-group constant-length sequence — no
    * exchange); the fractional epoch pays q95's bucket-table window +
    * boundary-bucket sort; the allocation/epoch frames are
    * group-cardinality-sized broadcasts.
    */
  def materializeSample(d: DataFrame, idCol: String, tokCol: String,
      groupCol: String, alloc: DataFrame, nCol: String): DataFrame = {
    val plan = alloc.select(col(groupCol),
        expr("cast(alloc_micro as decimal(38,0)) div 1000000")
          .as("_atok"),
        col(nCol).cast("long").as("_n"))
      .select(col(groupCol), col("_atok"),
        when(col("_n") > 0,
          expr("cast(_atok as decimal(38,0)) div cast(_n as decimal(38,0))"))
          .otherwise(lit(0L)).as("_w"), col("_n"))
      .select(col(groupCol), col("_w"),
        (col("_atok") - col("_w") * col("_n")).as("_rem"))
      // three consumers (whole epochs, fractional budgets, the epoch
      // index join) — checkpoint so the allocation pipeline above it
      // (and ITS corpus reduce) runs once
      .transform(graft.Boundary.lazyLocal)
    val rows = d.select(col(idCol), col(groupCol),
      coalesce(col(tokCol).cast("long"), lit(0L)).as("tokens"))
    val whole = rows.join(broadcast(plan), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("tokens"),
        explode(when(col("_w") > 0,
          sequence(lit(0L), col("_w") - 1)).otherwise(
          array().cast("array<bigint>"))).as("epoch"))
    val frac = CorpusOps.tokenBudgetSamplePerClass(rows, idCol,
        "tokens", groupCol,
        plan.select(col(groupCol), col("_rem")))
      .join(broadcast(plan.select(col(groupCol), col("_w"))),
        Seq(groupCol))
      .select(col(idCol), col(groupCol), col("tokens"),
        col("_w").as("epoch"))
    whole.unionByName(frac)
  }
}
