package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact two-sample Kolmogorov–Smirnov statistic, per group vs the
  * rest of the corpus — the distribution-shape complement of the PSI
  * monitor (q155): PSI needs binning and a reference quantile frame;
  * KS is binning-free, sensitive anywhere the CDFs separate, and the
  * standard "did this source's length/quality distribution drift"
  * gate (Massey 1951; the per-feature drift check in evidently-style
  * monitors).
  *
  * Exactness: D = sup_v |F_s(v) − F_rest(v)| is computed WITHOUT any
  * per-row division — the numerator
  * |cum_s·n_rest − cum_rest·n_s| is integer, carried in
  * DECIMAL(38,0) (cum ≤ N, so the product is ≤ N², within 38 digits
  * up to N = 10¹⁹ rows), and only the final per-group maximum pays
  * one pinned double division by n_s·n_rest, rounded to 6. A group
  * that IS the whole corpus (n_rest = 0) has no complement sample, so
  * its ks is NULL rather than an Infinity that poisons downstream
  * maxima. Both engines agree bit-exactly on every intermediate.
  *
  * Scale shape (r11 — no unpartitioned corpus-growable window): one
  * (group, value) count exchange over the scan; every later frame is
  * distinct-VALUE × groups sized. Both cumulative sums (`cumtot` over
  * the value table, `cum_grp` over the grid) are TWO-LEVEL prefix
  * sums — the q95 decomposition: values range-bucket into ≤1025
  * buckets monotone in v (bounds from a one-row broadcast min/max
  * frame), bucket-level offsets come from a window over the bounded
  * bucket table (≤1025 rows; per group for `cum_grp`), and only the
  * intra-bucket partial sums — expected |V|/1024 rows per task — pay
  * a sort. No single task ever orders the whole value domain, so the
  * operator survives a corpus-sized domain (micros timestamps,
  * continuous quality scores cast to fixed-point) instead of merely
  * assuming a bounded one. The decomposition is result-identical to
  * the single-window formulation, so the DuckDB oracle keeps the
  * plain `sum() OVER (ORDER BY v)` form.
  */
object KsDrift {

  private val NumBuckets = 1024

  /** Per-group two-sample KS of `valueCol` (integral) against the
    * rest of the corpus. Output: (groupCol, n_grp, ks, at_value) —
    * `at_value` the smallest value attaining the supremum; ks is NULL
    * when the group is the entire corpus (n_rest = 0).
    */
  def perGroupKs(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val d38 = "decimal(38,0)"
    // compute-once boundary (r15): the (group, value) count table
    // feeds FOUR consumers (bounds, the bucketed value table, the
    // group-cardinality frame, and the grid join) — un-checkpointed,
    // each consumer re-ran the corpus scan+aggregate
    val c = df.groupBy(col(groupCol), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.Boundary.eagerLocal)
    // one-row domain-bounds frame: range-bucket width so buckets are
    // monotone in v (DECIMAL(38,0) arithmetic — a full-long value
    // range must not overflow the subtraction)
    val bounds = c.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .select(col("vmin"),
        greatest(lit(1).cast(d38),
          ceil((col("vmax").cast(d38) - col("vmin").cast(d38) +
            lit(1).cast(d38)) / lit(NumBuckets)).cast(d38)).as("width"))
    val cb = c.crossJoin(broadcast(bounds))
      .withColumn("bkt",
        floor((col("v").cast(d38) - col("vmin").cast(d38)) /
          col("width")).cast("int"))
      .drop("vmin", "width")
    // global CDF over the distinct-value table, two-level:
    // bucket offsets (≤1025-row window) + intra-bucket partials
    val pv0 = cb.groupBy(col("v"), col("bkt"))
      .agg(sum(col("c")).as("ctot"))
    val boff = pv0.groupBy(col("bkt")).agg(sum(col("ctot")).as("btot"))
      .withColumn("off",
        coalesce(sum(col("btot")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val pv = pv0.join(boff, Seq("bkt"))
      .withColumn("cumtot",
        col("off") + sum(col("ctot"))
          .over(Window.partitionBy(col("bkt")).orderBy(col("v"))))
      .select(col("v"), col("bkt"), col("cumtot"))
    // group-cardinality frame: n_grp and the complement n_rest
    val s = c.groupBy(col(groupCol)).agg(sum(col("c")).as("n_grp"))
      .withColumn("n_rest",
        sum(col("n_grp")).over(Window.partitionBy()) - col("n_grp"))
    // per-group CDF over the grid, same two-level decomposition
    // (bucket window is per group, still ≤1025 rows per partition)
    val grid0 = pv.crossJoin(broadcast(s))
      .join(c, Seq(groupCol, "v"), "left")
      .withColumn("cg", coalesce(col("c"), lit(0L)))
    val goff = grid0.groupBy(col(groupCol), col("bkt"))
      .agg(sum(col("cg")).as("gbtot"))
      .withColumn("goff",
        coalesce(sum(col("gbtot")).over(Window.partitionBy(col(groupCol))
          .orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col("bkt"), col("goff"))
    val grid = grid0.join(goff, Seq(groupCol, "bkt"))
      .withColumn("cum_grp",
        col("goff") + sum(col("cg"))
          .over(Window.partitionBy(col(groupCol), col("bkt"))
            .orderBy(col("v"))))
      .withColumn("d_num",
        abs(col("cum_grp").cast(d38) * col("n_rest").cast(d38) -
          (col("cumtot") - col("cum_grp")).cast(d38) *
            col("n_grp").cast(d38)))
      // feeds the max reduce AND the argmin-value join below
      .transform(graft.Boundary.lazyLocal)
    val dmax = grid.groupBy(col(groupCol), col("n_grp"), col("n_rest"))
      .agg(max(col("d_num")).as("d_max"))
    dmax.join(grid.select(col(groupCol), col("v"),
          col("d_num").as("d_max")),
        Seq(groupCol, "d_max"))
      .groupBy(col(groupCol), col("n_grp"), col("n_rest"), col("d_max"))
      .agg(min(col("v")).as("at_value"))
      .select(col(groupCol), col("n_grp"),
        when(col("n_rest") > 0,
          round(col("d_max").cast("double") /
            (col("n_grp").cast(d38) * col("n_rest").cast(d38))
              .cast("double"), 6)).as("ks"),
        col("at_value"))
  }
}
