package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality: PageRank in exact integer fixed point.
  * Link-graph centrality is a standard corpus-curation signal (seed
  * quality / harmonic-centrality filtering in web-corpus pipelines),
  * and the dedup endgame already produces the graphs to rank
  * (near-dup pair graphs, user↔item click graphs).
  *
  * Arithmetic: ranks live in MICROS (longs, initial rank 1.0 =
  * 1 000 000, damping 0.85), and every step is integer — contribution
  * `r div outdeg`, update `150000 + (850·Σcontrib) div 1000`. Exact,
  * order-independent, and replayable in SQL by unrolling the same
  * five integer steps — no float drift across iterations, engines,
  * or retries. The floor-division rounding loses < 1 micro per edge
  * per step vs real division, irrelevant to a ranking signal and the
  * price of a bit-exact iterative computation.
  *
  * Scale shape: the classic iterative join — edges ⋈ ranks on src
  * (one keyed exchange per iteration), contributions map-side
  * combined into the dst aggregation. The loop builds ONE static
  * plan: each step's aggregation leaves ranks hash-partitioned on
  * `node`, which IS the next join's `src` key, so Catalyst reuses
  * the partitioning instead of re-exchanging both sides — a
  * per-iteration `localCheckpoint` would sever exactly that
  * (ExistingRDD forgets its partitioning; measured 9 s → 2 s at
  * sf0.1 dropping it). Lineage is bounded by the fixed iteration
  * count, with a checkpoint stage boundary every 8 steps as the
  * deep-loop backstop (the DupClusters discipline applies only
  * there). The edge list and degree table are checkpointed once —
  * they feed every iteration. Dangling nodes are the caller's
  * contract: pass a symmetrized edge set (or pre-drop sinks) so
  * every node has outdegree ≥ 1.
  */
object GraphRank {

  /** Synchronous label propagation (the Zhu/Ghahramani semi-
    * supervised labeling scheme in its exact-count form): `iters`
    * rounds where every node adopts the MAJORITY label among its
    * labeled neighbors — count desc, label asc tie-break, a total
    * order, so the fixpoint is engine-independent — while `seeds`
    * stay clamped. The corpus-curation use: spread a small set of
    * trusted labels (human-audited docs, known-domain items) over a
    * similarity/interaction graph.
    *
    * Each round is one keyed (neighbor-count) aggregation + one
    * argmin window per node, both hash-partitioned on the node id —
    * the 100 TB shape; the label frontier only grows, and the round
    * count is a config constant, so plan depth is bounded (each round
    * is localCheckpoint-ed like the PageRank loop).
    *
    * `edges`: directed (src, dst) — pass both directions for an
    * undirected graph. `seeds`: (node, label). Returns (node, label)
    * for every node labeled after `iters` rounds.
    */
  def labelPropagate(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters=$iters")
    import org.apache.spark.sql.expressions.Window
    val e = edges.transform(graft.Boundary.lazyLocal)
    val s = seeds.transform(graft.Boundary.lazyLocal)
    var lab = s
    for (_ <- 1 to iters) {
      val win = e.join(lab, e("src") === lab("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("dst"))
            .orderBy(col("cnt").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
      lab = s.unionByName(win.join(s, Seq("node"), "left_anti"))
        .transform(graft.Boundary.lazyLocal)
    }
    lab
  }

  /** `edges`: DISTINCT directed (src, dst) rows, every src with
    * outdegree ≥ 1 and every node appearing as a dst at least once
    * (both hold for a symmetrized graph). Output: (node, rank_m)
    * after `iters` exact integer PageRank steps.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters=$iters")
    // checkpoint once (edges feed every iteration), then hash-
    // partition on the join key so all five edge⋈ranks joins and the
    // degree aggregation share ONE ReusedExchange instead of five
    // edge-side shuffles
    val ed = edges.transform(graft.Boundary.lazyLocal).repartition(col("src"))
    val deg = ed.groupBy("src").agg(count(lit(1)).as("deg"))
      .transform(graft.Boundary.lazyLocal)
    var ranks = ed.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
    for (i <- 1 to iters) {
      ranks = ed
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy("node")
        .agg(expr("cast(150000 + (850 * sum(c)) div 1000 as bigint)").as("r"))
      if (i % 8 == 0 && i < iters)
        ranks = ranks.transform(graft.Boundary.lazyLocal)
    }
    ranks.select(col("node"), col("r").as("rank_m"))
  }
}
