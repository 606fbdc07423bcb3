package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node triangle count + local clustering coefficient over an
  * undirected edge list given in canonical (a < b) orientation — the
  * duplication-structure diagnostic behind q175: a near-dup CLIQUE
  * (one document family) and a near-dup STAR (a boilerplate hub)
  * have identical degree histograms but opposite clustering.
  *
  * Compact-forward enumeration (Schank & Wagner 2005): every
  * triangle a < b < c is found exactly once by joining the edge list
  * to itself on b = a′ and checking (a, c) ∈ E — two keyed id-only
  * joins, no adjacency materialization, no node ever pairs beyond
  * its forward neighborhood. At skewed corpus scale the hot key is a
  * high-degree hub; AQE skew-join splitting (or degree-capping the
  * edge list upstream, the q130 df-cap discipline) bounds the
  * per-task fanout.
  */
object Triangles {

  /** `edges`: (a, b) with a < b, distinct. Output:
    * (doc_id, degree, triangles, cc) for every node with an edge;
    * cc = 2T/(d(d−1)) rounded to 6 (0.0 for degree-1 nodes).
    */
  def perNode(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
      .transform(graft.Boundary.lazyLocal)
    val e2 = e.select(col("a").as("a2"), col("b").as("b2"))
    val e3 = e.select(col("a").as("a3"), col("b").as("b3"))
    val tri = e.join(e2, col("b") === col("a2"))
      .join(e3, col("a") === col("a3") && col("b2") === col("b3"))
      .select(col("a"), col("b"), col("b2").as("c"))
    val tn = tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("t"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    deg.join(tn, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("t"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("cc"))
  }
}
