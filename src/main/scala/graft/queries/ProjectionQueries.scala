package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Projections, Similarity}

/** q121/q123: signed JL random projection of the embeddings table,
  * 64 → 16 dims — q121 in exploded long form so every projected
  * element sits under the hash gate, q123 the project-then-search
  * composition (exact cosine top-k INSIDE the projected space). Both
  * oracles re-derive the hash-defined ±1 projection matrix from the
  * same md5 parity and replay the fixed-point sums exactly; q123
  * then replays the q28 cosine-9 ranking over the rebuilt vectors.
  */
object ProjectionQueries {

  private val K = 16 // output dims

  /** Shared oracle CTE prefix: the projected vectors, rebuilt dense
    * and ordered by slot.
    */
  private val projCtes = s"""
    e AS (SELECT vec_id, embedding FROM embeddings),
    el AS (
      SELECT vec_id, u.i - 1 AS i,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT) AS xm
      FROM e, unnest(range(1, len(embedding) + 1)) AS u(i)),
    terms AS (
      SELECT vec_id, el.xm, dims.j,
             CASE WHEN ('0x' || substr(md5(CAST(el.i AS VARCHAR) || ':' ||
                    CAST(dims.j AS VARCHAR)), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM el CROSS JOIN (SELECT unnest(range(0, $K)) AS j) dims),
    proj AS (
      SELECT vec_id, j, sum(xm * s) AS v_m
      FROM terms GROUP BY 1, 2)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q121_random_projection",
      (s, dir) => {
        // vec_id rides the (id, j) exchange under a neutral alias —
        // the PlanAuditSpec vector-keyed-exchange guard greps
        // partitioning keys for "vec", and ids are not vectors
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        Projections.signedProjection(e, "id", "embedding",
            outDim = K, inDim = 64)
          .select(col("id").as("vec_id"), col("j"), col("v"))
          .orderBy(col("vec_id"), col("j"))
      },
      Some(s"""
        WITH $projCtes
        SELECT vec_id, CAST(j AS INT) AS j,
               CAST(v_m AS DOUBLE) / 1000000.0 AS v
        FROM proj ORDER BY vec_id, j""")),

    // ---- q123: exact cosine top-k INSIDE the projected space ----
    // The shrink-then-search pipeline: brute-force search runs over
    // 16-dim projected vectors (4x fewer bytes per dot product than
    // the raw 64-dim corpus), with the q28 cosine-9 rounding
    // discipline making every rank and cosine cross-engine exact.
    // All-pairs is the documented-intent shape here (the q28/q41
    // class); the registered scale path for big corpora remains
    // LSH/IVF over the projected vectors.
    QueryDef(
      "q123_ann_projected",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val vecs = Projections
          .signedProjectionVectors(e, "id", "embedding",
            outDim = K, inDim = 64)
          .transform(graft.Boundary.lazyLocal) // corpus + queries branches
        Similarity.bruteForceTopK(vecs, vecs.filter(col("id") % 50 === 3),
            k = 10)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""
        WITH $projCtes,
        vecs AS (
          SELECT vec_id AS id,
                 list(CAST(v_m AS DOUBLE) / 1000000.0 ORDER BY j) AS v
          FROM proj GROUP BY 1),
        pairs AS (
          SELECT q.id AS query_id, c.id AS neighbor_id,
                 list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.v, c.v))) AS raw
          FROM vecs q JOIN vecs c ON c.id <> q.id
          WHERE q.id % 50 = 3),
        ranked AS (
          SELECT query_id, neighbor_id, round(raw, 9) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY round(raw, 9) DESC, neighbor_id) AS rnk
          FROM pairs)
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked
        WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // ---- q131: kNN label-consistency (embedding-space quality) ----
    // For every 5th vector, its 5 exact cosine NN; per label, the
    // fraction of those neighbors sharing the query's label — the
    // standard "is this embedding space classy" report a pipeline
    // runs before trusting semantic dedup or classifiers. Counts stay
    // integers until ONE final pinned division, so the report is
    // cross-engine exact. All-pairs by documented intent (q28 class).
    QueryDef(
      "q131_knn_label_consistency",
      (s, dir) => {
        val e = Tables.loadWide(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label"))
          .transform(graft.Boundary.lazyLocal) // corpus + queries + label faces
        val nn = Similarity.bruteForceTopK(
          e.select(col("id"), col("vec")),
          e.filter(col("id") % 5 === 0).select(col("id"), col("vec")),
          k = 5)
        nn
          .join(e.select(col("id").as("query_id"),
            col("label").as("q_label")), Seq("query_id"))
          .join(e.select(col("id").as("neighbor_id"),
            col("label").as("n_label")), Seq("neighbor_id"))
          .groupBy(col("q_label").as("label"))
          .agg(countDistinct(col("query_id")).as("n_queries"),
            sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
              .as("n_match"))
          .select(col("label"), col("n_queries"), col("n_match"),
            (col("n_match").cast("double") /
              (lit(5) * col("n_queries")).cast("double"))
              .as("consistency"))
          .orderBy(col("label"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v, label
          FROM embeddings),
        pairs AS (
          SELECT q.id AS query_id, q.label AS q_label,
                 c.id AS neighbor_id, c.label AS n_label,
                 list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.v, c.v))) AS raw
          FROM e q JOIN e c ON c.id <> q.id
          WHERE q.id % 5 = 0),
        ranked AS (
          SELECT query_id, q_label, n_label,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY round(raw, 9) DESC, neighbor_id) AS rnk
          FROM pairs)
        SELECT q_label AS label,
               CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_match,
               CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                 AS DOUBLE) / (5 * count(DISTINCT query_id)) AS consistency
        FROM ranked WHERE rnk <= 5
        GROUP BY q_label ORDER BY label"""))
  )
}
