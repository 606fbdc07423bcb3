package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{IndexMaintenance, KMeansExact, ProductQuant, Similarity}
import graft.sources.ArtifactGuard

/** Round-10 embedding-geometry battery: Matryoshka truncation recall
  * (q178) and product-quantization ADC search (q180) — the two
  * storage/recall trade-offs a 100 TB embedding store actually
  * deploys (truncate dimensions vs quantize them), measured against
  * the exact q28 baseline with the registry's determinism contracts.
  */
object VectorQueries {

  private val MrlDims = Seq(8, 16, 32, 64)

  // PQ layout: 64 dims → 8 subspaces × 8 dims, 32 centroids each
  // (8 × 5 = 40 code bits/vector), 4 exact-Lloyd rounds — codes are
  // 8 small ints per vector (8 bytes at k ≤ 256), a 32× compression
  // of the float vector
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 32
  private val PqIters = 4
  private val PqOverfetch = 100

  private[queries] def pqArtifactDir(dir: String): String =
    graft.sources.Artifacts.dir("pq", dir,
      s"m${PqM}_sd${PqSubDim}_k${PqK}_i$PqIters")

  private def sharedPq(s: org.apache.spark.sql.SparkSession, dir: String,
      emb: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    ProductQuant.buildIfAbsent(s, emb, pqArtifactDir(dir), PqM, PqSubDim,
      PqK, PqIters, fingerprint = Some(ArtifactGuard
        .dataFingerprint(s, s"$dir/embeddings.parquet")))

  // coarse quantizer for the CDC-maintained index (q191): exact-Lloyd
  // so the fitted assignment arithmetic is SQL-replayable
  private val CdcK = 8
  private val CdcIters = 2

  private[queries] def ivfCdcDir(dir: String): String =
    graft.sources.Artifacts.dir("ivfcdc", dir, s"k${CdcK}_i$CdcIters")

  /** Load (postings, fitted centroid model) for the CDC index,
    * training + saving both halves unless fresh (the offline indexing
    * job, learn-once like the PQ/IVF artifacts). Postings are (id,
    * cluster); centroids persist as the (cluster, j, c) DECIMAL(18,6)
    * table the oracle replays assignment from.
    */
  private def sharedIvfCdc(s: org.apache.spark.sql.SparkSession,
      dir: String, base: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame,
        Map[(Int, Int), java.math.BigDecimal]) = {
    val path = ivfCdcDir(dir)
    ArtifactGuard.once(s, path, Some(ArtifactGuard
        .dataFingerprint(s, s"$dir/embeddings.parquet"))) {
      val (assigned, cent) = KMeansExact
        .assignAndModel(base, "id", "embedding", CdcK, CdcIters)
      cent.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids")
      assigned.select(col("id"), col("cluster"))
        .write.mode("overwrite").parquet(s"$path/postings")
    } {
      val model = Tables.read(s, s"$path/centroids").collect()
        .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("j")) ->
          r.getAs[java.math.BigDecimal]("c").setScale(6))
        .toMap
      (Tables.read(s, s"$path/postings"), model)
    }
  }

  /** One truncated-space exact-top-k CTE chain (the q28 arithmetic
    * verbatim, over the m-prefix of every vector).
    */
  private def mrlCtes(m: Int): String = s"""
        t$m AS (SELECT id, v[1:$m] AS v FROM e),
        p$m AS (
          SELECT q.id AS query_id, c.id AS neighbor_id,
                 round(list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.v, c.v))), 9) AS cosine
          FROM t$m q JOIN t$m c ON c.id <> q.id
          WHERE q.id < 20),
        r$m AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM p$m),
        k$m AS (SELECT query_id, neighbor_id FROM r$m WHERE rnk <= 5)"""

  /** PQ asymmetric-distance tables for the unit query vectors
    * `q(query_id, v)` against the codebook and codes saved under `pq`:
    * `dtab(query_id, m, cluster, sub_d2)` holds each query's exact
    * DECIMAL squared distance to every centroid of every subspace, and
    * `codes(id, m, code)` every vector's code.
    */
  private def pqAdcTables(pq: String): String = s"""qd AS (
          SELECT query_id, (i - 1) // $PqSubDim AS m,
                 (i - 1) % $PqSubDim AS j,
                 CAST(round(v[i], 6) AS DECIMAL(18,6)) AS qx
          FROM q, LATERAL unnest(range(1, len(v) + 1)) AS t(i)),
        cb AS (
          SELECT m, cluster, j, CAST(c AS DECIMAL(18,6)) AS c
          FROM read_parquet('$pq/codebook/*.parquet')),
        dtab AS (
          SELECT query_id, qd.m, cluster,
                 sum(CAST(qx - c AS DECIMAL(18,6)) *
                     CAST(qx - c AS DECIMAL(18,6))) AS sub_d2
          FROM qd JOIN cb ON cb.m = qd.m AND cb.j = qd.j
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT id, m, code
          FROM read_parquet('$pq/codes/*.parquet'))"""

  /** Exact rescore of the ADC shortlist `short(query_id, neighbor_id)`
    * by 9-decimal cosine over `embeddings`: the top 5 per query (ties
    * on neighbor_id), as the query's rows.
    */
  private val pqRescored: String = """e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS n
          FROM embeddings),
        resc AS (
          SELECT s.query_id, s.neighbor_id,
                 round(list_dot_product(eq.v, ec.v) / (eq.n * ec.n), 9)
                   AS cosine
          FROM short s
          JOIN e eq ON eq.id = s.query_id
          JOIN e ec ON ec.id = s.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM resc)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY query_id, rnk"""

  def defs: Seq[QueryDef] = Seq(

    // ---- q178: Matryoshka truncation recall curve ----
    // MRL (Kusupati et al. 2022) deployment question: how much
    // top-k recall survives keeping only the first m dimensions?
    // Exact top-5 in each truncated space vs the full-dimension
    // exact top-5, recall@5 per m — the report that picks the
    // serving dimension before anyone re-embeds a corpus. The
    // m = 64 row is the built-in sanity anchor (recall exactly 1).
    // All-pairs by documented intent (the q28/q123 family): queries
    // are a bounded broadcast frame; the 100 TB path runs the same
    // truncation under the q45/q46 LSH/IVF candidate generation.
    QueryDef(
      "q178_mrl_recall",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val full = Similarity.bruteForceTopK(
            emb, emb.filter(col("id") < 20), k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .transform(graft.Boundary.lazyLocal)
        val denom = full.agg(count(lit(1)).as("total"))
        val perDim = MrlDims.map { m =>
          val t = emb.select(col("id"), slice(col("vec"), 1, m).as("vec"))
          Similarity.bruteForceTopK(t, t.filter(col("id") < 20), k = 5)
            .join(full, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
            .select(lit(m).as("dim"), col("hits"))
        }.reduce(_ union _)
        perDim.crossJoin(broadcast(denom))
          .select(col("dim"), col("hits"),
            round(col("hits").cast("double") /
              col("total").cast("double"), 6).as("recall"))
          .orderBy(col("dim"))
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        ${MrlDims.map(mrlCtes).mkString(",\n")},
        denom AS (SELECT count(*) AS total FROM k64),
        hits AS (
          ${MrlDims.map(m =>
            s"""SELECT $m AS dim, count(*) AS hits
              FROM k$m t JOIN k64 f USING (query_id, neighbor_id)""")
            .mkString("\n          UNION ALL\n          ")})
        SELECT dim, hits,
               round(hits::DOUBLE / total::DOUBLE, 6) AS recall
        FROM hits CROSS JOIN denom
        ORDER BY dim""")),

    // ---- q180: product-quantization ADC shortlist + exact rescore ----
    // The production PQ probe (Jégou et al. 2011, deployed as in
    // IVF-PQ/FAISS): codebooks + codes are the prebuilt artifact
    // (the q46 offline/online split); the ADC pass ranks the WHOLE
    // corpus from 8-byte codes alone (the float vectors never move),
    // and only the top-`overfetch` shortlist pays an exact cosine
    // rescore — the q82 overfetch discipline, because 40-bit codes
    // over unstructured embeddings carry quantization noise
    // comparable to the neighbor gaps (measured: shortlist
    // recall@5 = 0.62/0.81/0.93 at overfetch 20/50/100 on sf0.01).
    // Vectors are L2-NORMALIZED before quantization
    // (‖u−v‖² = 2 − 2·cos on the unit sphere) so ADC chases the
    // COSINE order; the rescore is the q28 arithmetic verbatim. The
    // oracle replays the exact DECIMAL ADC from the SAME parquet
    // artifacts. Recall + probe-all exactness gated in AnnSpec.
    QueryDef(
      "q180_pq_adc",
      (s, dir) => {
        val raw = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val (codebook, codes) = sharedPq(s, dir,
          ProductQuant.normalize(raw))
        ProductQuant.rescoredTopK(raw, raw.filter(col("id") < 20),
            codebook, codes, subDim = PqSubDim, kTop = 5,
            overfetch = PqOverfetch)
          .orderBy(col("query_id"), col("rnk"))
      },
      None, oracleFn = Some(dir => s"""
        WITH q0 AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS v0,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS nm
          FROM embeddings WHERE vec_id < 20),
        q AS (
          SELECT query_id, list_transform(v0, x -> x / nm) AS v
          FROM q0),
        ${pqAdcTables(pqArtifactDir(dir))},
        cand AS (
          SELECT d.query_id, codes.id AS neighbor_id,
                 sum(d.sub_d2) AS adist_x
          FROM codes JOIN dtab d
            ON d.m = codes.m AND d.cluster = codes.code
          WHERE codes.id <> d.query_id
          GROUP BY 1, 2),
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adist_x, neighbor_id) AS rnk
            FROM cand)
          WHERE rnk <= $PqOverfetch),
        $pqRescored""")),

    // ---- q190: IVF-PQ probe (coarse cells → ADC → exact rescore) ----
    // The FAISS-at-scale index layout, composed from the registry's
    // two existing artifacts: q46's coarse quantizer bounds the
    // candidate set to the probed cells (id-only postings,
    // partition-pruned), q180's PQ codes ADC-rank just those
    // candidates (8-byte codes, one id-keyed join — the only
    // corpus-bounded exchange), and float vectors move only for the
    // top-overfetch exact rescore. Oracle replays all three tiers
    // from the SAME parquet artifacts; probe-all + overfetch-all
    // degenerates to brute force (AnnSpec).
    QueryDef(
      "q190_ivfpq",
      (s, dir) => {
        val raw = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val idx = DedupQueries.sharedIvfIndex(s, dir, raw)
        val (codebook, codes) = sharedPq(s, dir,
          ProductQuant.normalize(raw))
        ProductQuant.ivfPqRescoredTopK(raw, raw.filter(col("id") < 20),
            idx, codebook, codes, subDim = PqSubDim, kTop = 5,
            nProbe = DedupQueries.ivfNProbe(dir), overfetch = PqOverfetch)
          .orderBy(col("query_id"), col("rnk"))
      },
      None, oracleFn = Some(dir => s"""
        WITH qraw AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS qn
          FROM embeddings WHERE vec_id < 20),
        cent AS (
          SELECT CAST(list_id AS INT) AS list_id, centroid
          FROM read_parquet(
            '${DedupQueries.ivfArtifactDir(dir)}/centroids/*.parquet')),
        probes AS (
          SELECT query_id, list_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, list_id) AS pr
          FROM (
            SELECT query_id, list_id, list_dot_product(d, d) AS d2 FROM (
              SELECT q.query_id, c.list_id,
                     list_transform(list_zip(q.qv, c.centroid),
                                    p -> p[1] - p[2]) AS d
              FROM qraw q CROSS JOIN cent c))),
        po AS (
          SELECT CAST(list_id AS INT) AS list_id, neighbor_id
          FROM read_parquet(
            '${DedupQueries.ivfArtifactDir(dir)}/assigned/*/*.parquet',
            hive_partitioning = true)),
        cand AS (
          SELECT p.query_id, po.neighbor_id
          FROM probes p JOIN po ON po.list_id = p.list_id
          WHERE p.pr <= ${DedupQueries.ivfNProbe(dir)}
            AND po.neighbor_id <> p.query_id),
        q AS (
          SELECT query_id, list_transform(qv, x -> x / qn) AS v
          FROM qraw),
        ${pqAdcTables(pqArtifactDir(dir))},
        adist AS (
          SELECT c.query_id, c.neighbor_id,
                 sum(d.sub_d2) AS adist_x
          FROM cand c
          JOIN codes ON codes.id = c.neighbor_id
          JOIN dtab d
            ON d.query_id = c.query_id AND d.m = codes.m
            AND d.cluster = codes.code
          GROUP BY 1, 2),
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adist_x, neighbor_id) AS rnk
            FROM adist)
          WHERE rnk <= $PqOverfetch),
        $pqRescored""")),

    // ---- q191: incremental index maintenance via CDC ----
    // The composition the CDC primitive exists for (SCALE.md §12):
    // a re-crawl lands as v2; the coarse-quantizer postings update
    // from the CHANGE SET (removed/changed ids leave, changed/added
    // vectors re-assign under the saved fitted centroids) instead of
    // re-assigning the corpus. The gate proves the whole point:
    // update(postings_v1, changeSet(v1, v2)) must equal a FULL
    // REBUILD of v2's assignment — the oracle independently
    // re-assigns every v2 vector from the saved centroid artifact
    // (exact-decimal distances, (d2, cluster) argmin — the q143
    // arithmetic), so unchanged postings, evictions and fresh
    // assignments are all hash-checked. The change fingerprint is
    // the 6-decimal canonical vector rendering — the SAME granularity
    // the assignment arithmetic sees, so "unchanged" is exactly
    // "cannot move a cell". v2 is a deterministic re-crawl: ids %17
    // vanish, ids %13 re-embed (negated vectors — every coordinate
    // moves), ids %19 arrive anew (reversed vectors, shifted ids).
    QueryDef(
      "q191_ivf_cdc",
      (s, dir) => {
        val base = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding"))
        val (postings, model) = sharedIvfCdc(s, dir, base)
        val v2 = base.filter(col("id") % 17 =!= 0)
          .withColumn("embedding", when(col("id") % 13 === 0,
            transform(col("embedding"), x => negative(x)))
            .otherwise(col("embedding")))
          .unionByName(base.filter(col("id") % 19 === 0)
            .select((col("id") + lit(5000000L)).as("id"),
              reverse(col("embedding")).as("embedding")))
        IndexMaintenance
          .updatePostings(postings, base, v2, "id", "embedding", model)
          .select(col("id").as("vec_id"), col("cluster"))
          .orderBy(col("vec_id"))
      },
      None,
      oracleFn = Some { dir =>
        val path = ivfCdcDir(dir)
        s"""
        WITH cent AS (
          SELECT cluster, j, CAST(c AS DECIMAL(18,6)) AS c
          FROM read_parquet('$path/centroids/*.parquet')),
        v2 AS (
          SELECT vec_id,
                 CASE WHEN vec_id % 13 = 0
                      THEN list_transform(embedding, e -> -e)
                      ELSE embedding END AS embedding
          FROM embeddings WHERE vec_id % 17 <> 0
          UNION ALL
          SELECT vec_id + 5000000, list_reverse(embedding)
          FROM embeddings WHERE vec_id % 19 = 0),
        x2 AS (
          SELECT vec_id AS id, CAST(j - 1 AS INT) AS j,
                 CAST(round(CAST(embedding[j] AS DOUBLE), 6)
                   AS DECIMAL(18,6)) AS x
          FROM v2, LATERAL unnest(range(1, len(embedding) + 1)) AS t(j)),
        d AS (
          SELECT x2.id, cent.cluster,
                 sum(CAST(x2.x - cent.c AS DECIMAL(18,6))
                     * CAST(x2.x - cent.c AS DECIMAL(18,6))) AS d2
          FROM x2 JOIN cent ON x2.j = cent.j
          GROUP BY 1, 2),
        a AS (
          SELECT id, cluster,
                 row_number() OVER (PARTITION BY id
                   ORDER BY d2, cluster) AS rn
          FROM d)
        SELECT id AS vec_id, cluster FROM a WHERE rn = 1
        ORDER BY vec_id"""
      })
  )
}
