package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Containment, Dsir, Similarity}

/** Round-9 curation battery: DSIR importance selection, margin-
  * criterion embedding alignment, α-temperature source sampling, and
  * rare-shingle containment dedup — four public techniques the
  * trained-model family (q136–q160) doesn't cover. Same contracts as
  * everywhere: exact fixed-point arithmetic, full DuckDB replay,
  * SCALE.md §1 plan shapes.
  */
object CurationQueries {

  private val DsirBuckets = 512

  /** `tok(source, n_tokens)`: whitespace tokens per source. */
  private val sourceTokens: String = """tok AS (
          SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY 1)"""

  /** UniMax water-fill over `tok` with epoch cap E = 2 and budget
    * B = ⌊1.8·Σn⌋ (`Budgeting.waterFill`): `tot(t, budget, k)` holds
    * Σn, B and the source count, `cc` each source's cap, rank and
    * `capped` flag, `mf(p_m, m)` the capped prefix's token sum and
    * size, and `alloc(source, n_tokens, cap_tokens, capped,
    * alloc_micro)` each source's micro-scaled token allocation.
    */
  private val unimaxAlloc: String = s"""$sourceTokens,
        tot AS (
          SELECT sum(CAST(n_tokens AS HUGEINT)) AS t,
                 sum(CAST(n_tokens AS HUGEINT)) * 9 // 5 AS budget,
                 CAST(count(*) AS BIGINT) AS k
          FROM tok),
        c AS (
          SELECT source, n_tokens, n_tokens * 2 AS cap, budget, k,
                 ROW_NUMBER() OVER
                   (ORDER BY n_tokens * 2, source) AS rn,
                 coalesce(sum(n_tokens * 2) OVER
                   (ORDER BY n_tokens * 2, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS pprev
          FROM tok CROSS JOIN tot),
        cc AS (
          SELECT *,
                 (CAST(pprev AS HUGEINT) +
                  CAST(cap AS HUGEINT) * (k - rn + 1)) <= budget
                   AS capped
          FROM c),
        mf AS (
          SELECT coalesce(sum(CASE WHEN capped THEN cap END), 0)
                   AS p_m,
                 coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS m
          FROM cc),
        alloc AS (
          SELECT cc.source, cc.n_tokens, cc.cap AS cap_tokens,
                 cc.capped,
                 CAST(CASE WHEN cc.capped
                      THEN CAST(cc.cap AS HUGEINT) * 1000000
                      ELSE (cc.budget - CAST(mf.p_m AS HUGEINT))
                             * 1000000 // CAST(cc.k - mf.m AS HUGEINT)
                      END AS BIGINT) AS alloc_micro
          FROM cc CROSS JOIN mf)"""

  def defs: Seq[QueryDef] = Seq(

    // ---- q161: DSIR importance-weighted selection ----
    // Xie et al. 2023: hashed-n-gram importance weights of the
    // target distribution (here lang='en') against the raw rest,
    // thresholded at the corpus 80th percentile (a one-row broadcast
    // plan literal — the q160 ranking-gate lesson: absolute
    // thresholds don't transfer across corpora, quantile gates do).
    QueryDef(
      "q161_dsir_select",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        // compute-once boundary (r16, guide §2.4): the threshold's
        // broadcast subtree and the selection scan both consume the
        // DSIR weights — without it the whole hashed-n-gram pipeline
        // runs twice (the q199/q160 class)
        val w = Dsir.importanceWeights(d, "doc_id", "text",
          col("lang") === "en", DsirBuckets)
          .select(col("doc_id"), col("logw").cast("double").as("logw"))
          .transform(graft.Boundary.lazyLocal)
        val thr = w.agg(
          round(expr("percentile(logw, 0.8)"), 6).as("thr"))
        w.crossJoin(broadcast(thr))
          .select(col("doc_id"), col("logw"),
            (col("logw") >= col("thr")).as("selected"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH tk AS (
          SELECT doc_id, coalesce(lang = 'en', FALSE) AS tgt,
                 string_split(text, ' ') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, tgt, tk[i] AS g
          FROM tk, LATERAL unnest(range(1, len(tk) + 1)) AS u(i)
          UNION ALL
          SELECT doc_id, tgt, tk[i] || ' ' || tk[i+1] AS g
          FROM tk, LATERAL unnest(range(1, len(tk))) AS u(i)),
        dk AS (
          SELECT doc_id, tgt,
                 CAST(('0x' || substr(md5(g), 1, 8))::BIGINT
                   % $DsirBuckets AS INT) AS b,
                 count(*) AS k
          FROM g GROUP BY ALL),
        m AS (
          SELECT b,
                 sum(CASE WHEN tgt THEN k ELSE 0 END) AS ct,
                 sum(CASE WHEN tgt THEN 0 ELSE k END) AS cr
          FROM dk GROUP BY 1),
        tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                       CAST(sum(cr) AS BIGINT) AS tr FROM m),
        lw AS (
          SELECT b,
                 CAST(round(ln(CAST(ct + 1 AS DOUBLE) /
                     CAST(tt + $DsirBuckets AS DOUBLE)), 6)
                   AS DECIMAL(18,6))
               - CAST(round(ln(CAST(cr + 1 AS DOUBLE) /
                     CAST(tr + $DsirBuckets AS DOUBLE)), 6)
                   AS DECIMAL(18,6)) AS lw
          FROM m CROSS JOIN tot),
        dw AS (
          SELECT doc_id,
                 CAST(sum(CAST(k AS DECIMAL(18,0)) * lw) AS DOUBLE)
                   AS logw
          FROM dk JOIN lw USING (b) GROUP BY 1),
        thr AS (SELECT round(quantile_cont(logw, 0.8), 6) AS thr FROM dw)
        SELECT doc_id, logw, logw >= thr AS selected
        FROM dw CROSS JOIN thr
        ORDER BY doc_id""")),

    // ---- q162: margin-criterion embedding alignment ----
    // Artetxe & Schwenk 2019 (the LASER/CCMatrix bitext-mining
    // score): pair each even-id vector with its best odd-id neighbor,
    // but accept on the MARGIN — cosine normalized by the mean top-k
    // cosine of BOTH endpoints — which kills hub vectors that are
    // everyone's nearest neighbor. Exact kNN here (the q41 oracle-
    // anchor pattern, bench-exempt); the 100 TB path swaps the exact
    // kNN for the IVF probe (q46) and keeps the margin arithmetic
    // unchanged. Mean-of-k cosines is an exact DECIMAL(12,9) sum
    // under one pinned /k; margin is one pinned division, round 6.
    QueryDef(
      "q162_margin_align",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val a = emb.filter(col("id") % 2 === 0)
        val b = emb.filter(col("id") % 2 === 1)
        val k = 4
        val fwd = Similarity.bruteForceTopK(b, a, k)
          .transform(graft.Boundary.lazyLocal)
        val bwd = Similarity.bruteForceTopK(a, b, k)
        Similarity.marginAlign(fwd, bwd, k)
          .withColumn("accepted", col("margin") >= 1.0)
          .orderBy(col("query_id"))
      },
      inBench = false,
      oracle = Some("""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
          SELECT a.id AS qid, b.id AS nid,
                 round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 9) AS cos
          FROM e a JOIN e b ON a.id % 2 = 0 AND b.id % 2 = 1),
        fwd AS (
          SELECT qid, nid, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS rnk
          FROM pairs),
        bwd AS (
          SELECT nid, cos,
                 row_number() OVER (PARTITION BY nid
                   ORDER BY cos DESC, qid) AS rnk
          FROM pairs),
        af AS (
          SELECT qid, CAST(sum(CAST(cos AS DECIMAL(12,9))) AS DOUBLE) / 4
                   AS af
          FROM fwd WHERE rnk <= 4 GROUP BY 1),
        ab AS (
          SELECT nid, CAST(sum(CAST(cos AS DECIMAL(12,9))) AS DOUBLE) / 4
                   AS ab
          FROM bwd WHERE rnk <= 4 GROUP BY 1)
        SELECT f.qid AS query_id, f.nid AS match_id, f.cos AS cosine,
               round(f.cos / ((af.af + ab.ab) / 2.0), 6) AS margin,
               round(f.cos / ((af.af + ab.ab) / 2.0), 6) >= 1.0
                 AS accepted
        FROM fwd f JOIN af ON af.qid = f.qid JOIN ab ON ab.nid = f.nid
        WHERE f.rnk = 1
        ORDER BY query_id""")),

    // ---- q169: margin alignment, IVF-probed (the scale path) ----
    // q162's margin arithmetic UNCHANGED, but every kNN comes from
    // the prebuilt q46 coarse quantizer instead of exact all-pairs —
    // the q41→q45 anchor/scale-path pattern completed (r9 verdict
    // #2). Candidates are cell-blocked (nProbe of nLists cells, the
    // opposite-parity filter applied INSIDE the cells so top-k is
    // exact over the filtered candidate set); cost is
    // nProbe·|corpus|/nLists per query instead of |corpus|; nProbe
    // follows the r14 quality law (DedupQueries.ivfNProbe — n^(1/4)
    // growth paired with nLists' √n, SCALE.md §4b). The oracle
    // replays the whole probe from the saved index parquet (the q46
    // pattern) plus the q162 margin arithmetic; recall vs the exact
    // q162 anchor is gated in RetrievalSpec at the floor corpus AND
    // in IvfSizedRecallSpec at the 100k sized corpus (where the law
    // actually engages).
    QueryDef(
      "q169_margin_align_ivf",
      (s, dir) => {
        val emb = Tables.loadWide(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val idx = DedupQueries.sharedIvfIndex(s, dir, emb)
        val a = emb.filter(col("id") % 2 === 0)
        val b = emb.filter(col("id") % 2 === 1)
        val k = 4
        val nProbe = DedupQueries.ivfNProbe(dir)
        val fwd = idx.topK(a, k, nProbe,
            neighborFilter = col("neighbor_id") % 2 === 1)
          .transform(graft.Boundary.lazyLocal)
        val bwd = idx.topK(b, k, nProbe,
          neighborFilter = col("neighbor_id") % 2 === 0)
        Similarity.marginAlign(fwd, bwd, k)
          .withColumn("accepted", col("margin") >= 1.0)
          .orderBy(col("query_id"))
      },
      None, oracleFn = Some(dir => s"""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                   embedding::DOUBLE[])) AS nrm
          FROM embeddings),
        cent AS (
          SELECT CAST(list_id AS INT) AS list_id, centroid
          FROM read_parquet(
            '${DedupQueries.ivfArtifactDir(dir)}/centroids/*.parquet')),
        asn AS (
          SELECT CAST(list_id AS INT) AS list_id, neighbor_id,
                 cvec::DOUBLE[] AS cv, cn
          FROM read_parquet(
            '${DedupQueries.ivfArtifactDir(dir)}/assigned/*/*.parquet',
            hive_partitioning = true)),
        probes AS (
          SELECT id AS query_id, list_id,
                 ROW_NUMBER() OVER (PARTITION BY id
                   ORDER BY d2, list_id) AS pr
          FROM (
            SELECT id, list_id, list_dot_product(d, d) AS d2 FROM (
              SELECT e.id, c.list_id,
                     list_transform(list_zip(e.v, c.centroid),
                                    p -> p[1] - p[2]) AS d
              FROM e CROSS JOIN cent c))),
        cand AS (
          SELECT p.query_id, a.neighbor_id,
                 round(list_dot_product(q.v, a.cv) / (q.nrm * a.cn), 9)
                   AS cosine
          FROM probes p
          JOIN e q ON q.id = p.query_id
          JOIN asn a ON a.list_id = p.list_id
          WHERE p.pr <= ${DedupQueries.ivfNProbe(dir)}
            AND a.neighbor_id <> p.query_id
            AND (a.neighbor_id % 2) <> (p.query_id % 2)),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand),
        mt AS (
          SELECT query_id,
                 CAST(sum(CAST(cosine AS DECIMAL(12,9))) AS DOUBLE) / 4
                   AS m
          FROM ranked WHERE rnk <= 4 GROUP BY 1)
        SELECT r.query_id AS query_id, r.neighbor_id AS match_id,
               r.cosine,
               round(r.cosine / ((qa.m + qb.m) / 2.0), 6) AS margin,
               round(r.cosine / ((qa.m + qb.m) / 2.0), 6) >= 1.0
                 AS accepted
        FROM ranked r
        JOIN mt qa ON qa.query_id = r.query_id
        JOIN mt qb ON qb.query_id = r.neighbor_id
        WHERE r.rnk = 1 AND r.query_id % 2 = 0
        ORDER BY 1""")),

    // ---- q163: α-temperature source sampling ----
    // The multilingual/source re-balancing rule (XLM-R, mT5):
    // p_s ∝ n_s^α with α = 0.3 — upsample the tail without letting
    // the head starve it. n^α = exp(α·ln n) under the rounded-ln/exp
    // guards; the normalized rates become exact scaled integers
    // (round-6 DECIMAL × 10⁶) so the draw allocation is the q151
    // 128-bit integer water-fill, overflow-safe on both engines.
    QueryDef(
      "q163_alpha_sampling",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = d.groupBy(col("source"))
          .agg(sum(size(split(col("text"), " "))).as("n_tokens"))
        val u = tok.select(col("source"), col("n_tokens"),
          (round(exp(lit(0.3) *
              round(log(col("n_tokens").cast("double")), 6)), 6)
            .cast("decimal(18,6)") * 1000000).cast("long").as("ui"))
        val z = u.agg(sum(col("ui")).as("z"))
        u.crossJoin(broadcast(z))
          .select(col("source"), col("n_tokens"),
            round(col("ui").cast("double") / col("z").cast("double"), 6)
              .as("p"),
            expr("""(cast(ui as decimal(38,0)) * 100000)
                    div cast(z as decimal(38,0))""").as("draws"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $sourceTokens,
        u AS (
          SELECT source, n_tokens,
                 CAST(CAST(round(exp(0.3 *
                     round(ln(CAST(n_tokens AS DOUBLE)), 6)), 6)
                   AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS ui
          FROM tok),
        z AS (SELECT CAST(sum(ui) AS BIGINT) AS z FROM u)
        SELECT source, n_tokens,
               round(CAST(ui AS DOUBLE) / CAST(z AS DOUBLE), 6) AS p,
               CAST((CAST(ui AS HUGEINT) * 100000)
                 // CAST(z AS HUGEINT) AS BIGINT) AS draws
        FROM u CROSS JOIN z
        ORDER BY source""")),

    // ---- q173: DoReMi-style one-step domain reweighting ----
    // Xie et al. 2023 (arXiv:2305.10429): upweight the domains where
    // the proxy loss is highest — here the single exponentiated-
    // gradient step w_s ∝ exp(η·loss_s) with η = 0.1 over the q71
    // bigram cross-entropy as the proxy loss (the full method
    // iterates this update during proxy training; one step over a
    // fixed loss is its closed curation form). Exactness: per-doc CE
    // is the q71 pinned division rounded to 6 into DECIMAL; the
    // per-source mean is one pinned division; exp carries the
    // round-6 guard; the normalizer Z is an exact integer sum of
    // micro-scaled weights (the q163 shape). Scale: per-source agg +
    // one-row Z broadcast — model-sized frames only.
    QueryDef(
      "q173_doremi_weights",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val ce = graft.operators.CorpusOps
          .bigramCrossEntropy(d, "doc_id", "text")
          .filter(col("avg_ce").isNotNull)
          .select(col("doc_id"),
            round(col("avg_ce"), 6).cast("decimal(18,6)").as("ce6"))
        // compute-once boundary (r16, guide §2.4 — the q160/q161
        // class): the Z normalizer's broadcast subtree and the final
        // projection both consume this frame; without it the whole
        // bigram-CE pipeline runs twice (the isolated q173 spread was
        // 1.9-4.4 s from exactly this race)
        val ls = ce
          .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("ce6")).cast("double") / count(lit(1)), 6)
              .as("loss"))
          .transform(graft.Boundary.lazyLocal)
        val u = ls.select(col("source"), col("n_docs"), col("loss"),
          (round(exp(lit(0.1) * col("loss")), 6).cast("decimal(18,6)")
            * 1000000).cast("long").as("ui"))
        val z = u.agg(sum(col("ui")).as("z"))
        u.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("loss"),
            round(col("ui").cast("double") / col("z").cast("double"), 6)
              .as("weight"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH ${ModelOracleSql.bigramCe},
        pd AS (
          SELECT s.source,
                 CAST(round(CAST(per.ce AS DOUBLE) / per.n_bigrams, 6)
                   AS DECIMAL(18,6)) AS ce6
          FROM per JOIN documents s USING (doc_id)),
        ls AS (
          SELECT source, count(*) AS n_docs,
                 round(CAST(sum(ce6) AS DOUBLE) / count(*), 6) AS loss
          FROM pd GROUP BY 1),
        u AS (
          SELECT source, n_docs, loss,
                 CAST(CAST(round(exp(0.1 * loss), 6) AS DECIMAL(18,6))
                   * 1000000 AS BIGINT) AS ui
          FROM ls),
        z AS (SELECT CAST(sum(ui) AS BIGINT) AS z FROM u)
        SELECT source, n_docs, loss,
               round(CAST(ui AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight
        FROM u CROSS JOIN z
        ORDER BY source""")),

    // ---- q164: rare-shingle containment dedup ----
    // Jaccard misses near-SUPERSET pairs (a doc quoted whole inside a
    // larger one scores low resemblance but containment ≈ 1).
    // Candidates come from rare-shingle blocking — 5-gram shingles
    // with document frequency in [2,5], so per-shingle fanout is
    // capped at C(5,2) pairs and the candidate exchange carries ids
    // only (the SCALE.md df-cap argument; common shingles are USELESS
    // for blocking and skew the exchange, so dropping them is both
    // the recall-harmless and the scale-safe choice). Exact verify:
    // distinct-shingle intersection over candidate pairs, containment
    // = inter / min(|A|,|B|), admitted at ≥ 0.5. Shingle identity is
    // the 60-bit md5-prefix key hashed BEFORE the first distinct —
    // both engines hash identically, so the gate is bit-exact and no
    // exchange carries 5-gram text (r9 verdict #1 + advisory #1; see
    // Containment scaladoc for the collision-probability budget).
    QueryDef(
      "q164_containment_dedup",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        Containment.pairs(d, "doc_id", "text",
            w = 5, dfMin = 2, dfMax = 5, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                   tk[i+3] || ' ' || tk[i+4]), 1, 15))::BIGINT AS s
          FROM tk, LATERAL unnest(range(1, greatest(len(tk) - 3, 1)))
            AS u(i)),
        ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        rare AS (
          SELECT s FROM sh GROUP BY s
          HAVING count(*) BETWEEN 2 AND 5),
        cand AS (
          SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
          FROM sh a JOIN rare r ON r.s = a.s
          JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id),
        inter AS (
          SELECT c.ia, c.ib, count(*) AS inter
          FROM cand c
          JOIN sh x ON x.doc_id = c.ia
          JOIN sh y ON y.doc_id = c.ib AND y.s = x.s
          GROUP BY 1, 2)
        SELECT i.ia AS id_a, i.ib AS id_b,
               CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
               CAST(i.inter AS BIGINT) AS inter,
               round(CAST(i.inter AS DOUBLE) /
                 CAST(least(na.n, nb.n) AS DOUBLE), 6) AS containment
        FROM inter i
        JOIN ns na ON na.doc_id = i.ia
        JOIN ns nb ON nb.doc_id = i.ib
        WHERE round(CAST(i.inter AS DOUBLE) /
                CAST(least(na.n, nb.n) AS DOUBLE), 6) >= 0.5
        ORDER BY id_a, id_b""")),

    // ---- q193: UniMax per-source token budgeting ----
    // Chung et al. 2023 (UniMax, arXiv:2304.09151): allocate a total
    // token budget B across sources so every source is sampled as
    // uniformly as possible subject to an epoch cap E — no source
    // repeats more than E times, and the budget freed by capped
    // (small) sources spreads evenly over the rest. The closed form
    // is water-filling: with caps c_s = E·n_s sorted ascending and
    // prefix sums P, source i is capped iff P_{i−1} + c_i·(k−i+1) ≤ B
    // (the capped set is a prefix — proof in the scaladoc of the
    // window below), and every uncapped source gets the water level
    // τ = (B − P_m)/(k − m). Exactness: caps/prefixes/budget stay
    // integer end-to-end; τ is emitted micro-scaled by one 128-bit
    // integral division (the q163 draws shape); only the epochs
    // column pays a pinned double division rounded to 6. Here E = 2
    // and B = ⌊1.8·Σn⌋ so both branches are live on the test corpus.
    // Scale: ONE per-source count exchange over the corpus; the
    // water-fill itself runs on the |sources|-row frame (window
    // allowlisted in PlanAuditSpec.boundedGlobalWindows).
    QueryDef(
      "q193_unimax_budget",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " "))).cast("long")
            .as("n_tokens"))
        graft.operators.Budgeting
          .waterFill(tok, "source", "n_tokens",
            epochCap = 2L, budNum = 9L, budDen = 5L)
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $unimaxAlloc
        SELECT source, n_tokens, cap_tokens, capped, alloc_micro,
               round(CAST(alloc_micro AS DOUBLE) /
                 (CAST(n_tokens AS DOUBLE) * 1000000), 6) AS epochs
        FROM alloc
        ORDER BY source""")),

    // ---- q196: UniMax allocation materialized as a manifest ----
    // The executable form of q193: per source, every doc appears once
    // per WHOLE epoch (⌊alloc/n⌋ full passes) and the fractional last
    // epoch takes docs in consistent Knuth-hash order until the
    // remainder tokens are spent — q95's ≤1-doc-overshoot prefix
    // semantics with the budgets COMPUTED by the water-fill instead
    // of handed in. (doc_id, source, tokens, epoch) is the manifest a
    // shard writer (q77) ingests; the whole-epoch replication is a
    // scan-local explode, the fractional epoch pays q95's two-level
    // prefix sum, and the allocation/epoch frames are sources-sized
    // broadcasts. The oracle replays the allocation AND the naive
    // single-window prefix — the equivalence the decomposition
    // claims.
    QueryDef(
      "q196_unimax_manifest",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val tok = d.groupBy(col("source"))
          .agg(sum(col("n_tok")).as("n_tokens"))
        val alloc = graft.operators.Budgeting
          .waterFill(tok, "source", "n_tokens",
            epochCap = 2L, budNum = 9L, budDen = 5L)
        graft.operators.Budgeting
          .materializeSample(d, "doc_id", "n_tok", "source",
            alloc, "n_tokens")
          .orderBy(col("doc_id"), col("epoch"))
      },
      Some(s"""
        WITH $unimaxAlloc,
        ep AS (
          SELECT source,
                 CASE WHEN n_tokens > 0
                      THEN (alloc_micro // 1000000) // n_tokens
                      ELSE 0 END AS w,
                 (alloc_micro // 1000000) -
                 (CASE WHEN n_tokens > 0
                       THEN (alloc_micro // 1000000) // n_tokens
                       ELSE 0 END) * n_tokens AS rem
          FROM alloc),
        t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                 (doc_id * 2654435761) % 2147483647 AS h
          FROM documents),
        whole AS (
          SELECT t.doc_id, t.source, t.tokens, CAST(u.i AS BIGINT)
                   AS epoch
          FROM t JOIN ep USING (source),
               LATERAL unnest(range(0, ep.w)) AS u(i)),
        r AS (
          SELECT t.doc_id, t.source, t.tokens, ep.w, ep.rem,
                 coalesce(SUM(t.tokens) OVER (PARTITION BY t.source
                   ORDER BY t.h, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS run
          FROM t JOIN ep USING (source)),
        frac AS (
          SELECT doc_id, source, tokens, CAST(w AS BIGINT) AS epoch
          FROM r WHERE run < rem)
        SELECT doc_id, source, tokens, epoch FROM whole
        UNION ALL
        SELECT doc_id, source, tokens, epoch FROM frac
        ORDER BY doc_id, epoch""")),

    // ---- q198: mixture-policy comparison table ----
    // The decision table a mixture review reads before committing a
    // pretraining run: per source, the NATURAL share, the
    // α-temperature share (q163's rule, α = 0.3), and the UniMax
    // water-fill share (q193, E = 2, B = 1.8·Σn) side by side, with
    // the UniMax−temperature delta — which sources each policy up- or
    // down-weights, in one frame. Arithmetic is the two registered
    // operators' own (micro-scaled integer weights, one pinned
    // division per share); shares are round-6 doubles and the delta
    // subtracts the two rendered shares. Scale: ONE per-source count
    // exchange feeds both policies (checkpointed); everything after
    // is |sources|-row frames.
    QueryDef(
      "q198_mixture_compare",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " "))).cast("long")
            .as("n_tokens"))
          .transform(graft.Boundary.lazyLocal)
        val tot = tok.agg(sum(col("n_tokens")).as("t"))
          .select(col("t"),
            expr("cast(t as decimal(38,0)) * 9 div 5").as("b"))
        val u = tok.select(col("source"), col("n_tokens"),
          (round(exp(lit(0.3) *
              round(log(col("n_tokens").cast("double")), 6)), 6)
            .cast("decimal(18,6)") * 1000000).cast("long").as("ui"))
        val z = u.agg(sum(col("ui")).as("z"))
        val alpha = u.crossJoin(broadcast(z))
          .select(col("source"),
            round(col("ui").cast("double") / col("z").cast("double"),
              6).as("alpha_share"))
        val uni = graft.operators.Budgeting
          .waterFill(tok, "source", "n_tokens", 2L, 9L, 5L)
          .select(col("source"), col("alloc_micro"))
        tok.join(alpha, Seq("source")).join(uni, Seq("source"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            round(col("n_tokens").cast("double") /
              col("t").cast("double"), 6).as("natural_share"),
            col("alpha_share"),
            round(col("alloc_micro").cast("double") /
              (col("b").cast("double") * 1000000d), 6)
              .as("unimax_share"))
          .withColumn("delta_unimax_vs_alpha",
            round(col("unimax_share") - col("alpha_share"), 6))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $unimaxAlloc,
        u AS (
          SELECT source, n_tokens,
                 CAST(CAST(round(exp(0.3 *
                     round(ln(CAST(n_tokens AS DOUBLE)), 6)), 6)
                   AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS ui
          FROM tok),
        z AS (SELECT CAST(sum(ui) AS BIGINT) AS z FROM u),
        alpha AS (
          SELECT source,
                 round(CAST(ui AS DOUBLE) / CAST(z AS DOUBLE), 6)
                   AS alpha_share
          FROM u CROSS JOIN z)
        SELECT tok.source, tok.n_tokens,
               round(CAST(tok.n_tokens AS DOUBLE) /
                 CAST(tot.t AS DOUBLE), 6) AS natural_share,
               alpha.alpha_share,
               round(CAST(alloc.alloc_micro AS DOUBLE) /
                 (CAST(tot.budget AS DOUBLE) * 1000000), 6) AS unimax_share,
               round(round(CAST(alloc.alloc_micro AS DOUBLE) /
                 (CAST(tot.budget AS DOUBLE) * 1000000), 6) -
                 alpha.alpha_share, 6) AS delta_unimax_vs_alpha
        FROM tok
        JOIN alpha USING (source)
        JOIN alloc ON alloc.source = tok.source
        CROSS JOIN tot
        ORDER BY tok.source"""))
  )
}
