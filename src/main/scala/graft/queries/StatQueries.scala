package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CorpusOps, Diversity, KsDrift, MinHashDedup, Triangles}

/** Round-10 corpus-statistics battery: exact two-sample KS drift
  * (the binning-free complement of q155's PSI), triangle count /
  * clustering coefficient of the near-dup graph (structure the
  * degree histogram q159 can't see), exact mean-pairwise-cosine
  * diversity via the centroid identity (an O(n·d) computation of an
  * O(n²) statistic), and a Zipf-law fit for the corpus card. Same
  * contracts as everywhere: exact fixed-point arithmetic with one
  * pinned double division, full DuckDB replay, SCALE.md plan shapes.
  */
object StatQueries {

  /** OLS slope/intercept of ln(cnt) on ln(rank) over a top-k vocab
    * table (cnt, rank) — shared by q177 and the planted-Zipf spec.
    * ln's round to 4 (the q155 non-pinned-fn discipline); OLS sums
    * are exact DECIMAL; slope and intercept each pay one pinned
    * double division, rounded to 6.
    */
  private[graft] def zipfFit(top: DataFrame): DataFrame = {
    val xy = top.select(
      round(log(col("rank").cast("double")), 4)
        .cast("decimal(8,4)").as("x"),
      round(log(col("cnt").cast("double")), 4)
        .cast("decimal(12,4)").as("y"))
    val sums = xy.agg(count(lit(1)).as("r"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val slope = round(
      (col("r") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("r") * col("sxx") - col("sx") * col("sx"))
          .cast("double"), 6)
    sums.select(col("r").as("n_ranks"), slope.as("slope"),
      round((col("sy") - slope.cast("decimal(10,6)") * col("sx"))
          .cast("double") /
        col("r").cast("double"), 6).as("intercept"))
  }


  /** (chk, n_docs, vocab) cumulative checkpoint frame for the Heaps
    * fit — the q182 linear plan (first-occurrence collapse: one
    * (token → min doc_id) exchange, checkpoint counts as bucket sums
    * over a 7-row spine). Shared with `graft.Stress`'s q182 entry.
    */
  private[graft] def heapsCum(s: org.apache.spark.sql.SparkSession,
      d: DataFrame): DataFrame = {
    val dens = Seq(64, 32, 16, 8, 4, 2, 1)
    val cw = d.agg(max(col("doc_id")).as("mx"))
      .select(dens.zipWithIndex.map { case (den, j) =>
        expr(s"mx div $den").as(s"c$j") }: _*)
    def buck(v: org.apache.spark.sql.Column) =
      (0 to 5).reverse.foldLeft(lit(6).cast("int")) { (acc, j) =>
        when(v <= col(s"c$j"), lit(j).cast("int")).otherwise(acc)
      }
    val minDoc = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("md"))
    val vb = minDoc.crossJoin(broadcast(cw))
      .select(buck(col("md")).as("chk"))
      .groupBy(col("chk")).agg(count(lit(1)).as("dv"))
    val db = d.select(col("doc_id")).crossJoin(broadcast(cw))
      .select(buck(col("doc_id")).as("chk"))
      .groupBy(col("chk")).agg(count(lit(1)).as("dd"))
    val w7 = org.apache.spark.sql.expressions.Window
      .orderBy(col("chk")) // 7-row spine, config-bounded
    val spine = s.range(0, 7).select(col("id").cast("int").as("chk"))
    spine.join(vb, Seq("chk"), "left")
      .join(db, Seq("chk"), "left")
      .select(col("chk"),
        sum(coalesce(col("dv"), lit(0L))).over(w7).as("vocab"),
        sum(coalesce(col("dd"), lit(0L))).over(w7).as("n_docs"))
  }

  /** OLS fit of ln(vocab) on ln(n_docs) over a checkpoint frame:
    * (chk, n_docs, vocab, beta). Empty checkpoints (zero docs or
    * vocab) are dropped before the log frame — the ln(0) guard — and
    * r counts after the filter, on both engines.
    */
  private[graft] def heapsFit(cum: DataFrame): DataFrame = {
    val xy = cum
      .filter(col("n_docs") > 0 && col("vocab") > 0)
      .select(col("chk"), col("n_docs"), col("vocab"),
        round(log(col("n_docs").cast("double")), 4)
          .cast("decimal(12,4)").as("x"),
        round(log(col("vocab").cast("double")), 4)
          .cast("decimal(12,4)").as("y"))
    val beta = xy.agg(count(lit(1)).as("r"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(round(
        (col("r") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
        (col("r") * col("sxx") - col("sx") * col("sx"))
          .cast("double"), 6).as("beta"))
    xy.select(col("chk"), col("n_docs"), col("vocab"))
      .crossJoin(broadcast(beta))
  }

  /** The q183 curation funnel — raw → quality gate → lang agreement →
    * exact dedup → near dedup, five (stage, rule, docs, tokens) rows
    * off ONE checkpointed scored scan. Shared with `graft.Stress`,
    * whose pure-duplication corpus proves the collapse invariants
    * (stages 0–2 scale ×f, stages 3–4 return to the base survivor
    * set).
    */
  private[graft] def curationFunnel(d: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{fingerprintMd5, langId, qualityScore, tokenCount}
    import org.apache.spark.sql.expressions.Window
    val scored = d
      .select(col("doc_id"), col("text"), col("lang"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"),
        fingerprintMd5(col("text")).as("fp"))
      // eager (r16): 5 consumers — the three stage rows, the window
      // input, and s4's chain
      .transform(graft.Boundary.eagerLocal)
    val s1 = scored.filter(col("quality") >= 0.5)
    val s2 = s1.filter(col("lang_pred") === col("lang"))
    val s3 = s2.withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("min_id"))
      .select(col("doc_id"), col("text"), col("n_tok"))
      .transform(graft.Boundary.eagerLocal) // 4 consumers
    val drops = MinHashDedup.nearDuplicatePairs(
        s3.select(col("doc_id"), col("text")), "doc_id", "text",
        threshold = 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    val s4 = s3.join(drops, Seq("doc_id"), "left_anti")
    def stageRow(stage: Int, rule: String,
        df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("tokens"))
        .select(lit(stage).as("stage"), lit(rule).as("rule"),
          col("docs"), col("tokens"))
    Seq(stageRow(0, "raw", scored),
      stageRow(1, "quality_gate", s1),
      stageRow(2, "lang_agreement", s2),
      stageRow(3, "exact_dedup", s3),
      stageRow(4, "near_dedup", s4))
      .reduce(_ union _).orderBy(col("stage"))
  }

  /** Per-document FIRST-failing-stage attribution through the same
    * funnel — q183 answers "how many docs did each gate cost"; this
    * answers the audit question a data-ops team asks next: "why was
    * THIS doc dropped". Reason priority follows stage order
    * (quality_gate → lang_mismatch → exact_dup → near_dup → kept),
    * and the gate predicates are the funnel's filters verbatim, with
    * filter NULL-semantics made explicit (a NULL quality or lang
    * fails the gate it would have been filtered at). Scale: the same
    * one-checkpoint scored scan as q183 plus two id-keyed left joins
    * — the survivor set and the near-dup drop set are both id-only
    * frames, so no text rides any exchange the funnel didn't already
    * pay.
    */
  private[graft] def rejectionReasons(d: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{fingerprintMd5, langId, qualityScore, tokenCount}
    import org.apache.spark.sql.expressions.Window
    val scored = d
      .select(col("doc_id"), col("text"), col("lang"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"),
        fingerprintMd5(col("text")).as("fp"))
      .transform(graft.Boundary.lazyLocal)
    val s2 = scored.filter(col("quality") >= 0.5 &&
      col("lang_pred") === col("lang"))
    val s3 = s2.withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("min_id"))
      .select(col("doc_id"), col("text"))
      .transform(graft.Boundary.lazyLocal)
    val drops = MinHashDedup.nearDuplicatePairs(
        s3, "doc_id", "text", threshold = 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_drop", lit(true))
    scored
      .join(s3.select(col("doc_id")).withColumn("in_s3", lit(true)),
        Seq("doc_id"), "left")
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        when(not(coalesce(col("quality") >= 0.5, lit(false))),
          "quality_gate")
          .when(not(coalesce(col("lang_pred") === col("lang"),
            lit(false))), "lang_mismatch")
          .when(col("in_s3").isNull, "exact_dup")
          .when(col("is_drop").isNotNull, "near_dup")
          .otherwise("kept").as("reason"))
  }

  /** Zipf log-log fit inputs over the top-100 unigrams of `documents`
    * (ties on the gram): `sums(r, sx, sy, sxx, sxy)` of
    * x = ln rank and y = ln count, each a 4-decimal DECIMAL.
    */
  private val zipfSums: String = """g AS (
          SELECT unnest(string_split(text, ' ')) AS gram FROM documents),
        c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
        topk AS (
          SELECT cnt,
                 row_number() OVER (ORDER BY cnt DESC, gram) AS rank
          FROM c ORDER BY cnt DESC, gram LIMIT 100),
        xy AS (
          SELECT CAST(round(ln(rank::DOUBLE), 4) AS DECIMAL(8,4)) AS x,
                 CAST(round(ln(cnt::DOUBLE), 4) AS DECIMAL(12,4)) AS y
          FROM topk),
        sums AS (
          SELECT count(*) AS r, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM xy)"""

  def defs: Seq[QueryDef] = Seq(

    // ---- q174: per-source exact two-sample KS drift ----
    // KS of each source's n_chars distribution against the rest of
    // the corpus. The numerator |cum_s·n_rest − cum_rest·n_s| stays
    // integer (DECIMAL(38,0)) at every value; only the per-source
    // maximum pays the one pinned double division. Every frame after
    // the first (source, value) count exchange is value-domain ×
    // sources sized — never corpus rows.
    QueryDef(
      "q174_ks_drift",
      (s, dir) => {
        KsDrift.perGroupKs(Tables.load(s, dir, "documents")
            .select(col("source"), col("n_chars")),
          "source", "n_chars")
          .orderBy(col("source"))
      },
      Some("""
        WITH c AS (
          SELECT source, CAST(n_chars AS BIGINT) AS v, count(*) AS c
          FROM documents GROUP BY ALL),
        pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS ctot FROM c GROUP BY v),
        pvc AS (SELECT v, sum(ctot) OVER (ORDER BY v) AS cumtot FROM pv),
        s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_grp
              FROM c GROUP BY source),
        s2 AS (SELECT source, n_grp,
                      CAST(sum(n_grp) OVER () - n_grp AS BIGINT) AS n_rest
               FROM s),
        grid AS (
          SELECT p.v, p.cumtot, s2.source, s2.n_grp, s2.n_rest,
                 coalesce(c.c, 0) AS c
          FROM pvc p CROSS JOIN s2
          LEFT JOIN c ON c.source = s2.source AND c.v = p.v),
        g AS (
          SELECT source, n_grp, n_rest, v, cumtot,
                 sum(c) OVER (PARTITION BY source ORDER BY v) AS cum_grp
          FROM grid),
        d AS (
          SELECT source, n_grp, n_rest, v,
                 abs(CAST(cum_grp AS DECIMAL(38,0)) * n_rest -
                     CAST(cumtot - cum_grp AS DECIMAL(38,0)) * n_grp)
                   AS d_num
          FROM g),
        m AS (SELECT source, n_grp, n_rest, max(d_num) AS d_max
              FROM d GROUP BY ALL)
        SELECT m.source, m.n_grp,
               CASE WHEN m.n_rest > 0 THEN
                 round(d_max::DOUBLE /
                   (CAST(m.n_grp AS DECIMAL(38,0)) * m.n_rest)::DOUBLE,
                   6) END AS ks,
               min(d.v) AS at_value
        FROM m JOIN d ON d.source = m.source AND d.d_num = m.d_max
        GROUP BY m.source, m.n_grp, m.n_rest, d_max
        ORDER BY m.source""")),

    // ---- q175: triangle count / clustering coefficient of the
    // near-dup graph ----
    // Duplication STRUCTURE: q159's degree histogram can't tell a
    // clique (one document family, high clustering) from a star
    // (boilerplate hub, zero clustering); triangles can. Edges are
    // the q25 MinHash near-dup pairs (a < b); triangles enumerate by
    // the compact-forward a < b < c orientation — two keyed
    // id-only joins, no node ever sees more than its
    // forward-neighborhood (Schank & Wagner 2005). cc = 2T/(d(d−1)),
    // one pinned double division per node.
    QueryDef(
      "q175_dup_triangles",
      (s, dir) => {
        Triangles.perNode(MinHashDedup.nearDuplicatePairs(
            Tables.loadWide(s, dir, "documents"), "doc_id", "text",
            threshold = 0.8)
            .select(col("doc_a").as("a"), col("doc_b").as("b")))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${DedupOracleSql.shinglePairs},
        e AS (SELECT a, b FROM pairs WHERE jaccard >= 0.8),
        tri AS (
          SELECT e1.a, e1.b, e2.b AS c
          FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        tn AS (
          SELECT node, count(*) AS t FROM (
            SELECT a AS node FROM tri UNION ALL
            SELECT b FROM tri UNION ALL
            SELECT c FROM tri) GROUP BY node),
        deg AS (
          SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM e UNION ALL
            SELECT b FROM e) GROUP BY node)
        SELECT deg.node AS doc_id, degree,
               CAST(coalesce(t, 0) AS BIGINT) AS triangles,
               CASE WHEN degree >= 2 THEN
                 round(2.0 * coalesce(t, 0)::DOUBLE /
                   (degree * (degree - 1))::DOUBLE, 6)
               ELSE 0.0 END AS cc
        FROM deg LEFT JOIN tn ON tn.node = deg.node
        ORDER BY doc_id""")),

    // ---- q176: exact mean pairwise cosine per label (diversity) ----
    // The centroid identity: for unit vectors, Σ_{i≠j} uᵢ·uⱼ =
    // ‖Σu‖² − Σ‖uᵢ‖² — an O(n·d) EXACT computation of the O(n²)
    // diversity statistic (the SemDeDup/diversity-report signal,
    // Abbas et al. 2023, without sampling). Normalized coordinates
    // are rounded to 9 and carried as DECIMAL(10,9); per-dimension
    // sums are cast DECIMAL(18,9) (exact up to 10⁹ vectors/label)
    // so their squares stay inside DECIMAL(38,18); one pinned double
    // division by n(n−1) at the end. Plan: one (label, dim) exchange
    // + one label exchange — the corpus never pairs.
    QueryDef(
      "q176_diversity",
      (s, dir) => {
        Diversity.meanPairwiseCosine(
          Tables.load(s, dir, "embeddings")
            .select(col("label"), col("embedding")),
          "label", "embedding")
          .orderBy(col("label"))
      },
      Some("""
        WITH e AS (
          SELECT * FROM (
            SELECT label, vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nm
            FROM embeddings) WHERE nm > 0),
        u AS (
          SELECT label, vec_id, i,
                 CAST(round(v[i] / nm, 9) AS DECIMAL(10,9)) AS u
          FROM e, LATERAL unnest(range(1, len(v) + 1)) AS t(i)),
        sj AS (
          SELECT label, i, CAST(sum(u) AS DECIMAL(18,9)) AS sj
          FROM u GROUP BY label, i),
        ss AS (SELECT label, sum(sj * sj) AS sumsq FROM sj GROUP BY label),
        sq AS (SELECT label, sum(u * u) AS sumq FROM u GROUP BY label),
        n AS (SELECT label, count(*) AS n_vecs FROM e
              GROUP BY label)
        SELECT n.label, n_vecs,
               CASE WHEN n_vecs >= 2 THEN
                 round((sumsq - sumq)::DOUBLE /
                   (CAST(n_vecs AS DECIMAL(38,0)) * (n_vecs - 1))::DOUBLE,
                   6)
               END AS diversity
        FROM n JOIN ss USING (label) JOIN sq USING (label)
        ORDER BY label""")),

    // ---- q177: Zipf-law fit over the top-100 vocabulary ----
    // OLS slope/intercept of ln(freq) on ln(rank) — the corpus-card
    // "is this natural-language-shaped" check (Zipf slope ≈ −1 for
    // organic text; templated/synthetic corpora flatten it). The two
    // non-IEEE-pinned ln's are rounded to 4 (the q155 discipline);
    // all OLS sums are exact DECIMAL; slope and intercept each pay
    // one pinned double division. The vocab table is q75's top-k
    // (vocab-bounded ORDER BY + LIMIT — map-side top-k, never a
    // corpus sort).
    QueryDef(
      "q177_zipf_fit",
      (s, dir) => {
        zipfFit(CorpusOps.topNgrams(
          Tables.load(s, dir, "documents"), "text", n = 1, k = 100))
      },
      Some(s"""
        WITH $zipfSums,
        sl AS (
          SELECT r AS n_ranks, sx, sy, r,
                 round((r * sxy - sx * sy)::DOUBLE /
                       (r * sxx - sx * sx)::DOUBLE, 6) AS slope
          FROM sums)
        SELECT n_ranks, slope,
               round((sy - CAST(slope AS DECIMAL(10,6)) * sx)::DOUBLE /
                     r::DOUBLE, 6) AS intercept
        FROM sl""")),

    // ---- q182: Heaps'-law vocabulary-growth fit ----
    // V(n) ≈ K·n^β over log-spaced corpus prefixes — the corpus-card
    // companion of q177 (β ≈ 0.5 for organic text; β → 1 flags
    // synthetic/ID-heavy corpora, β → 0 templated ones). The naive
    // computation is |checkpoints| distinct-counts over growing
    // prefixes; the linear plan is the FIRST-OCCURRENCE collapse: one
    // (token → min doc_id) exchange, then every checkpoint count is a
    // bucket of that vocab-sized table (V(c) = #tokens first seen at
    // doc ≤ c) — cumulative sums over the 7-row checkpoint spine.
    // ln's round to 4 (q155 discipline), OLS sums exact DECIMAL, β
    // pays the one pinned double division.
    QueryDef(
      "q182_heaps_fit",
      (s, dir) =>
        heapsFit(heapsCum(s, Tables.load(s, dir, "documents")))
          .orderBy(col("chk")),
      Some("""
        WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        cw AS (SELECT mx // 64 AS c0, mx // 32 AS c1, mx // 16 AS c2,
                      mx // 8 AS c3, mx // 4 AS c4, mx // 2 AS c5,
                      mx AS c6 FROM mx),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
        md AS (SELECT tok, min(doc_id) AS md FROM tok GROUP BY tok),
        vb AS (
          SELECT CASE WHEN md <= c0 THEN 0 WHEN md <= c1 THEN 1
                      WHEN md <= c2 THEN 2 WHEN md <= c3 THEN 3
                      WHEN md <= c4 THEN 4 WHEN md <= c5 THEN 5
                      ELSE 6 END AS chk, count(*) AS dv
          FROM md CROSS JOIN cw GROUP BY 1),
        db AS (
          SELECT CASE WHEN doc_id <= c0 THEN 0 WHEN doc_id <= c1 THEN 1
                      WHEN doc_id <= c2 THEN 2 WHEN doc_id <= c3 THEN 3
                      WHEN doc_id <= c4 THEN 4 WHEN doc_id <= c5 THEN 5
                      ELSE 6 END AS chk, count(*) AS dd
          FROM documents CROSS JOIN cw GROUP BY 1),
        spine AS (SELECT CAST(t.j AS INT) AS chk FROM range(0, 7) t(j)),
        cum AS (
          SELECT chk,
                 CAST(sum(coalesce(dv, 0)) OVER (ORDER BY chk)
                   AS BIGINT) AS vocab,
                 CAST(sum(coalesce(dd, 0)) OVER (ORDER BY chk)
                   AS BIGINT) AS n_docs
          FROM spine LEFT JOIN vb USING (chk) LEFT JOIN db USING (chk)),
        xy AS (
          SELECT chk, n_docs, vocab,
                 CAST(round(ln(n_docs::DOUBLE), 4) AS DECIMAL(12,4)) AS x,
                 CAST(round(ln(vocab::DOUBLE), 4) AS DECIMAL(12,4)) AS y
          FROM cum WHERE n_docs > 0 AND vocab > 0),
        sums AS (
          SELECT count(*) AS r, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM xy),
        beta AS (
          SELECT round((r * sxy - sx * sy)::DOUBLE /
                       (r * sxx - sx * sx)::DOUBLE, 6) AS beta
          FROM sums)
        SELECT chk, n_docs, vocab, beta
        FROM xy CROSS JOIN beta ORDER BY chk""")),

    // ---- q183: curation funnel report ----
    // The q48 cleaning pipeline instrumented the way a data-ops team
    // actually reads it: per-STAGE survivor counts and token totals
    // (raw → quality gate → language agreement → exact dedup →
    // MinHash near-dup), so a gate that silently empties a corpus
    // shows up as a cliff in one table instead of a missing-rows
    // mystery downstream. Every stage reuses the registered
    // operators' exact semantics; the union is 5 one-row aggregates
    // over one scored scan (checkpointed once — the q48 boundary
    // discipline).
    QueryDef(
      "q183_curation_funnel",
      (s, dir) =>
        curationFunnel(Tables.loadWide(s, dir, "documents"))
          .orderBy(col("stage")),
      Some(s"""
        WITH scored AS (
          SELECT doc_id, text, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 ${TextQueries.qualitySql} AS quality,
                 ${TextQueries.langIdSql} AS lang_pred,
                 ${TextQueries.fpSql} AS fp
          FROM documents),
        s1 AS (SELECT * FROM scored WHERE quality >= 0.5),
        s2 AS (SELECT * FROM s1 WHERE lang_pred = lang),
        keepers AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY fp),
        s3 AS (SELECT * FROM s2
               WHERE doc_id IN (SELECT doc_id FROM keepers)),
        tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM s3),
        ${DedupOracleSql.shinglePairs},
        drops AS (
          SELECT DISTINCT b AS doc_id FROM pairs WHERE jaccard >= 0.8),
        s4 AS (SELECT * FROM s3
               WHERE doc_id NOT IN (SELECT doc_id FROM drops))
        SELECT 0 AS stage, 'raw' AS rule, count(*) AS docs,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tokens
        FROM scored
        UNION ALL SELECT 1, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM s1
        UNION ALL SELECT 2, 'lang_agreement', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM s2
        UNION ALL SELECT 3, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM s3
        UNION ALL SELECT 4, 'near_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM s4
        ORDER BY stage""")),

    // ---- q194: per-doc rejection-reason lineage ----
    // The q183 funnel, per document: every doc_id annotated with the
    // FIRST gate that rejected it (or 'kept') — the lineage table an
    // audit of a curation run reads ("why is doc X missing from the
    // training set"), and the input a targeted gate-tuning loop joins
    // against. Gate predicates and order are q183's verbatim; reasons
    // partition the corpus, so summing this table by reason
    // reproduces the funnel's stage deltas exactly.
    QueryDef(
      "q194_rejection_reasons",
      (s, dir) =>
        rejectionReasons(Tables.loadWide(s, dir, "documents"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH scored AS (
          SELECT doc_id, text, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 ${TextQueries.qualitySql} AS quality,
                 ${TextQueries.langIdSql} AS lang_pred,
                 ${TextQueries.fpSql} AS fp
          FROM documents),
        s2 AS (SELECT * FROM scored
               WHERE coalesce(quality >= 0.5, false)
                 AND coalesce(lang_pred = lang, false)),
        keepers AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY fp),
        s3 AS (SELECT * FROM s2
               WHERE doc_id IN (SELECT doc_id FROM keepers)),
        tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM s3),
        ${DedupOracleSql.shinglePairs},
        drops AS (
          SELECT DISTINCT b AS doc_id FROM pairs WHERE jaccard >= 0.8)
        SELECT s.doc_id, s.n_tok,
               CASE WHEN NOT coalesce(s.quality >= 0.5, false)
                      THEN 'quality_gate'
                    WHEN NOT coalesce(s.lang_pred = s.lang, false)
                      THEN 'lang_mismatch'
                    WHEN k.doc_id IS NULL THEN 'exact_dup'
                    WHEN d.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS reason
        FROM scored s
        LEFT JOIN s3 k ON k.doc_id = s.doc_id
        LEFT JOIN drops d ON d.doc_id = s.doc_id
        ORDER BY s.doc_id""")),

    // ---- q197: corpus card ----
    // The one-table dataset datasheet a corpus release ships with
    // (Gebru et al. 2021's datasheet statistics, the quantitative
    // rows): sizes, source/language breadth, exact-duplicate rate,
    // language-agreement rate, mean quality, and the Zipf slope
    // ("is this natural-language-shaped") — every metric reusing a
    // registered operator's exact semantics, assembled as one
    // (metric, value) frame. Numeric discipline: counts are exact;
    // the quality mean sums round-6 DECIMALs; every ratio pays one
    // pinned double division guarded for the empty corpus. Scale: ONE
    // checkpointed scored scan + a one-row aggregate, plus q177's
    // vocab-bounded top-k for the slope.
    QueryDef(
      "q197_corpus_card",
      (s, dir) => {
        import graft.functions.TextFunctions.{fingerprintMd5, langId, qualityScore, tokenCount}
        val d = Tables.load(s, dir, "documents")
        val scored = d.select(col("doc_id"), col("source"), col("lang"),
            tokenCount(col("text")).cast("long").as("n_tok"),
            qualityScore(col("text")).as("quality"),
            langId(col("text")).as("lang_pred"),
            fingerprintMd5(col("text")).as("fp"))
          .transform(graft.Boundary.lazyLocal)
        val agg = scored.agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("fp")).as("n_fp"),
            sum(when(col("lang_pred") === col("lang"), lit(1L))
              .otherwise(lit(0L))).as("n_agree"),
            sum(round(col("quality"), 6).cast("decimal(12,6)"))
              .as("q_sum"))
          .transform(graft.Boundary.lazyLocal)
        def ratio(num: Column) = when(col("n_docs") > 0,
          round(num.cast("double") / col("n_docs").cast("double"), 6))
          .otherwise(0.0)
        def m(name: String, v: Column) = agg.select(
          lit(name).as("metric"), v.cast("double").as("value"))
        val card = Seq(
          m("avg_tokens_per_doc", ratio(col("n_tokens"))),
          m("exact_dup_rate", when(col("n_docs") > 0,
            round(lit(1.0) - col("n_fp").cast("double") /
              col("n_docs").cast("double"), 6)).otherwise(0.0)),
          m("lang_agreement_rate", ratio(col("n_agree"))),
          m("mean_quality", ratio(coalesce(col("q_sum"),
            lit(java.math.BigDecimal.ZERO)))),
          m("n_docs", col("n_docs")),
          m("n_langs", col("n_langs")),
          m("n_sources", col("n_sources")),
          m("n_tokens", col("n_tokens")))
          .reduce(_ unionByName _)
        val zipf = zipfFit(CorpusOps.topNgrams(d, "text", n = 1,
            k = 100))
          .select(lit("zipf_slope").as("metric"),
            col("slope").cast("double").as("value"))
        card.unionByName(zipf).orderBy(col("metric"))
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, source, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 ${TextQueries.qualitySql} AS quality,
                 ${TextQueries.langIdSql} AS lang_pred,
                 ${TextQueries.fpSql} AS fp
          FROM documents),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT fp) AS BIGINT) AS n_fp,
                 CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_agree,
                 coalesce(sum(CAST(round(quality, 6) AS DECIMAL(12,6))),
                   0) AS q_sum
          FROM scored),
        $zipfSums,
        zipf AS (
          SELECT round((r * sxy - sx * sy)::DOUBLE /
                       (r * sxx - sx * sx)::DOUBLE, 6) AS slope
          FROM sums)
        SELECT metric, value FROM (
          SELECT 'avg_tokens_per_doc' AS metric,
                 CASE WHEN n_docs > 0 THEN
                   round(n_tokens::DOUBLE / n_docs::DOUBLE, 6)
                 ELSE 0.0 END AS value FROM agg
          UNION ALL SELECT 'exact_dup_rate',
                 CASE WHEN n_docs > 0 THEN
                   round(1.0 - n_fp::DOUBLE / n_docs::DOUBLE, 6)
                 ELSE 0.0 END FROM agg
          UNION ALL SELECT 'lang_agreement_rate',
                 CASE WHEN n_docs > 0 THEN
                   round(n_agree::DOUBLE / n_docs::DOUBLE, 6)
                 ELSE 0.0 END FROM agg
          UNION ALL SELECT 'mean_quality',
                 CASE WHEN n_docs > 0 THEN
                   round(q_sum::DOUBLE / n_docs::DOUBLE, 6)
                 ELSE 0.0 END FROM agg
          UNION ALL SELECT 'n_docs', n_docs::DOUBLE FROM agg
          UNION ALL SELECT 'n_langs', n_langs::DOUBLE FROM agg
          UNION ALL SELECT 'n_sources', n_sources::DOUBLE FROM agg
          UNION ALL SELECT 'n_tokens', n_tokens::DOUBLE FROM agg
          UNION ALL SELECT 'zipf_slope', slope::DOUBLE FROM zipf)
        ORDER BY metric"""))
  )
}
