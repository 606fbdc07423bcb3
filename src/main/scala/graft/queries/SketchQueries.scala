package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Sketches

/** Sketch battery (q109–q110): Count-Min heavy hitters and
  * HyperLogLog cardinality over the corpus vocabulary, built row-wise
  * (`operators/Sketches.scala`) so the full sketch CONTENT — every
  * counter cell, every register — sits under the DuckDB hash gate.
  * The shared 60-bit md5-derived hash is the one cross-engine-exact
  * hash in the codebase (xxhash64 is grouping-only); both oracles
  * recompute it with `CAST('0x'||substr(md5(x),1,15) AS UBIGINT)`.
  */
object SketchQueries {

  private val D = 4     // CMS depth
  private val W = 2048  // CMS width
  private val M = 1024  // HLL registers

  /** Token trigrams + counts — the sketch domain. The corpus
    * vocabulary is deliberately tiny (31 words), so unigram sketches
    * would be collision-free no-ops; trigrams (~16k–27k distinct at
    * sf0.01–0.1) give the CMS real collision structure and put HLL in
    * its bias-corrected regime. Same construction as q76.
    */
  private def trigramCounts(d: org.apache.spark.sql.DataFrame) = {
    val grams = when(size(col("_t")) >= 3,
      transform(sequence(lit(1), size(col("_t")) - 2),
        i => concat_ws(" ", element_at(col("_t"), i),
          element_at(col("_t"), i + 1), element_at(col("_t"), i + 2))))
      .otherwise(array().cast("array<string>"))
    d.withColumn("_t", split(col("text"), " "))
      .select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
  }

  /** Per-source HLL registers of the distinct token trigrams (256
    * registers, 15-hex-digit md5 hash): defines `g(source, gram)` and
    * `regs(source, reg, rmax)`.
    */
  private val sourceTrigramRegs: String = """t AS (
          SELECT source, string_split(text, ' ') AS tk FROM documents),
        g AS (
          SELECT DISTINCT source,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
          FROM t, LATERAL unnest(range(1, greatest(len(tk) - 1, 1))) AS u(i)),
        h AS (
          SELECT source,
                 CAST(CAST(concat('0x', substr(md5(gram), 1, 15))
                 AS UBIGINT) AS BIGINT) AS h
          FROM g),
        rr AS (
          SELECT source, h & 255 AS reg,
                 CASE WHEN h >> 8 = 0 THEN 53
                      ELSE 53 - length(bin(h >> 8)) END AS rho
          FROM h),
        regs AS (
          SELECT source, reg, max(rho) AS rmax FROM rr GROUP BY 1, 2)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- q109: Count-Min heavy hitters ----
    // Trigram frequencies estimated from a d×w counter frame, compared
    // against truth in the same row (est ≥ cnt always — CMS never
    // underestimates; the gate checks the exact overestimates, i.e.
    // the collision structure of the sketch). Top-50 by estimate.
    // Scale shape: the counter frame is ≤ d·w rows regardless of
    // corpus size (map-side partial agg), and the probe join
    // broadcasts the frame — candidates never shuffle.
    QueryDef(
      "q109_cms_heavy_hitters",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tg = trigramCounts(d)
        val counters = Sketches.countMin(tg, "gram", "cnt", D, W)
        Sketches.cmsEstimate(tg, "gram", counters, D, W)
          .orderBy(col("est").desc, col("gram"))
          .limit(50)
      },
      Some(s"""
        WITH t AS (
          SELECT string_split(text, ' ') AS tk FROM documents),
        g AS (
          SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
          FROM t, LATERAL unnest(range(1, greatest(len(tk) - 1, 1))) AS u(i)),
        tc AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
        salted AS (
          SELECT t.gram, t.cnt, r.r,
                 CAST(CAST(concat('0x', substr(md5(concat(CAST(r.r AS VARCHAR),
                        ':', t.gram)), 1, 15)) AS UBIGINT) % $W AS BIGINT) AS b
          FROM tc t CROSS JOIN (SELECT unnest(range(0, $D)) AS r) r),
        counters AS (
          SELECT r, b, CAST(sum(cnt) AS BIGINT) AS c
          FROM salted GROUP BY 1, 2),
        est AS (
          SELECT s.gram, s.cnt, min(c.c) AS est
          FROM salted s JOIN counters c ON c.r = s.r AND c.b = s.b
          GROUP BY 1, 2)
        SELECT gram, cnt, est FROM est
        ORDER BY est DESC, gram LIMIT 50""")),

    // ---- q110: HyperLogLog distinct-trigram estimate ----
    // The m-register frame reduced to the bias-corrected estimate
    // (with linear-counting small-range correction), next to the
    // exact distinct count. Inner sum S = Σ 2^(51−rmax) is exact
    // integer arithmetic; only the final division and the correction
    // ln are double, both rounded to 4 decimals (q71 discipline).
    // Scale shape: registers collapse map-side to ≤ m rows per
    // partition; the estimate is a one-row reduce. No distinct pass
    // over the data — duplicates die in the per-partition max.
    QueryDef(
      "q110_hll_distinct",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tg = trigramCounts(d)
        val est = Sketches.hllEstimate(
          Sketches.hllRegisters(tg, "gram", M), M)
        val exact = tg.agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(est)
          .select(col("n_exact"), col("registers_used"), col("v0"),
            col("est"))
      },
      Some(s"""
        WITH t AS (
          SELECT string_split(text, ' ') AS tk FROM documents),
        g AS (
          SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
          FROM t, LATERAL unnest(range(1, greatest(len(tk) - 1, 1))) AS u(i)),
        tok AS (SELECT DISTINCT gram AS token FROM g),
        h AS (
          SELECT CAST(CAST(concat('0x', substr(md5(token), 1, 15))
                 AS UBIGINT) AS BIGINT) AS h FROM tok),
        rr AS (
          SELECT h & ${M - 1} AS reg,
                 CASE WHEN h >> 10 = 0 THEN 51
                      ELSE 51 - length(bin(h >> 10)) END AS rho
          FROM h),
        regs AS (SELECT reg, max(rho) AS rmax FROM rr GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS registers_used,
                 CAST(sum(CAST(power(2, 51 - rmax) AS BIGINT)) AS BIGINT)
                   AS s_used
          FROM regs),
        s2 AS (
          SELECT registers_used, $M - registers_used AS v0,
                 s_used + ($M - registers_used) * CAST(power(2, 51) AS BIGINT)
                   AS s
          FROM agg),
        r3 AS (
          SELECT registers_used, v0,
                 round((0.7213 / (1.0 + 1.079 / $M.0) * $M * $M) *
                       power(2.0, 51) / s, 4) AS raw
          FROM s2)
        SELECT (SELECT CAST(count(DISTINCT token) AS BIGINT) FROM tok)
                 AS n_exact,
               registers_used, v0,
               CASE WHEN raw <= 2.5 * $M AND v0 > 0
                    THEN round($M.0 * ln($M.0 / v0), 4)
                    ELSE raw END AS est
        FROM r3""")),

    // ---- q113: log-bin quantile sketch ----
    // Per-source document-length profile from the ≤64-bin mergeable
    // histogram (the quantile member of the sketch trio), with the
    // exact discrete median computed UNDER THE SAME integer rank rule
    // in the same row — the sketch's 2× bound is checked by the
    // ClassifierSketchSpec invariant, the gate checks every bin
    // count and both rank walks exactly. Rank test is the pure-
    // integer `cum·1000 ≥ q·n`; no division, no float ranks.
    QueryDef(
      "q113_logbin_quantiles",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val v = d.select(col("source"),
          greatest(col("n_chars").cast("long"), lit(1L)).as("v"))
        val qs = Sketches.logBinQuantiles(
          Sketches.logBins(v, Seq("source"), "v"),
          Seq("source"), Seq(250, 500, 900))
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("v")
        val em = v.groupBy("source", "v").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wv))
          .withColumn("n", sum("c").over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .groupBy("source")
          .agg(min(when(col("cum") * lit(1000L) >= col("n") * lit(500L),
            col("v"))).as("exact_median"))
        qs.join(em, "source").orderBy("source")
      },
      Some("""
        WITH v AS (
          SELECT source, greatest(n_chars, 1) AS v FROM documents),
        b AS (
          SELECT source, CAST(length(bin(v)) - 1 AS BIGINT) AS bin,
                 count(*) AS c
          FROM v GROUP BY ALL),
        cumt AS (
          SELECT source, bin, c,
                 sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
                 sum(c) OVER (PARTITION BY source) AS n
          FROM b),
        qb AS (
          SELECT source,
                 min(CASE WHEN cum*1000 >= n*250 THEN bin END) AS qb250,
                 min(CASE WHEN cum*1000 >= n*500 THEN bin END) AS qb500,
                 min(CASE WHEN cum*1000 >= n*900 THEN bin END) AS qb900
          FROM cumt GROUP BY 1),
        ec AS (SELECT source, v, count(*) AS c FROM v GROUP BY ALL),
        ecum AS (
          SELECT source, v,
                 sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
                 sum(c) OVER (PARTITION BY source) AS n
          FROM ec),
        em AS (
          SELECT source,
                 min(CASE WHEN cum*1000 >= n*500 THEN v END)
                   AS exact_median
          FROM ecum GROUP BY 1)
        SELECT qb.source,
               CAST(power(2, qb250) AS BIGINT) AS p250_lower,
               CAST(power(2, qb500) AS BIGINT) AS p500_lower,
               CAST(power(2, qb900) AS BIGINT) AS p900_lower,
               em.exact_median
        FROM qb JOIN em USING (source)
        ORDER BY source""")),

    // ---- q116: per-group HLL (the production form) ----
    // Distinct trigrams per source from per-group register frames
    // (≤m rows per group), exact count alongside. m=256 puts larger
    // sources in the bias-corrected branch and would leave tiny ones
    // to linear counting — both branches sit under the gate.
    QueryDef(
      "q116_hll_per_source",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tg = sourceTrigrams(d).select("source", "gram").distinct()
        val est = Sketches.hllEstimateBy(
          Sketches.hllRegistersBy(tg, Seq("source"), "gram", 256),
          Seq("source"), 256)
        val exact = tg.groupBy("source")
          .agg(count(lit(1)).as("n_exact"))
        exact.join(est, "source")
          .select(col("source"), col("n_exact"), col("registers_used"),
            col("v0"), col("est"))
          .orderBy("source")
      },
      Some(s"""
        WITH $sourceTrigramRegs,
        agg AS (
          SELECT source, CAST(count(*) AS BIGINT) AS registers_used,
                 CAST(sum(CAST(power(2, 53 - rmax) AS BIGINT)) AS BIGINT)
                   AS s_used
          FROM regs GROUP BY 1),
        s2 AS (
          SELECT source, registers_used, 256 - registers_used AS v0,
                 s_used + (256 - registers_used) *
                   CAST(power(2, 53) AS BIGINT) AS s
          FROM agg),
        r3 AS (
          SELECT source, registers_used, v0,
                 round((0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256) *
                       power(2.0, 53) / s, 4) AS raw
          FROM s2),
        ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
               FROM g GROUP BY 1)
        SELECT r3.source, ex.n_exact, registers_used, v0,
               CASE WHEN raw <= 2.5 * 256 AND v0 > 0
                    THEN round(256.0 * ln(256.0 / v0), 4)
                    ELSE raw END AS est
        FROM r3 JOIN ex USING (source)
        ORDER BY source""")),

    // ---- q117: per-source dataset card ----
    // The datasheet a corpus release ships, one row per source:
    // volume (docs, token instances), length profile (sketch median
    // lower bound), vocabulary richness (grouped-HLL distinct-trigram
    // estimate), and language mix (top lang + share). Everything
    // derives from sketch frames and counting — one pass per facet,
    // no sorts of the data — and the whole card replays in SQL.
    QueryDef(
      "q117_corpus_card",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val vol = d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        val med = Sketches.logBinQuantiles(
          Sketches.logBins(d.select(col("source"),
            greatest(col("n_chars").cast("long"), lit(1L)).as("v")),
            Seq("source"), "v"),
          Seq("source"), Seq(500))
        val tri = Sketches.hllEstimateBy(
          Sketches.hllRegistersBy(
            sourceTrigrams(d).select("source", "gram").distinct(),
            Seq("source"), "gram", 256),
          Seq("source"), 256)
          .select(col("source"), col("est").as("trigrams_est"))
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("cnt").desc, col("lang").asc)
        val toplang = d.groupBy("source", "lang")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wl))
          .where(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"),
            col("cnt").as("top_lang_docs"))
        vol.join(med, "source").join(tri, "source").join(toplang, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("p500_lower"), col("trigrams_est"), col("top_lang"),
            round(col("top_lang_docs").cast("double") /
              col("n_docs").cast("double"), 4).as("top_lang_share"))
          .orderBy("source")
      },
      Some(s"""
        WITH vol AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY 1),
        v AS (SELECT source, greatest(n_chars, 1) AS v FROM documents),
        b AS (
          SELECT source, CAST(length(bin(v)) - 1 AS BIGINT) AS bin,
                 count(*) AS c
          FROM v GROUP BY ALL),
        cumt AS (
          SELECT source, bin, c,
                 sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
                 sum(c) OVER (PARTITION BY source) AS n
          FROM b),
        med AS (
          SELECT source,
                 CAST(power(2, min(CASE WHEN cum*1000 >= n*500
                                        THEN bin END)) AS BIGINT)
                   AS p500_lower
          FROM cumt GROUP BY 1),
        $sourceTrigramRegs,
        agg AS (
          SELECT source, CAST(count(*) AS BIGINT) AS ru,
                 CAST(sum(CAST(power(2, 53 - rmax) AS BIGINT)) AS BIGINT)
                   AS s_used
          FROM regs GROUP BY 1),
        hll AS (
          SELECT source, ru, 256 - ru AS v0,
                 round((0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256) *
                       power(2.0, 53) /
                       (s_used + (256 - ru) * CAST(power(2, 53) AS BIGINT)),
                       4) AS raw
          FROM agg),
        tri AS (
          SELECT source,
                 CASE WHEN raw <= 2.5 * 256 AND v0 > 0
                      THEN round(256.0 * ln(256.0 / v0), 4)
                      ELSE raw END AS trigrams_est
          FROM hll),
        lc AS (
          SELECT source, lang, count(*) AS cnt
          FROM documents GROUP BY 1, 2),
        tl AS (
          SELECT source, lang AS top_lang, cnt AS top_lang_docs,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY cnt DESC, lang) AS rn
          FROM lc)
        SELECT vol.source, vol.n_docs, vol.n_tokens, med.p500_lower,
               tri.trigrams_est, tl.top_lang,
               round(tl.top_lang_docs * 1.0 / vol.n_docs, 4)
                 AS top_lang_share
        FROM vol JOIN med USING (source) JOIN tri USING (source)
        JOIN tl USING (source)
        WHERE tl.rn = 1
        ORDER BY source"""))
  )

  /** (source, gram) trigram rows — q116's domain (q109/q110's
    * construction with the group column carried).
    */
  private def sourceTrigrams(d: org.apache.spark.sql.DataFrame) = {
    val grams = when(size(col("_t")) >= 3,
      transform(sequence(lit(1), size(col("_t")) - 2),
        i => concat_ws(" ", element_at(col("_t"), i),
          element_at(col("_t"), i + 1), element_at(col("_t"), i + 2))))
      .otherwise(array().cast("array<string>"))
    d.withColumn("_t", split(col("text"), " "))
      .select(col("source"), explode(grams).as("gram"))
  }
}
