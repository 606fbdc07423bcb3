package graft.queries

/** DuckDB oracle fragments for the trained-model replays that queries
  * in more than one `*Queries` object check: multinomial Naive Bayes
  * scoring (`operators/NaiveBayes.scala`) and the corpus bigram
  * language model's cross-entropy (`CorpusOps.bigramCrossEntropy`).
  * Each is a list of CTEs over `documents`, to follow `WITH`.
  */
object ModelOracleSql {

  /** NB self-classification under the corpus's own `lang` model, before
    * the argmax: defines `scored(doc_id, label, score)` with score =
    * prior + n·smooth + Σ k·(logp − smooth) over the doc's observed
    * (label, token) pairs, every term a DECIMAL(18,6) of a 6-decimal
    * rounded ln (the q108 algebra).
    */
  val nbScored: String = """tok AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
          FROM documents),
        dt AS (SELECT doc_id, w, count(*) AS k FROM tok GROUP BY ALL),
        lt AS (SELECT lang AS label, w, count(*) AS cnt
               FROM tok GROUP BY ALL),
        tot AS (SELECT label, sum(cnt) AS tot FROM lt GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v FROM lt),
        n AS (SELECT count(*) AS n FROM documents),
        consts AS (
          SELECT d.lang AS label,
                 CAST(round(ln(count(*) * 1.0 / any_value(n.n)), 6)
                      AS DECIMAL(18,6)) AS prior,
                 CAST(round(ln(1.0 / (any_value(tot.tot) + any_value(v.v))), 6)
                      AS DECIMAL(18,6)) AS smooth
          FROM documents d CROSS JOIN n CROSS JOIN v
          JOIN tot ON tot.label = d.lang
          GROUP BY 1),
        lp AS (
          SELECT lt.label, lt.w,
                 CAST(round(ln((lt.cnt + 1.0) / (tot.tot + v.v)), 6)
                      AS DECIMAL(18,6)) AS lp
          FROM lt JOIN tot USING (label) CROSS JOIN v),
        obs AS (
          SELECT dt.doc_id, lp.label,
                 sum(dt.k * (lp.lp - c.smooth)) AS obs_sum
          FROM dt JOIN lp ON dt.w = lp.w
          JOIN consts c ON c.label = lp.label
          GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(k) AS n_tok FROM dt GROUP BY 1),
        scored AS (
          SELECT dl.doc_id, c.label,
                 c.prior + dl.n_tok * c.smooth + coalesce(obs.obs_sum, 0)
                   AS score
          FROM dl CROSS JOIN consts c
          LEFT JOIN obs ON obs.doc_id = dl.doc_id AND obs.label = c.label)"""

  /** Bigram cross-entropy of every document with at least one bigram
    * under the corpus bigram model: defines
    * `per(doc_id, n_bigrams, ce)`, ce the DECIMAL sum of
    * 4-decimal-rounded −ln P(w2|w1) terms (the q71 algebra).
    */
  val bigramCe: String = """t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        pos AS (
          SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
          FROM t, LATERAL unnest(range(1, greatest(len(tk), 1))) AS u(i)),
        db AS (
          SELECT doc_id, w1, w2, count(*) AS k FROM pos GROUP BY ALL),
        cb AS (
          SELECT w1, w2, CAST(sum(k) AS BIGINT) AS cb FROM db GROUP BY ALL),
        cu AS (
          SELECT w1, CAST(sum(k) AS BIGINT) AS cu FROM db GROUP BY 1),
        per AS (
          SELECT db.doc_id,
                 CAST(sum(db.k) AS BIGINT) AS n_bigrams,
                 sum(CAST(round(-ln(cb.cb / cu.cu), 4) AS DECIMAL(18,4)) * db.k) AS ce
          FROM db
          JOIN cb ON db.w1 = cb.w1 AND db.w2 = cb.w2
          JOIN cu ON db.w1 = cu.w1
          GROUP BY 1)"""
}
