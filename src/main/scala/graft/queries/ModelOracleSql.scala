package graft.queries

/** DuckDB oracle fragments for the trained-model replays that queries
  * in more than one `*Queries` object check: multinomial Naive Bayes
  * scoring (`operators/NaiveBayes.scala`) and the corpus bigram
  * language model's cross-entropy (`CorpusOps.bigramCrossEntropy`).
  * Each is a list of CTEs over `documents`, to follow `WITH`.
  */
object ModelOracleSql {

  /** NB scoring under a `lang` model fitted on the documents `train`
    * selects, before the argmax: defines `scored$sfx(doc_id, label,
    * score)` over the documents whose (doc_id, w) tokens `scoreTokens`
    * holds, with score = prior + n·smooth + Σ k·(logp − smooth) over
    * the doc's observed (label, token) pairs, every term a
    * DECIMAL(18,6) of a 6-decimal rounded ln (the q108 algebra).
    * `sfx` suffixes every CTE name, so several models fit in one
    * `WITH`; `train` is a `WHERE` clause or empty (every document).
    */
  def nbScoredCtes(sfx: String, train: String, scoreTokens: String)
      : String = s"""tok$sfx AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
          FROM documents$train),
        dt$sfx AS (SELECT doc_id, w, count(*) AS k
               FROM $scoreTokens GROUP BY ALL),
        lt$sfx AS (SELECT lang AS label, w, count(*) AS cnt
               FROM tok$sfx GROUP BY ALL),
        tot$sfx AS (SELECT label, sum(cnt) AS tot FROM lt$sfx GROUP BY 1),
        v$sfx AS (SELECT count(DISTINCT w) AS v FROM lt$sfx),
        n$sfx AS (SELECT count(*) AS n FROM documents$train),
        consts$sfx AS (
          SELECT d.lang AS label,
                 CAST(round(ln(count(*) * 1.0 / any_value(n$sfx.n)), 6)
                      AS DECIMAL(18,6)) AS prior,
                 CAST(round(ln(1.0 / (any_value(tot$sfx.tot)
                      + any_value(v$sfx.v))), 6)
                      AS DECIMAL(18,6)) AS smooth
          FROM documents d CROSS JOIN n$sfx CROSS JOIN v$sfx
          JOIN tot$sfx ON tot$sfx.label = d.lang$train
          GROUP BY 1),
        lp$sfx AS (
          SELECT lt$sfx.label, lt$sfx.w,
                 CAST(round(ln((lt$sfx.cnt + 1.0)
                      / (tot$sfx.tot + v$sfx.v)), 6)
                      AS DECIMAL(18,6)) AS lp
          FROM lt$sfx JOIN tot$sfx USING (label) CROSS JOIN v$sfx),
        obs$sfx AS (
          SELECT dt$sfx.doc_id, lp$sfx.label,
                 sum(dt$sfx.k * (lp$sfx.lp - c.smooth)) AS obs_sum
          FROM dt$sfx JOIN lp$sfx ON dt$sfx.w = lp$sfx.w
          JOIN consts$sfx c ON c.label = lp$sfx.label
          GROUP BY 1, 2),
        dl$sfx AS (SELECT doc_id, sum(k) AS n_tok FROM dt$sfx GROUP BY 1),
        scored$sfx AS (
          SELECT dl$sfx.doc_id, c.label,
                 c.prior + dl$sfx.n_tok * c.smooth
                   + coalesce(obs$sfx.obs_sum, 0) AS score
          FROM dl$sfx CROSS JOIN consts$sfx c
          LEFT JOIN obs$sfx ON obs$sfx.doc_id = dl$sfx.doc_id
            AND obs$sfx.label = c.label)"""

  /** [[nbScoredCtes]] self-classification under the whole corpus's
    * model: every document trains and is scored.
    */
  val nbScored: String = nbScoredCtes("", "", "tok")

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
