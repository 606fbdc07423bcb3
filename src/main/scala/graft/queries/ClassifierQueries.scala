package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.NaiveBayes

/** Text-side classifier battery (q107–q108): multinomial Naive Bayes
  * trained by pure aggregation (`operators/NaiveBayes.scala`), the
  * fastText-shaped counterpart to the embedding-side centroid
  * classifier (q94/q96). Both queries are hash-gated: NB training and
  * scoring are counting + DECIMAL log-prob sums, so DuckDB replays the
  * entire model build exactly (ln rounded to 6 decimals per term, the
  * q71 discipline; argmax ties break on label ascending).
  */
object ClassifierQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- q107: NB model training ----
    // The trained model AS A TABLE: one row per observed (label,
    // token) pair with its smoothed log-probability. Token strings are
    // the deliverable (q75's vocabulary argument), so this is the one
    // classifier exchange legitimately keyed on text.
    QueryDef(
      "q107_nb_train",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        NaiveBayes.train(d, "text", "lang")
          .select(col("label"), col("token"), col("cnt"),
            col("logp").cast("double").as("logp"))
          .orderBy(col("label"), col("token"))
      },
      Some("""
        WITH tok AS (
          SELECT lang AS label, unnest(string_split(text, ' ')) AS token
          FROM documents),
        lt AS (SELECT label, token, count(*) AS cnt FROM tok GROUP BY ALL),
        tot AS (SELECT label, sum(cnt) AS tot FROM lt GROUP BY 1),
        v AS (SELECT count(DISTINCT token) AS v FROM lt)
        SELECT lt.label, lt.token, lt.cnt,
               CAST(CAST(round(ln((lt.cnt + 1.0) / (tot.tot + v.v)), 6)
                    AS DECIMAL(18,6)) AS DOUBLE) AS logp
        FROM lt JOIN tot USING (label) CROSS JOIN v
        ORDER BY label, token""")),

    // ---- q108: NB classification ----
    // Self-classification of the corpus under its own lang model —
    // prior + Σ k·logp per label, argmax per doc. The Spark side uses
    // the observed-pairs decomposition (score = prior + n·smooth +
    // Σ k·Δ over OBSERVED (label,token) pairs, 8-byte-hash-keyed
    // exchange — never a dense V×L matrix); the oracle replays the
    // same algebra on token strings, exact because every term is the
    // same DECIMAL(18,6) and DECIMAL sums are order-free.
    QueryDef(
      "q108_nb_classify",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        NaiveBayes.classify(d, "doc_id", "text", d, "lang")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${ModelOracleSql.nbScored},
        ranked AS (
          SELECT doc_id, label, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, label) AS rn
          FROM scored)
        SELECT doc_id, label AS pred_label, CAST(score AS DOUBLE) AS score
        FROM ranked WHERE rn = 1
        ORDER BY doc_id""")),

    // ---- q134: NB confusion matrix (classifier evaluation) ----
    // The evaluation report on top of q108's self-classification:
    // (true label, predicted label, count) — pure integer counts over
    // the exact argmax, so the whole evaluation sits under the hash
    // gate. The report a pipeline reads before trusting q96's
    // classifier-balanced sampling. Oracle = q108's replay + the
    // count aggregation.
    QueryDef(
      "q134_nb_confusion",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        NaiveBayes.classify(d, "doc_id", "text", d, "lang")
          .join(d.select(col("doc_id"), col("lang").as("true_label")),
            Seq("doc_id"))
          .groupBy(col("true_label"), col("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("true_label"), col("pred_label"))
      },
      Some(s"""
        WITH ${ModelOracleSql.nbScored},
        ranked AS (
          SELECT doc_id, label, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, label) AS rn
          FROM scored),
        pred AS (
          SELECT doc_id, label AS pred_label FROM ranked WHERE rn = 1)
        SELECT d.lang AS true_label, p.pred_label, count(*) AS n
        FROM pred p JOIN documents d USING (doc_id)
        GROUP BY 1, 2 ORDER BY 1, 2"""))
  )
}
