package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Retrieval

/** Retrieval battery (q119–q120): BM25 top-k and BM25+Jaccard
  * reciprocal-rank fusion over the documents table. The query set is
  * corpus-derived (every 50th document contributes its first six
  * distinct tokens as a query), so the workload scales with the
  * corpus and needs no fixture. Both oracles replay the full scoring
  * arithmetic — idf table, corpus stats, per-term scores, fusion —
  * under the q71/q78 rounding discipline, so the hash gate checks
  * every rank and every score.
  */
object RetrievalQueries {

  /** (qid, term): distinct first-6 tokens of every 50th doc. */
  private def querySet(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 50 === 7)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 6)))
          .as("term"))

  /** Shared oracle CTE prefix: postings, corpus stats, df, idf, the
    * query set, and the BM25-scored candidate ranking. `capWhere`
    * optionally replays a df cap on the idf table (q130).
    */
  private def bm25CtesCapped(capWhere: String,
      src: String = "documents"): String = s"""
    d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
    post AS (
      SELECT doc_id, len(tk) AS dl, u.t AS term, count(*) AS tf
      FROM d, unnest(tk) AS u(t) GROUP BY 1, 2, 3),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
      FROM d),
    dfreq AS (SELECT term, count(*) AS dfc FROM post GROUP BY 1),
    q AS (
      SELECT DISTINCT doc_id AS qid, u.t AS term
      FROM d, unnest(tk[1:6]) AS u(t) WHERE doc_id % 50 = 7),
    idf AS (
      SELECT f.term,
             round(ln(1.0 + (s.n_docs - f.dfc + 0.5) / (f.dfc + 0.5)),
                   4) AS idf4
      FROM dfreq f CROSS JOIN stats s $capWhere),
    scored AS (
      SELECT q.qid, p.doc_id,
             sum(CAST(round(i.idf4 * (p.tf * 2.2) /
                   (p.tf + 1.2 * (0.25 + 0.75 *
                      (CAST(p.dl AS DOUBLE) / s.avgdl))) * 1000000.0, 0)
                 AS BIGINT)) AS score_m
      FROM post p
      JOIN q ON q.term = p.term AND p.doc_id <> q.qid
      JOIN idf i ON i.term = p.term
      CROSS JOIN stats s
      GROUP BY 1, 2),
    branked AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
               ORDER BY score_m DESC, doc_id) AS rank,
             CAST(score_m AS DOUBLE) / 1000000.0 AS score
      FROM scored)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- q119: BM25 top-10 per query ----
    // Inverted-index shape: postings exploded once and map-side
    // combined, df collapsed to vocabulary size, query terms
    // broadcast — candidate generation is one scan of the postings;
    // no all-pairs. Scores summed in long micros per (query, doc),
    // top-10 by a per-query window over candidates only.
    QueryDef(
      "q119_bm25_topk",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        Retrieval.bm25TopK(d, "doc_id", "text", querySet(d), k = 10,
            boundary =
              graft.Boundary.lazyWide(dir, "documents", col("doc_id")))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH ${bm25CtesCapped("")}
        SELECT qid, doc_id, rank, score FROM branked
        WHERE rank <= 10 ORDER BY qid, rank""")),

    // ---- q120: reciprocal-rank fusion (BM25 ⊕ token-set Jaccard) ----
    // The hybrid-search combiner: two structurally different lexical
    // rankings (length-normalized BM25 vs distinct-token Jaccard),
    // each top-50, fused by rrf = Σ 1/(60 + rank) and re-ranked.
    // n_lists records whether a hit came from one ranking or both.
    QueryDef(
      "q120_rrf_fusion",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        val qs = querySet(d)
        // ONE tokenize+combine of the corpus feeds both rankers —
        // the localCheckpoint stage boundary (q48/q67 argument)
        // keeps the scan+explode from running twice; stage-widened
        // (r16) so both rankers' joins inherit real parallelism
        val post = Retrieval.postings(d, "doc_id", "text")
          .transform(graft.Boundary.lazyWide(dir, "documents", col("doc_id")))
        Retrieval.rrfTopK(
          Retrieval.bm25FromPostings(post, qs, k = 50),
          Retrieval.jaccardFromPostings(post, qs, k = 50),
          c = 60, k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH ${bm25CtesCapped("")},
        dterms AS (
          SELECT DISTINCT doc_id, u.t AS term FROM d, unnest(tk) AS u(t)),
        dsz AS (SELECT doc_id, count(*) AS dn FROM dterms GROUP BY 1),
        qsz AS (SELECT qid, count(*) AS qn FROM q GROUP BY 1),
        xn AS (
          SELECT q.qid, t.doc_id, count(*) AS xn
          FROM dterms t JOIN q ON q.term = t.term AND t.doc_id <> q.qid
          GROUP BY 1, 2),
        jac AS (
          SELECT x.qid, x.doc_id,
                 round(CAST(x.xn AS DOUBLE) / (s.qn + z.dn - x.xn), 6) AS jac
          FROM xn x JOIN qsz s USING (qid) JOIN dsz z USING (doc_id)),
        jranked AS (
          SELECT qid, doc_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY jac DESC, doc_id) AS rank
          FROM jac),
        pooled AS (
          SELECT qid, doc_id,
                 CAST(round(1000000.0 / (60 + rank), 0) AS BIGINT) AS rc
          FROM branked WHERE rank <= 50
          UNION ALL
          SELECT qid, doc_id,
                 CAST(round(1000000.0 / (60 + rank), 0) AS BIGINT) AS rc
          FROM jranked WHERE rank <= 50),
        fused AS (
          SELECT qid, doc_id, sum(rc) AS rrf_m, count(*) AS n_lists
          FROM pooled GROUP BY 1, 2),
        freranked AS (
          SELECT qid, doc_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY rrf_m DESC, doc_id) AS rank,
                 CAST(rrf_m AS DOUBLE) / 1000000.0 AS rrf, n_lists
          FROM fused)
        SELECT qid, doc_id, rank, rrf, n_lists FROM freranked
        WHERE rank <= 10 ORDER BY qid, rank""")),

    // ---- q128: BM25 hard-negative mining ----
    // Retrieval-training data from the ranking itself: per query, the
    // top hit is the positive and ranks 41–50 are the HARD negatives
    // (lexically close enough to rank, far enough to be wrong) — the
    // standard contrastive-training recipe for retrievers/rerankers,
    // and the lexical dual of q118's near-dup triples. Pure
    // composition over the q119 machinery: one ranking pass, one
    // self-join on qid, no new exchanges beyond the ranking's own.
    QueryDef(
      "q128_hard_negatives",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        val ranked = Retrieval
          .bm25TopK(d, "doc_id", "text", querySet(d), k = 50,
            boundary =
              graft.Boundary.lazyWide(dir, "documents", col("doc_id")))
          .transform(graft.Boundary.lazyLocal) // positives + negatives faces
        val pos = ranked.filter(col("rank") === 1)
          .select(col("qid"), col("doc_id").as("pos_id"))
        ranked.filter(col("rank") > 40)
          .select(col("qid"), col("doc_id").as("neg_id"),
            col("rank").as("neg_rank"))
          .join(pos, Seq("qid"))
          .select(col("qid"), col("pos_id"), col("neg_id"),
            col("neg_rank"))
          .orderBy(col("qid"), col("neg_rank"))
      },
      Some(s"""
        WITH ${bm25CtesCapped("")},
        pos AS (
          SELECT qid, doc_id AS pos_id FROM branked WHERE rank = 1),
        neg AS (
          SELECT qid, doc_id AS neg_id, rank AS neg_rank
          FROM branked WHERE rank > 40 AND rank <= 50)
        SELECT n.qid, p.pos_id, n.neg_id, n.neg_rank
        FROM neg n JOIN pos p USING (qid)
        ORDER BY n.qid, n.neg_rank""")),

    // ---- q130: df-capped BM25 (the 100 TB stopword lever) ----
    // q119 with maxDfFrac = 0.77: query terms in more than 77% of
    // documents never generate their corpus-wide candidate lists —
    // the inverted-index stopword prune, replayed in the oracle as
    // the same df predicate (the q45 skew-cap precedent) and metered
    // via Dataset.observe (no silent caps). On this corpus the cap
    // drops 19 of 31 vocabulary terms; rankings re-form from the
    // informative remainder.
    QueryDef(
      "q130_bm25_dfcap",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        Retrieval.bm25TopK(d, "doc_id", "text", querySet(d), k = 10,
            maxDfFrac = 0.77)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH ${bm25CtesCapped(
          "WHERE CAST(f.dfc AS DOUBLE) <= 0.77 * s.n_docs")}
        SELECT qid, doc_id, rank, score FROM branked
        WHERE rank <= 10 ORDER BY qid, rank""")),

    // ---- q192: BM25 search over CDC-maintained postings ----
    // The text-index twin of q191 (`IndexMaintenance
    // .updateTextPostings`): a re-crawl lands as v2 (%23 vanish, %9
    // get updated content appended, %31 arrive anew), the inverted
    // index updates from the CHANGE SET — evictions + scan-local
    // re-tokenization of the delta — and the gate asks the production
    // question directly: BM25 top-10 over the UPDATED postings must
    // hash-equal the oracle's full re-index of v2, including the
    // df/idf/avgdl shifts the re-crawl causes (the model terms derive
    // from the postings at query time, so they follow the update for
    // free). The v1 postings build stands in for the loaded index
    // artifact (q191 demonstrates the artifact lifecycle; the
    // convention here matches q119/q120's inline+checkpoint).
    QueryDef(
      "q192_bm25_cdc",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val v2 = d.filter(col("doc_id") % 23 =!= 0)
          .withColumn("text", when(col("doc_id") % 9 === 0,
            concat(col("text"), lit(" freshly crawled update")))
            .otherwise(col("text")))
          .unionByName(d.filter(col("doc_id") % 31 === 0)
            .select((col("doc_id") + lit(10000000L)).as("doc_id"),
              concat(lit("new arrival "), col("text")).as("text")))
          .transform(graft.Boundary.lazyLocal)
        // NOT checkpointed (r16): updateTextPostings reads the v1
        // postings exactly once (the eviction anti-join), so a stage
        // boundary here is a pure materialization barrier
        val v1post = Retrieval.postings(d, "doc_id", "text")
        val updated = graft.operators.IndexMaintenance
          .updateTextPostings(v1post, d, v2, "doc_id", "text")
          .transform(graft.Boundary.lazyLocal)
        Retrieval.bm25FromPostings(updated, querySet(v2), k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 9 = 0
                      THEN text || ' freshly crawled update'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 23 <> 0
          UNION ALL
          SELECT doc_id + 10000000, 'new arrival ' || text
          FROM documents WHERE doc_id % 31 = 0),
        ${bm25CtesCapped("", "v2")}
        SELECT qid, doc_id, rank, score FROM branked
        WHERE rank <= 10 ORDER BY qid, rank"""))
  )
}
