package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus: BM25 scoring and
  * reciprocal-rank fusion — the retrieval half of a curation stack
  * (targeted decontamination sweeps, "find training docs about X"
  * audits, hybrid lexical+vector search). The reference has no
  * retrieval operator; this is LLM-pipeline extension surface like
  * the dedup/ANN families.
  *
  * Cross-engine exactness (the q71/q78 discipline, in fixed point):
  * `ln` is the one non-IEEE-pinned step, so idf is rounded to 4
  * decimals; every per-(query,term,doc) score is rounded to integer
  * MICROS (×10⁶ — the same 6-decimal fixed point as a DECIMAL(_,6)
  * sum, but summed as primitive longs inside whole-stage codegen) —
  * order-independent under repartitioning and bit-identical in any
  * SQL engine replaying the same op tree. +, −, ×, ÷ on doubles are
  * IEEE-754-pinned and need no rounding; the one-row corpus stats
  * (N, avgdl) are exact integers and one pinned division, so the
  * driver-collected literals equal what any engine derives from its
  * own aggregation.
  *
  * Scale shape: the term→doc posting table is the corpus exploded
  * once and map-side combined to (doc, term, tf); document
  * frequencies collapse to vocabulary size; the query-term table is
  * small by construction and broadcast, so candidate generation is a
  * scan over the posting table — no all-pairs anywhere. Top-k per
  * query is a window over each query's CANDIDATES (docs sharing ≥1
  * term), the standard inverted-index shape. Both rankers consume
  * the same [[postings]] table — a fused pipeline (q120) tokenizes
  * the corpus ONCE, checkpoints the postings, and derives BM25,
  * Jaccard, and the corpus stats from it.
  */
object Retrieval {

  /** BM25 constants (the Robertson defaults; Lucene's idf variant
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` keeps idf positive for
    * df > N/2).
    */
  val K1 = 1.2
  val B = 0.75

  /** (doc_id, dl, term, tf) postings from whitespace tokens — one
    * explode, map-side combined; distinct per (doc, term); `dl` the
    * raw token length. The single corpus-derived input of every
    * ranker here — build once, `localCheckpoint`, feed all of them.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_t"))
      .select(col("doc_id"), size(col("_t")).as("dl"),
        explode(col("_t")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** Top-`k` BM25 hits per query, from a prebuilt [[postings]] table.
    *
    * `queries`: (qid, term) rows — distinct terms per query id. Must
    * be small (it is broadcast). Self-hits (doc_id == qid) are
    * excluded so corpus-derived query sets don't trivially retrieve
    * their own source document.
    *
    * Output: (qid, doc_id, rank, score) with rank 1 = best, ties
    * broken by doc_id, score a double reconstructed from the micros
    * sum by one pinned division.
    */
  def bm25FromPostings(post: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = bm25FromPostings(post, queries, k, maxDfFrac = 1.0)

  /** [[bm25FromPostings]] with the 100 TB lever: `maxDfFrac < 1`
    * drops query terms whose document frequency exceeds that corpus
    * fraction — stopword pruning, the standard inverted-index move
    * (a df ≈ N term contributes a near-constant to every candidate
    * while exploding the candidate set to the whole corpus; on the
    * 31-word synthetic vocabulary EVERY term is such a stopword,
    * PERF.md's measured worst case). The cap CHANGES ranking
    * semantics, so it is opt-in, replayed in the oracle as the same
    * df predicate (the q45 skew-cap precedent), and METERED: dropped
    * terms surface as `<dfCapMetric>: {dropped_terms}` via
    * `Dataset.observe` — no silent caps.
    */
  def bm25FromPostings(post: DataFrame, queries: DataFrame, k: Int,
      maxDfFrac: Double, dfCapMetric: String = "bm25_df_cap")
      : DataFrame = {
    require(k >= 1 && k <= 1000, s"k=$k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, s"maxDfFrac=$maxDfFrac")
    // One-row corpus stats, collected at the driver — the q78-nDocs
    // model boundary (at deployment scale, a stats-store lookup).
    // Driver-computing them instead of CROSS JOINing a one-row
    // aggregate removed THREE sequential broadcast stages from the
    // plan. Both constants stay cross-engine exact: N and Σdl are
    // integers, avgdl = Σdl / N is one IEEE-pinned double division,
    // so a SQL replay deriving them from its own aggregation lands on
    // the identical double. Derived from the postings (dl is constant
    // per doc), not a corpus re-scan.
    val statsRow = post.groupBy("doc_id").agg(max(col("dl")).as("_dl"))
      .agg(count(lit(1)), sum(col("_dl"))).head()
    val nDocs = statsRow.getLong(0)
    // empty corpus → no postings → no candidates → empty output; the
    // placeholder avgdl is never applied to a row (sum is NULL here)
    val avgdl =
      if (nDocs == 0) 1.0 else statsRow.getLong(1).toDouble / nDocs
    // post is already distinct per (doc, term), so df is a plain count
    val dfreqAll = post.groupBy("term").agg(count(lit(1)).as("dfc"))
    val dfreq =
      if (maxDfFrac >= 1.0) dfreqAll
      else dfreqAll
        .observe(dfCapMetric,
          sum(when(col("dfc").cast("double") > lit(maxDfFrac) * lit(nDocs),
            1L).otherwise(0L)).as("dropped_terms"))
        .filter(col("dfc").cast("double") <= lit(maxDfFrac) * lit(nDocs))
    val idf4 = round(
      log(lit(1.0) + (lit(nDocs) - col("dfc") + lit(0.5)) /
        (col("dfc") + lit(0.5))), 4)
    // Per-term scores in MICROS (×10⁶ rounded to integer): the same
    // 6-decimal fixed point as a DECIMAL(_,6) sum, but the shuffle
    // and aggregation stay primitive-long whole-stage codegen instead
    // of the BigDecimal path a >18-precision decimal forces. K1+1 is
    // written as the literal 2.2 so a SQL replay parses the IDENTICAL
    // double (a computed 1.2 + 1.0 is a round-to-even near-tie — not
    // worth betting the hash gate on); 0.25 = 1 − B and 0.75 are
    // exact binary.
    val termMicros = round(
      col("idf4") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(K1) *
          (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / lit(avgdl)))) *
        lit(1000000.0), 0).cast("long")
    // idf attaches to the QUERY terms before candidate generation —
    // one broadcast join against the postings instead of two, and a
    // df-capped term never generates its corpus-wide candidate list
    val qTerms = queries.select(col("qid"), col("term"))
      .join(dfreq.select(col("term"), idf4.as("idf4")), Seq("term"))
    val scored = post
      .join(broadcast(qTerms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(termMicros).as("score_m"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_m").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank"),
        (col("score_m").cast("double") / lit(1000000.0)).as("score"))
  }

  /** [[bm25FromPostings]] over a corpus — builds the postings inline,
    * behind a `localCheckpoint` stage boundary: the stats, idf, and
    * scoring branches each materialize their own broadcast subtree,
    * so an un-checkpointed postings table would re-tokenize the
    * corpus once PER BRANCH (measured 10 s → 3 s at sf0.1 — the
    * q48/q67 argument). `boundary` (default `Boundary.lazyLocal`)
    * lets callers pass `Boundary.lazyWide` so the checkpoint is not
    * frozen at the degenerate layout's single partition — the scoring
    * join reads the checkpoint directly (broadcast build side), so its
    * parallelism IS the checkpoint's. The widening's doc_id key does
    * not reach the stats `groupBy(doc_id)`: the checkpoint scan
    * reports `UnknownPartitioning(0)`, so that aggregate keeps its
    * own hash exchange (`plans/q119_bm25_stats_head.txt`, sf0.1).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int, maxDfFrac: Double = 1.0,
      boundary: DataFrame => DataFrame = graft.Boundary.lazyLocal)
      : DataFrame =
    bm25FromPostings(boundary(postings(docs, idCol, textCol)),
      queries, k, maxDfFrac)

  /** Top-`k` token-set-Jaccard hits per query — the second,
    * structurally different lexical ranking [[rrfTopK]] fuses with
    * BM25. Jaccard = |q∩d| / (|q| + |d| − |q∩d|) over DISTINCT
    * tokens (the postings table IS the distinct (doc, term) set);
    * one double division, IEEE-pinned, rounded to 6 for the
    * deterministic ordering.
    */
  def jaccardFromPostings(post: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    require(k >= 1 && k <= 1000, s"k=$k")
    val dTerms = post.select(col("doc_id"), col("term"))
    val dSizes = dTerms.groupBy("doc_id").agg(count(lit(1)).as("dn"))
    val qSizes = queries.groupBy("qid").agg(count(lit(1)).as("qn"))
    val inter = dTerms
      .join(broadcast(queries.select(col("qid"), col("term"))), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("xn"))
    val jac = round(col("xn").cast("double") /
      (col("qn") + col("dn") - col("xn")).cast("double"), 6)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("jac").desc, col("doc_id"))
    inter
      .join(broadcast(qSizes), Seq("qid"))
      .join(dSizes, Seq("doc_id"))
      .select(col("qid"), col("doc_id"), jac.as("jac"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank"), col("jac"))
  }

  /** [[jaccardFromPostings]] over a corpus — builds the postings
    * inline (checkpointed for the same reason as [[bm25TopK]]).
    */
  def jaccardTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int): DataFrame =
    jaccardFromPostings(
      postings(docs, idCol, textCol).transform(graft.Boundary.lazyLocal),
      queries, k)

  /** Fit the per-query-term BM25 model from a postings table: each
    * query term's 4-decimal idf, plus the corpus avgdl — the bounded
    * artifact a STANDING-QUERY scorer broadcasts (the NB-broadcast /
    * centroid-literal model boundary: query sets are small by
    * construction, and `maxTerms` is the budget gate). Returns
    * ((qid, (term, idf4)*)*, avgdl).
    */
  def fitBm25Queries(post: DataFrame, queries: DataFrame,
      maxTerms: Int = 512): (Seq[(Long, Seq[(String, Double)])], Double) = {
    val statsRow = post.groupBy("doc_id").agg(max(col("dl")).as("_dl"))
      .agg(count(lit(1)), sum(col("_dl"))).head()
    val nDocs = statsRow.getLong(0)
    val avgdl =
      if (nDocs == 0) 1.0 else statsRow.getLong(1).toDouble / nDocs
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("dfc"))
    val idf4 = round(
      log(lit(1.0) + (lit(nDocs) - col("dfc") + lit(0.5)) /
        (col("dfc") + lit(0.5))), 4)
    val rows = queries.select(col("qid"), col("term")).distinct()
      .join(dfreq, Seq("term")) // unseen terms: df undefined, contribute 0
      .select(col("qid"), col("term"), idf4.as("idf4"))
      .collect()
    require(rows.length <= maxTerms,
      s"${rows.length} fitted query terms exceed maxTerms=$maxTerms — " +
        "a standing-query model must stay broadcast-sized")
    val fitted = rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq)
      .toSeq.map { case (q, ts) => (q, ts) }
    (fitted, avgdl)
  }

  /** Score every document row against the FITTED query models,
    * completely scan-locally — per-document term frequencies come
    * from array filters over the row's own tokens, so there is no
    * aggregation and no state: the same function runs on a static
    * frame AND an ingest STREAM (append mode, stateless) — the
    * standing-query router that alerts when an arriving document
    * matches a curation query. Micros rounding per term is identical
    * to [[bm25FromPostings]], so the two routes agree EXACTLY
    * (differential-gated in StreamingSpec).
    *
    * The per-term `filter(tokens, _ == t)` is an interpreted HOF —
    * acceptable here because the fitted term count is budget-gated
    * (≤ maxTerms, the model boundary), unlike a corpus-side explode
    * which must stay codegen (the q74 measurement).
    *
    * Output: (qid, doc_id, score_m, score) for every (query, doc)
    * pair sharing ≥1 term, self-hits excluded.
    */
  def bm25ScoreFitted(docs: DataFrame, idCol: String, textCol: String,
      fitted: Seq[(Long, Seq[(String, Double)])], avgdl: Double)
      : DataFrame = {
    require(fitted.nonEmpty, "empty fitted model")
    val toks = split(col(textCol), " ")
    val dlNorm = lit(K1) * (lit(1.0 - B) +
      lit(B) * (size(toks).cast("double") / lit(avgdl)))
    val perQuery = fitted.map { case (qid, terms) =>
      val scoreM = terms.map { case (t, idf4) =>
        val tf = size(filter(toks, x => x === lit(t))).cast("double")
        when(tf > 0,
          round(lit(idf4) * (tf * lit(2.2)) / (tf + dlNorm) *
            lit(1000000.0), 0).cast("long"))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(qid).as("qid"), scoreM.as("score_m"))
    }
    docs
      .select(col(idCol).as("doc_id"), explode(array(perQuery: _*)).as("s"))
      .select(col("s.qid").as("qid"), col("doc_id"), col("s.score_m"))
      .filter(col("score_m") > 0 && col("doc_id") =!= col("qid"))
      .withColumn("score",
        col("score_m").cast("double") / lit(1000000.0))
  }

  /** Reciprocal-rank fusion of two (qid, doc_id, rank) rankings:
    * rrf(d) = Σ_r 1/(c + rank_r(d)) over the rankings that contain
    * d — the standard Cormack/Clarke combiner for lexical+semantic
    * hybrid search. Each reciprocal is one IEEE-pinned double
    * division in 6-decimal fixed point (micros); the (≤2-term) sum is
    * exact long arithmetic. Output re-ranked top-`k` per qid with
    * `n_lists` = how many input rankings contained the doc.
    */
  def rrfTopK(a: DataFrame, b: DataFrame, c: Int, k: Int): DataFrame = {
    require(c >= 1 && k >= 1, s"c=$c k=$k")
    // reciprocal contributions in micros (the bm25 fixed-point
    // argument): one IEEE-pinned division, one half-up round
    val contrib = round(lit(1000000.0) / (lit(c) + col("rank")).cast("double"),
      0).cast("long")
    val pooled = a.select(col("qid"), col("doc_id"), contrib.as("rc"))
      .unionByName(b.select(col("qid"), col("doc_id"), contrib.as("rc")))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("rc")).as("rrf_m"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_m").desc, col("doc_id"))
    pooled
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank"),
        (col("rrf_m").cast("double") / lit(1000000.0)).as("rrf"),
        col("n_lists"))
  }
}
