package graft.queries

/** Shared DuckDB oracle fragments of the near-dup family.
  * [[sparsePairs]] is exact trigram-shingle Jaccard pairs — the SPARSE
  * formulation. The textbook form
  * (`sh a JOIN sh b ON a.doc_id < b.doc_id` + `list_intersect` per
  * pair) is exact but quadratic in documents: at sf0.1 it is 12.5M
  * pairs × a ~200-element list intersection EACH, which turned the
  * builder's sf0.1 mirror sweep into multi-hour DuckDB runs (q175's
  * triangle oracle re-inlined the pair CTE three times and ran for
  * 2h+ before this rewrite). Candidates here come from an equi-join
  * on the EXPLODED shingles instead — Σ_g n_g² work, seconds at
  * sf0.1 — and the result is EXACTLY equivalent for every consumer
  * that applies a positive threshold or ranks positive-Jaccard pairs:
  * J(A,B) ≥ t > 0 implies at least one shared shingle, so no
  * qualifying pair can be missed, and the Jaccard DOUBLE is
  * bit-identical because |A∪B| = |A|+|B|−|A∩B| is computed in exact
  * integers before the one division (same dividend/divisor as
  * `len(list_intersect)/len(list_distinct(a||b))`). Verified equal
  * row-for-row against the textbook form at sf0.01 before adoption.
  *
  * Emits CTEs `ex`, `cnt`, `inter`, `pairs(a, b, jaccard)` with
  * a < b; pairs sharing NO shingle (jaccard = 0) are absent.
  * Requires an in-scope CTE `sh(doc_id, shingles)` whose shingle
  * lists are per-doc DISTINCT (every site's `sh` uses
  * `list_distinct`, incl. the <3-token whole-text fallback) — the
  * `count(*)` intersection and the union identity both depend on it.
  */
object DedupOracleSql {

  val sparsePairs: String = """
        ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        cnt AS (SELECT doc_id, len(shingles) AS ns FROM sh),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
          FROM ex x JOIN ex y ON y.g = x.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT inter.a, inter.b,
                 CAST(i AS DOUBLE) / (ca.ns + cb.ns - i) AS jaccard
          FROM inter
          JOIN cnt ca ON ca.doc_id = inter.a
          JOIN cnt cb ON cb.doc_id = inter.b)"""

  /** `sh(doc_id, shingles)` over an in-scope `tok(doc_id, w)` of token
    * lists, mirroring `MinHashDedup.shingles` incl. the <3-token
    * fallback (the whole text as the single shingle), then
    * [[sparsePairs]] over it.
    */
  val shinglePairs: String = s"""sh AS (
          SELECT doc_id,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in generate_series(1, len(w) - 2)])
                 END AS shingles
          FROM tok),
        $sparsePairs"""

  /** The near-duplicate graph (pairs with jaccard ≥ 0.8) and its
    * transitive closure: CTEs `p(doc_a, doc_b)`, the symmetric
    * `edges(a, b)` and `reach(a, b)`, so each doc's cluster id is the
    * least of itself and its `reach`. Recursive: follows
    * `WITH RECURSIVE`.
    */
  val nearDupReach: String = """p AS (SELECT a AS doc_a, b AS doc_b FROM pairs
              WHERE jaccard >= 0.8),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM p
          UNION SELECT doc_b, doc_a FROM p),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""
}
