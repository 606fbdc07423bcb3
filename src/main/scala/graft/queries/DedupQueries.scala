package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Contamination, DupClusters, MinHashDedup, SimHashDedup, Similarity}

/** Near-duplicate detection + similarity-search battery — the
  * training-data-pipeline operators, each expressed as the scalable
  * LSH-shaped plan.
  *
  * q25 has a brute-force DuckDB oracle: MinHash-LSH at 128 hashes /
  * 32 bands has ≈1-1e-15 recall at the 0.8 Jaccard threshold for this
  * corpus (all true pairs are ≥0.9), and candidates are verified with
  * exact Jaccard, so the approximate plan provably matches the exact
  * O(n²) oracle. Since r6 the ANN family is hash-gated too — not
  * against brute force (they're approximate indexes) but against an
  * exact SQL replay of their OWN semantics: the seeded hyperplanes
  * persist as a planes artifact (q29/q45), the saved IVF index
  * replays centroid-probe arithmetic and cell-blocked components
  * (q46/q73), and int8 quantization replays as exact double
  * arithmetic with Math.rint spelled out (q82). Recall-vs-exact
  * remains AnnSpec's job; the driver gate proves each plan computes
  * precisely what it claims to.
  */
object DedupQueries {

  /** The shared learn-once IVF index for q46/q73/q92: one offline
    * artifact serves ANN probes, SemDeDup, and cluster-balanced
    * sampling. Fingerprint-guarded (advisor r5) so regenerated
    * embeddings retrain instead of serving a stale quantizer; the
    * path stays STABLE for a given data dir so the q92 oracle can
    * replay the postings from a static location.
    */
  /** One derivation for BOTH the Spark index build and the DuckDB
    * oracle SQL (advisor r6): a hardcoded oracle path would silently
    * replay the sf0.01 artifact when the gate runs at another scale.
    */
  private[queries] def ivfArtifactDir(dir: String): String =
    graft.sources.Artifacts.dir("ivf", dir, s"n${ivfNLists(dir)}")

  /** Sizing law for the shared quantizer — cells ∝ √n, floor 16
    * (r12 verdict: a FIXED nLists makes any all-queries-vs-corpus
    * consumer quadratic — every query scans nProbe/nLists of the
    * corpus while the query count grows with it; the ×50 tail stress
    * measured q169 at 244× under the old hardcoded 16). With
    * nLists = ⌈√n/2⌉ a probe costs nProbe·n/nLists = 2·nProbe·√n
    * per query — the rule `graft.Stress` measures (PERF.md §r13),
    * the same E|cell| ∝ √n contract `semDedupPairs` documents. The
    * ½ constant keeps the smallest gated corpus (500 vectors, where
    * RetrievalSpec measures the q169-vs-q162 ≥0.9 recall contract at
    * nProbe=8) at the floor; the √n term dominates from n ≈ 1100.
    * Derived from parquet footers (no session: the DuckDB oracle
    * derives the SAME path at SQL-materialization time), so the
    * artifact name carries its own sizing — a corpus whose count
    * changes re-keys the path, and same-count regeneration re-trains
    * via the fingerprint guard.
    */
  private[queries] def ivfNLists(dir: String): Int = {
    val n = graft.sources.Artifacts
      .parquetRowCount(s"$dir/embeddings.parquet")
    math.max(16, math.ceil(math.sqrt(n.toDouble) / 2.0).toInt)
  }

  /** The QUALITY half of the sizing contract (r13 verdict #1): the
    * probe count every registered kNN consumer of the shared index
    * (q46/q169/q190) derives from the same corpus-sized quantizer —
    * `IvfIndex.nProbeLaw` = max(8, ⌈2·√nLists⌉), so the probe count
    * grows as n^(1/4) instead of staying pinned at 8 while nLists
    * grows as √n (probed fraction 8/√n → recall decays toward noise
    * silently: measured 0.856 → 0.376 at the ×50 corpus, PERF.md
    * r13). Derived from footers like ivfNLists so the DuckDB oracles
    * interpolate the SAME value with no session; at the floor
    * quantizer (sf0.001/sf0.01, nLists=16) the law yields exactly
    * the historical 8, so the correctness-gate artifacts, plans and
    * hashes are unchanged. Measured law point and the recall curve
    * it was chosen from: PERF.md r14; gated per-suite-run against
    * the sampled exact anchor in IvfSizedRecallSpec.
    */
  private[queries] def ivfNProbe(dir: String): Int =
    Similarity.IvfIndex.nProbeLaw(ivfNLists(dir))

  private[queries] def sharedIvfIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, emb: org.apache.spark.sql.DataFrame)
      : graft.operators.Similarity.IvfIndex = {
    val idxPath = ivfArtifactDir(dir)
    val fp = graft.sources.ArtifactGuard
      .dataFingerprint(s, s"$dir/embeddings.parquet")
    val nl = ivfNLists(dir)
    Similarity.IvfIndex.buildIfAbsent(s, emb, idxPath, nLists = nl,
      fingerprint = Some(fp),
      meta = Map(
        "corpus_rows" -> graft.sources.Artifacts
          .parquetRowCount(s"$dir/embeddings.parquet").toString,
        "sizing_law" -> "n_lists=max(16,ceil(sqrt(corpus_rows)/2))",
        "n_probe" -> ivfNProbe(dir).toString,
        "n_probe_law" -> "n_probe=max(8,ceil(2*sqrt(n_lists)))"))
  }

  /** Hyperplane artifact behind the q29/q45 oracles: 24 tables × 4
    * sign bits over dim-64, seed 7 — a superset of both queries'
    * parameter sets (q29 reads tables 0..19, q45 all 24), written
    * once by `Similarity.savePlanesArtifact` from the registered
    * query functions. Pure function of the parameters — no
    * fingerprint guard needed.
    */
  private val lshPlanesPath =
    graft.sources.Artifacts.root + "/lsh/planes_d64_b4_t24_s7"

  /** Shared oracle prologue for the hyperplane-LSH queries: every
    * vector's sign-bit bucket per table, replayed from the planes
    * artifact. `list_dot_product` over DOUBLE[] is the same
    * left-to-right double accumulation as VecDot (the parity q28's
    * green hash gate proves), so the `>= 0` sign bits — and therefore
    * the buckets — are bit-identical to the Spark plan's.
    */
  private def lshBucketCte(numTables: Int) = s"""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings),
        b AS (
          SELECT e.id, p.tbl,
                 SUM(CASE WHEN list_dot_product(e.v, p.plane) >= 0
                     THEN 1 << p.bit ELSE 0 END) AS bucket
          FROM e CROSS JOIN read_parquet('$lshPlanesPath/*.parquet') p
          WHERE p.tbl < $numTables
          GROUP BY e.id, p.tbl)"""

  /** DuckDB mirror of SimHashDedup.simhashBits (portable md5 family):
    * bit j of a token's hash = bit (3 - j%4) of hex digit j/4 of
    * md5(token); fingerprint bit = sign of the ±1 sum over tokens.
    * Generalizes to any width ≤ 128 (md5 has 32 hex digits).
    */
  private def simhashFpCteW(width: Int) = s"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        h AS (SELECT doc_id, md5(t) AS hx FROM tok),
        bitsums AS (
          SELECT doc_id, g.j AS j,
                 SUM(CASE WHEN ((strpos('0123456789abcdef', substring(hx, (g.j // 4) + 1, 1)) - 1)
                                // (CASE g.j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
                          THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN generate_series(0, ${width - 1}) AS g(j)
          GROUP BY doc_id, g.j),
        fp AS (
          SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bits
          FROM bitsums GROUP BY doc_id)"""

  private val simhashFpCte = simhashFpCteW(64)

  /** Cap-aware SimHash pair replay appended after a `fp` CTE: models
    * the operator's LshSkew whole-bucket drop (buckets over `cap`
    * members generate no candidates — drops are metered, not silent)
    * with the EXACT band layout `SimHashDedup.nearDuplicatePairs`
    * derives (bounds = j·width/numBands; fp bit i-from-MSB = char i+1
    * of the bits string, so the band bucket IS the substring). The
    * r10 sf0.1 sweep caught the uncapped brute-force oracle
    * diverging the moment a band bucket passed the cap — the q45
    * precedent (model the cap, don't ignore it) now applied to the
    * SimHash family.
    */
  private def simhashCappedPairsSql(width: Int, maxHamming: Int,
      cap: Int): String = {
    val numBands = maxHamming + 1
    val bounds = (0 to numBands).map(j => j * width / numBands)
    val values = (0 until numBands).map(j =>
      s"($j, ${bounds(j) + 1}, ${bounds(j + 1) - bounds(j)})")
      .mkString(", ")
    s""",
        bands AS (SELECT * FROM (VALUES $values) AS t(j, st, w)),
        bk AS (
          SELECT doc_id, j, substring(bits, st, w) AS bk
          FROM fp CROSS JOIN bands),
        ok AS (
          SELECT j, bk FROM bk GROUP BY j, bk
          HAVING count(*) <= $cap),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN ok USING (j, bk)
          JOIN bk b ON b.j = a.j AND b.bk = a.bk
            AND a.doc_id < b.doc_id)
        SELECT c.doc_a, c.doc_b,
               len(list_filter(generate_series(1, $width),
                   i -> substring(fa.bits, i, 1) <> substring(fb.bits, i, 1)))
                 AS hamming
        FROM cand c
        JOIN fp fa ON fa.doc_id = c.doc_a
        JOIN fp fb ON fb.doc_id = c.doc_b
        WHERE len(list_filter(generate_series(1, $width),
              i -> substring(fa.bits, i, 1) <> substring(fb.bits, i, 1)))
              <= $maxHamming
        ORDER BY doc_a, doc_b"""
  }

  /** q59's connected components: CTEs through
    * `comp(doc_id, cluster_id)`, every document's least reachable id
    * in the near-dup graph over `documents`. Recursive: follows
    * `WITH RECURSIVE`.
    */
  private val docClusters: String = s"""tok AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${DedupOracleSql.shinglePairs},
        ${DedupOracleSql.nearDupReach},
        comp AS (
          SELECT d.doc_id,
                 LEAST(d.doc_id, coalesce(MIN(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id)"""

  /** The q94 centroid model over `embeddings`: per-label mean vectors
    * (DECIMAL-exact) and `scored(vec_id, clabel, cos)`, each vector's
    * 9-decimal cosine to every centroid.
    */
  private val centroidScored: String = """e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        x AS (
          SELECT label, u.j AS j, v[u.j] AS val
          FROM e, LATERAL unnest(range(1, len(v) + 1)) AS u(j)),
        cent AS (
          SELECT label, j,
                 CAST(sum(CAST(round(val, 6) AS DECIMAL(24,6))) AS DOUBLE)
                   / count(*) AS cj
          FROM x GROUP BY 1, 2),
        carr AS (SELECT label, list(cj ORDER BY j) AS c FROM cent GROUP BY 1),
        scored AS (
          SELECT e.vec_id, ca.label AS clabel,
                 round(list_dot_product(e.v, ca.c) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(ca.c, ca.c))), 9) AS cos
          FROM e CROSS JOIN carr ca)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- q25: MinHash+LSH near-dup pairs, exact-Jaccard verified ----
    QueryDef(
      "q25_minhash_neardup",
      (s, dir) => {
        MinHashDedup.nearDuplicatePairs(
          Tables.loadWide(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
          -- mirror of Spark MinHashDedup.shingles incl. the <3-token
          -- fallback (whole text as the single shingle)
          SELECT doc_id,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in generate_series(1, len(w) - 2)])
                 END AS shingles
          FROM tok),
        ${DedupOracleSql.sparsePairs}
        SELECT a AS doc_a, b AS doc_b, jaccard FROM pairs
        WHERE jaccard >= 0.8
        ORDER BY doc_a, doc_b""")),

    // ---- q42: top-k most-similar pairs by exact n-gram Jaccard ----
    // LSH candidate generation at a permissive 64-band layout, exact
    // Jaccard rank. Oracle-safe because the global top-10 pairs are
    // all high-Jaccard (≥0.8 in this corpus), where 64 bands of 2
    // rows have candidate recall 1-(1-j²)⁶⁴ ≈ 1-1e-28.
    QueryDef(
      "q42_jaccard_topk",
      (s, dir) => {
        MinHashDedup.topKSimilarPairs(
          Tables.loadWide(s, dir, "documents"), "doc_id", "text", k = 10)
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${DedupOracleSql.shinglePairs}
        -- sparse pairs omit jaccard = 0; safe for the top-10 because
        -- this corpus has >>10 positive-Jaccard pairs (same argument
        -- as the LSH recall note above: the top-10 are all >= 0.8)
        SELECT a AS doc_a, b AS doc_b, jaccard FROM pairs
        ORDER BY jaccard DESC, doc_a, doc_b
        LIMIT 10""")),

    // ---- q26: SimHash fingerprints (64-bit sign signature) ----
    // md5-hex bit extraction on both engines → bit-identical
    // fingerprints (SimHashDedup portable hash family).
    QueryDef(
      "q26_simhash",
      (s, dir) => {
        SimHashDedup.fingerprints(
          Tables.loadWide(s, dir, "documents"), "doc_id", "text")
          .select(col("id").as("doc_id"),
            concat_ws("", col("bits")).as("simhash_bits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        $simhashFpCte
        SELECT doc_id, bits AS simhash_bits FROM fp ORDER BY doc_id""")),

    // ---- q27: SimHash near-dup pairs (Hamming ≤ 8) ----
    // Bands derived from the radius (9 bands ⇒ pigeonhole-perfect
    // candidate recall), and the oracle models the LshSkew bucket cap
    // exactly (r10: at sf0.1 the 7-bit bands saturate — ~128 buckets
    // for 5000 docs — so the cap ENGAGES and an uncapped brute-force
    // oracle diverges; drops stay metered through the listener).
    QueryDef(
      "q27_simhash_neardup",
      (s, dir) => {
        SimHashDedup.nearDuplicatePairs(
          Tables.loadWide(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        $simhashFpCte${simhashCappedPairsSql(64, 8, 1000)}""")),

    // ---- q59: duplicate-cluster resolution (the dedup endgame) ----
    // MinHash near-dup pairs induce a graph; every doc gets the min
    // doc_id of its connected component as cluster_id, is_rep marks
    // the kept representative. Spark: min-label propagation to
    // fixpoint (O(diameter) rounds, one keyed join each). Oracle:
    // DuckDB recursive CTE computing reachability over the same
    // brute-force pair set — checks the ENTIRE path end to end
    // (shingles → pairs → transitive closure).
    QueryDef(
      "q59_dup_clusters",
      (s, dir) => {
        val docs = Tables.loadWide(s, dir, "documents")
        val pairs = MinHashDedup.nearDuplicatePairs(
          docs, "doc_id", "text", threshold = 0.8)
        DupClusters.resolve(docs, "doc_id", pairs)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $docClusters
        SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_rep
        FROM comp ORDER BY doc_id""")),

    // ---- q60: leakage-safe train/test split ----
    // Split key = near-dup CLUSTER (q59's components), so a test doc
    // can never have a near-copy in train — the classic eval-leakage
    // bug. Assignment = Knuth hash of cluster_id (q55's cross-engine
    // arithmetic); oracle recomputes closure + hash relationally.
    QueryDef(
      "q60_leak_safe_split",
      (s, dir) => {
        val docs = Tables.loadWide(s, dir, "documents")
        val pairs = MinHashDedup.nearDuplicatePairs(
          docs, "doc_id", "text", threshold = 0.8)
        DupClusters.leakageSafeSplit(docs, "doc_id", pairs, trainPct = 80)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $docClusters
        SELECT doc_id, cluster_id,
               CASE WHEN ((cluster_id * 2654435761) % 2147483647) % 100 < 80
                    THEN 'train' ELSE 'test' END AS split
        FROM comp ORDER BY doc_id""")),

    // ---- q61: benchmark-contamination flags ----
    // Every 50th doc stands in as the eval set; a corpus doc is
    // contaminated iff its normalized fingerprint matches any eval
    // doc (catches both the eval docs themselves and their exact
    // near-copies). Broadcast digest lookup — no corpus shuffle.
    QueryDef(
      "q61_contamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val benchmark = docs.filter(col("doc_id") % 50 === 0)
        Contamination.flag(docs, benchmark, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH fp AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS f
          FROM documents),
        bench AS (SELECT DISTINCT f FROM fp WHERE doc_id % 50 = 0)
        SELECT fp.doc_id, (bench.f IS NOT NULL) AS contaminated
        FROM fp LEFT JOIN bench ON fp.f = bench.f
        ORDER BY fp.doc_id""")),

    // ---- q84: 13-gram windowed contamination ----
    // The GPT-3-style upgrade of q61: flag any corpus doc sharing a
    // 13-token window with the eval set — catches eval text EMBEDDED
    // in a training doc, not just whole-doc copies. Spark joins 8-byte
    // window hashes (broadcast eval side); the oracle joins the gram
    // strings themselves (equal up to 64-bit collisions, q67's
    // argument).
    QueryDef(
      "q84_ngram_contamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val benchmark = docs.filter(col("doc_id") % 50 === 0)
        Contamination.flagNgramOverlap(docs, benchmark, "doc_id", "text",
            n = 13)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        g AS (SELECT DISTINCT doc_id, array_to_string(t[i : i + 12], ' ') AS gram
              FROM d, LATERAL unnest(range(1, greatest(len(t) - 11, 1))) AS u(i)
              WHERE len(t) >= 13),
        b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        m AS (SELECT g.doc_id, count(*) AS n_overlap
              FROM g JOIN b USING (gram) GROUP BY 1)
        SELECT d.doc_id,
               coalesce(m.n_overlap, 0) AS n_overlap,
               coalesce(m.n_overlap, 0) >= 1 AS contaminated
        FROM d LEFT JOIN m USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- q56: 128-bit SimHash near-dup pairs (Hamming ≤ 8) ----
    // The scale fix for the measured radius-8 band saturation: all 128
    // md5 bits instead of the first 64, so the 9 pigeonhole bands are
    // ~14 bits wide (~16k buckets/band vs ~128). Same cap-modeled
    // oracle construction as q27 (candidate recall is pigeonhole-
    // perfect; the cap doesn't engage at gate scales here, but the
    // oracle models it anyway so it can never silently diverge).
    QueryDef(
      "q56_simhash128",
      (s, dir) => {
        SimHashDedup.nearDuplicatePairs(
          Tables.loadWide(s, dir, "documents"), "doc_id", "text",
          maxHamming = 8, fpBits = 128)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        ${simhashFpCteW(128)}${simhashCappedPairsSql(128, 8, 1000)}""")),

    // ---- q28: brute-force cosine top-k (ANN exactness baseline) ----
    // Exact same double arithmetic in DuckDB (dot/norm over DOUBLE[],
    // rank on cosine rounded to 9 — see Similarity's determinism note).
    QueryDef(
      "q28_ann_bruteforce",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.bruteForceTopK(emb, emb.filter(col("id") < 20), k = 5)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
          SELECT q.id AS query_id, c.id AS neighbor_id,
                 list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS raw
          FROM e q JOIN e c ON c.id <> q.id
          WHERE q.id < 20),
        ranked AS (
          SELECT query_id, neighbor_id, round(raw, 9) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY round(raw, 9) DESC, neighbor_id) AS rnk
          FROM pairs)
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ---- q87: filtered ANN — top-k within the query's label ----
    // The production filtered-search shape (constrain candidates by a
    // metadata predicate, THEN rank): the label-equality constraint
    // turns pair generation into a broadcast hash join on label — no
    // nested loop, no corpus shuffle — and the oracle replays the
    // exact arithmetic with the constraint in the join condition.
    QueryDef(
      "q87_ann_filtered",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label"))
        Similarity.labelFilteredTopK(emb, emb.filter(col("id") < 20), k = 5)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v, label
          FROM embeddings),
        pairs AS (
          SELECT q.id AS query_id, c.id AS neighbor_id,
                 list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS raw
          FROM e q JOIN e c ON c.label = q.label AND c.id <> q.id
          WHERE q.id < 20),
        ranked AS (
          SELECT query_id, neighbor_id, round(raw, 9) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY round(raw, 9) DESC, neighbor_id) AS rnk
          FROM pairs)
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ---- q29: LSH-bucketed ANN — the bucketed top-k itself (the
    // 100 TB path: bucket exchange instead of cross product).
    // HASH-GATED since r6: the seeded hyperplanes ARE the candidate
    // set's only non-SQL ingredient, so persisting them as a planes
    // artifact (savePlanesArtifact — parquet round-trips the doubles
    // bit-exactly) makes the whole plan replayable: the oracle
    // recomputes each vector's sign-bit bucket per table
    // (list_dot_product is the same left-to-right double fold as
    // VecDot — the q28-proven parity), joins on (tbl, bucket), and
    // ranks candidates by the same 9-rounded cosine. The recall ≥ 0.9
    // acceptance gate vs q28's exact baseline stays in AnnSpec — the
    // hash gate proves the plan computes ITS OWN semantics exactly;
    // the recall gate proves those semantics are good ANN.
    // Round-5 fix (the q46 symmetry): the registered result is the
    // LSH top-k rows themselves, so the timed number is the bucketed
    // plan's own cost.
    QueryDef(
      "q29_ann_lsh",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.savePlanesArtifact(s, lshPlanesPath,
          bitsPerTable = 4, numTables = 24, dim = 64, seed = 7L)
        // Param math: neighbors here sit at cosine ≈ 0.35 (θ≈69°,
        // per-bit collision p₁ ≈ 0.62); with b=4 bits/table a true
        // neighbor collides per table w.p. p₁⁴ ≈ 0.15, so L=20 tables
        // give expected recall 1-(1-0.15)²⁰ ≈ 0.96. Cost scales as
        // L·|corpus|/2^b candidates — raise b on clustered real-world
        // embeddings where p₁ is higher.
        Similarity.lshTopK(emb, emb.filter(col("id") < 20), k = 5,
          dim = 64, bitsPerTable = 4, numTables = 20)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""
        ${lshBucketCte(20)},
        cand AS (
          SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id
          FROM b qb JOIN b cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
          WHERE qb.id < 20 AND cb.id <> qb.id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 9) AS cosine
          FROM cand JOIN e q ON q.id = cand.query_id
          JOIN e c ON c.id = cand.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ---- q82: int8-quantized ANN — the rescored top-k itself ----
    // Candidate generation scans VecQuantize'd byte vectors (4×
    // smaller than float — the page-cache/SSD trade at 100 TB),
    // candidates rank by scale-free quantized cosine, and the top
    // k·overfetch are rescored with exact float cosine. HASH-GATED
    // since r6: quantization is pure double arithmetic — q_i =
    // Math.rint(x_i · 127/max|x|) — and Math.rint's half-to-EVEN is
    // replayed exactly in SQL (DuckDB's round() is half-away, so the
    // oracle spells rint as floor(y+0.5) with two corrections: minus
    // one when floor(y+0.5)-y > 0.5 — the y+0.5 rounding-up edge,
    // e.g. y = 0.49999999999999994 — and minus one on exact halves
    // landing odd; r-y is exact for |y| ≤ 127 since r-x is a multiple
    // of ulp(r)). Byte·byte products are integer-exact so the
    // quantized cosine is order-independent; the float rescore is the
    // q28-proven parity. The recall ≥ 0.95 / overfetch-covers-corpus
    // ≡ exact gates stay in AnnSpec. The quantized candidate scan is
    // the documented query-broadcast brute-force pass (q28's shape at
    // a quarter the bytes) — the plan audit's NLJ exemption; the
    // sublinear candidate path is the IVF route (q46).
    QueryDef(
      "q82_ann_quantized",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.quantizedTopK(emb, emb.filter(col("id") < 20),
            k = 5, overfetch = 4)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        qz AS (
          SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm,
                 CASE WHEN mx > 0 THEN
                   list_transform(v, x -> CASE
                     WHEN floor(x * (127.0 / mx) + 0.5) - (x * (127.0 / mx)) > 0.5
                       THEN floor(x * (127.0 / mx) + 0.5) - 1
                     WHEN floor(x * (127.0 / mx) + 0.5) - (x * (127.0 / mx)) = 0.5
                          AND CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT) % 2 <> 0
                       THEN floor(x * (127.0 / mx) + 0.5) - 1
                     ELSE floor(x * (127.0 / mx) + 0.5) END)
                 ELSE list_transform(v, x -> 0.0) END AS qv
          FROM (SELECT id, v,
                       list_max(list_transform(v, x -> abs(x))) AS mx
                FROM e)),
        qn AS (SELECT id, v, nrm, qv,
                      sqrt(list_dot_product(qv, qv)) AS qnrm FROM qz),
        cand AS (
          SELECT c.id AS neighbor_id, q.id AS query_id,
                 ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
                   round(list_dot_product(c.qv, q.qv) / (c.qnrm * q.qnrm), 9) DESC,
                   c.id) AS crnk
          FROM qn c JOIN qn q ON q.id < 20 AND c.id <> q.id),
        resc AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 9) AS cosine
          FROM cand
          JOIN qn c ON c.id = cand.neighbor_id
          JOIN qn q ON q.id = cand.query_id
          WHERE cand.crnk <= 20),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM resc)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ---- q41: embedding-cosine near-dup pairs (dedup battery) ----
    // Exact threshold pairs, rounded-cosine determinism as in q28.
    // DELIBERATELY an upper-triangle cartesian: this is the oracle
    // anchor that q45's ≥0.95 recall gate (AnnSpec) is measured
    // against, kept registered so the driver hash-checks it at sf0.01.
    // `inBench = false`: an O(n²) exactness baseline has no place in a
    // throughput suite (it was 13% of round-3 bench time); the scale
    // path users should run is q45.
    QueryDef(
      "q41_embedding_neardup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.cosineNearDupPairs(emb, threshold = 0.35)
          .orderBy(col("id_a"), col("id_b"))
      },
      inBench = false,
      oracle = Some("""
        WITH e AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.id AS id_a, b.id AS id_b,
               round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS cosine
        FROM e a JOIN e b ON a.id < b.id
        WHERE round(list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.35
        ORDER BY id_a, id_b""")),

    // ---- q45: embedding near-dup pairs, LSH scale path ----
    // The 100 TB shape for q41: hyperplane-bucket candidates + exact
    // cosine verify, no join in the plan (single bucket exchange).
    // HASH-GATED since r6 via the same planes artifact as q29: the
    // oracle replays all 24 tables' sign-bit buckets, drops buckets
    // above the 2000-member skew cap (LshSkew drops WHOLE buckets —
    // a pure function of the bucket's size, so the cap replays as a
    // HAVING), and keeps the distinct candidate pairs whose 9-rounded
    // cosine clears the threshold. Still APPROXIMATE as ANN (≈0.975
    // per-pair recall vs q41's exact pairs — that gate stays in
    // AnnSpec); the hash gate pins the plan to its own bucketing
    // semantics exactly, which is what makes the recall number a
    // property of the ALGORITHM rather than of one lucky run.
    QueryDef(
      "q45_embedding_neardup_lsh",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.savePlanesArtifact(s, lshPlanesPath,
          bitsPerTable = 4, numTables = 24, dim = 64, seed = 7L)
        Similarity.lshNearDupPairs(emb, threshold = 0.35, dim = 64)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        ${lshBucketCte(24)},
        ok AS (
          SELECT tbl, bucket FROM b
          GROUP BY tbl, bucket HAVING count(*) <= 2000),
        cand AS (
          SELECT DISTINCT a.id AS id_a, c.id AS id_b
          FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
          JOIN ok ON ok.tbl = a.tbl AND ok.bucket = a.bucket
          WHERE a.id < c.id)
        SELECT cand.id_a, cand.id_b,
               round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 9) AS cosine
        FROM cand JOIN e x ON x.id = cand.id_a
        JOIN e y ON y.id = cand.id_b
        WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 9) >= 0.35
        ORDER BY id_a, id_b""")),

    // ---- q46: IVF ANN probe — the probe top-k itself ----
    // KMeans coarse quantizer (seeded → deterministic), nProbe of
    // nLists cells ranked by exact cosine. HASH-GATED since r6 (the
    // q92 artifact-replay pattern, extended from postings-only to the
    // FULL probe): given the saved index, the probe is pure
    // arithmetic — the oracle reads the centroid table from the same
    // parquet the operator loads, recomputes each query's squared-L2
    // centroid distances with the identical left-to-right double fold
    // (diff list → list_dot_product — the q28-proven parity), takes
    // the nProbe nearest by (d², list_id) exactly as the plan's
    // array_sort(struct(d, idx)), joins the postings, and ranks by
    // the same 9-rounded cosine with the ARTIFACT's stored norms.
    // The recall gates (probe-all ≡ brute force, recall ≥ 0.9 at
    // nProbe=8, monotone in nProbe) stay in AnnSpec.
    //
    // Production shape (round-3 verdict #2): the index is built+saved
    // ONCE per corpus (`IvfIndex.buildIfAbsent` — in the bench, during
    // the untimed warmup sweep; in a deployment, by the offline
    // indexing job) and the registered query LOADS it — postings come
    // off parquet partitioned by list_id. Round-5 fix (r4 verdict #2):
    // the registered result is the probe top-k ITSELF, not a recall
    // metric, so the timed number IS probe cost.
    QueryDef(
      "q46_ann_ivf",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val idx = sharedIvfIndex(s, dir, emb)
        idx.topK(emb.filter(col("id") < 20), k = 5, nProbe = ivfNProbe(dir))
          .orderBy(col("query_id"), col("rnk"))
      },
      None, oracleFn = Some(dir => s"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
          FROM embeddings WHERE vec_id < 20),
        cent AS (
          SELECT CAST(list_id AS INT) AS list_id, centroid
          FROM read_parquet(
            '${ivfArtifactDir(dir)}/centroids/*.parquet')),
        probes AS (
          SELECT query_id, list_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, list_id) AS pr
          FROM (
            SELECT query_id, list_id, list_dot_product(d, d) AS d2 FROM (
              SELECT q.query_id, c.list_id,
                     list_transform(list_zip(q.qv, c.centroid),
                                    p -> p[1] - p[2]) AS d
              FROM q CROSS JOIN cent c))),
        a AS (
          SELECT CAST(list_id AS INT) AS list_id, neighbor_id,
                 cvec::DOUBLE[] AS cv, cn
          FROM read_parquet(
            '${ivfArtifactDir(dir)}/assigned/*/*.parquet',
            hive_partitioning = true)),
        cand AS (
          SELECT q.query_id, a.neighbor_id,
                 round(list_dot_product(q.qv, a.cv) / (q.qn * a.cn), 9) AS cosine
          FROM probes p
          JOIN q ON q.query_id = p.query_id
          JOIN a ON a.list_id = p.list_id
          WHERE p.pr <= ${ivfNProbe(dir)} AND a.neighbor_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ---- q73: SemDeDup — semantic dedup blocked by the IVF cells ----
    // Cluster-blocked exact-cosine pairs over the SAME prebuilt
    // quantizer as q46 (one offline artifact serves both ANN and
    // dedup), resolved to keep-one-per-group via min-label connected
    // components. HASH-GATED since r6: given the saved index the
    // whole program is deterministic, and every stage replays in SQL
    // — in-cell pairs from the postings parquet (cells above the
    // 20000 skew cap excluded by a HAVING, the LshSkew whole-bucket
    // drop), 9-rounded cosine ≥ threshold with the artifact's stored
    // norms, and connected components as a recursive-CTE transitive
    // closure with cluster = min reachable id (exactly what min-label
    // propagation — and its large-star fallback — computes). The
    // cross-cell recall gates (planted twins, zero-false-positive
    // subset) stay in AnnSpec: the hash gate pins the blocked-dedup
    // semantics; the twin gate argues the blocking loses nothing.
    QueryDef(
      "q73_semdedup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val idx = sharedIvfIndex(s, dir, emb)
        Similarity.semDedup(idx, threshold = 0.35)
          .orderBy(col("id"))
      },
      None, oracleFn = Some(dir => s"""
        WITH RECURSIVE a AS (
          SELECT CAST(list_id AS INT) AS list_id, neighbor_id AS id,
                 cvec::DOUBLE[] AS v, cn
          FROM read_parquet(
            '${ivfArtifactDir(dir)}/assigned/*/*.parquet',
            hive_partitioning = true)),
        cells AS (
          SELECT list_id FROM a GROUP BY list_id HAVING count(*) <= 20000),
        pairs AS (
          SELECT x.id AS id_a, y.id AS id_b
          FROM a x JOIN a y ON x.list_id = y.list_id AND x.id < y.id
          JOIN cells c ON c.list_id = x.list_id
          WHERE round(list_dot_product(x.v, y.v) / (x.cn * y.cn), 9) >= 0.35),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT id, id AS r FROM a
          UNION
          SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
        SELECT a.id, a.list_id, lab.cluster AS group_id,
               (a.id = lab.cluster) AS keep
        FROM a JOIN lab ON lab.id = a.id
        ORDER BY a.id""")),

    // ---- q85: cross-corpus dedup via Bloom prefilter ----
    // Decontamination shape: drop every corpus doc (sources src4+)
    // whose normalized 12-token head already occurs in the reference
    // split (src0–src3) — CCNet-style head dedup across corpora. The
    // Bloom prefilter keeps BOTH corpora scan-local (the naive anti
    // join shuffles 100 TB on the key); the broadcast confirm joins
    // make the result EXACT for any fpp, which is what lets a plain
    // anti-join oracle hash-gate it. NOT EXISTS rather than NOT IN
    // (advisor r5): NOT IN's NULL semantics would empty the result on
    // one NULL reference key, while the operator keeps NULL-key rows.
    QueryDef(
      "q85_bloom_dedup",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // canonicalized key (r7): NFC+casefold before the head-12
        // shingle, so NFC/NFD byte variants cross-dedup too
        val norm = trim(regexp_replace(
          graft.functions.TextFunctions.canonicalize(col("text")),
          "\\s+", " "))
        val head12 = array_join(slice(split(norm, " "), 1, 12), " ")
        val refSrc = Seq("src0", "src1", "src2", "src3")
        graft.operators.BloomDedup.dedupAgainstReference(
            corpus = d.filter(!col("source").isin(refSrc: _*)),
            reference = d.filter(col("source").isin(refSrc: _*)),
            key = head12,
            expectedItems = 1L << 16,
            fpp = 0.01)
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source, lang,
                 string_split(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')), ' ') AS t
          FROM documents),
        k AS (SELECT doc_id, source, lang,
                     array_to_string(t[1:12], ' ') AS p FROM d),
        ref AS (SELECT p FROM k
                WHERE source IN ('src0','src1','src2','src3'))
        SELECT doc_id, source, lang FROM k
        WHERE source NOT IN ('src0','src1','src2','src3')
          AND NOT EXISTS (SELECT 1 FROM ref WHERE ref.p = k.p)
        ORDER BY doc_id""")),

    // ---- q91: cross-corpus NEAR-dup decontamination ----
    // q85's exact head-dedup catches verbatim copies; this catches
    // lightly-EDITED copies of a reference/eval doc (the contamination
    // that survives exact n-gram screens): corpus docs whose shingle
    // Jaccard against any reference doc is ≥ 0.8, with how many refs
    // they hit and the worst overlap. MinHash LSH across the two
    // corpora — one union + one (band,bucket) exchange, pairs only
    // across sides — with exact-Jaccard verification, so the whole
    // result is hash-gated against the brute-force cross-join oracle
    // (recall at 0.8 with 32×4 bands is 1-5e-8: effectively exact,
    // the q25 argument).
    QueryDef(
      "q91_crosscorpus_neardup",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        val refSrc = Seq("src0", "src1", "src2", "src3")
        graft.operators.MinHashDedup.crossCorpusNearDupPairs(
            corpus = d.filter(!col("source").isin(refSrc: _*)),
            reference = d.filter(col("source").isin(refSrc: _*)),
            idCol = "doc_id", textCol = "text", threshold = 0.8)
          .groupBy(col("corp_id").as("doc_id"))
          .agg(count(lit(1)).as("n_refs"),
            max(col("jaccard")).as("max_jaccard"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
                   FROM documents),
        sh AS (
          SELECT doc_id, source,
                 CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in generate_series(1, len(w) - 2)])
                 END AS s
          FROM d),
        ref AS (SELECT doc_id, s FROM sh
                WHERE source IN ('src0','src1','src2','src3')),
        corp AS (SELECT doc_id, s FROM sh
                 WHERE source NOT IN ('src0','src1','src2','src3')),
        -- sparse cross-corpus candidates (shared-shingle equi-join):
        -- jac >= 0.8 > 0 requires a shared shingle, so the zero-jac
        -- pairs the cross join enumerated can never reach the WHERE
        exr AS (SELECT doc_id, unnest(s) AS g FROM ref),
        exc AS (SELECT doc_id, unnest(s) AS g FROM corp),
        cntr AS (SELECT doc_id, len(s) AS ns FROM ref),
        cntc AS (SELECT doc_id, len(s) AS ns FROM corp),
        inter AS (
          SELECT c.doc_id AS cid, r.doc_id AS rid, count(*) AS i
          FROM exc c JOIN exr r ON r.g = c.g GROUP BY 1, 2),
        hits AS (
          SELECT cid AS doc_id,
                 CAST(i AS DOUBLE) / (cc.ns + cr.ns - i) AS jac
          FROM inter
          JOIN cntc cc ON cc.doc_id = cid
          JOIN cntr cr ON cr.doc_id = rid)
        SELECT doc_id, count(*) AS n_refs, max(jac) AS max_jaccard
        FROM hits WHERE jac >= 0.8
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- q92: cluster-balanced sampling over the IVF quantizer ----
    // Diversity curation: cap each embedding-space region (IVF coarse
    // cell) at 64 vectors, chosen by consistent hashing — the same
    // offline index artifact as q46/q73, its third consumer. The
    // selection is a pure hash function of the ids given the saved
    // postings, so the oracle replays it from the SAME parquet the
    // operator reads (the q86 artifact-oracle pattern; static sf0.01
    // path = the driver's correctness-gate scale) and the whole
    // result hash-gates. The Spark side is a bounded map-side
    // aggregation (no window sort — a hot cell never straggles); the
    // oracle spells the same cap as the window it replaces.
    QueryDef(
      "q92_cluster_balanced_sample",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val idx = sharedIvfIndex(s, dir, emb)
        Similarity.clusterBalancedSample(idx, perCell = 64)
          .orderBy(col("list_id"), col("rank_in_cell"))
      },
      None, oracleFn = Some(dir => s"""
        WITH p AS (
          SELECT CAST(list_id AS INT) AS list_id, neighbor_id AS vec_id,
                 (neighbor_id * 2654435761) % 2147483647 AS h
          FROM read_parquet(
            '${ivfArtifactDir(dir)}/assigned/*/*.parquet',
            hive_partitioning = true)),
        ranked AS (
          SELECT list_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY list_id
                   ORDER BY h, vec_id) AS rnk
          FROM p)
        SELECT list_id, rnk AS rank_in_cell, vec_id
        FROM ranked WHERE rnk <= 64
        ORDER BY list_id, rank_in_cell""")),

    // ---- q94: nearest-label-centroid classification ----
    // The embedding-classifier curation primitive: per-label centroid
    // means (DECIMAL-exact, order-independent), then every vector is
    // assigned its highest-cosine centroid — the cheap linear probe
    // that classifies a crawl into domains before any model scorer.
    // Model is k·dim plan literals; classify is scan-local (zero
    // exchanges after the build); the full (model + argmax) program
    // hash-gates because every step is the q71/q28 exact-arithmetic
    // discipline.
    QueryDef(
      "q94_centroid_classify",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label"))
        Similarity.labelCentroidClassify(emb, emb)
          .select(col("id").as("vec_id"),
            col("pred_label").cast("long").as("pred_label"),
            col("cosine"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH $centroidScored,
        ranked AS (
          SELECT vec_id, clabel, cos,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, clabel) AS rn
          FROM scored)
        SELECT vec_id, CAST(clabel AS BIGINT) AS pred_label, cos AS cosine
        FROM ranked WHERE rn = 1
        ORDER BY vec_id""")),

    // ---- q96: classifier-balanced sampling (the embedding-side
    // curation program) ----
    // q94's centroid classifier feeding q92's consistent-hash
    // balancing, keyed on the PREDICTED class — "balance the corpus
    // by predicted domain", the program a crawl runs when no domain
    // labels exist. Every stage is exact/deterministic (DECIMAL
    // centroid model → 9-decimal argmax → Knuth-hash rank), so the
    // composition hash-gates end-to-end: the oracle replays
    // classification AND balancing in one CTE chain.
    QueryDef(
      "q96_classifier_balanced",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label"))
        val pred = Similarity.labelCentroidClassify(emb, emb)
        val samp = udaf(graft.functions.Aggregators.consistentSample(40))
        pred
          .select(col("id"), col("pred_label"),
            pmod(col("id") * lit(2654435761L), lit(2147483647L)).as("h"))
          .groupBy(col("pred_label"))
          .agg(samp(col("h"), col("id")).as("kept"))
          .select(col("pred_label").cast("long").as("pred_label"),
            posexplode(col("kept")).as(Seq("r", "vec_id")))
          .select(col("pred_label"),
            (col("r") + 1).cast("long").as("rank_in_class"), col("vec_id"))
          .orderBy(col("pred_label"), col("rank_in_class"))
      },
      Some(s"""
        WITH $centroidScored,
        pred AS (
          SELECT vec_id, clabel AS pred_label,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, clabel) AS rn
          FROM scored),
        bal AS (
          SELECT pred_label, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY pred_label
                   ORDER BY (vec_id * 2654435761) % 2147483647, vec_id)
                   AS rnk
          FROM pred WHERE rn = 1)
        SELECT CAST(pred_label AS BIGINT) AS pred_label,
               rnk AS rank_in_class, vec_id
        FROM bal WHERE rnk <= 40
        ORDER BY pred_label, rank_in_class""")),

    // ---- q159: near-dup degree distribution ----
    // The corpus-health histogram behind the dedup decision: how many
    // documents have 0, 1, 2… near-duplicates at the q25 threshold.
    // Degree = pair memberships on either side (the undirected
    // near-dup graph's degree); degree-0 docs are kept via the left
    // join, so the histogram is total and its n_docs sum is the
    // corpus size. Oracle = the exact all-pairs replay of q25's
    // semantics + the same degree fold.
    QueryDef(
      "q159_dup_degree",
      (s, dir) => {
        val d = Tables.loadWide(s, dir, "documents")
        val pairs = graft.operators.MinHashDedup.nearDuplicatePairs(
          d, "doc_id", "text", threshold = 0.8)
        val deg = pairs.select(col("doc_a").as("doc_id"))
          .unionByName(pairs.select(col("doc_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
        d.select(col("doc_id"))
          .join(deg, Seq("doc_id"), "left")
          .select(coalesce(col("degree"), lit(0L)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("degree"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${DedupOracleSql.shinglePairs},
        dup AS (SELECT a, b FROM pairs WHERE jaccard >= 0.8),
        deg AS (
          SELECT doc_id, count(*) AS degree FROM (
            SELECT a AS doc_id FROM dup
            UNION ALL SELECT b FROM dup)
          GROUP BY 1)
        SELECT coalesce(deg.degree, 0) AS degree,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents d LEFT JOIN deg USING (doc_id)
        GROUP BY 1 ORDER BY 1""")),

    // ---- q188: quality-aware dedup survivor selection ----
    // q59's clusters with the keep-BEST policy instead of keep-first:
    // the surviving copy of each near-dup cluster is the member with
    // the highest quality score (ties → lowest id) — what a curation
    // pipeline actually wants when one crawl of a page is cleaner
    // than another. One id-keyed score join + a per-cluster window on
    // top of the alternating-star components; oracle replays closure,
    // quality, and the rank.
    QueryDef(
      "q188_cluster_survivors",
      (s, dir) => {
        import graft.functions.TextFunctions.qualityScore
        val docs = Tables.loadWide(s, dir, "documents")
        val pairs = MinHashDedup.nearDuplicatePairs(
          docs, "doc_id", "text", threshold = 0.8)
        val scored = docs.select(col("doc_id"),
          round(qualityScore(col("text")), 6).as("quality"))
        DupClusters.bestRepresentative(scored, "doc_id", pairs, "quality")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $docClusters,
        q AS (
          SELECT doc_id, round(${TextQueries.qualitySql}, 6) AS quality
          FROM documents),
        ranked AS (
          SELECT c.doc_id, c.cluster_id, q.quality,
                 row_number() OVER (PARTITION BY c.cluster_id
                   ORDER BY q.quality DESC, c.doc_id) AS rn
          FROM comp c JOIN q ON q.doc_id = c.doc_id)
        SELECT doc_id, cluster_id, quality, (rn = 1) AS is_kept
        FROM ranked ORDER BY doc_id""")),

    // ---- q199: dedup-policy savings report ----
    // The table a dedup-method decision reads: for each policy —
    // exact fingerprint (keep min-id per fp), MinHash near-dup at
    // Jaccard ≥ 0.8 (drop the greater id of each pair, the q183
    // convention), rare-shingle containment at ≥ 0.5 (drop the doc
    // with the SMALLER distinct-shingle set; tie → greater id) — how
    // many documents and tokens it would remove, as a fraction of the
    // corpus. Each policy runs the REGISTERED operator's exact
    // machinery on the raw corpus (q24/q25/q164 semantics verbatim);
    // the drop sets here are per-policy (not the funnel's sequential
    // composition — q183 reports that). Scale: the three policies'
    // own audited plans + three one-row aggregates; the corpus-total
    // frame is a one-row broadcast cross (allowlisted).
    QueryDef(
      "q199_dedup_savings",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.TextFunctions.{fingerprintMd5, tokenCount}
        import graft.operators.Containment
        val d = Tables.loadWide(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            tokenCount(col("text")).cast("long").as("n_tok"),
            fingerprintMd5(col("text")).as("fp"))
          .transform(graft.Boundary.eagerLocal)
        val tot = d.agg(coalesce(sum(col("n_tok")), lit(0L)).as("nt"))
        val exactDrops = d.withColumn("min_id",
            min(col("doc_id")).over(Window.partitionBy("fp")))
          .filter(col("doc_id") =!= col("min_id"))
          .select(col("doc_id"), col("n_tok"))
        val nearDrops = MinHashDedup.nearDuplicatePairs(
            d.select(col("doc_id"), col("text")), "doc_id", "text",
            threshold = 0.8)
          .select(col("doc_b").as("doc_id")).distinct()
          .join(d.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
        val contDrops = Containment.pairs(
            d.select(col("doc_id"), col("text")), "doc_id", "text",
            w = 5, dfMin = 2, dfMax = 5, threshold = 0.5)
          .select(when(col("n_a") < col("n_b"), col("id_a"))
            .when(col("n_b") < col("n_a"), col("id_b"))
            .otherwise(greatest(col("id_a"), col("id_b")))
            .as("doc_id"))
          .distinct()
          .join(d.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
        def row(m: String, drops: org.apache.spark.sql.DataFrame) =
          drops.agg(count(lit(1)).as("docs_dropped"),
              coalesce(sum(col("n_tok")), lit(0L)).as("tokens_dropped"))
            .crossJoin(broadcast(tot))
            .select(lit(m).as("method"), col("docs_dropped"),
              col("tokens_dropped"),
              when(col("nt") > 0,
                round(col("tokens_dropped").cast("double") /
                  col("nt").cast("double"), 6)).otherwise(0.0)
                .as("pct_tokens"))
        row("containment_0.5", contDrops)
          .unionByName(row("exact", exactDrops))
          .unionByName(row("minhash_0.8", nearDrops))
          .orderBy(col("method"))
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 ${TextQueries.fpSql} AS fp
          FROM documents),
        tot AS (
          SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS nt FROM d),
        keep AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY fp),
        exact_drops AS (
          SELECT d.doc_id, d.n_tok FROM d
          JOIN keep ON keep.fp = d.fp AND d.doc_id <> keep.keep_id),
        tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
        ${DedupOracleSql.shinglePairs},
        near_d AS (
          SELECT n.doc_id, d.n_tok FROM (
            SELECT DISTINCT b AS doc_id FROM pairs
            WHERE jaccard >= 0.8) n
          JOIN d USING (doc_id)),
        tk5 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM d),
        sh5 AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                   tk[i+3] || ' ' || tk[i+4]), 1, 15))::BIGINT AS s
          FROM tk5, LATERAL unnest(range(1, greatest(len(tk) - 3, 1)))
            AS u(i)),
        ns5 AS (SELECT doc_id, count(*) AS n FROM sh5 GROUP BY 1),
        rare5 AS (
          SELECT s FROM sh5 GROUP BY s
          HAVING count(*) BETWEEN 2 AND 5),
        cand5 AS (
          SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
          FROM sh5 a JOIN rare5 r ON r.s = a.s
          JOIN sh5 b ON b.s = a.s AND a.doc_id < b.doc_id),
        inter5 AS (
          SELECT c.ia, c.ib, count(*) AS inter
          FROM cand5 c
          JOIN sh5 x ON x.doc_id = c.ia
          JOIN sh5 y ON y.doc_id = c.ib AND y.s = x.s
          GROUP BY 1, 2),
        cpairs AS (
          SELECT i.ia, i.ib, na.n AS n_a, nb.n AS n_b
          FROM inter5 i
          JOIN ns5 na ON na.doc_id = i.ia
          JOIN ns5 nb ON nb.doc_id = i.ib
          WHERE round(CAST(i.inter AS DOUBLE) /
                  CAST(least(na.n, nb.n) AS DOUBLE), 6) >= 0.5),
        cont_d AS (
          SELECT c.doc_id, d.n_tok FROM (
            SELECT DISTINCT CASE WHEN n_a < n_b THEN ia
                                 WHEN n_b < n_a THEN ib
                                 ELSE greatest(ia, ib) END AS doc_id
            FROM cpairs) c
          JOIN d USING (doc_id)),
        rows AS (
          SELECT 'containment_0.5' AS method,
                 CAST(count(*) AS BIGINT) AS docs_dropped,
                 CAST(coalesce(sum(n_tok), 0) AS BIGINT)
                   AS tokens_dropped
          FROM cont_d
          UNION ALL SELECT 'exact', count(*),
                 CAST(coalesce(sum(n_tok), 0) AS BIGINT)
          FROM exact_drops
          UNION ALL SELECT 'minhash_0.8', count(*),
                 CAST(coalesce(sum(n_tok), 0) AS BIGINT)
          FROM near_d)
        SELECT method, docs_dropped, tokens_dropped,
               CASE WHEN nt > 0 THEN
                 round(CAST(tokens_dropped AS DOUBLE) /
                   CAST(nt AS DOUBLE), 6)
               ELSE 0.0 END AS pct_tokens
        FROM rows CROSS JOIN tot
        ORDER BY method"""))
  )
}
