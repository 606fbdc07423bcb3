package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Analytics odds-and-ends the engine still lacked as registered,
  * oracle-gated queries: entity-resolution fuzzy matching (q111) and
  * pivot/crosstab (q112). Both ride functions Spark and DuckDB define
  * identically (`levenshtein` is the standard DP edit distance in
  * both; pivot cells are plain filtered counts).
  */
object AnalyticsQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- q111: blocked fuzzy self-join (entity resolution) ----
    // The record-linkage primitive: candidate pairs of near-identical
    // names under an edit-distance threshold, found WITHOUT an
    // all-pairs scan. Scale shape: (1) collapse to the DISTINCT name
    // domain first (entity resolution is about the value domain, not
    // row multiplicity — at 100 TB the distinct names are orders of
    // magnitude smaller than the rows); (2) block on the first token
    // (a real blocking key: edits inside the noun never cross it);
    // (3) equi-join on the block key — a hash join, never a cartesian
    // — and verify levenshtein post-join. Rows carry their counts so
    // a downstream merge step knows each entity's mass.
    QueryDef(
      "q111_fuzzy_blocked_join",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        val names = p.groupBy(col("p_name").as("name"))
          .agg(count(lit(1)).as("n"))
          .withColumn("blk", split(col("name"), " ").getItem(0))
        val a = names.select(col("blk"), col("name").as("name_a"),
          col("n").as("n_a"))
        val b = names.select(col("blk"), col("name").as("name_b"),
          col("n").as("n_b"))
        a.join(b, Seq("blk"))
          .where(col("name_a") < col("name_b"))
          .withColumn("dist",
            levenshtein(col("name_a"), col("name_b")).cast("long"))
          .where(col("dist") <= 3)
          .select(col("name_a"), col("name_b"), col("dist"),
            col("n_a"), col("n_b"))
          .orderBy(col("name_a"), col("name_b"))
      },
      Some("""
        WITH names AS (
          SELECT p_name AS name, count(*) AS n,
                 string_split(p_name, ' ')[1] AS blk
          FROM part GROUP BY 1),
        pairs AS (
          SELECT a.name AS name_a, b.name AS name_b,
                 levenshtein(a.name, b.name) AS dist,
                 a.n AS n_a, b.n AS n_b
          FROM names a JOIN names b
            ON a.blk = b.blk AND a.name < b.name)
        SELECT name_a, name_b, dist, n_a, n_b
        FROM pairs WHERE dist <= 3
        ORDER BY name_a, name_b""")),

    // ---- q112: pivot / crosstab ----
    // Hour-of-day × event-type count matrix — the reporting shape
    // `GROUP BY` can't produce directly. Spark's `pivot` with an
    // EXPLICIT value list (no discovery scan, deterministic column
    // order); cells are zero-filled so the frame is dense. One
    // shuffle on the row key; the pivot itself is a projection.
    QueryDef(
      "q112_pivot_event_matrix",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val types = Seq("click", "error", "purchase", "signup", "view")
        // ts is the nanos-long contract (Tables.load) — integer DIV
        // only; a double division would shave low bits off 1e18-scale
        // nanos before the cast
        val hours = ev.select(
          expr("((ts DIV 1000000) DIV 3600000) % 24").as("hour"),
          col("event_type"))
        val piv = hours.groupBy("hour")
          .pivot("event_type", types)
          .agg(count(lit(1)))
        piv.select(col("hour") +:
            types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("hour")
      },
      Some("""
        SELECT (epoch_ms(ts) // 3600000) % 24 AS hour,
               count(*) FILTER (event_type = 'click') AS "click",
               count(*) FILTER (event_type = 'error') AS "error",
               count(*) FILTER (event_type = 'purchase') AS "purchase",
               count(*) FILTER (event_type = 'signup') AS "signup",
               count(*) FILTER (event_type = 'view') AS "view"
        FROM events GROUP BY 1 ORDER BY hour""")),

    // ---- q114: corpus snapshot diff ----
    // Dataset versioning: v2 is derived from the corpus by three
    // deterministic in-query edits (drop the 7-multiples, uppercase
    // the 5-multiples' text, append fresh ids for the 11-multiples),
    // then `SnapshotDiff.diff` classifies every id in one
    // (id, 16-byte-fp)-keyed full outer join — unchanged rows (the
    // re-crawl bulk) never materialize. The oracle replays both the
    // derivation and the diff.
    QueryDef(
      "q114_snapshot_diff",
      (s, dir) => {
        val d0 = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val v2 = d0.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, upper(col("text")))
              .otherwise(col("text")))
          .unionAll(d0.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + lit(10000000L)).as("doc_id"),
              concat(col("text"), lit(" v2")).as("text"),
              col("lang"), col("source")))
        graft.operators.SnapshotDiff
          .diff(d0, v2, "doc_id", Seq("text", "lang", "source"))
          .orderBy("doc_id", "status")
      },
      Some(s"""
        WITH v1 AS (
          SELECT doc_id, text, lang, source FROM documents),
        v2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END
                   AS text,
                 lang, source
          FROM documents WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 10000000, text || ' v2', lang, source
          FROM documents WHERE doc_id % 11 = 0),
        f1 AS (SELECT doc_id,
                      ${graft.operators.SnapshotDiff.contentFpSql(Seq("text", "lang", "source"))} AS fp
               FROM v1),
        f2 AS (SELECT doc_id,
                      ${graft.operators.SnapshotDiff.contentFpSql(Seq("text", "lang", "source"))} AS fp
               FROM v2),
        d AS (
          SELECT coalesce(f1.doc_id, f2.doc_id) AS doc_id,
                 CASE WHEN f1.fp IS NULL THEN 'added'
                      WHEN f2.fp IS NULL THEN 'removed'
                      WHEN f1.fp <> f2.fp THEN 'changed' END AS status
          FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id)
        SELECT doc_id, status FROM d WHERE status IS NOT NULL
        ORDER BY doc_id, status""")),

    // ---- q189: CDC apply (snapshot merge round-trip) ----
    // The other half of q114: reconstruct the v2 snapshot from v1
    // plus the payload-carrying change set — the incremental-merge
    // path a re-crawl pipeline takes so the unchanged bulk is never
    // rewritten. The query applies changeSet(v1, v2) back onto v1 and
    // emits each reconstructed row's content fingerprint; the oracle
    // fingerprints v2 built directly — equality IS the round-trip
    // proof (apply ∘ diff = identity) on the real corpus.
    QueryDef(
      "q189_snapshot_apply",
      (s, dir) => {
        val d0 = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val v2 = d0.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, upper(col("text")))
              .otherwise(col("text")))
          .unionAll(d0.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + lit(10000000L)).as("doc_id"),
              concat(col("text"), lit(" v2")).as("text"),
              col("lang"), col("source")))
        val cols = Seq("text", "lang", "source")
        // applyChanges consumes the change table twice (evictions +
        // the union of fresh payloads) — checkpoint it once
        val changes = graft.operators.SnapshotDiff
          .changeSet(d0, v2, "doc_id", cols)
          .transform(graft.Boundary.lazyLocal)
        graft.operators.SnapshotDiff
          .applyChanges(d0, changes, "doc_id", cols)
          .select(col("doc_id"),
            graft.operators.SnapshotDiff.contentFp(cols).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH v2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END
                   AS text,
                 lang, source
          FROM documents WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 10000000, text || ' v2', lang, source
          FROM documents WHERE doc_id % 11 = 0)
        SELECT doc_id,
               ${graft.operators.SnapshotDiff.contentFpSql(Seq("text", "lang", "source"))} AS fp
        FROM v2 ORDER BY doc_id""")),

    // ---- q115: Z-order clustering key ----
    // The Morton interleave `Layout.zValue` as a registered,
    // hash-gated assignment (the write path it feeds —
    // `writeZOrdered`, range-partition + sort on z so min/max stats
    // are tight on BOTH dimensions — is measured in LayoutSpec:
    // a one-column box predicate lands in ≤6 of 16 files vs all 16
    // under the wrong-column linear sort). Pure shift/mask integer
    // arithmetic, replayed in the oracle as the explicit 10-bit
    // interleave sum.
    QueryDef(
      "q115_zorder_key",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_partkey") % 1024).as("x"),
            (col("l_suppkey") % 1024).as("y"))
        l.withColumn("z",
            graft.sources.Layout.zValue(col("x"), col("y"), 10))
          .orderBy(col("z").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(100)
      },
      Some {
        val interleave = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""
        WITH k AS (
          SELECT l_orderkey, l_linenumber,
                 l_partkey % 1024 AS x, l_suppkey % 1024 AS y
          FROM lineitem)
        SELECT l_orderkey, l_linenumber, x, y,
               CAST($interleave AS BIGINT) AS z
        FROM k
        ORDER BY z DESC, l_orderkey, l_linenumber LIMIT 100"""
      }),

    // ---- q118: contrastive training triples ----
    // (anchor, positive, negative) for embedding-model training:
    // positives = the q25 near-dup pairs (Jaccard ≥ 0.8), negatives =
    // deterministic in-shard draws by minimal h60(anchor:candidate) —
    // every step a pure function of the corpus, replayed exactly.
    QueryDef(
      "q118_contrastive_triples",
      (s, dir) => {
        graft.operators.Contrastive.triples(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, nShards = 64)
          .orderBy("anchor", "positive")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${DedupOracleSql.shinglePairs},
        dup AS (
          SELECT a AS doc_a, b AS doc_b FROM pairs WHERE jaccard >= 0.8),
        cands AS (
          SELECT doc_id AS negative,
                 CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                      1, 15)) AS UBIGINT) % 64 AS BIGINT) AS cs
          FROM documents),
        anch AS (
          SELECT doc_a, doc_b,
                 CAST(CAST(concat('0x', substr(md5(CAST(doc_a AS VARCHAR)),
                      1, 15)) AS UBIGINT) % 64 AS BIGINT) AS cs
          FROM dup),
        cand2 AS (
          SELECT a.doc_a, a.doc_b, c.negative,
                 CAST(concat('0x', substr(md5(concat(
                      CAST(a.doc_a AS VARCHAR), ':',
                      CAST(c.negative AS VARCHAR))), 1, 15)) AS UBIGINT)
                   AS rk
          FROM anch a JOIN cands c USING (cs)
          WHERE c.negative <> a.doc_a AND c.negative <> a.doc_b),
        r AS (
          SELECT doc_a, doc_b, negative,
                 row_number() OVER (PARTITION BY doc_a, doc_b
                                    ORDER BY rk, negative) AS rn
          FROM cand2)
        SELECT doc_a AS anchor, doc_b AS positive, negative
        FROM r WHERE rn = 1
        ORDER BY anchor, positive""")),

    // ---- q156: column profile (Deequ-style data-quality report) ----
    // The pre-flight every ingest runs before ANY operator trusts a
    // column: per-column row/null/distinct counts and lexical
    // min/max (stringified so one long-form schema carries every
    // type; string ordering is binary on both engines). One query,
    // one row per column. Distincts count md5 DIGESTS of the rendered
    // value, not the value itself (r11 text-exchange audit): the
    // distinct-expand exchange then carries 32-byte digests where it
    // used to carry whole documents — 100× less network on a 4 KB-avg
    // corpus — and both engines compute the identical md5, so the
    // hash gate stays bit-exact; vs true value-distinct the report
    // differs only on an md5 collision (~n²/2¹²⁸ — no corpus). At
    // 100 TB the exact digests swap for the q110 HLL registers with
    // the same report shape.
    QueryDef(
      "q156_profile",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
        cols.map { c =>
          d.agg(count(lit(1)).as("n"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(md5(col(c).cast("string"))).as("n_distinct"),
            min(col(c)).cast("string").as("min_val"),
            max(col(c)).cast("string").as("max_val"))
            .select(lit(c).as("column"), col("n"), col("n_null"),
              col("n_distinct"), col("min_val"), col("max_val"))
        }.reduce(_ unionByName _).orderBy(col("column"))
      },
      Some(Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT md5(CAST($c AS VARCHAR))) AS BIGINT)
                 AS n_distinct,
               CAST(min($c) AS VARCHAR) AS min_val,
               CAST(max($c) AS VARCHAR) AS max_val
        FROM documents"""
      }.mkString("\n        UNION ALL\n        ") +
        "\n        ORDER BY \"column\""))
  )
}
