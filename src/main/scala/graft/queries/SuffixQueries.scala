package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.SuffixArray
import graft.sources.{ArtifactGuard, Artifacts}

/** q165/q166/q170: the suffix-array family — distributed prefix-
  * doubling suffix ranks (the exact-substring-dedup primitive; Lee et
  * al. 2021, arXiv:2107.06499), the repeated-span curve, and the
  * span-granular exact-substring dedup ranges the ranks exist to
  * power. Oracles replay the ranks as one global dense_rank over
  * space-joined token prefixes (order-equivalent because corpus
  * tokens are non-empty [a-z0-9_] — every token char > ' '; see
  * SuffixArray scaladoc).
  *
  * The rank pyramid is a learn-once ARTIFACT (r9 verdict #3, built
  * through `ArtifactGuard.once` like the IVF/BPE/LR artifacts): the
  * first caller runs the doubling rounds and persists each level as
  * parquet; q165 hash-gates the BUILD against the one-window oracle,
  * and q166/q170 replay from the same parquet —
  * the ~7 s pyramid is paid once per corpus, not once per consumer.
  */
object SuffixQueries {

  private val MaxLen = 16
  private val PersistedLevels = Seq(2, 4, 8, 16)

  private[queries] def rankArtifactDir(dir: String): String =
    Artifacts.dir("suffix", dir, s"L$MaxLen")

  /** level → (doc_id, pos, r) rank tables, loaded from the learn-once
    * artifact (built here unless fresh).
    */
  private def sharedRanks(s: SparkSession, dir: String)
      : Map[Int, DataFrame] = {
    val path = rankArtifactDir(dir)
    ArtifactGuard.once(s, path, Some(ArtifactGuard
        .dataFingerprint(s, s"$dir/documents.parquet"))) {
      val d = Tables.load(s, dir, "documents")
      val levels = SuffixArray.rankLevels(d, "doc_id", "text", MaxLen)
      PersistedLevels.foreach(l => levels(l)
        .write.mode("overwrite").parquet(s"$path/level_$l"))
    }(())
    PersistedLevels.map(l =>
      l -> Tables.read(s, s"$path/level_$l")).toMap
  }

  /** q170/q171 shared core: merged maximal repeated-16-gram spans per
    * document, from the shared rank artifact (unordered).
    */
  private def exactSubstrSpans(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val lens = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val full = sharedRanks(s, dir)(MaxLen)
      .join(lens, Seq("doc_id"))
      .filter(col("pos") + MaxLen <= col("n"))
      .select(col("doc_id"), col("pos"), col("r"))
    val dupRanks = full.groupBy(col("r"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("r"))
    val marked = full.join(dupRanks, Seq("r"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = marked
      .withColumn("_brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + MaxLen, 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + MaxLen).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** Repeated 16-token spans of `documents` as islands: `isl(doc_id,
    * pos, island)` numbers each doc's runs of duplicated window starts,
    * a new island wherever the gap to the previous start exceeds 16.
    */
  private val dupSpanIslands: String = """tk AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        g AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 array_to_string(tk[i:i+15], ' ') AS g
          FROM tk, LATERAL unnest(range(1, len(tk) - 14)) AS u(i)),
        dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
        p AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        m AS (
          SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                        OR pos > lag(pos) OVER w + 16
                      THEN 1 ELSE 0 END AS brk
          FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
          FROM m)"""

  def defs: Seq[QueryDef] = Seq(

    // ---- q165: suffix-array ranks by prefix doubling ----
    // Every token-level suffix ranked by its first 16 tokens in 4
    // doubling rounds (keyed shift-join + two-level bucketed dense
    // rank per round — no single-task global window; the oracle
    // SPELLS the one-window form the decomposition equals). This
    // query GATES the shared artifact: its hash compares the
    // persisted pyramid's top level to the from-scratch oracle.
    QueryDef(
      "q165_suffix_ranks",
      (s, dir) => {
        sharedRanks(s, dir)(MaxLen)
          .select(col("doc_id"), col("pos"), col("r").as("rank"))
          .orderBy(col("doc_id"), col("pos"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        s AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 array_to_string(tk[i:i+15], ' ') AS p
          FROM tk, LATERAL unnest(range(1, len(tk) + 1)) AS u(i))
        SELECT doc_id, pos, dense_rank() OVER (ORDER BY p) AS rank
        FROM s ORDER BY doc_id, pos""")),

    // ---- q166: repeated-span curve from the suffix ranks ----
    // How much of the corpus sits inside a repeated L-token span, for
    // L = 2, 4, 8, 16 — equal level-L rank = identical L-gram, so the
    // doubling structure answers every level at once (the statistic
    // driving "dedup before you train"; positions shorter than L are
    // excluded, they rank by a shorter prefix). Replays the SHARED
    // artifact q165 gated — no pyramid recompute.
    QueryDef(
      "q166_repeated_spans",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val levels = sharedRanks(s, dir)
        val lens = d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"))
        Seq(2, 4, 8, 16).map { l =>
          levels(l).join(lens, Seq("doc_id"))
            .filter(col("pos") + l <= col("n"))
            .groupBy(col("r")).agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") >= 2)
            .agg(coalesce(count(lit(1)), lit(0L)).as("n_dup_spans"),
              coalesce(sum(col("cnt")), lit(0L)).as("dup_positions"),
              coalesce(max(col("cnt")), lit(0L)).as("max_repeat"))
            .select(lit(l.toLong).as("level"), col("n_dup_spans"),
              col("dup_positions"), col("max_repeat"))
        }.reduce(_.unionAll(_)).orderBy(col("level"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        lv AS (SELECT unnest([2, 4, 8, 16]) AS level),
        g AS (
          SELECT level,
                 array_to_string(tk[i:i+level-1], ' ') AS g
          FROM lv, tk,
               LATERAL unnest(range(1, len(tk) + 2 - level)) AS u(i)),
        c AS (
          SELECT level, g, count(*) AS cnt
          FROM g GROUP BY 1, 2 HAVING count(*) >= 2),
        agg AS (
          SELECT level, count(*) AS n_dup_spans, sum(cnt) AS dup_positions,
                 max(cnt) AS max_repeat
          FROM c GROUP BY 1)
        SELECT CAST(lv.level AS BIGINT) AS level,
               CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
               CAST(coalesce(a.dup_positions, 0) AS BIGINT) AS dup_positions,
               CAST(coalesce(a.max_repeat, 0) AS BIGINT) AS max_repeat
        FROM lv LEFT JOIN agg a USING (level) ORDER BY level""")),

    // ---- q170: exact-substring dedup spans ----
    // Lee et al. 2021's deduplicate-training-spans output at span
    // granularity: every corpus position whose FULL 16-token window
    // repeats anywhere (level-16 rank shared by ≥ 2 full windows)
    // marks [pos, pos+16); overlapping/adjacent marked windows merge
    // into maximal per-document spans — the byte ranges an
    // ExactSubstr pass strips before training. Scale shape: one
    // keyed count on the artifact's rank column, a broadcast-joined
    // dup-rank filter, then per-DOCUMENT gaps-and-islands windows
    // (partitioned by doc_id — never a global window). Third consumer
    // of the shared pyramid; pays zero doubling rounds.
    QueryDef(
      "q170_exact_substr_spans",
      (s, dir) => exactSubstrSpans(s, dir)
        .orderBy(col("doc_id"), col("span_start")),
      Some(s"""
        WITH $dupSpanIslands
        SELECT doc_id,
               min(pos) AS span_start,
               max(pos) + 16 AS span_end,
               max(pos) + 16 - min(pos) AS span_len
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start""")),

    // ---- q171: per-document duplication profile ----
    // The decision statistic behind "strip or drop": what fraction of
    // each document's tokens sits inside a repeated 16-token span
    // (the q170 merged ranges, summed per doc over ALL docs — zero
    // for documents with no repeats). A fourth consumer of the shared
    // pyramid; per-doc spans aggregate with one keyed sum + a
    // broadcast-joinable doc-length frame.
    QueryDef(
      "q171_dup_fraction",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val lens = d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val spans = exactSubstrSpans(s, dir)
          .groupBy(col("doc_id"))
          .agg(sum(col("span_len")).as("dup_tokens"))
        lens.join(spans, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
          .withColumn("dup_frac",
            round(col("dup_tokens").cast("double") /
              col("n_tokens").cast("double"), 6))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $dupSpanIslands,
        spans AS (
          SELECT doc_id, max(pos) + 16 - min(pos) AS span_len
          FROM isl GROUP BY doc_id, island),
        dt AS (
          SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens
          FROM spans GROUP BY 1),
        lens AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS n_tokens
          FROM documents)
        SELECT l.doc_id, l.n_tokens,
               coalesce(dt.dup_tokens, 0) AS dup_tokens,
               round(CAST(coalesce(dt.dup_tokens, 0) AS DOUBLE) /
                 CAST(l.n_tokens AS DOUBLE), 6) AS dup_frac
        FROM lens l LEFT JOIN dt ON dt.doc_id = l.doc_id
        ORDER BY l.doc_id""")),

    // ---- q172: exact clone pairs by shared 16-gram count ----
    // MOSS-style clone detection at exact granularity: which document
    // PAIRS share repeated 16-token windows, ranked by how many
    // distinct windows they share — the attribution view q170's spans
    // deliberately drop. Fifth consumer of the rank artifact. Scale
    // shape: (doc, rank) dedup is one keyed exchange on 16-byte rows;
    // pair fanout is df-capped at ranks shared by ≤ 8 documents
    // (C(8,2) = 28 pairs max per rank — boilerplate windows shared by
    // hundreds of docs are attribution-useless AND would explode the
    // exchange, the q164 df-cap argument); the pair count is one
    // keyed sum on 16-byte id pairs.
    QueryDef(
      "q172_clone_pairs",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val lens = d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"))
        val dg = sharedRanks(s, dir)(MaxLen)
          .join(lens, Seq("doc_id"))
          .filter(col("pos") + MaxLen <= col("n"))
          .select(col("doc_id"), col("r")).distinct()
          .transform(graft.Boundary.lazyLocal)
        val shared = dg.groupBy(col("r"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2 && col("cnt") <= 8)
          .select(col("r"))
        val blocked = dg.join(shared, Seq("r"))
        blocked.select(col("r"), col("doc_id").as("doc_a"))
          .join(blocked.select(col("r"), col("doc_id").as("doc_b")),
            Seq("r"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("shared_grams"))
          .filter(col("shared_grams") >= 3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        dg AS (
          SELECT DISTINCT doc_id,
                 array_to_string(tk[i:i+15], ' ') AS g
          FROM tk, LATERAL unnest(range(1, len(tk) - 14)) AS u(i)),
        shared AS (
          SELECT g FROM dg GROUP BY g
          HAVING count(*) BETWEEN 2 AND 8)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared_grams
        FROM dg a JOIN shared s ON s.g = a.g
        JOIN dg b ON b.g = a.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3
        ORDER BY doc_a, doc_b"""))
  )
}
