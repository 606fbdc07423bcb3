package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ×N corpus replication shared by the stress harness
  * (`Stress`) and the sized-corpus quality gate (IvfSizedRecallSpec):
  * one definition so the corpus the per-round stress measures and the
  * corpus the suite GATES are the same data.
  *
  * Copy `cp` of a row gets its id remapped to `id + cp·Stride`. The
  * stride is a multiple of 50 and 8, larger than any base id, so the
  * composition queries' structural splits (q90's doc_id % 50 eval set,
  * q89's % 8 shards, q162/q169's vec_id parity) are IDENTICAL in every
  * copy and row counts scale linearly with the factor.
  *
  * Document copies are token-disjoint: copy `cp > 0` suffixes every
  * token with `~cp`, so corpus statistics (gram doc-frequencies, the
  * bigram model, boilerplate fractions, near-dup pairs) replicate per
  * copy instead of interfering.
  *
  * Embedding copies are sign-flipped per (copy, coordinate) — an
  * isometry per copy (all vectors in a copy share the flip pattern,
  * so within-copy inner products are EXACTLY the base corpus's) that
  * decorrelates copies from each other. The replicated corpus is
  * therefore the adversarial case for a coarse quantizer: f mutually
  * decorrelated isometric images of the base geometry, no global
  * cluster structure for KMeans to exploit — recall laws calibrated
  * here are worst-case, not best-case.
  */
object StressData {
  val Stride = 1000000L

  /** `f` rows `cp = 0 … f-1`, the copy index to cross-join against. */
  def copies(spark: SparkSession, f: Int): DataFrame =
    spark.range(f).select(col("id").as("cp"))

  /** `f` copies of `df`, `idCol` remapped by [[Stride]]; `rest` gives
    * every other column's value in copy `cp` (default: unchanged).
    */
  private def replicate(df: DataFrame, f: Int, idCol: String)(
      rest: PartialFunction[String, Column]): DataFrame =
    if (f == 1) df
    else {
      val maxId = df.agg(max(col(idCol))).head.getLong(0)
      require(maxId < Stride,
        s"$idCol $maxId >= stride $Stride: copies would collide")
      df.crossJoin(copies(df.sparkSession, f)).select(df.columns.map {
        case `idCol` => (col(idCol) + col("cp") * Stride).as(idCol)
        case c => rest.applyOrElse(c, col).as(c)
      }.toSeq: _*)
    }

  /** `f` copies of a documents frame (any frame keyed by `doc_id`).
    * With `disjointTokens` (the default) copy `cp > 0` suffixes every
    * `text` token with `~cp`; without it every copy carries the same
    * payload (pure duplication).
    */
  def replicateDocuments(docs: DataFrame, f: Int,
      disjointTokens: Boolean = true): DataFrame =
    replicate(docs, f, "doc_id") {
      case "text" if disjointTokens =>
        when(col("cp") === 0, col("text"))
          .otherwise(concat_ws(" ", transform(split(col("text"), " "),
            t => concat(t, lit("~"), col("cp")))))
    }

  /** Copy `cp`'s ±1 diagonal applied to the float vector `v`. */
  def signFlip(v: Column, cp: Column): Column =
    transform(v, (x, i) =>
      (x * when(pmod(xxhash64(cp, i), lit(2)) === 0,
        lit(1.0f)).otherwise(lit(-1.0f))).cast("float"))

  def replicateEmbeddings(emb: DataFrame, f: Int): DataFrame =
    replicate(emb, f, "vec_id") {
      case "embedding" => signFlip(col("embedding"), col("cp"))
    }

  /** `f` sign-flipped copies of an embeddings frame as `(id, vec)`,
    * plus a planted near-duplicate twin of every 25th base vector —
    * near-dup ground truth that a recall count can read directly:
    *   - copy `cp` of vector v is D_cp·v ([[signFlip]]): within-copy
    *     cosines are EXACTLY preserved, cross-copy cosines are
    *     scrambled to the noise floor — true pairs stay within a copy;
    *   - a twin is its source with per-element multiplicative jitter
    *     u ∈ [1−0.4, 1+0.4] (deterministic, keyed on (oid, cp,
    *     element)), giving twin cosines ≈ 0.97;
    *   - source ids are even (2·(oid·f+cp)), twin ids odd (+1), so the
    *     ground-truth pair set is {(2k, 2k+1)}.
    * At cosine threshold 0.9 the natural corpus has zero pairs (max
    * natural cosine ≈ 0.6), so found pairs ≈ planted pairs.
    */
  def plantedTwins(emb: DataFrame, f: Int): DataFrame = {
    val rows = emb.select(col("vec_id").as("oid"), col("embedding").as("v"))
      .crossJoin(copies(emb.sparkSession, f))
    val flip = signFlip(col("v"), col("cp"))
    val srcs = rows.select(
      ((col("oid") * f + col("cp")) * 2).as("id"), flip.as("vec"))
    val twins = rows.filter(col("oid") % 25 === 0)
      .select(((col("oid") * f + col("cp")) * 2 + 1).as("id"),
        transform(flip, (x, i) =>
          (x * (lit(1.0f) +
            (pmod(xxhash64(col("oid"), col("cp"), i, lit(7)), lit(1000))
              .cast("double") / 500.0 - 1.0).cast("float") * lit(0.4f)))
            .cast("float")).as("vec"))
    srcs.union(twins)
  }

  /** Writes `df` as `Tables.cpus` hash splits on `key` and reads it
    * back. A replicated corpus is written as MANY splits: the crossJoin
    * plan funnels everything into the handful of source-scan
    * partitions, and a ×50 corpus written as one file gives every
    * downstream query a 1-partition scan — the measured "ratio" is
    * then the file count, not the engine (a real ×50 table arrives as
    * hundreds of splits). HASH-repartitioning on the key (keyless
    * `repartition(n)` is round-robin, whose placement depends on input
    * partition order) keeps the file layout deterministic run over
    * run, not just the table content.
    */
  def writeSplits(df: DataFrame, path: String, key: String): DataFrame = {
    df.repartition(Tables.cpus, col(key)).write.mode("overwrite").parquet(path)
    Tables.read(df.sparkSession, path)
  }

  /** Forces every column of `df` through Bench's `noop` sink and
    * returns its row count as `n` plus each of `aggs` by its alias,
    * all observed in the same action: `.count()` would let Catalyst
    * prune the unused projections.
    */
  def forced(df: DataFrame, aggs: Column*): Map[String, Any] = {
    val obs = Observation("stress_rows")
    Bench.force(df.observe(obs, count(lit(1)).as("n"), aggs: _*))
    obs.get
  }

  /** The row count of [[forced]]. */
  def forcedRows(df: DataFrame): Long = forced(df)("n").asInstanceOf[Long]
}
