package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-layout helpers for the 100 TB story: co-located joins via
  * bucketing. Two tables bucketed (and sorted) on the same key join
  * with NO exchange and NO sort — the shuffle is paid once at write
  * time instead of per query (LayoutSpec asserts the plan). At scale
  * this is the difference between re-shuffling the fact table on
  * every join and never shuffling it at all.
  */
object Layout {

  /** Write `df` bucketed+sorted by `keys` as a catalog table.
    * Idempotent across JVMs: a fresh in-memory catalog can't see a
    * previous run's managed table, so the stale location is removed
    * explicitly before the write.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Deterministic global-shuffle shard assignment — the write-side
    * contract of a training pipeline: every row gets a `shard` in
    * [0, nShards) and a within-shard order key `pos`, both pure
    * functions of the id (the q55/q65 Knuth multiplicative hash), so
    * the "random" order is bit-reproducible across retries, engines
    * and re-partitionings, and a re-run after adding one document
    * moves only that document. Content-independent by design: shard
    * balance is hash balance, never skewed by doc length or source.
    */
  def shardAssignment(df: DataFrame, idCol: String, nShards: Int)
      : DataFrame = {
    require(nShards > 0, s"nShards=$nShards")
    import org.apache.spark.sql.functions._
    val h = pmod(col(idCol) * lit(2654435761L), lit(2147483647L))
    df.withColumn("pos", h)
      .withColumn("shard", (h % nShards).cast("int"))
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of `x` lands at position 2i,
    * bit i of `y` at 2i+1. Pure shift/mask integer arithmetic —
    * codegen'd, and exactly replayable in ANSI SQL (a sum over bit
    * positions), so a z-assignment query can sit under the oracle
    * gate.
    */
  def zValue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, bits: Int)
      : org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits")
    import org.apache.spark.sql.functions._
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` clustered by the Z-order of (`xCol`, `yCol`): rows
    * are routed by z-value into `numFiles` files of consecutive
    * z-ranges, sorted within each. Every file then covers a compact
    * z-interval — a roughly square region of the (x, y) plane — so
    * min/max column statistics are TIGHT ON BOTH dimensions and a
    * selective predicate on either column touches a small fraction of
    * files. (A linear sort makes one column's stats tight and leaves
    * the other's spanning the whole domain — every file matches.)
    * Plain parquet prunes at row-group granularity from these stats;
    * file-granularity skipping is the table format's job (manifest
    * min/max) — the layout below is what makes either effective.
    * LayoutSpec measures the clustering directly: matching rows for a
    * one-column box predicate land in ≤¼ of the z-ordered files vs ALL
    * files under the wrong-column linear sort.
    *
    * The file boundaries are the exact `numFiles`-quantiles of the
    * z-values, computed in one pass before the write, and file `i`
    * takes the rows above `i` of them. The same input therefore always
    * gives the same files. (`repartitionByRange` would sample its
    * boundaries with a seed drawn from the plan's RDD ids, so the
    * files would depend on how many jobs the session ran before.) The
    * exact quantile pass keeps one summary entry per row on the
    * driver, and the boundaries are compared as doubles, which is
    * exact for `bits` ≤ 26 and merely rounded, still deterministic and
    * order-preserving, above.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String,
      yCol: String, bits: Int, numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val z = df.withColumn("_z", zValue(col(xCol), col(yCol), bits))
    val bounds = z.stat.approxQuantile("_z",
      Array.tabulate(numFiles - 1)(i => (i + 1).toDouble / numFiles), 0.0)
    val fileId = bounds.map(b => when(col("_z") > b, 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
    z.repartitionById(numFiles, fileId)
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Materialize the corpus as `nShards` deterministic shards:
    * parquet partitioned by `shard` (a loader reads shard k as one
    * directory), rows carrying the materialized `pos` order key —
    * readers sort on it; file-enumeration order is never part of the
    * contract. One exchange keyed on the 4-byte shard id (documents
    * ride it once — this IS the global shuffle, paid at write time so
    * training epochs re-read for free), sorted within partitions so
    * each file is internally pos-ordered.
    */
  def writeTrainingShards(df: DataFrame, idCol: String, nShards: Int,
      path: String): Unit = {
    import org.apache.spark.sql.functions._
    shardAssignment(df, idCol, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }
}
