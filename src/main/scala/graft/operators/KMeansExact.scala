package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means with EXACT cross-engine replay — the clustering
  * primitive behind corpus curation (topic balancing, SemDeDup-style
  * cell blocking, diversity sampling) surfaced as a first-class,
  * hash-gated operator instead of a library black box:
  *
  *  - init: the vectors with the `k` smallest ids are the seed
  *    centroids (deterministic, data-defined — the replayable stand-in
  *    for random init; k-means++ would add a sampling chain the
  *    oracle cannot replay exactly). Seeds are taken from the
  *    null/empty-FILTERED rows (advisor r15 #3): the operator
  *    requires dense non-null vectors — a corpus where one of the k
  *    smallest ids has a null/empty vector is out of contract (the
  *    fixed-point kernels reject null coordinates loudly);
  *  - assignment: squared L2 distance as an exact DECIMAL sum of
  *    (x−c)² over 6-decimal fixed-point coordinates; argmin breaks
  *    ties on cluster id ascending (total order, no float caprice);
  *  - update: per-dimension mean = exact DECIMAL sum, ONE pinned
  *    double division, re-rounded to 6 decimals; an emptied cluster
  *    keeps its previous centroid (coalesce — replayed identically).
  *
  * The DuckDB oracle unrolls `iters` assign/update rounds as CTE
  * stages and must land on the IDENTICAL assignment table.
  *
  * Scale shape: each round is one broadcast of the k·d centroid table
  * against the exploded coordinates (scan-local distance terms,
  * map-side-combined groupBy(id, cluster)), then one argmin window
  * keyed BY VECTOR and one k·d-sized aggregation for the update —
  * the exchange never carries more than (id, cluster, decimal) rows
  * and the model stays k·d rows between rounds (the NB/BPE bounded-
  * model-boundary contract).
  */
object KMeansExact {

  /** `iters` Lloyd rounds over `emb` (idCol, vecCol:array<float>).
    * Returns the final assignment (idCol, cluster:int,
    * d2:double) — d2 the exact squared distance to the winning
    * centroid, cast from DECIMAL.
    */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    loop(emb, idCol, vecCol, k, iters)._1

  /** The centroid table the FINAL assignment was computed against
    * (i.e. after iters−1 updates — exactly what [[assign]]'s output
    * row distances refer to), collected as the broadcastable standing
    * model: (cluster, j) → 6-decimal coordinate.
    */
  def fitModel(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Map[(Int, Int), java.math.BigDecimal] =
    loop(emb, idCol, vecCol, k, iters)._2
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).setScale(6))
      .toMap

  /** Standing (streaming) assigner: arriving vectors are assigned
    * under the fitted centroid table completely scan-locally
    * (stateless mapPartitions — the standing-LM/LR shape), with the
    * IDENTICAL fixed-point arithmetic as [[assign]]: coordinates
    * rounded half-up to 6, exact BigDecimal squared distances,
    * (d2, cluster) total-order argmin. Parity proven in
    * StreamingSpec. Output: (idCol, cluster, d2).
    */
  def assignFitted(docs: DataFrame, idCol: String, vecCol: String,
      model: Map[(Int, Int), java.math.BigDecimal]): DataFrame = {
    require(model.nonEmpty, "empty centroid model")
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    docs.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val m = bc.value
        val clusters = m.keys.map(_._1).toArray.distinct.sorted
        it.map { case (id, vec) =>
          val x6 = vec.map(v => java.math.BigDecimal
            .valueOf(v.toDouble).setScale(6, java.math.RoundingMode.HALF_UP))
          var bestK = -1
          var bestD: java.math.BigDecimal = null
          clusters.foreach { c =>
            var d = java.math.BigDecimal.ZERO
            var j = 0
            while (j < x6.length) {
              m.get((c, j)).foreach { cj =>
                val diff = x6(j).subtract(cj)
                d = d.add(diff.multiply(diff))
              }
              j += 1
            }
            if (bestD == null || d.compareTo(bestD) < 0) {
              bestK = c; bestD = d
            }
          }
          (id, bestK, bestD.doubleValue)
        }
      }
      .toDF(idCol, "cluster", "d2")
  }

  /** Assignment plus the centroid TABLE it was computed against
    * (cluster, j, c: DECIMAL(18,6)) — for operators that persist
    * both sides as artifacts (the PQ codebook build).
    */
  def assignAndModel(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) =
    loop(emb, idCol, vecCol, k, iters)

  private def loop(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k >= 2 && k <= 256 && iters >= 1 && iters <= 16,
      s"k=$k iters=$iters")
    // r15 fixed-point rewrite (identical values, see
    // graft.functions.expr.FixedPointExprs): the old loop paid, PER
    // ROUND, a broadcast distance join, a (id, cluster) aggregation
    // exchange, an argmin window sort and a centroid left-join —
    // ~4 exchanges × iters, every DECIMAL multiply on the BigDecimal
    // slow path. The k·d centroid table is a bounded model (k ≤ 256,
    // d ≤ 128 by contract — the same boundary fitModel's collect
    // crosses), so each round is ONE job: assignment fused scan-local
    // (NearestCentroidFixed over unscaled micros, strict-less on
    // ascending cluster id ≡ the old (d2, cluster) window tie-break)
    // into a per-cluster 128-bit vector-sum aggregate; the mean
    // update divides/rounds at the driver exactly like the old
    // round(sum(x)/count, 6). The FINAL assignment is a pure
    // scan-local map under the fitted centroids — zero exchanges.
    import graft.functions.expr.{FixedPoint, FixedPointVec, LongVecSumAgg, NearestCentroidFixed}
    import org.apache.spark.sql.GraftSqlBridge.{column => brCol, expression => brEx}
    val spark = emb.sparkSession

    def r6(x: Double): java.math.BigDecimal = {
      val y = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      java.math.BigDecimal.valueOf(y)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }

    val base = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val xu = brCol(FixedPointVec(brEx(col(vecCol))))

    // Materialize the fixed-point vectors ONCE before the loop (r16,
    // guide §2.4 / r15 verdict #4): every round used to re-scan the
    // source and re-run the double→micros conversion — iters× full
    // corpus reads at 100 TB where one pass suffices. Eager: the
    // seed collect, every round's aggregate, and the final assignment
    // all consume it (fan-out ≥ 5).
    val fx = base.select(col(idCol), xu.as("_xu"))
      .transform(graft.Boundary.eagerLocal)
    val xm = col("_xu")

    // seed centroids: the k smallest ids' vectors, cluster = rank of
    // id among the seeds (the old dense_rank over the k-row frame)
    val seeds = fx.orderBy(col(idCol)).limit(k).collect()
    var cent: Array[Array[Long]] =
      seeds.map(_.getSeq[Long](1).toArray)

    for (_ <- 1 to (iters - 1)) {
      val nearest = brCol(NearestCentroidFixed(brEx(xm), cent))
      val upd = fx
        .select(nearest.getField("cluster").as("cluster"), xm.as("_xu"))
        .groupBy(col("cluster"))
        .agg(brCol(LongVecSumAgg(brEx(col("_xu")))
          .toAggregateExpression()).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cent.map(_.clone())
      upd.foreach { r =>
        val c = r.getInt(0)
        val sums = r.getSeq[java.math.BigDecimal](1)
        val cnt = r.getLong(2)
        next(c) = sums.map(s =>
          r6(s.doubleValue() / cnt.toDouble)
            .unscaledValue().longValueExact()).toArray
      }
      cent = next
    }

    val nearest = brCol(NearestCentroidFixed(brEx(xm), cent))
    // two projects, NOT one: CollapseProject keeps the non-cheap
    // struct expression single-evaluated only when it sits in its own
    // project below the field extraction
    val assigned = fx.select(col(idCol), nearest.as("_n"))
      .select(col(idCol),
        col("_n").getField("cluster").as("cluster"),
        col("_n").getField("d2").cast("double").as("d2"))

    // the fitted-centroid TABLE the final assignment was computed
    // against, as a local relation (no job): (cluster, j, c)
    val centRows = cent.zipWithIndex.flatMap { case (vec, c) =>
      vec.zipWithIndex.map { case (u, j) =>
        org.apache.spark.sql.Row(c, j,
          new java.math.BigDecimal(java.math.BigInteger.valueOf(u), 6))
      }
    }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.DecimalType(18, 6), nullable = false)))
    val centDf = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centSchema)
    (assigned, centDf)
  }

  private def roundSql(r: Int): String = {
    val prev = if (r == 1) "c0" else s"c${r - 1}"
    s"""d$r AS (
        SELECT x.id, $prev.cluster,
               sum(CAST(x.x - $prev.c AS DECIMAL(18,6))
                   * CAST(x.x - $prev.c AS DECIMAL(18,6))) AS d2
        FROM x JOIN $prev ON x.j = $prev.j
        GROUP BY 1, 2),
      a$r AS (
        SELECT id, cluster, d2,
               row_number() OVER (PARTITION BY id ORDER BY d2, cluster)
                 AS rn
        FROM d$r),
      u$r AS (
        SELECT a.cluster, x.j,
               CAST(round(CAST(sum(x.x) AS DOUBLE) /
                 CAST(count(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS cnew
        FROM x JOIN (SELECT id, cluster FROM a$r WHERE rn = 1) a
          USING (id)
        GROUP BY 1, 2),
      c$r AS (
        SELECT $prev.cluster, $prev.j,
               coalesce(u$r.cnew, $prev.c) AS c
        FROM $prev LEFT JOIN u$r
          ON $prev.cluster = u$r.cluster AND $prev.j = u$r.j)"""
  }

  /** WITH-clause body that trains on the `embeddings` table (CTE `x`
    * holds its 6-decimal exploded positions) and ends at the FITTED
    * centroid table — the table [[fitModel]] collects, i.e.
    * c{iters−1}, the one the final assignment round reads. For
    * oracles that assign OTHER frames under the fitted model (the
    * q191 CDC index replay). Returns (cteBody, fittedTableName).
    */
  def fittedCentroidCte(k: Int, iters: Int): (String, String) = {
    val rounds = (1 to (iters - 1)).map(roundSql)
    val body = s"""x AS (
        SELECT vec_id AS id, CAST(j - 1 AS INT) AS j,
               CAST(round(CAST(embedding[j] AS DOUBLE), 6)
                 AS DECIMAL(18,6)) AS x
        FROM embeddings,
             LATERAL unnest(range(1, len(embedding) + 1)) AS t(j)),
      seeds AS (
        SELECT vec_id AS id,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cluster
        FROM embeddings ORDER BY vec_id LIMIT $k),
      c0 AS (
        SELECT seeds.cluster, x.j, x.x AS c
        FROM x JOIN seeds USING (id))""" +
      (if (rounds.isEmpty) "" else rounds.mkString(",\n      ", ",\n      ", ""))
    (body, s"c${iters - 1}")
  }

  /** DuckDB replay of [[assign]], rounds unrolled (the Pca/LogReg
    * oracle pattern).
    */
  def oracleSql(k: Int, iters: Int): String = {
    val (prefix, _) = fittedCentroidCte(k, iters)
    s"""
      WITH $prefix,
      ${roundSql(iters)}
      SELECT id AS vec_id, cluster, CAST(d2 AS DOUBLE) AS d2
      FROM a$iters WHERE rn = 1 ORDER BY vec_id"""
  }
}
