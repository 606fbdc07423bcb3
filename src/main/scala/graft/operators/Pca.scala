package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Top-principal-component extraction by power iteration over the
  * (6-decimal fixed-point) covariance of an embedding column — the
  * embedding-hygiene primitive corpus pipelines run before dedup or
  * retrieval: dominant-direction removal (Mu et al. 2018's "all-but-
  * the-top" post-processing) and variance diagnostics both start
  * from PC1.
  *
  * EXACT replay discipline: the input coordinates are rounded to 6
  * decimals into DECIMAL once; the mean, the covariance, every
  * matvec, and the final projections are then exact DECIMAL sums with
  * pinned double divisions (IEEE division and sqrt are bit-specified;
  * only the per-step 6-decimal re-rounding keeps magnitudes in fixed
  * point). The DuckDB oracle replays the identical arithmetic with
  * the iteration unrolled into CTE stages and lands on the same
  * projections bit-for-bit. Convergence sign/speed is therefore a
  * FUNCTION of the data, not of the engine.
  *
  * Scale shape: one corpus pass explodes vectors to (id, j, x) — the
  * d² work lives in the covariance self-join, whose groupBy(j,k) is
  * map-side combined so the exchange carries at most d² rows per
  * task, never the corpus. The d×d covariance (a few thousand rows
  * for d ≤ 128) is localCheckpoint-ed and each power-iteration round
  * is a d²-row join against a d-row vector — driver/exchange work is
  * O(iters · d²), independent of corpus size. At very large d the
  * production swap is a per-partition Gram Aggregator (same output,
  * one pass, no explode); the plan here keeps the declarative form
  * Catalyst can prune.
  */
object Pca {

  /** (idCol, j:int, x:decimal(18,6)): exploded 6-decimal fixed-point
    * coordinates.
    */
  def explodeFixed(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), posexplode(col(vecCol)).as(Seq("j", "xr")))
      .select(col(idCol), col("j"),
        round(col("xr").cast("double"), 6).cast("decimal(18,6)").as("x"))

  /** Centered coordinates (idCol, j, cx:decimal(18,6)) plus the
    * per-dimension mean table (j, mu).
    */
  def centered(x: DataFrame, idCol: String): (DataFrame, DataFrame) = {
    val mu = x.groupBy(col("j"))
      .agg(round(sum(col("x")).cast("double") /
        count(lit(1)).cast("double"), 6).cast("decimal(18,6)").as("mu"))
    val cx = x.join(broadcast(mu), Seq("j"))
      .select(col(idCol), col("j"),
        (col("x") - col("mu")).cast("decimal(18,6)").as("cx"))
    (cx, mu)
  }

  /** 6-decimal covariance (j, k, c) of the centered coordinates.
    * Computed on the upper triangle only (the DECIMAL multiply is the
    * hot path — symmetry halves it, bit-identically: (j,k) and (k,j)
    * sum the same product multiset) and mirrored.
    */
  def covariance(cx: DataFrame, idCol: String, n: Long): DataFrame = {
    val a = cx.select(col(idCol), col("j"), col("cx").as("cxa"))
    val b = cx.select(col(idCol), col("j").as("k"), col("cx").as("cxb"))
    val upper = a.join(b, Seq(idCol))
      .filter(col("j") <= col("k"))
      .groupBy(col("j"), col("k"))
      .agg(round(sum(col("cxa") * col("cxb")).cast("double") /
        lit(n).cast("double"), 6).cast("decimal(18,6)").as("c"))
    upper.unionByName(upper.filter(col("j") =!= col("k"))
      .select(col("k").as("j"), col("j").as("k"), col("c")))
  }

  /** `iters` power-iteration rounds from the uniform unit start
    * (v0_j = 1/sqrt(d) rounded to 6): returns (j, v:decimal(18,6)).
    * Each round: u = C·v exactly in DECIMAL, re-rounded to 6; v' =
    * round(u / ||u||, 6) with the norm an exact decimal
    * sum-of-squares under one pinned sqrt.
    */
  def powerIteration(cov: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters=$iters")
    val spark = cov.sparkSession
    import spark.implicits._
    val covCk = cov.transform(graft.Boundary.lazyLocal)
    val v0 = round(lit(1.0) / sqrt(lit(dim.toDouble)), 6)
    var v: DataFrame = spark.range(dim)
      .select(col("id").cast("int").as("j"),
        v0.cast("decimal(18,6)").as("v"))
    for (_ <- 1 to iters) {
      val u = covCk
        .join(v.select(col("j").as("k"), col("v")), Seq("k"))
        .groupBy(col("j"))
        .agg(round(sum(col("c") * col("v")).cast("double"), 6)
          .cast("decimal(18,6)").as("u"))
      val nrm = u.agg(
        sqrt(sum(col("u") * col("u")).cast("double")).as("nrm"))
      val next = u.crossJoin(broadcast(nrm))
        .select(col("j"),
          round(col("u").cast("double") / col("nrm"), 6)
            .cast("decimal(18,6)").as("v"))
        .collect()
      // flatten lineage between rounds: d rows, a bounded model
      // boundary (the NB/BPE contract)
      v = next.map(r => (r.getInt(0), r.getDecimal(1))).toSeq
        .toDF("j", "v")
        .select(col("j"), col("v").cast("decimal(18,6)").as("v"))
    }
    v
  }

  /** Per-vector projection onto the component: (idCol, pc1:double) —
    * an exact DECIMAL dot product per vector.
    */
  def project(cx: DataFrame, idCol: String, v: DataFrame): DataFrame =
    cx.join(broadcast(v), Seq("j"))
      .groupBy(col(idCol))
      .agg(sum(col("cx") * col("v")).cast("double").as("pc1"))

  // ---- fixed-point fast path (r15 optimization) --------------------
  // The declarative pipeline above pays (a) an n·d² explode +
  // id-keyed self-join whose DECIMAL multiplies run on
  // java.math.BigDecimal (precision 37 > the compact-long limit) and
  // (b) ~3 tiny Spark jobs per power-iteration round. The fixed-point
  // path computes the identical values: one scan-local Gram aggregate
  // over unscaled-micros longs (exact 128-bit sums — see
  // [[graft.functions.expr.GramUpperAgg]]), the d²-sized power
  // iteration in driver BigDecimal arithmetic (the same bounded model
  // boundary the old loop's per-round collect already crossed), and a
  // scan-local exact dot product per vector — ZERO corpus exchanges.
  // Bit-equality is replayed by the unchanged DuckDB oracles.

  private def r6(x: Double): java.math.BigDecimal = {
    // Spark's round(_, 6) on DoubleType followed by the DECIMAL(18,6)
    // cast — both HALF_UP through BigDecimal.valueOf
    val y = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(y)
      .setScale(6, java.math.RoundingMode.HALF_UP)
  }

  private def aggCol(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
    org.apache.spark.sql.GraftSqlBridge.column(f.toAggregateExpression())
  private def ex(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  /** (muUnscaled, nAll): per-dimension 6-decimal means (micros) and
    * the TOTAL row count (the covariance divisor — includes null-
    * vector rows, exactly like the old `emb.count()`), in ONE job.
    */
  private def muStats(emb: DataFrame, vecCol: String)
      : (Array[Long], Long) = {
    import graft.functions.expr.{FixedPointVec, LongVecSumAgg}
    val xu = org.apache.spark.sql.GraftSqlBridge.column(
      FixedPointVec(ex(col(vecCol))))
    val row = emb.agg(
      aggCol(LongVecSumAgg(ex(xu))).as("s"),
      count(col(vecCol)).as("nj"),
      count(lit(1)).as("n"),
      // advisor r15 #2: nj counts non-null vectors, but a non-null
      // EMPTY vector would inflate the mean divisor relative to the
      // exploded DECIMAL formulation (which contributed no rows).
      // Same job, one extra column — loud, not silent.
      count(when(size(col(vecCol)) > 0, lit(1))).as("nne")).head()
    val sums = row.getSeq[java.math.BigDecimal](0)
    val nj = row.getLong(1)
    val n = row.getLong(2)
    require(row.getLong(3) == nj,
      s"PCA mean: ${nj - row.getLong(3)} empty (zero-length) vectors — " +
        "the exactness contract requires uniform non-empty vectors")
    val mu = sums.map { s =>
      // old: round(sum(x).cast("double") / count.cast("double"), 6)
      if (nj == 0) 0L
      else r6(s.doubleValue() / nj.toDouble).unscaledValue().longValueExact()
    }.toArray
    (mu, n)
  }

  /** Centered unscaled-micros vector column over `emb`. */
  private def cxuCol(vecCol: String, muU: Array[Long]) = {
    import graft.functions.expr.{FixedPointVec, FixedSubVec}
    org.apache.spark.sql.GraftSqlBridge.column(FixedSubVec(
      FixedPointVec(ex(col(vecCol))),
      ex(typedlit[Seq[Long]](muU.toSeq))))
  }

  /** Covariance at the driver: upper-triangle exact sums from ONE
    * Gram-aggregate job, divided/rounded exactly like the old
    * `round(sum(cxa·cxb).cast("double") / n, 6)`, mirrored to the
    * full d×d matrix.
    */
  private def covarianceLocal(emb: DataFrame, vecCol: String,
      muU: Array[Long], n: Long, dim: Int)
      : Array[Array[java.math.BigDecimal]] = {
    import graft.functions.expr.GramUpperAgg
    val sums = emb
      .agg(aggCol(GramUpperAgg(ex(cxuCol(vecCol, muU)))).as("g"))
      .head().getSeq[java.math.BigDecimal](0)
    val cov = Array.fill(dim)(new Array[java.math.BigDecimal](dim))
    var cell = 0
    for (j <- 0 until dim; k <- j until dim) {
      val c =
        if (cell < sums.length) r6(sums(cell).doubleValue() / n.toDouble)
        else java.math.BigDecimal.ZERO.setScale(6)
      cov(j)(k) = c
      cov(k)(j) = c
      cell += 1
    }
    cov
  }

  /** The power iteration of [[powerIteration]] in driver BigDecimal
    * arithmetic — identical per-step rounding (exact scale-12 matvec
    * sums → double → round 6; one pinned sqrt per norm). d² work on d
    * ≤ 128 models, the same bounded boundary the old loop's per-round
    * `collect()` crossed.
    */
  private def powerIterationLocal(cov: Array[Array[java.math.BigDecimal]],
      dim: Int, iters: Int): Array[java.math.BigDecimal] = {
    require(iters >= 1 && iters <= 32, s"iters=$iters")
    var v = Array.fill(dim)(r6(1.0 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val u = (0 until dim).map { j =>
        var s = java.math.BigDecimal.ZERO
        var k = 0
        while (k < dim) {
          s = s.add(cov(j)(k).multiply(v(k)))
          k += 1
        }
        r6(s.doubleValue())
      }.toArray
      var s2 = java.math.BigDecimal.ZERO
      u.foreach(x => s2 = s2.add(x.multiply(x)))
      val nrm = math.sqrt(s2.doubleValue())
      v = u.map(x => r6(x.doubleValue() / nrm))
    }
    v
  }

  /** End-to-end: one stats job + one Gram job + driver power
    * iteration + a scan-local exact dot per vector. Returns
    * (idCol, pc1) — bit-identical to the declarative pipeline (the
    * unchanged oracle replays it).
    */
  def pc1Projection(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): DataFrame = {
    import graft.functions.expr.FixedDotDec
    val base = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val (muU, n) = muStats(emb, vecCol)
    // empty corpus: the declarative pipeline's frames were all empty
    // (no NaN ever materialized); return the same empty result
    // instead of iterating on an all-zero covariance (0/0 at the norm)
    if (muU.isEmpty || n == 0)
      return base.where(lit(false))
        .select(col(idCol), lit(null).cast("double").as("pc1"))
    val v = powerIterationLocal(
      covarianceLocal(emb, vecCol, muU, n, dim), dim, iters)
    val vU = v.map(_.unscaledValue().longValueExact())
    val dot = org.apache.spark.sql.GraftSqlBridge.column(FixedDotDec(
      ex(cxuCol(vecCol, muU)), ex(typedlit[Seq[Long]](vU.toSeq))))
    base.select(col(idCol), dot.cast("double").as("pc1"))
  }

  /** All-but-the-top correction (Mu et al. 2018): every centered
    * vector minus its PC1 component, x̂ = cx − (cx·v)·v, with the
    * projection re-rounded to 6 decimals so the subtraction stays an
    * exact DECIMAL. Output: (idCol, j, corrected:double) — the
    * dominant-direction-free embedding, exploded.
    */
  def allButTop(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): DataFrame = {
    // same fixed-point path as [[pc1Projection]]: the projection and
    // the correction are per-vector scan-local kernels (no cx
    // checkpoint, no joins) — x̂_j = cx_j − p6·v_j computed as the
    // exact scale-12 integer cxu_j·10⁶ − p6u·vU_j
    import graft.functions.expr.{AbttCorrectArr, FixedDotDec}
    val base = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val (muU, n) = muStats(emb, vecCol)
    if (muU.isEmpty || n == 0)
      return base.where(lit(false))
        .select(col(idCol), lit(null).cast("int").as("j"),
          lit(null).cast("double").as("corrected"))
    val v = powerIterationLocal(
      covarianceLocal(emb, vecCol, muU, n, dim), dim, iters)
    val vU = v.map(_.unscaledValue().longValueExact())
    val cxu = cxuCol(vecCol, muU)
    val dot = org.apache.spark.sql.GraftSqlBridge.column(FixedDotDec(
      ex(cxu), ex(typedlit[Seq[Long]](vU.toSeq))))
    // p6 = round(Σ cx·v as double, 6) re-scaled to micros
    val p6u = (round(dot.cast("double"), 6).cast("decimal(18,6)") *
      lit(1000000)).cast("long")
    val corrected = org.apache.spark.sql.GraftSqlBridge.column(
      AbttCorrectArr(ex(cxu), ex(p6u), vU))
    base
      .select(col(idCol), posexplode(corrected).as(Seq("j", "corrected")))
      .select(col(idCol), col("j"), col("corrected"))
  }

  /** The oracle replay of [[pc1Projection]] as DuckDB SQL, iteration
    * unrolled. Kept HERE so the arithmetic and its replay live side
    * by side (the q119 pattern).
    */
  def pc1OracleSql(dim: Int, iters: Int): String =
    s"""
      WITH ${pcaCtes(dim, iters)}
      SELECT c.id AS vec_id, CAST(sum(c.cx * v$iters.v) AS DOUBLE) AS pc1
      FROM c JOIN v$iters ON c.j = v$iters.j
      GROUP BY 1 ORDER BY 1"""

  /** Oracle replay of [[allButTop]]: the [[pc1OracleSql]] CTEs plus
    * the re-rounded projection and the exact-DECIMAL subtraction.
    */
  def abttOracleSql(dim: Int, iters: Int): String =
    s"""
      WITH ${pcaCtes(dim, iters)},
      proj AS (
        SELECT c.id,
               CAST(round(CAST(sum(c.cx * v$iters.v) AS DOUBLE), 6)
                 AS DECIMAL(18,6)) AS p6
        FROM c JOIN v$iters ON c.j = v$iters.j GROUP BY 1),
      outp AS (
        SELECT c.id, c.j,
               CAST(c.cx - proj.p6 * v$iters.v AS DOUBLE) AS corrected
        FROM c JOIN proj USING (id) JOIN v$iters ON c.j = v$iters.j)
      SELECT id AS vec_id, j, corrected FROM outp ORDER BY vec_id, j"""

  private def pcaCtes(dim: Int, iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""u$r AS (
        SELECT cov.j, CAST(round(CAST(sum(cov.c * $prev.v) AS DOUBLE), 6)
               AS DECIMAL(18,6)) AS u
        FROM cov JOIN $prev ON cov.k = $prev.j GROUP BY 1),
      n$r AS (SELECT sqrt(CAST(sum(u*u) AS DOUBLE)) AS nrm FROM u$r),
      v$r AS (
        SELECT j, CAST(round(CAST(u AS DOUBLE) / (SELECT nrm FROM n$r), 6)
               AS DECIMAL(18,6)) AS v
        FROM u$r)"""
    }.mkString(",\n      ")
    s"""x AS (
        SELECT vec_id AS id, CAST(j - 1 AS INT) AS j,
               CAST(round(CAST(embedding[j] AS DOUBLE), 6)
                 AS DECIMAL(18,6)) AS x
        FROM embeddings,
             LATERAL unnest(range(1, len(embedding) + 1)) AS t(j)),
      mu AS (
        SELECT j, CAST(round(CAST(sum(x) AS DOUBLE) /
                 CAST(count(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS mu
        FROM x GROUP BY 1),
      c AS (
        SELECT id, x.j, CAST(x.x - mu.mu AS DECIMAL(18,6)) AS cx
        FROM x JOIN mu USING (j)),
      nn AS (SELECT count(DISTINCT id) AS n FROM x),
      cov AS (
        SELECT a.j, b.j AS k,
               CAST(round(CAST(sum(a.cx * b.cx) AS DOUBLE) /
                 (SELECT CAST(n AS DOUBLE) FROM nn), 6)
                 AS DECIMAL(18,6)) AS c
        FROM c a JOIN c b USING (id) GROUP BY 1, 2),
      v0 AS (
        SELECT CAST(t.j AS INT) AS j,
               CAST(round(1.0 / sqrt(CAST($dim AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS v
        FROM range(0, $dim) AS t(j)),
      $rounds"""
  }
}
