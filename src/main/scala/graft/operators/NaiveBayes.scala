package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multinomial Naive Bayes over whitespace tokens — the classic
  * counting classifier a curation pipeline trains when it needs a
  * TEXT-side label model (fastText-style quality/domain/language
  * scoring) rather than the embedding-side centroid route
  * (`Similarity.classifyByCentroid`, q94/q96). The reference has no
  * classifier at all; this is LLM-pipeline battery, not parity
  * (reference scope: `pythonql/Executor.py` has only relational ops).
  *
  * Why NB and not logistic regression: NB training IS aggregation —
  * `P(t|l) = (count(l,t)+1) / (count(l)+V)` with add-one smoothing —
  * so the whole model build is two `groupBy`s and the classifier is a
  * join + sum, every step ANSI-SQL-expressible and therefore
  * hash-gateable against DuckDB, the same exactness bar as the rest of
  * the registry. An iterative optimizer would buy accuracy on this
  * synthetic corpus at the price of an un-replayable gate.
  *
  * Determinism discipline (the q71/q78 rule): `ln` is the one step not
  * pinned by IEEE semantics across engines, so every log-probability
  * is rounded to 6 decimals and cast to DECIMAL(18,6) at the PER-TERM
  * level; all sums are DECIMAL (exact, order-independent under
  * repartitioning) and ties in the argmax break on label ascending.
  *
  * Scale shape: the scoring join never materializes the dense V×L
  * matrix. `score(d,l) = prior(l) + n_d·smooth(l) + Σ_{t∈d} k·Δ(l,t)`
  * where `Δ(l,t) = lp(l,t) − smooth(l)` exists only for OBSERVED
  * (label, token) pairs — the exchange is keyed on an 8-byte token
  * hash and carries one decimal per observed pair, so a 100 TB corpus
  * shuffles its distinct (token, label) counts, not a dense model.
  * Token identity rides `xxhash64` (grouping key only — results equal
  * up to 64-bit collisions, the q71 discipline).
  */
/** A fitted NB model small enough to broadcast: per-label priors and
  * smoothing floors plus, per observed token, the per-label score
  * deltas — all as 1e-6-scaled longs so JVM-side scoring reproduces
  * the DECIMAL(18,6) arithmetic of the distributed path EXACTLY
  * (integer adds, no float drift). `labels` is sorted ascending so
  * the first strict maximum reproduces the batch argmax tie-break.
  */
final case class NbModel(
    labels: Array[String],
    priors: Array[Long],
    smooths: Array[Long],
    deltas: scala.collection.Map[String, Array[Long]]) {

  /** (predicted label, score as double) for one document — stateless,
    * so it runs identically in batch and Structured Streaming.
    */
  def predict(text: String): (String, Double) = {
    val toks = text.split(" ", -1)
    val nL = labels.length
    val acc = new Array[Long](nL)
    var i = 0
    while (i < toks.length) {
      val d = deltas.getOrElse(toks(i), null)
      if (d != null) {
        var l = 0
        while (l < nL) { acc(l) += d(l); l += 1 }
      }
      i += 1
    }
    var best = 0
    var bestScore = Long.MinValue
    var l = 0
    while (l < nL) {
      val s = priors(l) + toks.length * smooths(l) + acc(l)
      if (s > bestScore) { best = l; bestScore = s }
      l += 1
    }
    (labels(best), bestScore / 1e6)
  }
}

object NaiveBayes {

  private val LP = DecimalType(18, 6)

  private def scaled(d: java.math.BigDecimal): Long =
    d.setScale(6).unscaledValue().longValueExact()

  /** The trained model as a TABLE — one row per observed
    * (label, token) pair: `(label, token, cnt, logp)` with
    * `logp = round(ln((cnt+1)/(tot_label+V)), 6)`. Token STRINGS are
    * kept here (the model is the deliverable, q75's vocabulary
    * argument); the scoring path below re-derives hashed counts
    * instead of joining this table so its exchanges stay 8-byte-keyed.
    */
  def train(df: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val tok = df
      .select(col(labelCol).as("label"),
        explode(split(col(textCol), " ")).as("token"))
    val lt = tok.groupBy("label", "token").agg(count(lit(1)).as("cnt"))
      .transform(graft.Boundary.lazyLocal)
    val tot = lt.groupBy("label").agg(sum("cnt").as("tot"))
    val v = lt.select("token").distinct().count()
    lt.join(broadcast(tot), "label")
      .select(col("label"), col("token"), col("cnt"),
        round(log((col("cnt") + lit(1)).cast("double") /
          (col("tot") + lit(v)).cast("double")), 6).cast(LP).as("logp"))
  }

  /** Classify every row of `df` under the model trained on
    * (`trainDf`, `labelCol`): output `(idCol, pred_label, score)` with
    * `score = prior + Σ_t k_t · lp(label, t)` (unseen tokens at the
    * label's smoothing floor) and argmax ties broken on label asc.
    * Self-classification (`df eq trainDf`) is the registry's use; any
    * corpus sharing the training vocabulary domain works — tokens the
    * model has NEVER seen (in no label) still score via each label's
    * smoothing floor, so nothing fails to classify.
    *
    * Null-label pin (advisor r15 #4): a NULL training label competes
    * as a class with its real prior/smooth but NO per-token deltas —
    * the r15 driver-side-constants behavior, replicated exactly here
    * (the label pivot counts null-label tokens via `<=>` so v and the
    * null label's tot match the old groupBy, while its delta column
    * stays null like the old `===` comparison). Label types are
    * strings or numerics by contract; anything else falls back to
    * String.valueOf ordering, which is NOT Spark's sort order — keep
    * labels string/numeric.
    */
  def classify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      trainDf: DataFrame,
      labelCol: String): DataFrame = {
    // Per-label constants, computed AT THE DRIVER (r15 optimization —
    // guide §1.2 step 1): the old shape derived prior/smooth through a
    // labelConsts frame that every downstream stage re-joined, costing
    // a broadcast exchange per consumer and ~10 extra AQE jobs per
    // classify() call. |labels| is O(1) by contract (a label model,
    // not a corpus axis), so this is the same bounded model boundary
    // as fitModel's collect. Arithmetic is replicated EXACTLY:
    // `round(log(x), 6)` on DoubleType is
    // BigDecimal.valueOf(x).setScale(6, HALF_UP).toDouble and the
    // decimal(18,6) cast re-rounds the same way (Round/Cast
    // semantics), and driver math.log IS the executor's
    // java.lang.Math.log.
    def r6(x: Double): java.math.BigDecimal = {
      val y = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      java.math.BigDecimal.valueOf(y)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
    val nlRows = trainDf
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("nl"))
      .collect()
    val nTrain = nlRows.map(_.getLong(1)).sum
    // label order must reproduce the old window tie-break
    // (label ASC): for strings that is UTF8String binary order
    val labels: Array[Any] = {
      val raw = nlRows.map(_.get(0))
      if (raw.forall(_.isInstanceOf[String]))
        raw.sortWith { (a, b) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])) < 0
        }
      else if (raw.forall(_.isInstanceOf[Number]))
        raw.sortBy(_.asInstanceOf[Number].longValue())
      else raw.sortBy(String.valueOf(_))
    }
    if (labels.isEmpty)
      // empty training set: the old window-over-nothing produced an
      // empty frame with this exact schema
      return df.limit(0).select(col(idCol),
        lit(null).cast(trainDf.schema(labelCol).dataType).as("pred_label"),
        lit(null).cast("double").as("score"))
    val nlBy = nlRows.map(r => r.get(0) -> r.getLong(1)).toMap

    // Per-(token-hash, label) occurrence counts pivoted DIRECTLY from
    // the raw token stream — ONE h-keyed exchange where the r15 shape
    // paid two ((label,h) counts, then the (h) re-pivot; guide §2.4).
    // `sum(when(label <=> l, 1))` over occurrences equals the old
    // groupBy(label,h).count() exactly (null for unobserved pairs —
    // sum over an empty when-set — matching the old max(when())
    // nulls, and <=> reproduces groupBy's null-safe label grouping).
    // Checkpointed once: the fused stats action below and the delta
    // projection both read it.
    val cntCols = labels.zipWithIndex.map { case (l, i) =>
      sum(when(col("label") <=> lit(l), 1L)).as(s"_c$i")
    }.toSeq
    val cntWide = trainDf
      .select(col(labelCol).as("label"),
        explode(split(col(textCol), " ")).as("_t"))
      .select(col("label"), xxhash64(col("_t")).as("h"))
      .groupBy(col("h"))
      .agg(cntCols.head, cntCols.tail: _*)
      .transform(graft.Boundary.lazyLocal)

    // Fused model stats in ONE action (r16, guide §1.2): v = number of
    // distinct token hashes = row count of the pivot; tot_l = Σ over
    // hashes of the per-label counts — the same integers the old
    // totRows/v pair of jobs produced.
    val statsCols = count(lit(1)).as("_v") +: labels.indices.map(i =>
      sum(col(s"_c$i")).as(s"_t$i"))
    val statsRow = cntWide.agg(statsCols.head, statsCols.tail: _*).head()
    val v = statsRow.getLong(0)
    val totBy: Map[Any, Long] = labels.zipWithIndex.map { case (l, i) =>
      l -> (if (statsRow.isNullAt(i + 1)) 0L else statsRow.getLong(i + 1))
    }.toMap
    val prior = labels.map(l =>
      r6(math.log(nlBy(l).toDouble / nTrain.toDouble)))
    val smooth = labels.map(l =>
      r6(math.log(1.0 / (totBy.getOrElse(l, 0L) + v).toDouble)))

    // Δ(l,t) = lp − smooth for observed pairs — now a scan-local
    // PROJECTION over the pivot (the old shape re-aggregated lt by h
    // here). Values are the identical decimal arithmetic. A null
    // label never produced deltas in the r15 shape (its `===`
    // comparison is never true), so it stays delta-less here.
    val deltaWide = cntWide.select(
      col("h") +: labels.zipWithIndex.map { case (l, i) =>
        (if (l == null) lit(null).cast(LP)
         else when(col(s"_c$i").isNotNull,
           round(log((col(s"_c$i") + lit(1)).cast("double") /
             lit((totBy.getOrElse(l, 0L) + v).toDouble)), 6).cast(LP) -
             lit(smooth(i)).cast(LP))).as(s"_d$i")
      }: _*)

    // Scoring: raw token occurrences left-join the delta table and
    // collapse straight to one row per document. Summing Δ once per
    // OCCURRENCE equals the old Σ k·Δ exactly (decimal addition is
    // exact), n_tok = count(*) equals Σk, and unseen tokens
    // contribute only the n_tok·smooth floor — same model, two
    // exchanges total.
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("_t"))
      .select(col(idCol), xxhash64(col("_t")).as("h"))
    val aggCols = count(lit(1)).as("n_tok") +:
      labels.indices.map(i =>
        coalesce(sum(col(s"_d$i")), lit(0).cast(LP)).as(s"_s$i"))
    val agg = toks.join(deltaWide, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(aggCols.head, aggCols.tail: _*)

    // score_l = prior_l + n_tok·smooth_l + Σ_obs Δ; argmax as a
    // label-ascending strict-max fold — identical to the old
    // row_number over (score DESC, label ASC)
    val scores = labels.indices.map { i =>
      lit(prior(i)).cast(LP) + col("n_tok") * lit(smooth(i)).cast(LP) +
        col(s"_s$i")
    }
    var bestLabel: org.apache.spark.sql.Column = lit(labels(0))
    var bestScore: org.apache.spark.sql.Column = scores(0)
    for (i <- 1 until labels.length) {
      val better = scores(i) > bestScore
      bestLabel = when(better, lit(labels(i))).otherwise(bestLabel)
      bestScore = when(better, scores(i)).otherwise(bestScore)
    }
    agg.select(col(idCol), bestLabel.as("pred_label"),
      bestScore.cast("double").as("score"))
  }

  /** Fit the model into a driver-side `NbModel` for broadcast scoring
    * (the streaming / per-row route). This is a MODEL BOUNDARY
    * collect, budget-gated like the centroid literal route
    * (`Similarity.classifyByCentroid`): it requires the observed
    * (label, token) pair count ≤ `maxEntries` — fastText-scale
    * vocabularies fit comfortably; past the gate, score with the
    * distributed `classify` join instead. Token keys are STRINGS
    * (no hash collisions), values are the same rounded DECIMAL(18,6)
    * log-probs as the distributed path, scaled to exact longs.
    */
  def fitModel(trainDf: DataFrame, textCol: String, labelCol: String,
      maxEntries: Long = 2000000L): NbModel = {
    val tok = trainDf.select(col(labelCol).cast("string").as("label"),
      explode(split(col(textCol), " ")).as("token"))
    val lt = tok.groupBy("label", "token").agg(count(lit(1)).as("cnt"))
      .transform(graft.Boundary.lazyLocal)
    val nPairs = lt.count()
    require(nPairs <= maxEntries,
      s"NB model boundary: $nPairs observed (label, token) pairs exceed " +
        s"the $maxEntries driver budget — use the distributed classify()")
    val tot = lt.groupBy("label").agg(sum("cnt").as("tot"))
    val v = lt.select("token").distinct().count()
    val nTrain = trainDf.count()

    val consts = trainDf
      .groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).as("nl"))
      .join(tot, "label")
      .select(col("label"),
        round(log(col("nl").cast("double") / lit(nTrain.toDouble)), 6)
          .cast(LP).as("prior"),
        round(log(lit(1.0) / (col("tot") + lit(v)).cast("double")), 6)
          .cast(LP).as("smooth"))
      .collect()
      .sortBy(_.getString(0))
    val labels = consts.map(_.getString(0))
    val idx = labels.zipWithIndex.toMap
    val priors = consts.map(r => scaled(r.getDecimal(1)))
    val smooths = consts.map(r => scaled(r.getDecimal(2)))

    val deltas = new scala.collection.mutable.HashMap[String, Array[Long]]()
    lt.join(broadcast(tot), "label")
      .select(col("token"), col("label"),
        round(log((col("cnt") + lit(1)).cast("double") /
          (col("tot") + lit(v)).cast("double")), 6).cast(LP).as("lp"))
      .collect()
      .foreach { r =>
        val l = idx(r.getString(1))
        val arr = deltas.getOrElseUpdate(r.getString(0),
          new Array[Long](labels.length))
        arr(l) = scaled(r.getDecimal(2)) - smooths(l)
      }
    NbModel(labels, priors, smooths, deltas)
  }

  /** Score with a broadcast `NbModel` as a stateless per-row map —
    * identical output contract to `classify` (equal wherever token
    * xxhash64 is collision-free), and legal in Structured Streaming
    * append mode (no aggregation, no state). The production shape for
    * scoring an incoming crawl against a trained quality model.
    */
  def classifyWithModel(df: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val (label, score) = bc.value.predict(text)
        (id, label, score)
      }
      .toDF(idCol, "pred_label", "score")
  }
}
