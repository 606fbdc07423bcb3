package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stupid Backoff n-gram language-model scoring (Brants et al. 2007,
  * "Large Language Models in Machine Translation" — the LM design
  * built FOR distributed count tables: no normalized discounting, so
  * the model is nothing but raw n-gram counts and scoring is pure
  * count-table joins, which is exactly what shards at 100 TB).
  *
  * Score of a trigram position (w1 w2 w3) under training counts c(·):
  *
  *   S(w3|w1 w2) = c(w1w2w3)/c(w1w2)        if c(w1w2w3) > 0
  *               = α · c(w2w3)/c(w2)        elif c(w2w3) > 0
  *               = α² · c(w3)/N             otherwise (0 for OOV w3)
  *
  * with the paper's α = 0.4. S is a *score*, not a probability — the
  * paper's point is that forgoing normalization loses nothing
  * measurable at large counts and makes the model embarrassingly
  * distributable. Scores stay in LINEAR space here (not log) so the
  * OOV 0 needs no epsilon.
  *
  * Cross-engine exactness (the q71 discipline): every per-position
  * score is rounded to 6 decimals into DECIMAL(18,6); per-document
  * sums are DECIMAL (order-free), and the final divide is exact
  * double division. The oracle replays the identical algebra on token
  * strings.
  *
  * Scale shape: the training pass is three map-side-combined n-gram
  * count aggregations whose exchange carries 8-byte xxhash64 gram
  * keys, never text. Scoring groups each document's trigram POSITIONS
  * to TYPES first (the same collapse q71 uses), so the count-table
  * joins touch each distinct (doc, trigram) once; the count tables
  * are vocabulary-sized — at 100 TB they are built once, stored, and
  * broadcast when they fit, hash-joined on the 8-byte key when they
  * don't. Nothing in the pipeline materializes a dense V³ model —
  * only OBSERVED grams exist, the property that made Stupid Backoff
  * the web-scale LM in the first place.
  */
object LanguageModel {

  val Alpha = 0.4

  /** Token-hash array for `textCol`, materialized once (q80's
    * anti-collapse discipline — element_at over a re-split is O(L²)).
    */
  private def tokenHashes(textCol: String): Column =
    transform(split(col(textCol), " "), t => xxhash64(t))

  /** Per-document Stupid Backoff score of every trigram position in
    * `score` under the counts of `train` (both must carry `idCol`,
    * `textCol`). Output: (idCol, n_trigrams, avg_sb) — one row per
    * `score` document, nulls when the document has < 3 tokens.
    *
    * Typical pipeline use trains on a trusted slice and scores
    * candidate data: positions unseen in training back off, OOV
    * words floor at 0, and low avg_sb flags text whose phrasing the
    * reference corpus has never produced.
    */
  def stupidBackoff(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // ---- training counts: unigram / bigram / trigram tables --------
    // one tokenization, three rollups; exchange carries hashes only.
    // h123/h12/h23 are hashes OF hashes — only equality keys.
    val tTok = train
      .withColumn("_th", tokenHashes(textCol))
      .select(explode(
        when(size(col("_th")) >= 1,
          transform(sequence(lit(1), size(col("_th"))),
            i => struct(
              element_at(col("_th"), i).as("h1"),
              when(i < size(col("_th")),
                xxhash64(element_at(col("_th"), i),
                  element_at(col("_th"), i + 1))).as("h12"),
              when(i + 1 < size(col("_th")),
                xxhash64(element_at(col("_th"), i),
                  element_at(col("_th"), i + 1),
                  element_at(col("_th"), i + 2))).as("h123"))))
          .otherwise(array().cast(
            "array<struct<h1:bigint,h12:bigint,h123:bigint>>"))).as("g"))
      .select(col("g.h1"), col("g.h12"), col("g.h123"))
      // lazy (r16 A/B, eager reverted): four consumers (c1/c2/c3/n)
      // in ONE plan whose AQE stages reuse the exchange
      .transform(graft.Boundary.lazyLocal)
    val c1 = tTok.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val c2 = tTok.filter(col("h12").isNotNull)
      .groupBy(col("h12")).agg(count(lit(1)).as("c2"))
    val c3 = tTok.filter(col("h123").isNotNull)
      .groupBy(col("h123")).agg(count(lit(1)).as("c3"))
    val n = tTok.agg(count(lit(1)).as("n_tokens"))

    // ---- scored documents: trigram positions → types ---------------
    val sTh = score.withColumn("_th", tokenHashes(textCol))
    val tri = when(size(col("_th")) >= 3,
      transform(sequence(lit(1), size(col("_th")) - 2),
        i => struct(
          xxhash64(element_at(col("_th"), i),
            element_at(col("_th"), i + 1),
            element_at(col("_th"), i + 2)).as("h123"),
          xxhash64(element_at(col("_th"), i),
            element_at(col("_th"), i + 1)).as("h12"),
          xxhash64(element_at(col("_th"), i + 1),
            element_at(col("_th"), i + 2)).as("h23"),
          element_at(col("_th"), i + 1).as("h2"),
          element_at(col("_th"), i + 2).as("h3"))))
      .otherwise(array().cast(
        "array<struct<h123:bigint,h12:bigint,h23:bigint,h2:bigint,h3:bigint>>"))
    val docTri = sTh
      .select(col(idCol), explode(tri).as("t"))
      .select(col(idCol), col("t.h123"), col("t.h12"), col("t.h23"),
        col("t.h2"), col("t.h3"))
      .groupBy(col(idCol), col("h123"), col("h12"), col("h23"),
        col("h2"), col("h3"))
      .agg(count(lit(1)).as("k"))

    // ---- backoff cascade -------------------------------------------
    // left joins against the count tables; a miss is a NULL count =
    // unseen gram. The trigram face joins on h123 and needs c(w1w2):
    // the (w1,w2) bigram hash is exactly the scored h12.
    val joined = docTri
      .join(c3, Seq("h123"), "left")
      .join(c2.withColumnRenamed("h12", "_c2key"),
        docTri("h12") === col("_c2key"), "left")
      .drop("_c2key")
      .join(c2.withColumnRenamed("h12", "_c23key")
          .withColumnRenamed("c2", "c23"),
        docTri("h23") === col("_c23key"), "left")
      .drop("_c23key")
      .join(c1.withColumnRenamed("h1", "_c2uk")
          .withColumnRenamed("c1", "cu2"),
        docTri("h2") === col("_c2uk"), "left")
      .drop("_c2uk")
      .join(c1.withColumnRenamed("h1", "_c3uk")
          .withColumnRenamed("c1", "cu3"),
        docTri("h3") === col("_c3uk"), "left")
      .drop("_c3uk")
      .crossJoin(broadcast(n))
    val s = when(col("c3").isNotNull,
        col("c3").cast("double") / col("c2").cast("double"))
      .when(col("c23").isNotNull,
        lit(Alpha) * col("c23").cast("double") / col("cu2").cast("double"))
      .when(col("cu3").isNotNull,
        lit(Alpha * Alpha) * col("cu3").cast("double") /
          col("n_tokens").cast("double"))
      .otherwise(lit(0.0))
    val perDoc = joined
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).as("n_trigrams"),
        sum(round(s, 6).cast("decimal(18,6)") * col("k")).as("sb"))
      .select(col(idCol), col("n_trigrams"),
        (col("sb").cast("double") / col("n_trigrams")).as("avg_sb"))
    score.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  // ---- Standing (streaming) scorer -----------------------------------

  /** A fitted, BROADCAST-sized Stupid Backoff model: raw n-gram
    * counts keyed on the gram's space-joined token string. Bounded by
    * the fit's `maxGrams` budget gate — the standing-query contract
    * (an ingest-stream scorer must hold its model in memory; when the
    * vocabulary outgrows the budget, the right tool is the BATCH
    * count-table join of [[stupidBackoff]], not a bigger broadcast).
    */
  final case class FittedLm(nTokens: Long, uni: Map[String, Long],
      bi: Map[String, Long], tri: Map[String, Long]) {

    /** Per-document (n_trigrams, avg_sb) — None for docs with < 3
      * tokens. EXACTLY the batch arithmetic: per-trigram-TYPE scores
      * rounded to 6 decimals half-up (the semantics of catalyst's
      * `round`), k-weighted exact BigDecimal sum, one double divide.
      */
    def scoreDoc(text: String): Option[(Long, Double)] = {
      val tk = text.split(" ", -1)
      if (tk.length < 3) None
      else {
        val types = new scala.collection.mutable.HashMap[Int, Long]()
        val firsts = new scala.collection.mutable.ArrayBuffer[Int]()
        val seen = new scala.collection.mutable.HashMap[String, Int]()
        var i = 0
        while (i + 2 < tk.length) {
          val g = s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}"
          val id = seen.getOrElseUpdate(g, { firsts += i; seen.size })
          types.update(id, types.getOrElse(id, 0L) + 1L)
          i += 1
        }
        var sb = java.math.BigDecimal.ZERO
        var n = 0L
        firsts.zipWithIndex.foreach { case (p, id) =>
          val k = types(id)
          val w1 = tk(p); val w2 = tk(p + 1); val w3 = tk(p + 2)
          val s: Double = tri.get(s"$w1 $w2 $w3") match {
            case Some(c3) => c3.toDouble / bi(s"$w1 $w2").toDouble
            case None => bi.get(s"$w2 $w3") match {
              case Some(c23) => Alpha * c23.toDouble / uni(w2).toDouble
              case None => uni.get(w3) match {
                case Some(c3u) =>
                  Alpha * Alpha * c3u.toDouble / nTokens.toDouble
                case None => 0.0
              }
            }
          }
          val s6 = java.math.BigDecimal.valueOf(s)
            .setScale(6, java.math.RoundingMode.HALF_UP)
          sb = sb.add(s6.multiply(java.math.BigDecimal.valueOf(k)))
          n += k
        }
        Some((n, sb.doubleValue / n.toDouble))
      }
    }
  }

  /** Fit the broadcastable count model from a training frame. Three
    * map-side-combined string-gram counts, collected behind a
    * `maxGrams` budget gate (the fitBm25Queries contract).
    */
  def fit(train: DataFrame, textCol: String,
      maxGrams: Int = 1000000): FittedLm = {
    // `_tk` materialized (r15, the Containment.shingles trap): a bare
    // split() inside the window lambda re-splits per gram position
    val tk = col("_tk")
    def gramCounts(n: Int): Map[String, Long] = {
      val g = when(size(tk) >= n,
        transform(sequence(lit(1), size(tk) - (n - 1)), i =>
          concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
      // Budget gate BEFORE materializing (r8 ADVICE): collect at most
      // maxGrams+1 rows, so an over-budget vocabulary is refused with
      // driver memory bounded by the budget itself, never by the corpus.
      val rows = train
        .withColumn("_tk", split(col(textCol), " "))
        .select(explode(g).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
        .limit(maxGrams + 1)
        .collect()
      require(rows.length <= maxGrams,
        s"more than maxGrams=$maxGrams fitted $n-grams — " +
          "a standing-query model must stay broadcast-sized; use the " +
          "batch count-table join beyond that")
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val uni = gramCounts(1)
    FittedLm(uni.valuesIterator.sum, uni, gramCounts(2), gramCounts(3))
  }

  /** Score a (possibly streaming) document frame under a fitted
    * model, completely scan-locally (stateless mapPartitions — the
    * multimodal-decode shape): runs unchanged on a static frame and
    * an ingest stream in append mode, and agrees EXACTLY with
    * [[stupidBackoff]] over the same training slice
    * (differential-gated in StreamingSpec). Output matches the batch
    * schema: (idCol, n_trigrams, avg_sb), nulls for short docs.
    */
  def scoreFitted(docs: DataFrame, idCol: String, textCol: String,
      model: FittedLm): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, text) =>
          m.scoreDoc(text) match {
            case Some((n, avg)) => (id, Some(n), Some(avg))
            case None => (id, None, None)
          }
        }
      }
      .toDF(idCol, "n_trigrams", "avg_sb")
  }
}
