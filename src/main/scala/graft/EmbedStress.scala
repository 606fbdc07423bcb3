package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Scale-stress for the embedding near-dup LSH path (q45's operator)
  * with MEASURABLE ground truth: replicate the sf0.1 embeddings N×
  * and plant known near-duplicate twins.
  *
  * Corpus synthesis:
  *   - copy `cp` of vector v is D_cp·v, where D_cp is a deterministic
  *     per-copy ±1 diagonal (an orthogonal transform): within-copy
  *     cosines are EXACTLY preserved, cross-copy cosines are
  *     scrambled to the noise floor — true pairs stay within a copy;
  *   - every 25th base vector gets a planted twin: per-element
  *     multiplicative jitter u ∈ [1−0.4, 1+0.4] (deterministic, keyed
  *     on (oid, cp, element)), giving twin cosines ≈ 0.97;
  *   - source ids are even (2·(oid·f+cp)), twin ids odd (+1), so the
  *     ground-truth pair set is {(2k, 2k+1)} — recall is a direct
  *     count, no oracle join needed.
  *
  * At threshold 0.9 the natural corpus has zero pairs (max natural
  * cosine ≈ 0.6), so found pairs ≈ planted pairs and every found pair
  * is exact-cosine verified. Bucket bits are sized for the largest
  * factor (2^14 buckets/table — the documented "grow bits with the
  * corpus" knob); recall comes from the 24 tables.
  */
object EmbedStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factors = (if (args.length > 1) args(1) else "1,10,50")
      .split(",").map(_.trim.toInt).toSeq
    val outBase = if (args.length > 2) args(2) else graft.sources.Artifacts.root + "/embstress"
    val spark = Tables.localSession("graft-embedstress")

    val base = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("oid"), col("embedding").as("v"))

    factors.foreach { f =>
      val copies = base.crossJoin(StressData.copies(spark, f))
      // per-copy ±1 diagonal: orthogonal, deterministic
      val flip = StressData.signFlip(col("v"), col("cp"))
      val srcs = copies.select(
        ((col("oid") * f + col("cp")) * 2).as("id"), flip.as("vec"))
      val twins = copies.filter(col("oid") % 25 === 0)
        .select(((col("oid") * f + col("cp")) * 2 + 1).as("id"),
          transform(flip, (x, i) =>
            (x * (lit(1.0f) +
              (pmod(xxhash64(col("oid"), col("cp"), i, lit(7)), lit(1000))
                .cast("double") / 500.0 - 1.0).cast("float") * lit(0.4f)))
              .cast("float")).as("vec"))
      val corpus = StressData.writeSplits(srcs.union(twins),
        s"$outBase/emb_x$f", "id")
      val n = corpus.count()
      val nTwins = corpus.filter(col("id") % 2 === 1).count()
      val out = new Metrics.Report(spark, "factor" -> f, "vectors" -> n,
        "planted" -> nTwins)

      val ((pairs, found), lsh) = Metrics.measure(spark) {
        val p = Similarity.lshNearDupPairs(corpus, threshold = 0.9, dim = 64,
          bitsPerTable = 14, numTables = 24, maxBucketSize = 2000)
          .transform(Boundary.lazyLocal)
        (p, p.count())
      }
      val planted = pairs
        .filter(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0)
        .count()
      Boundary.release(pairs)
      out.sec("sec", lsh)
      out("found") = found
      out("planted_found") = planted
      out("recall") = planted.toDouble / nTwins

      // q82 path at scale: int8-quantized candidate scan + exact
      // rescoring, 20 fixed twin-SOURCE queries (copy 0 of every 25th
      // base vector) — ground truth top-1 is the planted twin
      // (cosine ≈ 0.97 vs a ≈ 0.6 noise floor), so recall@1 is a
      // direct hit count over the growing corpus.
      val twinSources = corpus.filter(col("id") % 2 === 0 &&
        pmod(col("id") / 2, lit(f)) === 0 &&
        pmod((col("id") / 2) / f, lit(25)) === 0)
      val nQ = twinSources.count()
      val qHits = out.measure("q82") {
        Similarity.quantizedTopK(corpus, twinSources, k = 1)
          .filter(col("neighbor_id") === col("query_id") + 1)
          .count()
      }

      // q121/q123 path at scale: shrink 64 → 16 via the hash-defined
      // JL projection, then exact top-1 in the PROJECTED space for
      // the same twin-source queries. The planted margin (twin cosine
      // ≈ 0.97 vs ≈ 0.6 noise floor) is what the 4× shrink must
      // preserve — recall@1 here measures exactly that, where
      // RetrievalSpec's natural-neighbor recall measures the
      // margin-free worst case.
      val projVecs = graft.operators.Projections
        .signedProjectionVectors(corpus, "id", "vec",
          outDim = 16, inDim = 64)
        .transform(graft.Boundary.lazyLocal)
      val qProj = projVecs
        .join(twinSources.select(col("id")), Seq("id"))
      val pHits = out.measure("proj") {
        Similarity.bruteForceTopK(projVecs, qProj, k = 1)
          .filter(col("neighbor_id") === col("query_id") + 1)
          .count()
      }

      // q143 path at scale (r8): exact-replay Lloyd rounds over the
      // growing corpus. Output must stay total (one row per vector)
      // with every cluster non-empty — the structural invariant the
      // fixed-point arithmetic must preserve under AQE/repartition as
      // the corpus grows.
      val km = out.measure("kmeans") {
        val sizes = graft.operators.KMeansExact
          .assign(corpus, "id", "vec", k = 8, iters = 3)
          .groupBy(col("cluster")).agg(count(lit(1)).as("c"))
          .collect().map(_.getLong(1))
        (sizes.sum, sizes.length.toLong)
      }
      require(km._1 == n && km._2 == 8,
        s"kmeans at factor $f: rows ${km._1} vs $n, clusters ${km._2}")


      // q190 path at scale (r10 verdict #4): the full IVF-PQ probe —
      // coarse cells bound the candidates, ADC ranks them from codes,
      // exact rescore touches only the overfetch shortlist — for the
      // same twin-source queries. The planted twin (cosine ≈ 0.97
      // over a ≈ 0.6 noise floor) must survive BOTH approximation
      // tiers at every factor; recall@1 floor-gated at 0.8, q190's
      // deployed floor. Training shrinks to k=16/iters=2 per subspace
      // (the margin is what's under test, not codebook polish);
      // nProbe of 8/32 lists keeps the probe fraction constant as the
      // corpus grows.
      val ivfpqHits = out.measure("ivfpq") {
        val pqCorpus = corpus.select(col("id"), col("vec"))
        val idx = Similarity.IvfIndex.build(pqCorpus, nLists = 32)
        val (codebook, codes) = graft.operators.ProductQuant.build(
          graft.operators.ProductQuant.normalize(pqCorpus),
          m = 8, subDim = 8, k = 16, iters = 2)
        graft.operators.ProductQuant.ivfPqRescoredTopK(
            pqCorpus, twinSources, idx, codebook, codes,
            subDim = 8, kTop = 1, nProbe = 8, overfetch = 100)
          .filter(col("neighbor_id") === col("query_id") + 1)
          .count()
      }
      require(ivfpqHits.toDouble / nQ >= 0.8,
        s"IVF-PQ recall@1 below floor at factor $f: " +
          s"$ivfpqHits / $nQ = ${ivfpqHits.toDouble / nQ}")

      // q191 path at scale (r11): incremental index maintenance via
      // CDC must equal a full re-assignment of v2, row-for-row, as the
      // corpus grows — evictions, carried-over unchanged rows and
      // fresh assignments all join-checked. The fitted model trains
      // once per factor (k=8/iters=2 — the q191 registration's
      // quantizer); v2 is the q191 re-crawl shape. Both paths are
      // timed so the delta-proportional claim is measured against the
      // rebuild it replaces.
      val cdcOk = out.measure("ivfcdc") {
        val v1 = corpus.select(col("id"), col("vec"))
        val model = graft.operators.KMeansExact
          .fitModel(v1, "id", "vec", k = 8, iters = 2)
        val postings = graft.operators.KMeansExact
          .assignFitted(v1, "id", "vec", model)
          .select(col("id"), col("cluster"))
          .transform(graft.Boundary.lazyLocal)
        val v2 = v1.filter(col("id") % 17 =!= 0)
          .withColumn("vec", when(col("id") % 13 === 0,
            transform(col("vec"), x => negative(x))).otherwise(col("vec")))
          .unionByName(v1.filter(col("id") % 19 === 0)
            .select((col("id") + lit(500000000L)).as("id"),
              reverse(col("vec")).as("vec")))
        val updated = graft.operators.IndexMaintenance
          .updatePostings(postings, v1, v2, "id", "vec", model)
        val rebuilt = graft.operators.KMeansExact
          .assignFitted(v2, "id", "vec", model)
          .select(col("id"), col("cluster"))
        val nUpd = updated.count()
        val nReb = rebuilt.count()
        val nMatch = updated.join(rebuilt, Seq("id", "cluster")).count()
        (nUpd == nReb && nReb == nMatch, nUpd)
      }
      require(cdcOk._1,
        s"CDC index maintenance diverged from rebuild at factor $f")

      out("q82_queries") = nQ
      out("q82_recall1") = qHits.toDouble / nQ
      out("proj_recall1") = pHits.toDouble / nQ
      out("kmeans_rows") = km._1
      out("ivfpq_recall1") = ivfpqHits.toDouble / nQ
      out("ivfcdc_rows") = cdcOk._2
      println(out.json)
    }
    spark.stop()
  }
}
