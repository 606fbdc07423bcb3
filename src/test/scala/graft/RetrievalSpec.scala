package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, Projections, Retrieval}

/** Retrieval (q119/q120), projection (q121), and epoch-upsampling
  * (q122) invariants beyond the DuckDB hash gates: rank-list shape,
  * repartition-invariance of the micros fixed-point sums, a driver-side
  * differential replay of the JL projection, and exact expected
  * copy-counts for the upsampler.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val embs =
    spark.read.parquet(s"$sf0001/embeddings.parquet")

  private lazy val queries = docs
    .filter(col("doc_id") % 10 === 3) // denser query set at sf0.001
    .select(col("doc_id").as("qid"),
      explode(array_distinct(slice(split(col("text"), " "), 1, 6)))
        .as("term"))

  test("bm25: ranks contiguous from 1, scores positive and " +
      "non-increasing, no self-hits") {
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10)
      .cache()
    assert(out.filter(col("doc_id") === col("qid")).isEmpty)
    assert(out.filter(col("score") <= 0).isEmpty)
    val perQ = out.groupBy("qid").agg(
      count(lit(1)).as("n"), max(col("rank")).as("mx"),
      min(col("rank")).as("mn"))
    assert(perQ.filter(col("mx") =!= col("n") || col("mn") =!= 1).isEmpty)
    // rank order == score order (ties broken by doc_id)
    val bad = out.as("a").join(out.as("b"),
        col("a.qid") === col("b.qid") &&
          col("a.rank") === col("b.rank") - 1)
      .filter(col("a.score") < col("b.score"))
    assert(bad.isEmpty)
  }

  test("bm25: invariant under repartitioning (micros fixed-point discipline)") {
    val a = Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10)
    val b = Retrieval.bm25TopK(docs.repartition(7, col("text")),
      "doc_id", "text", queries.repartition(3), k = 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("rrf: fused score replays exactly from the two input rank lists " +
      "and n_lists counts membership") {
    val a = Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 20)
    val b = Retrieval.jaccardTopK(docs, "doc_id", "text", queries, k = 20)
    val fused = Retrieval.rrfTopK(a, b, c = 60, k = 10)
    val expect = a.select(col("qid"), col("doc_id"), col("rank"))
      .unionByName(b.select(col("qid"), col("doc_id"), col("rank")))
      .groupBy("qid", "doc_id")
      .agg((sum(round(lit(1000000.0) / (lit(60) + col("rank")).cast("double"),
          0).cast("long")).cast("double") / lit(1000000.0)).as("want"),
        count(lit(1)).as("want_n"))
    val joined = fused.join(expect, Seq("qid", "doc_id"))
    assert(joined.count() === fused.count())
    assert(joined.filter(col("rrf") =!= col("want") ||
      col("n_lists") =!= col("want_n")).isEmpty)
    assert(fused.filter(!col("n_lists").isin(1, 2)).isEmpty)
  }

  test("projection: driver-side differential replay is bit-exact") {
    val k = 8
    val out = Projections
      .signedProjection(embs.limit(20), "vec_id", "embedding", k, inDim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Int = {
      val h = md.digest(s"$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(h.substring(8, 9), 16) % 2 == 0) 1 else -1
    }
    val rows = embs.limit(20)
      .select(col("vec_id"), col("embedding")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1)
      (0 until k).foreach { j =>
        // same op tree as the operator: double ×1e6, half-up round to
        // long micros (Spark's Round = BigDecimal(shortest-repr)
        // setScale HALF_UP), exact long sum, one pinned division
        val micros = v.zipWithIndex.map { case (x, i) =>
          BigDecimal(x.toDouble * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong * sign(i, j)
        }.sum
        assert(out((id, j)) === micros.toDouble / 1000000.0,
          s"vec $id dim $j")
      }
    }
  }

  test("df cap: engaged cap is EXACTLY pre-filtering the query terms " +
      "by df, and actually changes the ranking on this corpus") {
    val post = Retrieval.postings(docs, "doc_id", "text")
      .localCheckpoint(eager = false)
    val n = docs.count()
    val surviving = post.groupBy("term").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc").cast("double") <= lit(0.77) * n)
      .select(col("term"))
    val manual = Retrieval.bm25FromPostings(
      post, queries.join(surviving, Seq("term")), k = 10)
    val capped = Retrieval.bm25FromPostings(post, queries, k = 10,
      maxDfFrac = 0.77)
    assert(capped.exceptAll(manual).isEmpty &&
      manual.exceptAll(capped).isEmpty)
    val full = Retrieval.bm25FromPostings(post, queries, k = 10)
    assert(capped.exceptAll(full).count() > 0,
      "cap must be non-vacuous on the stopword-heavy corpus")
  }

  test("df cap drops are METERED through the Metrics listener " +
      "(no silent caps)") {
    Metrics.register(spark) // once per session; the shared one may not have it
    val (_, p) = Metrics.measure(spark)(Retrieval.bm25TopK(docs, "doc_id",
      "text", queries, k = 10, maxDfFrac = 0.77).count())
    assert(p.observedSum(".dropped_terms") > 0,
      s"engaged cap must surface dropped terms, metrics: ${p.observed.keys}")
  }

  test("projected-space ANN keeps useful recall vs full-dim exact " +
      "(JL distance preservation, 64 -> 16 dims)") {
    val e = embs.select(col("vec_id").as("id"), col("embedding"))
    val full = graft.operators.Similarity.bruteForceTopK(
      e.withColumnRenamed("embedding", "vec"),
      e.withColumnRenamed("embedding", "vec").filter(col("id") % 10 === 3),
      k = 10)
    val vecs = Projections
      .signedProjectionVectors(e, "id", "embedding", 16, 64)
    val proj = graft.operators.Similarity.bruteForceTopK(
      vecs, vecs.filter(col("id") % 10 === 3), k = 10)
    val inter = full.select(col("query_id"), col("neighbor_id"))
      .intersect(proj.select(col("query_id"), col("neighbor_id"))).count()
    val recall = inter.toDouble / full.count()
    // This corpus is near-isotropic noise (500 vectors, 10 diffuse
    // labels), so 64 -> 16 top-10 recall is inherently modest: the
    // md5-sign matrix measures 0.13 here, BIT-FOR-BIT in line with a
    // Gaussian JL (0.12) and a seeded Rademacher (0.14) on the same
    // data — i.e. the hash-defined matrix behaves exactly like the
    // JL family. The gate is "far above chance" (chance = 10/499
    // ~= 0.02), catching a sign/assembly bug, not demanding parity
    // with the full space.
    assert(recall > 0.08, s"projected recall@10 = $recall")
  }

  test("epoch upsample: per-class copy counts match the closed form, " +
      "copies contiguous, repartition-invariant") {
    val eps = Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.0)
    val out = CorpusOps.epochUpsample(docs, "doc_id", "source", eps).cache()
    assert(out.filter(col("source") === "src2").isEmpty)
    // per doc: expected n from the same closed form, checked exactly
    val h = pmod(col("doc_id") * lit(2654435761L), lit(2147483647L)) % 10000
    val wantN = when(col("source") === "src0", lit(2) +
        when(h < 5000, 1).otherwise(0))
      .when(col("source") === "src1", lit(1) +
        when(h < 2500, 1).otherwise(0))
      .when(col("source") === "src2", lit(0))
      .otherwise(lit(1))
    val got = out.groupBy("doc_id").agg(
      count(lit(1)).as("n"), max("epoch_copy").as("mx"),
      min("epoch_copy").as("mn"))
    val expect = docs.select(col("doc_id"), wantN.as("want"))
      .filter(col("want") > 0)
    val j = got.join(expect, Seq("doc_id"), "full")
    assert(j.filter(col("n").isNull || col("want").isNull ||
      col("n") =!= col("want") || col("mx") =!= col("n") ||
      col("mn") =!= 1).isEmpty)
    val b = CorpusOps.epochUpsample(
      docs.repartition(9, col("lang")), "doc_id", "source", eps)
    assert(out.exceptAll(b).isEmpty && b.exceptAll(out).isEmpty)
  }

  test("margin alignment: the IVF-probed scale path (q169) recovers " +
      ">= 90% of the exact anchor's matched pairs and >= 90% of its " +
      "accepted pairs (the q41-to-q45 anchor/scale-path contract)") {
    def pairs(name: String, acceptedOnly: Boolean): Set[(Long, Long)] = {
      val out = SparkEntry.queries(name)(spark, sf0001)
      (if (acceptedOnly) out.filter(col("accepted")) else out)
        .select(col("query_id"), col("match_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val exact = pairs("q162_margin_align", acceptedOnly = false)
    val probed = pairs("q169_margin_align_ivf", acceptedOnly = false)
    assert(exact.nonEmpty)
    val matchRecall =
      exact.intersect(probed).size.toDouble / exact.size
    assert(matchRecall >= 0.9, s"match recall $matchRecall")
    val exactAcc = pairs("q162_margin_align", acceptedOnly = true)
    val probedAcc = pairs("q169_margin_align_ivf", acceptedOnly = true)
    assert(exactAcc.nonEmpty)
    val accRecall =
      exactAcc.intersect(probedAcc).size.toDouble / exactAcc.size
    assert(accRecall >= 0.9, s"accepted recall $accRecall")
  }
}
