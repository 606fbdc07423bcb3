package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.Metrics.time

/** The nLists sizing lever, measured (round-12 follow-through on the
  * TailStress ×50 finding): q169's margin alignment probes a shared
  * IVF quantizer, and with nLists FIXED at the sf0.1 registry setting
  * (16) its asymptotics are quadratic — every query scans
  * nProbe/nLists of the corpus while the query count grows with the
  * corpus (measured: ×50 data → 244× time). The documented production
  * rule is cells ∝ √n so per-query probe cost grows as √n; this
  * harness MEASURES that rule instead of arguing it: the identical
  * margin-alignment body (q169's fwd/bwd mean-top-k arithmetic
  * verbatim) over the same ×N embeddings under increasing nLists,
  * reporting build time, probe time, and two quality proxies (mean
  * top-1 cosine; top-1 agreement vs the nLists=16 run — the
  * approximate-index recall trade the knob buys its speed with).
  *
  * Usage: `runMain graft.IvfSizingStress <embeddings.parquet dir>
  * [nLists,nLists,...]` — defaults to the TailStress ×50 corpus and
  * 16,64,256.
  */
object IvfSizingStress {
  /** q169's margin body (CurationQueries.scala) over an arbitrary
    * index: forward/backward IVF top-k, mean-top-4 normalizers,
    * margin = cos / ((af+ab)/2). nProbe is a parameter since r14 —
    * the probe-sweep mode measures the recall/cost trade the nProbe
    * law (SCALE.md §4b) is derived from.
    */
  private def marginAlign(emb: DataFrame, idx: Similarity.IvfIndex,
      nProbe: Int): DataFrame = {
    val a = emb.filter(col("id") % 2 === 0)
    val b = emb.filter(col("id") % 2 === 1)
    val k = 4
    def meanTopK(df: DataFrame, out: String) =
      df.groupBy(col("query_id"))
        .agg((sum(col("cosine").cast("decimal(12,9)")).cast("double")
          / k.toDouble).as(out))
    val fwd = idx.topK(a, k, nProbe,
        neighborFilter = col("neighbor_id") % 2 === 1)
      .localCheckpoint(eager = false)
    val bwd = idx.topK(b, k, nProbe,
      neighborFilter = col("neighbor_id") % 2 === 0)
    val af = meanTopK(fwd, "af")
    val ab = meanTopK(bwd, "ab").withColumnRenamed("query_id", "match_id")
    fwd.filter(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id").as("match_id"),
        col("cosine"))
      .join(af, Seq("query_id"))
      .join(ab, Seq("match_id"))
      .select(col("query_id"), col("match_id"), col("cosine"),
        round(col("cosine") / ((col("af") + col("ab")) / 2.0), 6)
          .as("margin"))
  }

  def main(args: Array[String]): Unit = {
    val embPath = if (args.nonEmpty) args(0)
      else graft.sources.Artifacts.root + "/tail_stress/x50/embeddings.parquet"
    val sizes = (if (args.length > 1) args(1) else "16,64,256")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Tables.localSession("graft-ivfsizing")

    // repartition the scan: the ×50 corpus is one ~26 MB parquet file
    // (1 scan partition), and build() keeps in-memory lineage — every
    // pre-shuffle probe stage would run single-threaded. The
    // registered q169 gets its parallelism from the SAVED index
    // (postings partitioned by list_id); spreading the postings over
    // the worker count mirrors that.
    val emb = Tables.read(spark, embPath)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .repartition(Tables.cpus, col("id"))
      .localCheckpoint(eager = false)
    val n = emb.count()

    // exact-anchor sample: brute-force top-1 for ~1/101 of the even-id
    // (query-side) vectors against the full odd-id corpus — the probe
    // legs join against it for recall@1 and a cosine ratio vs EXACT,
    // the quality proxy that actually bounds the trade (agreement vs
    // the nLists=16 leg under-reads quality when near-ties dominate:
    // two equally-good neighbors disagree on identity). Deterministic
    // sample (id mod), self/parity semantics identical to marginAlign.
    val sampleQ = emb.filter(col("id") % 2 === 0)
      .filter(pmod(col("id"), lit(101)) === 0)
    val exact1 = Similarity.bruteForceTopK(
        emb.filter(col("id") % 2 === 1), sampleQ, k = 1)
      .select(col("query_id"), col("neighbor_id").as("exact_id"),
        col("cosine").as("exact_cos"))
      .localCheckpoint(eager = false)
    val nSample = exact1.count()

    // null-safe read of the exact-anchor aggregation (advisor r13:
    // on a corpus where the 1/101 sample is empty, avg() is NULL and
    // an unguarded getDouble dies with an NPE after the expensive
    // build/probe work). Emits NaN → printed as "null" in the JSON.
    def nsDouble(r: org.apache.spark.sql.Row, i: Int): Double =
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    def jnum(d: Double): String =
      if (d.isNaN) "null" else (math.rint(d * 10000) / 10000).toString

    if (args.length > 2) {
      // ---- probe-sweep mode: fixed nLists (each entry of sizes —
      // typically just the sizing law's value), sweep nProbe over the
      // SAMPLE queries only (top-1, parity-filtered exactly like
      // marginAlign's fwd leg). Cheap by construction: per leg cost
      // is |sample|·nProbe·E|cell|, so the whole sweep costs less
      // than one full marginAlign — this is what lets the recall
      // curve be measured per round instead of argued.
      //
      // Optional 4th arg: assignment-redundancy values (default 1).
      // r > 1 stores each corpus vector in its r NEAREST cells
      // (multi-assignment / cell spilling — the standard fix for
      // boundary misses: a query that misses its neighbor's primary
      // cell very likely probes one of the neighbor's runner-up
      // cells, since near vectors share centroid-distance order).
      // Candidate cost scales as nProbe·r·E|cell|, so equal-cost
      // comparisons pair (r=1, p) against (r=2, p/2): whether
      // redundancy BEATS more probes at fixed cost is exactly what
      // this leg measures. Top-1 identity needs no candidate dedup —
      // a twice-probed neighbor ties with itself.
      val probes = args(2).split(",").map(_.trim.toInt).toSeq
      val assignRs = (if (args.length > 3) args(3) else "1")
        .split(",").map(_.trim.toInt).toSeq
      import graft.functions.VectorFunctions.{cosineWithNorms, l2Norm, l2Sq}
      sizes.foreach { nLists =>
        val (idx, tBuild) = time(Similarity.IvfIndex.build(emb, nLists))
        def distStructs(v: org.apache.spark.sql.Column) =
          array(idx.centroids.zipWithIndex.map { case (c, i) =>
            struct(l2Sq(v, typedlit(c)).as("d"), lit(i).as("idx"))
          }: _*)
        assignRs.foreach { r =>
          // r=1 probes the REAL index (the registered plan); r>1
          // probes a harness-built multi-assigned postings frame
          // through the same join/rank arithmetic
          val postings = if (r == 1) None else Some {
            val p = emb.select(col("id").as("neighbor_id"),
                col("vec").as("cvec"), l2Norm(col("vec")).as("cn"),
                explode(slice(array_sort(distStructs(col("vec"))), 1, r))
                  .as("p"))
              .select(col("p.idx").as("list_id"), col("neighbor_id"),
                col("cvec"), col("cn"))
              .localCheckpoint(eager = false)
            p.count()
            p
          }
          probes.foreach { nProbe =>
            val (leg, tProbe) = time {
              val t = postings match {
                case None =>
                  idx.topK(sampleQ, k = 1, nProbe,
                    neighborFilter = col("neighbor_id") % 2 === 1)
                case Some(post) =>
                  val qp = sampleQ.select(col("id").as("query_id"),
                      col("vec").as("qvec"), l2Norm(col("vec")).as("qn"),
                      explode(slice(array_sort(distStructs(col("vec"))),
                        1, nProbe)).as("p"))
                    .select(col("query_id"), col("qvec"), col("qn"),
                      col("p.idx").as("list_id"))
                  val w = org.apache.spark.sql.expressions.Window
                    .partitionBy("query_id")
                    .orderBy(col("cosine").desc, col("neighbor_id"))
                  post.join(broadcast(qp), Seq("list_id"))
                    .filter(col("neighbor_id") =!= col("query_id"))
                    .filter(col("neighbor_id") % 2 === 1)
                    .withColumn("cosine", round(cosineWithNorms(
                      col("qvec"), col("cvec"), col("qn"), col("cn")), 9))
                    .withColumn("rnk", row_number().over(w))
                    .filter(col("rnk") === 1)
                    .select(col("query_id"), col("neighbor_id"),
                      col("cosine"))
              }
              val c = t.localCheckpoint(eager = false)
              c.count()
              c
            }
            val ex = leg.join(exact1, Seq("query_id"))
              .agg(avg(when(col("neighbor_id") === col("exact_id"), 1.0)
                  .otherwise(0.0)).as("r1"),
                (avg(col("cosine")) / avg(col("exact_cos"))).as("cr")).head
            println(s"""{"harness":"ivf_nprobe","n":$n,""" +
              s""""n_lists":$nLists,"n_probe":$nProbe,"assign_r":$r,""" +
              s""""cost_units":${nProbe * r},""" +
              s""""build_sec":${math.rint(tBuild * 1000) / 1000},""" +
              s""""sample_probe_sec":${math.rint(tProbe * 1000) / 1000},""" +
              s""""sample_n":$nSample,""" +
              s""""sample_recall1_vs_exact":${jnum(nsDouble(ex, 0))},""" +
              s""""sample_cos_ratio_vs_exact":${jnum(nsDouble(ex, 1))}}""")
          }
        }
      }
      spark.stop()
      return
    }

    // baseline top-1 assignment for the agreement proxy (filled by
    // the first size in the list — registry order puts 16 first)
    var base: Option[DataFrame] = None
    sizes.foreach { nLists =>
      val (idx, tBuild) = time(Similarity.IvfIndex.build(emb, nLists))
      val nProbe = Similarity.IvfIndex.nProbeLaw(nLists)
      val (res, tProbe) = time {
        val m = marginAlign(emb, idx, nProbe).localCheckpoint(eager = false)
        m.count()
        m
      }
      val stats = res.agg(count(lit(1)).as("nq"),
        avg(col("cosine")).as("mc")).head
      val agree = base.map { b =>
        val both = b.select(col("query_id"), col("match_id").as("m0"))
          .join(res.select(col("query_id"), col("match_id")),
            Seq("query_id"))
        val r = both.agg(
          avg(when(col("m0") === col("match_id"), 1.0).otherwise(0.0))).head
        nsDouble(r, 0)
      }.getOrElse(1.0)
      if (base.isEmpty) base = Some(res)
      val ex = res.join(exact1, Seq("query_id"))
        .agg(avg(when(col("match_id") === col("exact_id"), 1.0)
            .otherwise(0.0)).as("r1"),
          (avg(col("cosine")) / avg(col("exact_cos"))).as("cr")).head
      println(s"""{"harness":"ivf_sizing","n":$n,"n_lists":$nLists,""" +
        s""""n_probe":$nProbe,""" +
        s""""build_sec":${math.rint(tBuild * 1000) / 1000},""" +
        s""""probe_sec":${math.rint(tProbe * 1000) / 1000},""" +
        s""""queries":${stats.getLong(0)},""" +
        s""""mean_top1_cos":${math.rint(stats.getDouble(1) * 1e6) / 1e6},""" +
        s""""top1_agreement_vs_first":${jnum(agree)},""" +
        s""""sample_n":$nSample,""" +
        s""""sample_recall1_vs_exact":${jnum(nsDouble(ex, 0))},""" +
        s""""sample_cos_ratio_vs_exact":${jnum(nsDouble(ex, 1))}}""")
    }
    spark.stop()
  }
}
