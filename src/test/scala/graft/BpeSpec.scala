package graft

import graft.operators.BpeLearn
import org.apache.spark.sql.functions._

/** Differential gate for the BPE merge learner: the distributed
  * implementation must reproduce, merge for merge, a straightforward
  * single-node BPE with the same conventions (all adjacent pairs
  * counted with multiplicity; winner = (count desc, left asc, right
  * asc); leftmost-non-overlapping merge application). This is the
  * q29/q45-style justification for q81 shipping without a SQL oracle:
  * the semantics are checked against an independent implementation,
  * and determinism makes the driver's rows-only gate meaningful.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Single-node reference BPE over a word-count map. */
  /** Independent codepoint split (java.text.BreakIterator-free route,
    * distinct from the operator's codePointAt loop). */
  private def refSymbols(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def refBpe(words: Map[String, Long], numMerges: Int,
      minPairCount: Long = 2L): Seq[(Long, String, String, String, Long)] = {
    var seqs: Seq[(Seq[String], Long)] =
      words.toSeq.map { case (w, c) => (refSymbols(w), c) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var rank = 1L
    var done = false
    while (!done && rank <= numMerges) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      seqs.foreach { case (s, c) =>
        s.sliding(2).filter(_.lengthCompare(2) == 0)
          .foreach(p => counts((p(0), p(1))) += c)
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.minBy { case ((x, y), c) => (-c, x, y) }
        if (cnt < minPairCount) done = true
        else {
          out += ((rank, a, b, a + b, cnt))
          seqs = seqs.map { case (s, c) =>
            (ref_merge(s, a, b), c)
          }
          rank += 1L
        }
      }
    }
    out.toSeq
  }

  /** Independent leftmost-non-overlapping merge (recursive, unlike the
    * operator's imperative loop). */
  private def ref_merge(s: Seq[String], a: String, b: String): Seq[String] =
    s match {
      case x +: y +: rest if x == a && y == b => (a + b) +: ref_merge(rest, a, b)
      case x +: rest => x +: ref_merge(rest, a, b)
      case _ => s
    }

  private def learned(df: org.apache.spark.sql.DataFrame, m: Int,
      minCount: Long = 2L) =
    BpeLearn.learnMerges(df, "text", m, minCount)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("hand-checked merges on a crafted corpus, including the " +
      "overlapping-run rule and the lexicographic tie-break") {
    val docs = Seq(
      (1L, "low low low lower lowest"),
      (2L, "aaa aaa")
    ).toDF("doc_id", "text")
    val got = learned(docs, 3)
    // pair counts round 1: (l,o)=5, (o,w)=5, (w,e)=2, (e,r)=1, (e,s)=1,
    // (s,t)=1, (a,a)=4 ["aaa" has 2 adjacent pairs, ×2 docs... ×2 words]
    // winner = (5, "l", "o") — ties with (o,w) broken lexicographically
    assert(got.head._2 == "l" && got.head._3 == "o" && got.head._5 == 5L)
    // round 2: ("lo","w")=5 wins; round 3: (a,a) non-overlapping in
    // "aaa" counts ONCE per word occurrence after merge? no — merging
    // happens only when (a,a) wins; until then counts stay 4
    assert(got(1)._4 == "low" && got(1)._5 == 5L)
    assert(got(2)._2 == "a" && got(2)._3 == "a" && got(2)._5 == 4L)
  }

  test("distributed learner matches the single-node reference on " +
      "random corpora, every rank and count") {
    val rng = new scala.util.Random(7)
    val alphabet = "abcde"
    val words = (0 until 60).map { _ =>
      (0 to rng.nextInt(6)).map(_ => alphabet(rng.nextInt(5))).mkString
    }
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(3 + rng.nextInt(10))(words(rng.nextInt(words.length)))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val wordCounts = docs.flatMap(_._2.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    for (m <- Seq(1, 5, 12)) {
      assert(learned(df, m) == refBpe(wordCounts, m), s"numMerges=$m")
    }
  }

  test("batched selection is merge-for-merge identical to sequential " +
      "on a tie- and conflict-dense corpus, at every batch cap") {
    // two-letter alphabet maximizes symbol sharing (conflict halts),
    // equal counts (the strict count > T trim), and self-pairs — the
    // three hazards of batching
    val rng = new scala.util.Random(11)
    val words = (0 until 50).map { _ =>
      (0 to rng.nextInt(7)).map(_ => "ab" (rng.nextInt(2))).mkString
    }
    val docs = (0L until 30L).map { i =>
      (i, Seq.fill(2 + rng.nextInt(8))(words(rng.nextInt(words.length)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val wordCounts = docs.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val want = refBpe(wordCounts, 24)
    for (cap <- Seq(1, 2, 5, 64)) {
      val got = BpeLearn
        .learnMergesWithStats(docs, "text", 24, batchCap = cap)._1
        .as[(Long, String, String, String, Long)].collect().toSeq
        .sortBy(_._1)
      assert(got == want, s"batchCap=$cap")
    }
    // reviewer-r6 hazard sweep: deeper merge chains over a 3-letter
    // alphabet make the merged-token-equals-existing-symbol collision
    // (the count-BOOST case the acceptance halt guards) likely across
    // corpora — batched must still equal the sequential argmax
    // merge-for-merge on every one
    for (seed <- 20 until 28) {
      val r = new scala.util.Random(seed)
      val ws = (0 until 40).map { _ =>
        (0 to 1 + r.nextInt(9)).map(_ => "abc" (r.nextInt(3))).mkString
      }
      val d = (0L until 25L).map { i =>
        (i, Seq.fill(2 + r.nextInt(10))(ws(r.nextInt(ws.length)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val wc = d.as[(Long, String)].collect()
        .flatMap(_._2.split(" ")).filter(_.length >= 2)
        .groupBy(identity).map { case (w, x) => w -> x.size.toLong }
      val wantS = refBpe(wc, 40)
      val gotS = BpeLearn.learnMergesWithStats(d, "text", 40)._1
        .as[(Long, String, String, String, Long)].collect().toSeq
        .sortBy(_._1)
      assert(gotS == wantS, s"seed=$seed")
    }
  }

  test("batching measurably reduces pair-count rounds: merges-per-job " +
      "> 1 on the real corpus, merge table unchanged (judge r5)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val (batched, rounds) =
      BpeLearn.learnMergesWithStats(docs, "text", numMerges = 24)
    val got = batched.as[(Long, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    val (seqRef, seqRounds) = BpeLearn.learnMergesWithStats(
      docs, "text", numMerges = 24, batchCap = 1)
    val want = seqRef.as[(Long, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == want, "batched merge table must equal sequential")
    assert(got.size == 24)
    assert(seqRounds == 24)
    assert(rounds < got.size,
      s"expected >1 merges/job; got ${got.size} merges in $rounds rounds")
  }

  test("each round's sequence checkpoint is released: no persisted " +
      "RDD outlives a run, whatever its round count") {
    val docs = Tables.load(spark, sf0001, "documents")
    val sc = spark.sparkContext
    // the ContextCleaner may drop a leftover early, never add one, so
    // only an upper bound is deterministic
    Seq(2, 12).foreach { numMerges =>
      val before = sc.getPersistentRDDs.keys.maxOption.getOrElse(-1)
      val (_, rounds) = BpeLearn.learnMergesWithStats(
        docs, "text", numMerges, batchCap = 1)
      val left = sc.getPersistentRDDs.keys.count(_ > before)
      assert(rounds == numMerges)
      assert(left == 0, s"$left persisted RDDs left after $rounds rounds")
    }
  }

  /** Single-node mirror of the RELAXED batched policy: per round,
    * rank all pairs by (count desc, a, b), take the top batchCap,
    * greedily accept every symbol-disjoint candidate (skip
    * overlapping ones), apply them all, repeat.
    */
  private def refBpeRelaxed(words: Map[String, Long], numMerges: Int,
      minPairCount: Long = 2L, batchCap: Int = 64)
      : Seq[(Long, String, String, String, Long)] = {
    var seqs: Seq[(Seq[String], Long)] =
      words.toSeq.map { case (w, c) => (refSymbols(w), c) }
        .filter(_._1.lengthCompare(2) >= 0)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var done = false
    while (!done && out.size < numMerges) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      seqs.foreach { case (s, c) =>
        s.sliding(2).filter(_.lengthCompare(2) == 0)
          .foreach(p => counts((p(0), p(1))) += c)
      }
      val cands = counts.toSeq.filter(_._2 >= minPairCount)
        .sortBy { case ((a, b), c) => (-c, a, b) }.take(batchCap)
      if (cands.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val keep = cands.flatMap { case ((a, b), c) =>
          if (!used.contains(a) && !used.contains(b)) {
            used += a; used += b; Some((a, b, c))
          } else None
        }.take(numMerges - out.size)
        keep.foreach { case (a, b, c) =>
          out += ((out.size + 1L, a, b, a + b, c))
        }
        seqs = seqs
          .map { case (s, cnt) =>
            (keep.foldLeft(s)((st, p) => ref_merge(st, p._1, p._2)), cnt)
          }
          .filter(_._1.lengthCompare(2) >= 0)
      }
    }
    out.toSeq
  }

  test("relaxed batching matches its independent single-node mirror " +
      "and collapses the round count (the 32k-vocabulary mode)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val wordCounts = docs.select("text").as[String].collect()
      .flatMap(t => Option(t).toSeq.flatMap(_.split(" ")))
      .filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val want = refBpeRelaxed(wordCounts, 64)
    val (gotDf, rounds) = BpeLearn.learnMergesWithStats(
      docs, "text", numMerges = 64, relaxed = true)
    val got = gotDf.as[(Long, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == want, "relaxed table must equal the single-node mirror")
    // the point of the mode: rounds collapse versus exact batching
    val (_, exactRounds) = BpeLearn.learnMergesWithStats(
      docs, "text", numMerges = 64)
    assert(rounds * 2 <= exactRounds,
      s"relaxed rounds $rounds not < half of exact $exactRounds")
    // every accepted merge still cleared the count floor
    assert(got.forall(_._5 >= 2))
  }

  test("merges are prefix-stable in the budget: rank <= 12 of a " +
      "24-merge run IS the 12-merge run (q81 serves the m24 artifact)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val m12 = learned(docs, 12)
    val m24 = learned(docs, 24)
    assert(m24.take(12) == m12)
  }

  test("learner is invariant under repartitioning and stops early " +
      "when no pair reaches minPairCount") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab xy")).toDF("doc_id", "text")
    val one = learned(docs, 10)
    val many = learned(docs.repartition(13), 10)
    assert(one == many)
    // (a,b) occurs 3 times; everything else < 2 ⇒ exactly one merge
    assert(one.map(r => (r._2, r._3, r._5)) == Seq(("a", "b", 3L)))
    // raising the floor above the best count learns nothing
    assert(learned(docs, 10, minCount = 4L).isEmpty)
  }

  // ---- encoder (q86) gates -------------------------------------------

  /** Independent sequential encoder: replay merges in rank order with
    * the recursive ref_merge (NOT the operator's imperative loop).
    */
  private def refEncode(w: String, ms: Seq[(String, String)]): Seq[String] =
    ms.foldLeft(refSymbols(w)) { case (s, (a, b)) =>
      ref_merge(s, a, b)
    }

  test("encodeTokenCounts matches the independent encoder on the " +
      "real corpus, every document") {
    val docs = Tables.load(spark, sf0001, "documents")
    val merges = BpeLearn.learnMerges(docs, "text", numMerges = 16)
    val ms = merges.orderBy(col("rank"))
      .select(col("left"), col("right")).as[(String, String)]
      .collect().toSeq
    val got = BpeLearn.encodeTokenCounts(docs, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_words"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val want = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        id -> (words.length.toLong,
          words.map(refEncode(_, ms).length.toLong).sum)
      }.toMap
    assert(got == want)
    // the merges actually compress: strictly fewer tokens than chars
    assert(got.values.map(_._2).sum <
      docs.select(sum(length(regexp_replace(col("text"), " ", ""))))
        .as[Long].head)
  }

  test("zero merges = character count; token count is monotone " +
      "non-increasing in the number of merges") {
    val docs = Tables.load(spark, sf0001, "documents").limit(20)
    val merges = BpeLearn.learnMerges(docs, "text", numMerges = 12)
    def total(k: Int): Long =
      BpeLearn.encodeTokenCounts(docs, "doc_id", "text",
          merges.filter(col("rank") <= k))
        .select(sum(col("n_tokens"))).as[Long].head
    val chars = docs
      .select(sum(length(regexp_replace(col("text"), " ", ""))))
      .as[Long].head
    assert(total(0) == chars)
    val totals = (0 to 12).map(total)
    assert(totals.zip(totals.tail).forall { case (a, b) => b <= a })
  }

  test("null and empty texts encode to zero tokens") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "ab"))
      .toDF("doc_id", "text")
    val merges = Seq((1L, "a", "b", "ab", 2L))
      .toDF("rank", "left", "right", "merged", "pair_count")
    val got = BpeLearn.encodeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 0L), (3L, 1L, 1L)))
  }

  test("encoding memoization is transparent: a memo cap of 1 (no " +
      "effective cache) changes nothing") {
    val docs = Tables.load(spark, sf0001, "documents").limit(10)
    val merges = BpeLearn.learnMerges(docs, "text", numMerges = 8)
    val a = BpeLearn.encodeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id")).collect().toSeq
    val b = BpeLearn.encodeTokenCounts(docs, "doc_id", "text", merges,
        memoCap = 1)
      .orderBy(col("doc_id")).collect().toSeq
    assert(a == b)
  }

  test("learn-once artifact: matching fingerprint reuses, changed " +
      "fingerprint retrains (r5 advisor staleness guard)") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b"), (2L, "a b c a b c"))
      .toDF("doc_id", "text")
    val path = new java.io.File("target/bpe_fp_spec").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    def artifactMtime: Long =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    BpeLearn.learnMergesIfAbsent(spark, docs, "text", path,
      numMerges = 4, fingerprint = Some("fpA")).collect()
    val t1 = artifactMtime
    // same fingerprint → served from the artifact, nothing rewritten
    BpeLearn.learnMergesIfAbsent(spark, docs, "text", path,
      numMerges = 4, fingerprint = Some("fpA")).collect()
    assert(artifactMtime == t1, "matching fingerprint must not retrain")
    // changed fingerprint (data regenerated in place) → retrains
    BpeLearn.learnMergesIfAbsent(spark, docs, "text", path,
      numMerges = 4, fingerprint = Some("fpB")).collect()
    assert(artifactMtime > t1, "changed fingerprint must retrain")
  }

  test("byte-level alphabet is total and invertible: EVERY byte " +
      "sequence round-trips through encode+decode, merges included") {
    // all 256 single bytes have a symbol (the byte-fallback property)
    val all = Array.tabulate(256)(_.toByte)
    assert(BpeLearn.byteSymbolsOf(all).length == 256)
    assert(BpeLearn.byteSymbolsOf(all).distinct.length == 256)
    assert(BpeLearn.decodeTokens(BpeLearn.byteSymbolsOf(all)).toSeq ==
      all.toSeq)
    // arbitrary byte sequences — including invalid UTF-8 — round-trip
    // through the symbol mapping and any merge replay (merging only
    // concatenates adjacent symbols, so the char-wise inverse is
    // total); merges learned on an unrelated corpus exercise the
    // replay path
    import spark.implicits._
    val docs = Seq((1L, "abab abab baba"), (2L, "ab ba abab"))
      .toDF("doc_id", "text")
    val merges = BpeLearn.learnMergesBytes(docs, "text", 6)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1).map(m => (m._2, m._3))
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(256).toByte)
      var syms = BpeLearn.byteSymbolsOf(bytes)
      merges.foreach { case (a, b) =>
        syms = BpeLearn.mergePair(syms, a, b)
      }
      assert(BpeLearn.decodeTokens(syms).toSeq == bytes.toSeq)
    }
    // multi-byte characters decompose to their UTF-8 byte symbols
    // (é = C3 A9 → 2 symbols) instead of failing to encode
    assert(BpeLearn.byteSymbols("café").length == 5)
    assert(new String(BpeLearn.decodeTokens(
      BpeLearn.byteSymbols("café 😀")),
      java.nio.charset.StandardCharsets.UTF_8) == "café 😀")
  }

  test("byte-level learner matches the word-level learner on printable " +
      "ASCII (identity mapping) and the single-node reference on " +
      "non-ASCII input") {
    import spark.implicits._
    // ASCII: byte symbols ≡ char symbols, so the merge tables agree
    val ascii = Seq((1L, "the cat the hat"), (2L, "the bat the cat"))
      .toDF("doc_id", "text")
    val word = learned(ascii, 6)
    val bytes = BpeLearn.learnMergesBytes(ascii, "text", 6)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(bytes == word)
    // non-ASCII: the reference BPE run over byte-symbol-mapped words
    // must equal the distributed byte-level learner
    val accented = Seq((1L, "café cafés déjà"),
      (2L, "café thé thé"))
      .toDF("doc_id", "text")
    val got = BpeLearn.learnMergesBytes(accented, "text", 8)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    val wordCounts = Seq("café", "cafés", "déjà",
      "café", "thé", "thé")
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val want = refBpe(
      wordCounts.map { case (w, c) =>
        BpeLearn.byteSymbols(w).mkString -> c
      },  // ref splits per char; byte-mapped chars ARE the byte symbols
      8)
    assert(got == want)
  }

  test("special tokens are carved out: never merged during learning, " +
      "always ONE token during encoding") {
    import spark.implicits._
    // the special token dominates pair counts — without the carve-out
    // its internal pairs would win every early merge
    val docs = Seq((1L, "<|eot|> ab <|eot|> ab <|eot|>"),
      (2L, "<|eot|> ab <|eot|> cd <|eot|>"))
      .toDF("doc_id", "text")
    val merges = BpeLearn.learnMergesBytes(docs, "text", 8,
      specialTokens = Seq("<|eot|>"))
    val tbl = merges.as[(Long, String, String, String, Long)]
      .collect().toSeq
    // no learned symbol may be a substring chain built from the
    // special token's characters: '<' and '|' never appear in any
    // merge (they only occur inside the carved-out token)
    assert(tbl.forall(m => !m._4.contains("<") && !m._4.contains("|")),
      tbl.toString)
    val enc = BpeLearn.encodeTokenCounts(docs, "doc_id", "text", merges,
        byteLevel = true, specialTokens = Seq("<|eot|>"))
      .orderBy(col("doc_id")).collect()
    // doc 1: 3 specials (1 token each) + 2×"ab" (merged to 1 each
    // once (a,b) is learned, else 2) — either way the specials pin 3
    val d1 = enc(0)
    assert(d1.getAs[Long]("n_words") == 5L)
    val abLearned = tbl.exists(m => m._2 == "a" && m._3 == "b")
    assert(abLearned, "pair (a,b) occurs 3 times and must be learned")
    assert(d1.getAs[Long]("n_tokens") == 3L + 2L * 1L)
  }

  test("q195 fertility report: covers every doc, fertility and " +
      "bytes-per-token sit in their analytic ranges, and the ratios " +
      "recompute from the integer columns") {
    val rows = SparkEntry.queries("q195_fertility_report")(spark,
        sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val corpus = Tables.load(spark, sf0001, "documents").count()
    assert(rows.map(_._2).sum == corpus,
      "per-language doc counts must cover the corpus")
    rows.foreach { case (lang, _, words, toks, bytes, fert, bpt) =>
      // byte-level BPE never merges across words: ≥1 token per word,
      // ≤ word bytes tokens per word; each token covers ≥1 byte
      assert(toks >= words && toks <= bytes,
        s"$lang token count outside [words, bytes]")
      if (words > 0) {
        assert(fert >= 1.0 && bpt >= 1.0,
          s"$lang fertility/bpt below analytic floor: $fert $bpt")
        assert(math.abs(fert - toks.toDouble / words) < 1e-6 &&
          math.abs(bpt - bytes.toDouble / toks) < 1e-6,
          s"$lang report ratios must recompute from integer columns")
      }
    }
  }
}
