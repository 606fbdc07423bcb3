package graft

import graft.operators.BpeLearn
import graft.Metrics.time

/** Scale-stress for q81's batched BPE merge learning — the companion
  * of `CorpusStress` for the one training loop whose cost is rounds ×
  * (vocabulary-sized job), not a single plan: measure wall time and
  * the ROUNDS (Spark jobs) a growing merge budget costs. The judge-r5
  * concern was one job PER merge (32k jobs at a real vocabulary);
  * the batched loop accepts top-K non-overlapping pairs per round, so
  * merges/round is the quantity that decides whether a 32k vocabulary
  * is 32 000 driver round-trips or ~32k/K. Correctness of the batched
  * order is pinned elsewhere (BpeSpec: batched ≡ cap-1 sequential;
  * the q81 recursive-CTE oracle re-derives each rank's argmax), so
  * this harness reports shape only:
  * `{"merges":M,"rounds":R,"merges_per_round":...,"sec":...}` per
  * budget, on the full sf corpus.
  */
object BpeStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val budgets = (if (args.length > 1) args(1) else "24,128,512")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Tables.localSession("graft-bpestress")

    val docs = Tables.load(spark, sfDir, "documents")
    budgets.foreach { m =>
      Seq(false, true).foreach { relaxed =>
        val ((got, rounds), sec) = time {
          val (merges, rounds) = BpeLearn.learnMergesWithStats(
            docs, "text", numMerges = m, relaxed = relaxed)
          (merges.count(), rounds)
        }
        println(f"""{"mode":"${if (relaxed) "relaxed" else "exact"}",""" +
          f""""merges":$got,"requested":$m,"rounds":$rounds,""" +
          f""""merges_per_round":${got.toDouble / rounds}%.2f,""" +
          f""""sec":$sec%.1f}""")
      }
    }
    spark.stop()
  }
}
