package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demo: a Spark query plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  * Column names/aliases MUST match between `fn` output and `oracle` —
  * the driver sorts columns by name before hashing.
  *
  * `inBench = false` keeps a query in the correctness registry but
  * out of the timed bench sweep — for deliberate O(n²) oracle anchors
  * (q41) whose point is exactness, not throughput.
  *
  * `oracleFn` is the dir-parameterized variant of `oracle`: the few
  * oracles that replay learn-once artifacts (IVF postings, BPE merge
  * tables) must derive the artifact path from the SAME data-dir the
  * Spark side derives it from (advisor r6 — a hardcoded sf0.01 path
  * silently replays the wrong artifact at any other scale). Exactly
  * one of `oracle`/`oracleFn` should be set.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    inBench: Boolean = true,
    oracleFn: Option[String => String] = None) {
  def oracleFor(dir: String): Option[String] =
    oracleFn.map(_(dir)).orElse(oracle)
}

object QueryDef {
  /** Names excluded from the timed bench sweep. */
  def benchExempt(all: Seq[QueryDef]): Set[String] =
    all.filterNot(_.inBench).map(_.name).toSet
}
