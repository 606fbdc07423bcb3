package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every implemented operator demo, one per SURVEY.md §2 inventory row.
    * Built once per JVM: the defs are immutable, and rebuilding them
    * (oracles included) cost ~90–140 ms per `queries` call.
    */
  private lazy val allDefs: Seq[QueryDef] =
    Relational.defs ++ TextQueries.defs ++ EventsQueries.defs ++
      DedupQueries.defs ++ WindowQueries.defs ++ MatchQueries.defs ++
      PathQueries.defs ++ JdbcQueries.defs ++ MultimodalQueries.defs ++
      NestedQueries.defs ++ CorpusQueries.defs ++ TemporalQueries.defs ++
      SpanQueries.defs ++ ClassifierQueries.defs ++ SketchQueries.defs ++
      AnalyticsQueries.defs ++ RetrievalQueries.defs ++
      ProjectionQueries.defs ++ ModelQueries.defs ++
      CurationQueries.defs ++ SuffixQueries.defs ++ StatQueries.defs ++
      VectorQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3 shape: 3-way join, grouped revenue, top-k — exercises scan
    * pushdown, broadcast + shuffle joins, partial aggregation, top-k sort.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val t = Tables(spark, dir)
    graft.dsl.Query
      .forIn("c", t.customer)
      .forIn("o", t.orders)
      .forIn("l", t.lineitem)
      .where(col("c.c_mktsegment") === "BUILDING" &&
        col("c.c_custkey") === col("o.o_custkey") &&
        col("o.o_orderkey") === col("l.l_orderkey"))
      .groupByAgg(
        Seq("o_orderkey" -> col("o.o_orderkey"),
          "o_orderdate" -> col("o.o_orderdate")),
        Seq("revenue" -> sum((col("l.l_extendedprice") *
          (lit(1) - col("l.l_discount"))).cast(DecimalType(18, 4)))
          .cast("double")))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
      .toDF
  }

  /** The scale the driver's correctness gate runs at — the default
    * dir for materializing dir-parameterized oracles; `Verify`
    * re-materializes with its actual CLI dir so the gate stays
    * correct at any scale.
    */
  val defaultVerifyDir = "/root/testdata/sf0.01"

  /** One per implemented operator from SURVEY.md §2. Names and
    * functions only: no oracle is materialized to build it.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** Registered-but-not-benched names (deliberate O(n²) oracle
    * anchors like q41 — correctness-checked, excluded from the timed
    * sweep).
    */
  def benchExempt: Set[String] = QueryDef.benchExempt(allDefs)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracleSqlFor(defaultVerifyDir)

  /** Same, with artifact-replay oracles resolved against `dir`. */
  def oracleSqlFor(dir: String): Map[String, String] =
    allDefs.flatMap(d => d.oracleFor(dir).map(d.name -> _)).toMap
}
