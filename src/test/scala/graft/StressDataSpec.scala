package graft

import org.apache.spark.sql.functions._

/** The ×N replication the stress harness reads (`StressData`), checked
  * at sf0.001 ×3: the properties the stress tables' linearity claims
  * rest on.
  */
class StressDataSpec extends SparkSpec {
  private lazy val base = Tables.load(spark, sf0001, "documents")
  private lazy val n = base.count()
  private lazy val x3 = StressData.replicateDocuments(base, 3)
    .localCheckpoint()

  test("x3 documents: 3n rows, distinct ids, copy 0 is the base") {
    assert(x3.count() == 3 * n)
    assert(x3.select(col("doc_id")).distinct().count() == 3 * n)
    assert(x3.columns.toSeq == base.columns.toSeq)
    val copy0 = x3.filter(col("doc_id") < StressData.Stride)
    assert(copy0.exceptAll(base).isEmpty && base.exceptAll(copy0).isEmpty)
  }

  test("x3 documents: different copies share no token") {
    val shared = x3
      .select((col("doc_id") / StressData.Stride).cast("long").as("cp"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(countDistinct(col("cp")).as("copies"))
      .filter(col("copies") > 1)
    assert(shared.isEmpty, shared.head(5).mkString(", "))
  }

  test("pure duplication keeps every copy's payload") {
    val folded = StressData.replicateDocuments(base, 3, disjointTokens = false)
      .withColumn("doc_id", col("doc_id") % StressData.Stride)
    val thrice = base.union(base).union(base)
    assert(folded.exceptAll(thrice).isEmpty && thrice.exceptAll(folded).isEmpty)
  }

  test("forcedRows counts every row of a projected frame in one job") {
    Metrics.register(spark)
    val df = x3.select(col("doc_id"), upper(col("text")).as("t"))
    val (rows, p) = Metrics.measure(spark)(StressData.forcedRows(df))
    assert(rows == 3 * n)
    assert(p.jobs == 1, s"jobs: ${p.jobs}")
  }
}
