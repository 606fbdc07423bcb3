package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
object PlanDump {
  /** Prints `df`'s final adaptive plan (`isFinalPlan=true`), the plan
    * that actually ran after AQE's runtime re-planning (coalesced
    * reads, joins switched to broadcast, range exchanges dropped by
    * `SmallGlobalSort`). The explain before execution is only AQE's
    * initial plan. The query runs once on its own execution, its rows
    * dropped on the executors as the `noop` sink would; a `noop` write
    * would plan a separate execution and leave this one unexecuted.
    */
  private def explainFinal(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plandump"))(
      qe.toRdd.foreach(_ => ()))
    df.explain("formatted")
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession("plandump", 8)
    // override with SPARK_GRAFT_SF_DIR to read plans at another scale
    // (e.g. sf0.1, where the narrow-scan widening engages)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    for (n <- args) {
      println(s"===== $n =====")
      // _rawscan:<table>: dump a bare filter+project over the
      // WIDENED load — the claim this dump backs is "pushdown and
      // pruning survive the loadWide exchange", so it must call
      // loadWide, not load (advisor r13: the un-widened dump never
      // contained the exchange it vouched for). Point
      // SPARK_GRAFT_SF_DIR at a dir where widening engages (sf0.1's
      // 1-file tables); on a healthily-split dir loadWide ≡ load and
      // the dump degrades to the plain-scan plan, which the header
      // line makes visible.
      if (n.startsWith("_rawscan:")) {
        import org.apache.spark.sql.functions.col
        val t = n.stripPrefix("_rawscan:")
        val df = Tables.loadWide(spark, dir, t)
        println(s"-- loadWide engaged: ${Tables.wideningEngages(spark, dir, t)}")
        explainFinal(df.filter(col("lang") === "en").select("doc_id", "lang"))
      } else explainFinal(SparkEntry.queries(n)(spark, dir))
    }
    spark.stop()
  }
}
