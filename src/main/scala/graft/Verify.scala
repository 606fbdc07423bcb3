package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (local iteration only — the driver passes two):
    // comma-separated name prefixes; run just the matching queries
    val only: Option[Seq[String]] = args.lift(2).map(_.split(",").toSeq)
    val spark = Tables.localSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escaped (Metrics.quote): a tab or CR in the SQL would otherwise
    // make the reader's json.load fail and silently zero correctness
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${Metrics.quote(k)}: ${Metrics.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
