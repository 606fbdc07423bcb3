package graft

import org.scalatest.funsuite.AnyFunSuite

/** r9 verdict #6: artifact locations must flow through
  * `graft.sources.Artifacts` (configurable root) — a hardcoded local
  * temp path would break the moment the library runs multi-node,
  * where every executor and the oracle replay need ONE shared
  * location. Grep-enforced so a new call site can't regress it.
  */
class ArtifactHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = Option(dir.listFiles).getOrElse(Array.empty)
      .toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++
      dirs.flatMap(scalaFiles)
  }

  test("no hardcoded temp paths in src/main") {
    val offenders = scalaFiles(new java.io.File("src/main/scala"))
      .flatMap { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        if (src.contains("/" + "tmp/") || src.contains("\"/" + "tmp"))
          Some(f.getPath)
        else None
      }
    assert(offenders.isEmpty,
      s"hardcoded temp paths (route through Artifacts.root): $offenders")
  }

  /** Paths of the `src/main/scala` files in which `pattern` occurs. */
  private def mainFilesMatching(pattern: scala.util.matching.Regex)
      : Seq[String] =
    scalaFiles(new java.io.File("src/main/scala"))
      .filter { f =>
        pattern.findFirstIn(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty
      }.map(_.getPath)

  private def outsideTables(paths: Seq[String]): Seq[String] =
    paths.filterNot(_.endsWith("/Tables.scala"))

  /** Every engine parquet read goes through `Tables.read`, which infers
    * a schema once per file version; a direct `spark.read.parquet` runs
    * a schema-inference job on every call.
    */
  test("engine parquet reads go through Tables.read") {
    val offenders = outsideTables(mainFilesMatching(
      """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""".r))
    assert(offenders.isEmpty,
      s"direct parquet reads (use graft.Tables.read): $offenders")
  }

  /** Every main shares one session config: `Tables.localSession`. */
  test("the only SparkSession builder is Tables.localSession") {
    val offenders = outsideTables(
      mainFilesMatching("""SparkSession\s*\.\s*builder""".r))
    assert(offenders.isEmpty,
      s"session builders outside Tables.localSession: $offenders")
  }

  /** Failures must be loud: a `Throwable` catch also swallows fatal
    * errors (OOM, interrupts). Catch `NonFatal` instead.
    */
  test("no Throwable catches in src/main") {
    val offenders = mainFilesMatching(""":\s*Throwable\s*=>""".r)
    assert(offenders.isEmpty, s"catch Throwable (use NonFatal): $offenders")
  }

  test("artifact dirs disambiguate raw data dirs that sanitize alike") {
    val a = graft.sources.Artifacts.dir("lr", "/data/x.y", "d8")
    val b = graft.sources.Artifacts.dir("lr", "/data/x_y", "d8")
    assert(a != b)
  }

  test("artifact root is configurable, default under java.io.tmpdir") {
    val root = graft.sources.Artifacts.root
    assert(sys.env.contains("GRAFT_ARTIFACT_ROOT") ||
      root.startsWith(sys.props("java.io.tmpdir")))
  }
}
