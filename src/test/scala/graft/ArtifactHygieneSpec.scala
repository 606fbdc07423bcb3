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

  /** Every engine parquet read goes through `Tables.read`, which infers
    * a schema once per file version; a direct `spark.read.parquet` runs
    * a schema-inference job on every call. The stress mains are exempt:
    * they read scratch corpora they have just written.
    */
  test("engine parquet reads go through Tables.read") {
    val exempt = Set("Tables.scala", "TailStress.scala", "CorpusStress.scala",
      "EmbedStress.scala", "IvfSizingStress.scala", "ScaleStress.scala")
    val direct = """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""".r
    val offenders = scalaFiles(new java.io.File("src/main/scala"))
      .filterNot(f => exempt(f.getName))
      .filter { f =>
        direct.findFirstIn(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty
      }.map(_.getPath)
    assert(offenders.isEmpty,
      s"direct parquet reads (use graft.Tables.read): $offenders")
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
