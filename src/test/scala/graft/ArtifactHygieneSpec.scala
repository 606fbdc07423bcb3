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

  /** `Metrics` is the engine's one profiler: its listener is the only
    * one a main installs.
    */
  test("only Metrics registers listeners in src/main") {
    val offenders = mainFilesMatching(
      """addSparkListener|listenerManager\s*\.\s*register""".r)
      .filterNot(_.endsWith("/Metrics.scala"))
    assert(offenders.isEmpty,
      s"listeners outside Metrics.register: $offenders")
  }

  /** Every main times through `Metrics.measure`, which drains the
    * listener bus outside the timed window.
    */
  test("only Metrics reads System.nanoTime in src/main") {
    val offenders = mainFilesMatching("""System\s*\.\s*nanoTime""".r)
      .filterNot(_.endsWith("/Metrics.scala"))
    assert(offenders.isEmpty,
      s"clocks outside Metrics.measure: $offenders")
  }

  /** Failures must be loud: a `Throwable` catch also swallows fatal
    * errors (OOM, interrupts). Catch `NonFatal` instead.
    */
  test("no Throwable catches in src/main") {
    val offenders = mainFilesMatching(""":\s*Throwable\s*=>""".r)
    assert(offenders.isEmpty, s"catch Throwable (use NonFatal): $offenders")
  }

  /** `Boundary` is the engine's one compute-once primitive: it keeps a
    * lazy checkpoint's metrics reachable, widens a checkpoint's input
    * under the file-count guard and frees superseded checkpoints.
    */
  test("only Boundary checkpoints, caches or widens in src/main") {
    val offenders = mainFilesMatching(
      ("""\.\s*(localCheckpoint|checkpoint|persist)\s*\(""" +
        """|\.\s*cache\s*\(\s*\)""").r)
      .filterNot(_.endsWith("/Boundary.scala")) ++
      mainFilesMatching("""stageWidener""".r)
    assert(offenders.isEmpty,
      s"compute-once boundaries outside graft.Boundary: " +
        offenders.distinct.sorted.mkString(", "))
  }

  /** `ArtifactGuard.once` is the one learn-once primitive: its stamp is
    * every artifact's commit marker, so no other file probes freshness,
    * stamps, or picks a `_SUCCESS` marker of its own. Comment lines may
    * still name `_SUCCESS` (Spark writes one into every parquet dir).
    */
  test("learn-once artifacts go through ArtifactGuard.once") {
    val codeSuccess = scalaFiles(new java.io.File("src/main/scala"))
      .filter { f =>
        val lines = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").linesIterator
        lines.exists { l =>
          val t = l.trim
          !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) &&
            t.contains("_SUCCESS")
        }
      }.map(_.getPath)
    val offenders = (mainFilesMatching(
      """ArtifactGuard\s*\.\s*(fresh|stamp)\b""".r) ++ codeSuccess)
      .filterNot(_.endsWith("/ArtifactGuard.scala"))
    assert(offenders.isEmpty,
      "freshness probes, stamps or _SUCCESS markers outside " +
        "ArtifactGuard.once: " + offenders.distinct.sorted.mkString(", "))
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
