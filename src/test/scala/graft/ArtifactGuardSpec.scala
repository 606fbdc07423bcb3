package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.sources.ArtifactGuard

/** `ArtifactGuard` writes `_fingerprint` and `_meta` through a hidden
  * temp file and a rename. A half-written stamp must never be served:
  * what a crash leaves behind is the temp file, and no reader may take
  * it for the stamp.
  */
class ArtifactGuardSpec extends SparkSpec {

  private def scratch(name: String): String = {
    val d = new java.io.File(s"target/artifact_guard_spec/$name")
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  private def visible(dir: String): Set[String] =
    new java.io.File(dir).list().toSet.filterNot(_.endsWith(".crc"))

  test("a leftover stamp temp file never makes an artifact fresh") {
    val dir = scratch("leftover")
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    // what a crash between the temp write and the rename leaves: the
    // right fingerprint, but only under a temp name
    Files.write(Paths.get(dir, "._fingerprint.0f1e2d3c.tmp"),
      "fp-1".getBytes(UTF_8))
    assert(!ArtifactGuard.fresh(spark, dir, s"$dir/_SUCCESS", Some("fp-1")))
    ArtifactGuard.stamp(spark, dir, Some("fp-1"))
    assert(ArtifactGuard.fresh(spark, dir, s"$dir/_SUCCESS", Some("fp-1")))
  }

  test("restamping replaces the stamp and meta whole and leaves no " +
      "temp file") {
    val dir = scratch("restamp")
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    ArtifactGuard.stamp(spark, dir, Some("fp-old"))
    ArtifactGuard.writeMeta(spark, dir, Map("corpus_rows" -> "5"))
    ArtifactGuard.stamp(spark, dir, Some("fp-new"))
    ArtifactGuard.writeMeta(spark, dir,
      Map("corpus_rows" -> "9", "n_lists" -> "16"))
    assert(!ArtifactGuard.fresh(spark, dir, s"$dir/_SUCCESS", Some("fp-old")))
    assert(ArtifactGuard.fresh(spark, dir, s"$dir/_SUCCESS", Some("fp-new")))
    assert(ArtifactGuard.readMeta(spark, dir) ==
      Map("corpus_rows" -> "9", "n_lists" -> "16"))
    assert(new String(Files.readAllBytes(Paths.get(dir, "_fingerprint")),
      UTF_8) == "fp-new")
    assert(visible(dir) == Set("_SUCCESS", "_fingerprint", "_meta"),
      visible(dir))
  }
}
