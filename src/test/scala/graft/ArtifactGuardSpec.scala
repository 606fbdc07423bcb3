package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.operators.Similarity
import graft.sources.ArtifactGuard

/** `ArtifactGuard.once` is the one learn-once primitive: the
  * `_fingerprint` stamp, written last through a hidden temp file and a
  * rename, is the commit marker. A half-written artifact must never be
  * served: what a crash leaves behind is the temp file or unstamped
  * parts, and no caller may take either for a finished artifact.
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

  private def stampOf(dir: String): Option[String] = {
    val f = Paths.get(dir, "_fingerprint")
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), UTF_8))
    else None
  }

  /** A build that writes one part and counts its runs. */
  private final class PartWriter(dir: String) {
    var runs = 0
    def apply(): Unit = {
      runs += 1
      Files.write(Paths.get(dir, "part"), s"run $runs".getBytes(UTF_8))
    }
  }

  test("a leftover stamp temp file never makes an artifact fresh") {
    val dir = scratch("leftover")
    val b = new PartWriter(dir)
    b()
    // what a crash between the temp write and the rename leaves: the
    // right fingerprint, but only under a temp name
    Files.write(Paths.get(dir, "._fingerprint.0f1e2d3c.tmp"),
      "fp-1".getBytes(UTF_8))
    ArtifactGuard.once(spark, dir, Some("fp-1"))(b())(())
    assert(b.runs == 2, "a temp stamp was taken for the stamp")
    assert(stampOf(dir).contains("fp-1"))
  }

  test("restamping replaces the stamp and meta whole and leaves no " +
      "temp file") {
    val dir = scratch("restamp")
    val b = new PartWriter(dir)
    ArtifactGuard.once(spark, dir, Some("fp-old")) {
      b()
      ArtifactGuard.writeMeta(spark, dir, Map("corpus_rows" -> "5"))
    }(())
    ArtifactGuard.once(spark, dir, Some("fp-new")) {
      b()
      ArtifactGuard.writeMeta(spark, dir,
        Map("corpus_rows" -> "9", "n_lists" -> "16"))
    }(())
    assert(b.runs == 2)
    assert(ArtifactGuard.readMeta(spark, dir) ==
      Map("corpus_rows" -> "9", "n_lists" -> "16"))
    assert(stampOf(dir).contains("fp-new"))
    assert(visible(dir) == Set("part", "_fingerprint", "_meta"),
      visible(dir))
  }

  test("a build that throws after writing a part leaves the artifact " +
      "not fresh, and the next call rebuilds") {
    val dir = scratch("throws")
    val b = new PartWriter(dir)
    ArtifactGuard.once(spark, dir, Some("fp-a"))(b())(())
    // a rebuild for new data dies after its first part: the old stamp
    // is gone, so the torn parts are served under neither fingerprint
    intercept[IllegalStateException] {
      ArtifactGuard.once(spark, dir, Some("fp-b")) {
        b()
        throw new IllegalStateException("build died")
      }(())
    }
    assert(stampOf(dir).isEmpty, "a torn artifact kept a stamp")
    assert(ArtifactGuard.once(spark, dir, Some("fp-b"))(b())("loaded") ==
      "loaded")
    assert(b.runs == 3)
    assert(stampOf(dir).contains("fp-b"))
    ArtifactGuard.once(spark, dir, Some("fp-a"))(b())(())
    assert(b.runs == 4, "fp-a served the parts fp-b overwrote")
  }

  test("a repeat (path, fingerprint) runs no build and returns the " +
      "memoized load") {
    val dir = scratch("memo")
    val b = new PartWriter(dir)
    val first = ArtifactGuard.once(spark, dir, Some("fp"))(b())(new Object)
    val again = ArtifactGuard.once(spark, dir, Some("fp"))(
      fail("rebuilt a fresh artifact"))(new Object)
    assert(again eq first)
    assert(b.runs == 1)
  }

  test("a changed fingerprint rebuilds") {
    val dir = scratch("changed")
    val b = new PartWriter(dir)
    assert(ArtifactGuard.once(spark, dir, Some("fp-1"))(b())(1) == 1)
    assert(ArtifactGuard.once(spark, dir, Some("fp-2"))(b())(2) == 2)
    assert(b.runs == 2)
    assert(stampOf(dir).contains("fp-2"))
  }

  test("buildEventCount rises by exactly one per build, the planes " +
      "artifact included") {
    val dir = scratch("events")
    val b = new PartWriter(dir)
    val c0 = ArtifactGuard.buildEventCount
    ArtifactGuard.once(spark, dir, None)(b())(())
    assert(ArtifactGuard.buildEventCount == c0 + 1)
    ArtifactGuard.once(spark, dir, None)(b())(())
    assert(ArtifactGuard.buildEventCount == c0 + 1)
    val planes = s"${scratch("events_planes")}/planes"
    def savePlanes(): Unit = Similarity.savePlanesArtifact(spark, planes,
      bitsPerTable = 2, numTables = 3, dim = 4, seed = 7L)
    savePlanes()
    assert(ArtifactGuard.buildEventCount == c0 + 2)
    savePlanes()
    assert(ArtifactGuard.buildEventCount == c0 + 2)
    assert(stampOf(planes).nonEmpty, "the planes artifact is unstamped")
  }
}
