package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.digest` against a committed Bench archive: the archive
  * compared with its own per-query times is a no-change digest.
  */
class BenchDigestSpec extends AnyFunSuite {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val archive = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("bench_archive/bench_r16_final_sf01.json")),
    "UTF-8")

  private val own: Map[String, Double] =
    mapper.readTree(archive).get("queries").properties.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  private def digest(archiveJson: String, now: Map[String, Double]) =
    mapper.readTree(Bench.digest(archiveJson, now))

  test("an archive against its own times: nothing moved") {
    val d = digest(archive, own)
    assert(own.size == 197)
    assert(d.get("n_common").asInt == own.size)
    assert(d.get("n_regressed").asInt == 0)
    assert(d.get("n_improved").asInt == 0)
    assert(d.get("geomean_vs_archive").asDouble == 1.0)
    assert(d.get("top_regressed").isEmpty && d.get("top_improved").isEmpty)
  }

  test("a query with a null archive time is not common") {
    val root = mapper.readTree(archive)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val q = own.keys.min
    root.get("queries")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .putNull(q)
    val d = digest(mapper.writeValueAsString(root), own)
    assert(d.get("n_common").asInt == own.size - 1)
    assert(d.get("n_regressed").asInt == 0)
  }

  test("movers outside the 10% band are counted and named") {
    val (slow, fast) = (own.keys.min, own.keys.max)
    val d = digest(archive,
      own.updated(slow, own(slow) * 2).updated(fast, own(fast) / 2))
    assert(d.get("n_regressed").asInt == 1)
    assert(d.get("n_improved").asInt == 1)
    assert(d.get("top_regressed").has(slow))
    assert(d.get("top_improved").has(fast))
  }

  test("no common query gives null; no queries object fails loudly") {
    assert(Bench.digest(archive, Map("nope" -> 1.0)) == "null")
    intercept[IllegalArgumentException](Bench.digest("{}", own))
  }
}
