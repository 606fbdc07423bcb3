package graft

import Stress._

/** The stress harness: each check kind against exact values and
  * seeded violations, the tail gate's factor rule, the exit status,
  * the preconditions, and one end-to-end run at sf0.001 ×1,×2 over an
  * entry of every corpus kind and every check kind.
  */
class StressSpec extends SparkSpec {

  private val base = Map[String, Any]("n" -> 10L, "x" -> 0.5,
    "fam.a" -> 3L, "fam.b" -> 4L, "docs" -> 10L, "sec" -> 1.0)

  private def fails(c: Check, f: Int, v: Map[String, Any],
      top: Int = 2): Boolean =
    violations(c, f, top, v, base).nonEmpty

  test("Linear passes on f × base, per family member, and fails on a " +
      "seeded miss or a changed member set") {
    val at2 = Map[String, Any]("n" -> 20L, "fam.a" -> 6L, "fam.b" -> 8L)
    assert(!fails(Linear("n"), 2, at2) && !fails(Linear("fam"), 2, at2))
    assert(fails(Linear("n"), 2, at2 + ("n" -> 21L)))
    assert(fails(Linear("fam"), 2, at2 + ("fam.b" -> 7L)))
    assert(fails(Linear("fam"), 2, at2 - "fam.b"))
    assert(fails(Linear("fam"), 2, at2 + ("fam.c" -> 1L)))
    assert(fails(Linear("n"), 2, Map.empty))
  }

  test("SameAsBase passes within tol and fails past it") {
    assert(!fails(SameAsBase("x"), 3, Map("x" -> 0.5)))
    assert(fails(SameAsBase("x"), 3, Map("x" -> (0.5 + 1e-9))))
    assert(!fails(SameAsBase("x", 0.02), 3, Map("x" -> 0.515)))
    assert(fails(SameAsBase("x", 0.02), 3, Map("x" -> 0.53)))
  }

  test("Equal passes on equal values and fails on unequal or missing") {
    assert(!fails(Equal("rows", "docs"), 2, Map("rows" -> 20L, "docs" -> 20L)))
    assert(!fails(Equal("rows", "docs"), 2, Map("rows" -> 20, "docs" -> 20.0)))
    assert(fails(Equal("rows", "docs"), 2, Map("rows" -> 19L, "docs" -> 20L)))
    assert(fails(Equal("rows", "docs"), 2, Map("docs" -> 20L)))
  }

  test("AtMost and AtLeast pass on the bound and fail past it") {
    assert(!fails(AtMost("v", 0), 1, Map("v" -> 0L)))
    assert(fails(AtMost("v", 0), 1, Map("v" -> 1L)))
    assert(!fails(AtLeast("r", 0.8), 1, Map("r" -> 0.8)))
    assert(fails(AtLeast("r", 0.8), 1, Map("r" -> 0.79)))
    assert(fails(AtLeast("r", 0.8), 1, Map.empty))
    assert(fails(AtMost("fam", 3), 1, Map("fam.a" -> 3L, "fam.b" -> 4L)))
  }

  test("the tail gate fails above MaxRatioAt10x·f/10 at the largest " +
      "factor only") {
    val ceiling = MaxRatioAt10x * 4 / 10 // 6× at ×4
    assert(!fails(TimeRatioAtMost, 4, Map("sec" -> ceiling), top = 4))
    assert(fails(TimeRatioAtMost, 4, Map("sec" -> (ceiling + 0.01)), top = 4))
    assert(!fails(TimeRatioAtMost, 2, Map("sec" -> 100.0), top = 4))
    assert(!fails(TimeRatioAtMost, 1, Map("sec" -> 1.0), top = 1))
  }

  test("factors without 1 or an unknown name fail before any Spark work") {
    intercept[IllegalArgumentException](
      Stress.run(sf0001, Seq(2, 3), Stress.select(Seq("q85")), "unused")(
        throw new AssertionError("session used")))
    intercept[IllegalArgumentException](Stress.select(Seq("no_such_entry")))
    assert(Stress.select(Seq("q85", "q03_top_revenue_orders")).map(_.name) ==
      Seq("q85", "q03_top_revenue_orders"))
  }

  private val outBase = graft.sources.Artifacts.root + "/stress_spec"

  test("the exit status is 1 iff a check fails: a gated body that slows " +
      "past the ceiling at the largest factor trips it") {
    def sleeper(name: String, ms: Int => Long) = Entry(name, Set.empty,
      Seq(TimeRatioAtMost), c => { Thread.sleep(ms(c.f)); Nil })
    val steady = sleeper("steady", _ => 100L)
    val blowup = sleeper("blowup", f => 100L * f * f * f) // 8× at ×2 > 3×
    assert(Stress.run(sf0001, Seq(1, 2), Seq(steady), outBase)(spark) == 0)
    assert(Stress.run(sf0001, Seq(1, 2), Seq(steady, blowup), outBase)(spark) == 1)
  }

  test("end to end at sf0.001 x1,x2: every corpus kind and check kind " +
      "passes") {
    val entries = Stress.select(Seq(
      "q164_containment_dedup", // Docs + Vecs: Linear, TimeRatioAtMost
      "q197_q199", // PureDup: Linear, SameAsBase, Equal, AtMost
      "kmeans")) // Twins: Equal, AtLeast
    val kinds = entries.flatMap(_.checks).map(_.getClass).toSet
    assert(kinds.size == 6, kinds)
    assert(entries.flatMap(_.reads).toSet == Set(Docs, Vecs, PureDup, Twins))
    assert(Stress.run(sf0001, Seq(1, 2), entries, outBase)(spark) == 0)
  }
}
