package graft

import org.scalatest.funsuite.AnyFunSuite

/** A DuckDB oracle chain shared by several queries is written once, as
  * a named fragment (`DedupOracleSql`, `ModelOracleSql`, the private
  * fragments of each `*Queries` object), and interpolated where it is
  * used. A hand copy would have to be edited again whenever the
  * operator it replays changes, so this spec fails when two
  * triple-quoted literals under `src/main/scala/graft/queries` share a
  * run of `MinRun` consecutive lines, compared with whitespace runs
  * collapsed and blank lines dropped.
  */
class OracleSqlCopySpec extends AnyFunSuite {

  private val MinRun = 12

  private case class Literal(where: String, lines: IndexedSeq[String])

  private def literals(dir: java.io.File): Seq[Literal] =
    Option(dir.listFiles).getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        "(?s)\"\"\"(.*?)\"\"\"".r.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          Literal(s"${f.getName}:$line",
            m.group(1).split("\n").toIndexedSeq
              .map(_.trim.replaceAll("\\s+", " ")).filter(_.nonEmpty))
        }
      }

  test(s"no two oracle literals share a run of $MinRun lines") {
    val lits = literals(new java.io.File("src/main/scala/graft/queries"))
    assert(lits.size > 100, s"only ${lits.size} literals found")
    // two literals share a run of MinRun lines iff they share a window
    // of MinRun consecutive lines
    val owners = lits.zipWithIndex
      .flatMap { case (l, i) => l.lines.sliding(MinRun).map(_ -> i) }
      .filter(_._1.size == MinRun)
      .groupMap(_._1)(_._2)
    val pairs = owners.values.map(_.distinct.sorted).filter(_.size > 1)
      .flatMap(ix => ix.combinations(2).map(p => (p(0), p(1))))
      .toSeq.distinct.sorted
    if (pairs.nonEmpty) fail(
      s"${pairs.size} literal pairs share a run of $MinRun lines " +
        s"(${pairs.map(_._2).distinct.size} later copies); move the run " +
        "into one named fragment:\n" +
        pairs.map { case (a, b) => s"  ${lits(a).where} <-> ${lits(b).where}" }
          .mkString("\n"))
  }
}
