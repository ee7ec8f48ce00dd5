package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The committed docs hand-type the graded query count, and two rounds
  * running it drifted one behind the shipped surface. This spec makes the
  * drift a test failure: every count-bearing phrase in README.md and
  * COVERAGE.md must equal `SparkEntry.queries.size` (and the oracle map
  * must cover the same keys). Pure file parsing — no Spark session.
  * It also pins the set of `main` objects under `src/test`, so one-off
  * probes do not accrete again.
  */
class DocCountsSpec extends AnyFunSuite {

  private def read(name: String): String = {
    val p = Paths.get(sys.props("user.dir")).resolve(name)
    assert(Files.exists(p), s"$name not found under ${sys.props("user.dir")}")
    new String(Files.readAllBytes(p), "UTF-8")
  }

  private val n = SparkEntry.queries.size

  test("every query has an oracle (or is deliberately rows-only)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries with no oracle entry: $missing")
  }

  test("README.md counts match the shipped surface") {
    val readme = read("README.md")
    val patterns = Seq(
      "driver contract: (\\d+) queries".r,
      "the (\\d+)-query graded surface".r,
      "oracle: (\\d+)/(\\d+) paired queries".r)
    patterns.foreach { p =>
      val ms = p.findAllMatchIn(readme).toList
      assert(ms.nonEmpty, s"README.md no longer contains '${p.regex}' — " +
        "update this spec's patterns along with the phrasing")
      ms.foreach(m => (1 to m.groupCount).foreach(g =>
        assert(m.group(g).toInt == n,
          s"README.md says ${m.group(g)} where the surface is $n " +
            s"(phrase: '${m.matched}')")))
    }
  }

  test("COVERAGE.md final-surface count matches the shipped surface") {
    val cov = read("COVERAGE.md")
    val p = ("final surface: (\\d+) oracle-paired queries\\*\\* " +
      "\\((\\d+) → (\\d+); ([+−-])(\\d+)").r
    val ms = p.findAllMatchIn(cov).toList
    assert(ms.nonEmpty, "COVERAGE.md no longer contains the " +
      "'final surface: N oracle-paired queries (A → B; ±C' phrase — " +
      "update this spec along with the phrasing")
    // the NEWEST line — the last one in file order, so a change that
    // removes queries can record a drop — must equal the live surface;
    // every line's signed delta arithmetic must be internally consistent
    val newest = ms.last
    assert(newest.group(1).toInt == n,
      s"COVERAGE.md newest final-surface says ${newest.group(1)}, surface is $n " +
        s"(phrase: '${newest.matched}')")
    ms.foreach { m =>
      val (total, from, to) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
      val delta = if (m.group(4) == "+") m.group(5).toInt else -m.group(5).toInt
      assert(total == to && to - from == delta,
        s"COVERAGE.md surface line arithmetic broken: '${m.matched}'")
    }
  }

  test("src/test holds only the main objects a live workflow runs") {
    // DriftTwin (tools/drift_ab.py), BenchSf1 with Sf1Fixture.scala's
    // Sf1Checksum, EntrySmoke (the flagship smoke), and the four profilers
    // a single profiling entry point is to replace. A one-off probe's
    // evidence belongs in SCALE.md; git history keeps its code.
    val kept = Set("DriftTwin", "BenchSf1", "Sf1Checksum", "EntrySmoke",
      "ScaleProf", "MicroProf", "PerfProbe", "EtlProf")
    val root = Paths.get(sys.props("user.dir"), "src", "test")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val mains = sources.flatMap { p =>
      val s = new String(Files.readAllBytes(p), "UTF-8")
      "def main\\(".r.findAllMatchIn(s).map(m =>
        "object (\\w+)".r.findAllMatchIn(s.take(m.start)).toSeq.last.group(1))
    }.toSet
    assert(mains == kept, s"unexpected: ${mains -- kept}; missing: ${kept -- mains}")
  }
}
