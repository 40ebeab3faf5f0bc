package graft

import graft.functions.ChSqlGolden.{escape, unescape}
import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry as collected: every row of
  * [[SparkEntry.allDefs]] in registry order, with its oracle SQL. A
  * reordered, renamed or dropped row, a changed oracle, or an oracle that
  * reads `null` because its owner object was initialised in a different
  * order shows here as a diff; TESTDATA.md says when the resource may be
  * re-collected ([[RegistryGolden.main]]). */
class RegistryGoldenSpec extends AnyFunSuite {

  test("every registry row keeps its position, name and oracle") {
    val recorded = RegistryGolden.load()
    val now = RegistryGolden.lines()
    assert(recorded.size > 300)
    val diffs = recorded.zipAll(now, "<none>", "<none>").zipWithIndex.collect {
      case ((r, n), i) if r != n =>
        s"row $i\n  recorded: ${unescape(r).take(160)}\n       now: ${unescape(n).take(160)}"
    }
    if (diffs.nonEmpty)
      fail(s"${diffs.size} of ${recorded.size} rows differ:\n" + diffs.take(10).mkString("\n"))
  }
}

/** The resource format and its collector: one line per row, the name and
  * the oracle SQL tab-separated, escaped as [[graft.functions.ChSqlGolden]]
  * escapes; a row without an oracle records `\-`. A `null` name or oracle
  * records as the text `null`. */
object RegistryGolden {
  val resource = "/graft/registry_golden.tsv"

  def lines(): Seq[String] = SparkEntry.allDefs.map { q =>
    escape(String.valueOf(q.name)) + "\t" +
      q.oracle.fold("\\-")(o => escape(String.valueOf(o)))
  }

  def load(): Seq[String] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing test resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** Writes the registry's lines to `args(0)`. Run from the repo root:
    * `sbt "Test/runMain graft.RegistryGolden src/test/resources/graft/registry_golden.tsv"`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: RegistryGolden <output.tsv>")
    val all = lines()
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try all.foreach(out.println) finally out.close()
    println(s"[golden] ${all.size} rows -> ${args(0)}")
    System.exit(0)
  }
}
