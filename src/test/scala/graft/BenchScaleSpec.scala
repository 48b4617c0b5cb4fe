package graft

import org.scalatest.funsuite.AnyFunSuite

/** BenchScale carries BASELINE.md's variance-disclosure history over each
  * rewrite, adding this run's row to the end of the section's first table. */
class BenchScaleSpec extends AnyFunSuite {
  private val Row = "| new run | 8M | 3 | 0.900 | appended by BenchScale |"

  test("the new row lands after the variance table, not in a later table") {
    val old = Seq("# Baseline", "", "## Variance disclosure (runs)", "",
      "| run | N | trials | efficiency | note |", "|---|---|---|---|---|",
      "| r5 | 8M | 3 | 0.866 | head |", "",
      "Diagnosis of the outlier: writeback bled into the next trial.", "",
      "## Later section", "", "| other | table |", "|---|---|", "| x | y |", "").mkString("\n")
    val lines = BenchScale.carriedVariance(old, Row).split("\n", -1).toSeq
    assert(lines.head == "" && lines(1) == "## Variance disclosure (runs)")
    assert(lines.indexOf(Row) == lines.indexOf("| r5 | 8M | 3 | 0.866 | head |") + 1)
    assert(lines.takeRight(3) == Seq("|---|---|", "| x | y |", ""))
  }

  test("no variance header carries nothing; a header without a table gets the row appended") {
    assert(BenchScale.carriedVariance("# Baseline\n| a | b |\n", Row) == "")
    assert(BenchScale.carriedVariance("## Variance disclosure\n\nnone yet\n", Row) ==
      s"\n## Variance disclosure\n\nnone yet\n$Row\n")
  }
}
