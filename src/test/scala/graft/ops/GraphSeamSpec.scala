package graft.ops

import graft.SourceScan.occurrences
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the graph family on its one seam: the pair fan-out, the degree
  * table, the degree orientation, the Louvain Σw scalar and each oracle
  * CTE (items / we, the backbone, the component closure) are written once
  * in src/main, and label propagation lives only in Graph. */
class GraphSeamSpec extends AnyFunSuite {

  test("fan-out, degrees, orientation, components and their oracle CTEs are each written once") {
    for (needle <- Seq(
        "i + 2, size(",
        "val aFirst",
        ".agg(count(lit(1)).as(deg))",
        "items AS",
        "bb AS",
        ", r) AS (",
        """agg(sum(col("w"))).head()"""))
      assert(occurrences(needle).values.sum === 1, s"write `$needle` once, on the seam")
    // a degree table is Graph.degrees, never a hand-named count
    for (name <- Seq("deg", "dg"))
      assert(occurrences(s"""count(lit(1)).as("$name")""") === Map.empty,
        s"build the `$name` degree table with Graph.degrees")
    assert(occurrences("def labelPropagate").keySet === Set("Graph.scala"),
      "label propagation lives in Graph")
  }
}
