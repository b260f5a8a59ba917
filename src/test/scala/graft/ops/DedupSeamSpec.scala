package graft.ops

import graft.SourceScan.occurrences
import graft.SparkSpec

/** Keeps the text-dedup family on its one seam: each gram, chunk,
  * posting, prefix-filter and verify expression is written once in
  * src/main (TextDedup for the Spark side, one LlmOps fragment for each
  * DuckDB oracle decision), and only TextDedup builds a documents store. */
class DedupSeamSpec extends SparkSpec {

  test("n-grams, chunk windows, postings and the containment verify are each written once") {
    for (needle <- Seq(
        """sequence(0, n_tok - 1, 24)""",
        """col("hs").as("hs_a")""",
        """explode(col("hs")).as("h")""",
        """slice(ord, 1, CAST(floor((1.0 - $tau)""",
        """col("common") * 10 >= col("n_a") * 7""",
        """concat_ws(' ', slice(""",
        """max(col("dr"))""",
        """unnest(range(0, n_tok, 24))""",
        """len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh)::DOUBLE""",
        """len(list_intersect(b.sh, c.sh)) * 10 >= len(b.sh) * 7""",
        """array_to_string(t[i:i+"""))
      assert(occurrences(needle).values.sum === 1, s"write `$needle` once, on the seam")
    // the 3-gram index form is left only in winnowHofForm, the kernel's twin
    assert(occurrences("toks[i], toks[i+1], toks[i+2]") === Map("LlmOps.scala" -> 1))
    assert(occurrences("SigStore.getOrBuild(d, \"documents\"").keySet === Set("TextDedup.scala"),
      "build a documents store through TextDedup")
  }
}
