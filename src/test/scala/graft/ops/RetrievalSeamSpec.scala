package graft.ops

import graft.SourceScan.occurrences
import org.scalatest.funsuite.AnyFunSuite

/** A `src/main` scan that keeps the BM25 retrieval family on its one seam:
  * the query terms, the Okapi arithmetic and the query-vector cosine are
  * each written once, on the Spark side (LlmOps.Bm25Terms, bm25Stats →
  * bm25FromStats → bm25Ranked) and on the oracle side (the shared
  * duckBm25Sc / duckQueryCos CTE fragments). */
class RetrievalSeamSpec extends AnyFunSuite {

  test("the BM25 terms, scoring and query-vector cosine each have one owner in src/main") {
    assert(occurrences("""Seq("merge", "vector", "stream")""") === Map("LlmOps.scala" -> 1),
      "use LlmOps.Bm25Terms")
    assert(occurrences("'merge', 'vector', 'stream'") === Map("LlmOps.scala" -> 1),
      "oracles take the terms from the duckBm25Sc fragment")
    assert(occurrences("ln((CAST(tot.n_docs - df.df") === Map("LlmOps.scala" -> 1),
      "oracles take the Okapi sc CTE from the duckBm25Sc fragment")
    assert(occurrences("qv AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)") ===
      Map("LlmOps.scala" -> 1), "oracles take the query cosine from duckQueryCos")
  }
}
