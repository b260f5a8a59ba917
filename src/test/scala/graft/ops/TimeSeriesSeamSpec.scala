package graft.ops

import graft.SourceScan.occurrences
import org.scalatest.funsuite.AnyFunSuite

/** A source scan that keeps EventAnalytics' three time-series families on
  * their seams: the hourly spine, the additive decomposition and the Holt
  * day series are each written once on the Spark side (hourlySpine,
  * decomposed, holtDaySeries) and once as a DuckDB CTE fragment
  * (duckHourlySpine, duckDecomposed, duckHoltDays with fdiv). */
class TimeSeriesSeamSpec extends AnyFunSuite {

  private def once(needle: String, hint: String): Unit =
    assert(occurrences(needle).getOrElse("EventAnalytics.scala", 0) === 1, hint)

  test("the hourly spine, the decomposition and the Holt day series each have one owner in EventAnalytics") {
    once("""explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))""",
      "use EventAnalytics.hourlySpine")
    once("generate_series(", "oracles take the spine from duckHourlySpine")
    once("rowsBetween(-12, 12)", "use EventAnalytics.decomposed")
    once("ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING",
      "oracles take the decomposition from duckDecomposed")
    once("def fdiv(", "Holt oracles share one floor-division emulation")
    once("""sort_array(collect_list(struct(col("ts"), col("event_id"),""",
      "use EventAnalytics.holtDaySeries")
  }
}
