package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanBridge

/** Pins the round-18 fused checkpoint+count shim
  * (PlanBridge.checkpointTrueStatsCountLt): the Graph.labelPropagate loop's
  * convergence count must equal the filter count the old two-job form
  * computed, the returned frame must carry the exact same rows as the
  * input plan, and the checkpoint must be a real materialization (usable
  * after the source is gone, like any localCheckpoint). */
class PlanBridgeCountSpec extends SparkSpec {

  test("fused checkpoint+count returns the lt-count and the identical rows") {
    import spark.implicits._
    val df = Seq(
      (1L, 5L, 9L), (2L, 9L, 5L), (3L, 4L, 4L), (4L, 0L, 1L), (5L, 7L, 7L))
      .toDF("id", "next_cid", "prev_cid")
      // route through a shuffle so the physical plan is not a trivial
      // LocalRelation (the shim executes the REAL executedPlan)
      .repartition(3, col("id"))
    val (ck, cnt) = PlanBridge.checkpointTrueStatsCountLt(df, "next_cid", "prev_cid")
    assert(cnt === 2L, "rows with next_cid < prev_cid")
    val got = ck.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 5L, 9L), (2L, 9L, 5L), (3L, 4L, 4L),
      (4L, 0L, 1L), (5L, 7L, 7L)), "checkpointed rows diverge from the input")
    // re-reading the checkpointed frame must not recompute upstream: its
    // only leaf is a LogicalRDD (the materialized blocks)
    val leaves = PlanBridge.analyzedPlan(ck).collectLeaves()
    assert(leaves.size === 1 &&
      leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"expected one LogicalRDD leaf, got $leaves")
    LlmOps.releaseCheckpoint(ck)
  }

  test("fused count equals the two-job form on an aggregate plan") {
    import spark.implicits._
    val base = (0L until 1000L).map(i => (i % 97L, i)).toDF("k", "v")
      .groupBy(col("k"))
      .agg(min(col("v")).as("next_cid"), max(col("v")).as("prev_cid"))
    val expected = base.filter(col("next_cid") < col("prev_cid")).count()
    val (ck, cnt) = PlanBridge.checkpointTrueStatsCountLt(base, "next_cid", "prev_cid")
    assert(cnt === expected)
    assert(ck.count() === 97L)
    LlmOps.releaseCheckpoint(ck)
  }

  test("constant-threshold face counts col < c (the kcore probe)") {
    import spark.implicits._
    val base = (0L until 500L).map(i => (i, i % 13L)).toDF("v", "dg")
      .repartition(4, col("v"))
    val expected = base.filter(col("dg") < 5L).count()
    val (ck, cnt) = PlanBridge.checkpointTrueStatsCountLtConst(base, "dg", 5L)
    assert(cnt === expected)
    assert(ck.count() === 500L)
    assert(ck.filter(col("dg") < 5L).count() === expected,
      "checkpointed rows must support the delta re-derivation")
    LlmOps.releaseCheckpoint(ck)
  }

  test("counted face returns the total row count (the ktruss probe)") {
    import spark.implicits._
    val base = (0L until 321L).map(i => (i, i * 2L)).toDF("a", "b")
      .filter(col("a") % 3L === 0L)
    val (ck, cnt) = PlanBridge.checkpointTrueStatsCounted(base)
    assert(cnt === base.count())
    assert(ck.count() === cnt)
    LlmOps.releaseCheckpoint(ck)
  }
}
