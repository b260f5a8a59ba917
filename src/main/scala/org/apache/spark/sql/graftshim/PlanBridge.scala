package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Minimal bridge to the `private[sql]` seams a whole-operator Catalyst
  * extension needs: turning a custom LogicalPlan into a DataFrame,
  * extracting a frame's analyzed plan to use as a child, and rebuilding
  * a checkpoint's LogicalRDD with fresh statistics. Lives under
  * `org.apache.spark.sql` so the qualified-private access is legal — the
  * same pattern public Spark extensions (Delta, Qbeast, Iceberg) use for
  * exactly this purpose. Nothing else in the codebase may touch
  * non-public Spark API; keep this file to these calls. */
object PlanBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Column ⇄ Expression bridges for the native kernels: every
    * `VectorFunctions.kernel` call, and `IvfPqTerms`, whose driver-collected
    * lookup arrays no name-keyed builder can carry. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager localCheckpoint that replaces the carried origin statistics
    * with the checkpointed blocks' TRUE storage size.
    *
    * Why this exists: `Dataset.localCheckpoint` hands the new LogicalRDD
    * the ORIGIN plan's estimated `Statistics`, and the size-only
    * estimator multiplies children's `sizeInBytes` at every join. An
    * iterative algorithm that checkpoints each round therefore compounds
    * the estimate round over round — the BigInt's bit-length grows
    * geometrically with the number of per-round self-references, and
    * after enough rounds the driver burns whole minutes in
    * BigInteger.multiply while planning (observed: 72 s for ONE
    * label-propagation round at fixture scale, on sub-MB frames).
    * Replacing the carried estimate with the measured block-store size
    * of the just-materialized RDD is strictly more truthful, keeps
    * auto-broadcast working on genuinely small state, and caps the
    * estimate chain at one round's depth forever. Partitioning and
    * ordering are preserved exactly as localCheckpoint leaves them. */
  def checkpointTrueStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
    ck.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: LogicalRDD =>
        // storage info missing (shouldn't happen for an eager local
        // checkpoint) — fall back to the plain checkpoint
        measured(df.sparkSession, lr).map(ofRows(df.sparkSession, _)).getOrElse(ck)
      case _ => ck
    }
  }

  /** `lr` with its statistics replaced by the block-store size of its
    * materialized RDD; None when the storage info is missing. */
  private def measured(spark: SparkSession, lr: LogicalRDD): Option[LogicalRDD] =
    spark.sparkContext.getRDDStorageInfo.find(_.id == lr.rdd.id).map { info =>
      val size = math.max(info.memSize + info.diskSize, 1L)
      LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
        lr.outputOrdering, lr.isStreaming, lr.stream)(
        spark.asInstanceOf[classic.SparkSession],
        Some(Statistics(sizeInBytes = BigInt(size))), None)
    }

  /** [[checkpointTrueStats]] fused with a changed-row count: materializes
    * `df` as an eager local checkpoint AND counts the rows where
    * `lt < ge` (two non-null BIGINT columns of `df`) in the SAME job —
    * the driver-side convergence loops otherwise pay one materialization
    * job plus one count job per round, and at fixture scale the per-job
    * scheduling floor (~30-100 ms) dominates those sub-MB rounds
    * (llm_dedup_semantic profiled at 120 jobs / 2.8 s stage time /
    * 4.9 s wall). Mirrors Dataset.localCheckpoint's own internals:
    * physical rows copied, RDD-level localCheckpoint marked, one action
    * over every partition (here the counting pass) finalizes the blocks,
    * and LogicalRDD.fromDataset rewires partitioning/ordering onto the
    * logical output. The returned frame carries the measured block-store
    * size as its statistics (the checkpointTrueStats contract).
    *
    * Preconditions: `lt`/`ge` are LongType and never null in any row
    * (the caller's aggregate constructs them from non-null inputs) —
    * InternalRow.getLong on a null would silently read 0. */
  def checkpointTrueStatsCountLt(df: DataFrame, lt: String, ge: String): (DataFrame, Long) = {
    val li = df.schema.fieldIndex(lt)
    val gi = df.schema.fieldIndex(ge)
    checkpointTrueStatsCounting(df, r => r.getLong(li) < r.getLong(gi))
  }

  /** [[checkpointTrueStatsCountLt]] against a CONSTANT threshold: fused
    * materialization + count of rows where `col` (non-null BIGINT) < `c`.
    * The k-core peel's per-round convergence probe ("any vertex below
    * k?") otherwise runs as its own job on the just-checkpointed degree
    * frame — one job per round saved (the labelPropagate fusion, constant
    * edition). */
  def checkpointTrueStatsCountLtConst(df: DataFrame, col: String,
      c: Long): (DataFrame, Long) = {
    val i = df.schema.fieldIndex(col)
    checkpointTrueStatsCounting(df, r => r.getLong(i) < c)
  }

  /** Fused materialization + TOTAL row count — for loops whose
    * convergence test is "did the row count change" (the k-truss peel). */
  def checkpointTrueStatsCounted(df: DataFrame): (DataFrame, Long) =
    checkpointTrueStatsCounting(df, _ => true)

  private def checkpointTrueStatsCounting(df: DataFrame,
      pred: org.apache.spark.sql.catalyst.InternalRow => Boolean): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    rdd.localCheckpoint()
    val cnt = rdd.mapPartitions { it =>
      var c = 0L
      while (it.hasNext) {
        if (pred(it.next())) c += 1L
      }
      Iterator.single(c)
    }.collect().sum
    val lr = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    (ofRows(df.sparkSession, measured(df.sparkSession, lr).getOrElse(lr)), cnt)
  }
}
