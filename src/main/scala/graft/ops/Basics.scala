package graft.ops

import graft.Tables
import graft.Tables.{dec2, rate2, oneD}
import graft.store.SigStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.B (projection/filter/predicates), §2.F (sort/limit) and
  * §2.G (set operations).
  *
  * Scale notes (100 TB): all predicates here are codegen-able Catalyst
  * expressions that push into the Parquet scan (no UDFs). Sorts carry a total
  * order for determinism; `limit_topk_global` compiles to
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows, never
  * a full sort). Set ops are hash-based distinct/shuffle ops whose keys are
  * the projected columns only — project before the set op, never after.
  */
object Basics {

  private def custSliceA(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
  private def custSliceB(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey"), col("c_name"))

  private val sliceASql = "SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'"
  private val sliceBSql = "SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000.0"

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- §2.B projection / filter ----
    "proj_select_rename_compute" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"),
          col("l_linenumber").as("line_no"),
          // exact decimal arithmetic, DOUBLE final projection (Tables.dsumD doc)
          (dec2(col("l_extendedprice")) * (oneD - rate2(col("l_discount"))))
            .cast(DecimalType(18, 4)).cast("double").as("revenue"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture — order by
        // every output column for a total order over row multisets.
        .orderBy(col("l_orderkey").asc, col("line_no").asc, col("revenue").asc)
    },

    "filter_conjunctive" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter((col("l_discount") > 0.05 && col("l_quantity") < 10.0) ||
          !(col("l_returnflag") === "A"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_returnflag").asc, col("l_quantity").asc)
    },

    "filter_in_between_null" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_quantity").between(10.0, 20.0) &&
          !col("l_quantity").isNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(nullif(col("l_linestatus"), lit("F")), lit("was_F"))
            .as("status_or"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("status_or").asc)
    },

    "filter_like_regex" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_type").like("PROMO%") &&
          col("p_brand").rlike("Brand#\\d$"))
        .select(col("p_partkey"), col("p_brand"), col("p_type"))
        .orderBy(col("p_partkey").asc)
    },

    "distinct_rows" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
    },

    // ---- §2.F sorts / limits ----
    "sort_multi_col" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
    },

    "limit_topk_global" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
        .limit(25)
    },

    // ---- §2.G set operations ----
    "set_union_all" -> { (s, d) =>
      custSliceA(s, d).union(custSliceB(s, d))
        .orderBy(col("c_custkey").asc, col("c_name").asc)
    },

    "set_union_distinct" -> { (s, d) =>
      custSliceA(s, d).union(custSliceB(s, d)).distinct()
        .orderBy(col("c_custkey").asc, col("c_name").asc)
    },

    "set_intersect" -> { (s, d) =>
      custSliceA(s, d).intersect(custSliceB(s, d))
        .orderBy(col("c_custkey").asc, col("c_name").asc)
    },

    "set_except" -> { (s, d) =>
      custSliceA(s, d).except(custSliceB(s, d))
        .orderBy(col("c_custkey").asc, col("c_name").asc)
    },

    "set_intersect_all" -> { (s, d) =>
      custSliceA(s, d).intersectAll(custSliceB(s, d))
        .orderBy(col("c_custkey").asc, col("c_name").asc)
    },

    // Z-order layout key as a DECLARED, oracle-backed computation (the
    // file-pruning asymmetry it buys is measured in ScaleSpec; this pins
    // the quantize + Morton-interleave ARITHMETIC cross-engine): part's
    // (retailprice, size) quantized to 8 bits each against fixed metadata
    // domains, bits interleaved price→even / size→odd positions. Pure
    // codegen bitwise tree, no UDF — the key a 100 TB OPTIMIZE-ZORDER
    // write sorts by.
    "scale_zorder_key" -> { (s, d) =>
      Tables.part(s, d)
        .withColumn("q_price",
          Scale.zQuantize(col("p_retailprice"), 900.0, 2000.0, bits = 8))
        .withColumn("q_size",
          Scale.zQuantize(col("p_size"), 1.0, 50.0, bits = 8))
        .select(col("p_partkey"), col("q_price"), col("q_size"),
          Scale.zOrderKey(8, col("q_price"), col("q_size")).as("zkey"))
        .orderBy(col("p_partkey").asc)
    },

    // Hilbert layout key over the same quantized (retailprice, size) plane
    // — the locality-superior OPTIMIZE alternative (consecutive keys are
    // always ADJACENT cells; ScaleSpec pins the unit-step walk property
    // and a reference-implementation differential). The unrolled xy2d walk
    // is pure bitwise/CASE codegen; oracle = the identical 8 steps as
    // chained CTEs with per-step column names. See Scale.hilbertKey.
    "scale_hilbert_key" -> { (s, d) =>
      val q = Tables.part(s, d)
        .withColumn("q_price",
          Scale.zQuantize(col("p_retailprice"), 900.0, 2000.0, bits = 8))
        .withColumn("q_size",
          Scale.zQuantize(col("p_size"), 1.0, 50.0, bits = 8))
      Scale.hilbertKey(q, 8, "q_price", "q_size", "hkey")
        .select(col("p_partkey"), col("q_price"), col("q_size"), col("hkey"))
        .orderBy(col("p_partkey").asc)
    },

    // The OPTIMIZE layout END-TO-END: events rewritten once per source
    // signature as a 32-file parquet layout range-partitioned and sorted
    // by the Hilbert key of quantized (user_id, value), then a 2-d box
    // query runs against the clustered files. Because every file covers
    // a COMPACT blob of the (user, value) plane, the pushed min/max
    // row-group filters on BOTH columns prune most files at the reader —
    // the data-skipping that makes a box predicate on a 100 TB table read
    // a few files instead of all of them, and which a 1-d sort provides
    // only for its leading column (ScaleSpec measures the asymmetry on
    // real parquet scan metrics; the in-memory partition version is the
    // zOrderKey test above it). The layout moves bytes, never rows:
    // the oracle is the identical box on the unclustered table.
    "scale_zorder_skipping" -> { (s, d) =>
      val dir = SigStore.getOrBuild(d, "events", "fmt_events_hilbert32") { out =>
        val q = Tables.events(s, d)
          .withColumn("q_user", Scale.zQuantize(col("user_id"), 0.0, 1500.0, bits = 8))
          .withColumn("q_val", Scale.zQuantize(col("value"), 0.0, 600.0, bits = 8))
        Scale.hilbertKey(q, 8, "q_user", "q_val", "hkey")
          .repartitionByRange(32, col("hkey"))
          .sortWithinPartitions(col("hkey"))
          .drop("q_user", "q_val", "hkey")
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(dir)
        .filter(col("user_id") <= 9 &&
          col("value") >= 50.0 && col("value") < 150.0)
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 10000, 0) AS BIGINT)")).as("sum_v10k"),
          min(col("event_id")).as("min_eid"),
          max(col("event_id")).as("max_eid"))
    },

    // EXACT balanced range-partition boundaries — the PLANNING step of a
    // repartitionByRange / OPTIMIZE write, computed exactly instead of by
    // Spark's reservoir sampling (RangePartitioner samples ~100 rows per
    // partition, so at 100 TB its boundaries wobble run-to-run and under
    // skew; an exact plan is reproducible and auditable). Output: the 31
    // interior split values that cut lineitem's price-cents distribution
    // into 32 equal-row ranges. A naive global rank is ONE task
    // (Window.orderBy with no partition — the funnel this repo bans); this
    // is the two-pass win_ntile_percent machinery instead: range-partition
    // by the key, row_number WITHIN each partition, then add each
    // partition's exact preceding-row-count offset (a 32-row broadcast) —
    // every stage distributed, rank exact wherever the sampled
    // repartitionByRange boundaries happen to land (offsets come from
    // actual sizes; equal values never straddle a range boundary). The
    // split VALUE at a sorted position is tie-permutation-invariant, so
    // the output is deterministic and the oracle is a row_number pick at
    // the same ranks.
    //
    // The pid-stamped frame is MATERIALIZED once (localCheckpoint — the
    // repo's multi-branch-reuse pattern): RangePartitioner boundaries
    // come from reservoir sampling seeded by RDD id, so if the sizes /
    // ranked branches each re-ran the exchange (exchange reuse disabled,
    // or AQE replanning one branch), they could observe DIFFERENT pid
    // assignments and the offsets — hence the split values — would be
    // silently wrong. Checkpointing pins one assignment for every
    // consumer; correctness then never depends on plan-level
    // exchange-reuse firing.
    "scale_range_bounds" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val k = 32
      val base = Tables.lineitem(s, d)
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
        .repartitionByRange(k, col("c").asc)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint(true)
      val sizes = base.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      // ≤ k rows: the unpartitioned window below runs over the tiny frame.
      val offs = sizes.withColumn("off", coalesce(
          sum(col("cnt")).over(Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("off"))
      val total = sizes.agg(sum(col("cnt")).as("n_total"))
      val ranked = base
        .withColumn("rn_local", row_number().over(
          Window.partitionBy(col("pid")).orderBy(col("c").asc)).cast("long"))
        .join(broadcast(offs), Seq("pid"))
        .withColumn("rn", col("rn_local") + col("off"))
      val targets = s.range(1, k.toLong).toDF("split_id")
        .crossJoin(broadcast(total))
        .withColumn("target_rn",
          greatest(lit(1L), expr(s"(split_id * n_total) div $k")))
      // the pid-pinning checkpoint parks (one retained copy per session)
      CheckpointPark.park("range_bounds", base)
      ranked.join(broadcast(targets), col("rn") === col("target_rn"))
        .select(col("split_id"), col("c").as("split_cents"))
        .orderBy(col("split_id").asc)
    },

    // Small-file compaction planning — the other half of the range-bounds
    // layout story. A dt/hr-partitioned lake accretes one small file per
    // ingest slot; the compactor's PLAN (which files coalesce into which
    // target-size output) is itself a query over file-level metadata — at
    // 100 TB that inventory is millions of rows (one per file), so the
    // plan must be computed distributed, never by listing files on the
    // driver. Shape: build the inventory (one groupBy — here derived from
    // events' (day, hour) slots with exact integer byte estimates; in
    // production it comes straight from the table catalog), then assign
    // each file to the bin its cumulative START offset lands in:
    // bin = prefix_bytes div target ("next-fit by offset" — deterministic,
    // no driver loop, and each bin overfills by at most one file, the
    // classic compactor contract). Every window is partitioned by dt, so
    // stage width scales with days × slots, never corpus size. All
    // arithmetic is exact integers; `div` ≡ DuckDB `//` (CLAUDE.md rule).
    "scale_compaction_plan" -> { (s, d) =>
      compactionPlanFromInventory(fileInventory(Tables.events(s, d)))
    }
  )

  /** The per-(day, hour) file inventory a dt/hr-partitioned lake's
    * compactor plans over — one row per ingest slot with exact integer
    * row/byte estimates. One map-side-combinable groupBy; in production
    * the same frame comes straight from the table catalog. Shared
    * verbatim by the declared `scale_compaction_plan` query and the
    * streaming monitor ([[graft.streaming.StreamOps.startCompactionPlanSink]]),
    * whose accumulated per-batch deltas sum losslessly to this exact
    * frame (counts and byte sums are integers). */
  private[graft] def fileInventory(events: DataFrame): DataFrame =
    events
      .select(
        expr("CAST(date_trunc('DAY', ts) AS TIMESTAMP_NTZ)").as("dt"),
        hour(col("ts")).cast("long").as("hr"),
        (lit(24L) + length(col("event_type")) + length(col("props")))
          .cast("long").as("row_bytes"))
      .groupBy(col("dt"), col("hr"))
      .agg(count(lit(1)).as("file_rows"), sum(col("row_bytes")).as("file_bytes"))

  /** Next-fit-by-offset bin assignment over a [[fileInventory]]-shaped
    * frame: bin = prefix_bytes div target — deterministic, no driver
    * loop, each bin overfills by at most one file (the classic compactor
    * contract). Every window is partitioned by dt, so stage width scales
    * with days × slots, never corpus size; all arithmetic is exact
    * integers (`div` ≡ DuckDB `//`). */
  private[graft] def compactionPlanFromInventory(files: DataFrame,
      target: Long = 16384L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOff = Window.partitionBy(col("dt")).orderBy(col("hr").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val planned = files
      .withColumn("off_bytes", coalesce(sum(col("file_bytes")).over(wOff), lit(0L)))
      .withColumn("bin_id", expr(s"off_bytes div $target"))
    val wBin = Window.partitionBy(col("dt"), col("bin_id"))
    planned
      .withColumn("bin_files", count(lit(1)).over(wBin))
      .withColumn("bin_bytes", sum(col("file_bytes")).over(wBin))
      .select(col("dt"), col("hr"), col("file_rows"), col("file_bytes"),
        col("bin_id"), col("bin_files"), col("bin_bytes"))
      .orderBy(col("dt").asc, col("hr").asc)
  }

  val oracles: Seq[(String, String)] = Seq(
    "proj_select_rename_compute" ->
      """SELECT l_orderkey, l_linenumber AS line_no,
        |       CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |ORDER BY l_orderkey ASC NULLS FIRST, line_no ASC NULLS FIRST, revenue ASC NULLS FIRST""".stripMargin,

    "filter_conjunctive" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE (l_discount > 0.05 AND l_quantity < 10.0) OR NOT (l_returnflag = 'A')
        |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
        |         l_returnflag ASC NULLS FIRST, l_quantity ASC NULLS FIRST""".stripMargin,

    "filter_in_between_null" ->
      """SELECT l_orderkey, l_linenumber,
        |       coalesce(nullif(l_linestatus, 'F'), 'was_F') AS status_or
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_quantity BETWEEN 10.0 AND 20.0
        |  AND l_quantity IS NOT NULL
        |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST, status_or ASC NULLS FIRST""".stripMargin,

    "filter_like_regex" ->
      """SELECT p_partkey, p_brand, p_type
        |FROM part
        |WHERE p_type LIKE 'PROMO%' AND regexp_matches(p_brand, 'Brand#\d$')
        |ORDER BY p_partkey ASC NULLS FIRST""".stripMargin,

    "distinct_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "sort_multi_col" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "limit_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST
        |LIMIT 25""".stripMargin,

    "set_union_all" ->
      s"""SELECT * FROM ($sliceASql UNION ALL $sliceBSql) t
         |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin,

    "set_union_distinct" ->
      s"""SELECT * FROM ($sliceASql UNION $sliceBSql) t
         |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin,

    "set_intersect" ->
      s"""SELECT * FROM ($sliceASql INTERSECT $sliceBSql) t
         |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin,

    "set_except" ->
      s"""SELECT * FROM ($sliceASql EXCEPT $sliceBSql) t
         |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin,

    "set_intersect_all" ->
      s"""SELECT * FROM ($sliceASql INTERSECT ALL $sliceBSql) t
         |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin,

    // Quantize mirrors Scale.zQuantize term-for-term (divide, then scale,
    // floor, cast long, clamp); the interleave term for column i at bit b
    // shifts the MASKED value left by b·(n−1)+i, and disjoint bit
    // positions make + equal to the bitwise OR.
    "scale_zorder_key" ->
      """WITH q AS (
        |  SELECT p_partkey,
        |         least(255, greatest(0, CAST(floor((CAST(p_retailprice AS DOUBLE) - 900.0) / 1100.0 * 255) AS BIGINT))) AS q_price,
        |         least(255, greatest(0, CAST(floor((CAST(p_size AS DOUBLE) - 1.0) / 49.0 * 255) AS BIGINT))) AS q_size
        |  FROM part)
        |SELECT p_partkey, q_price, q_size,
        |       CAST(list_reduce(list_transform(range(0, 8), b ->
        |         ((q_price & (1 << b)) << b) + ((q_size & (1 << b)) << (b + 1))),
        |         (a, x) -> a + x) AS BIGINT) AS zkey
        |FROM q
        |ORDER BY p_partkey ASC NULLS FIRST""".stripMargin,

    // The identical unrolled xy2d walk; per-step column names (x1..x8)
    // dodge any lateral-alias ambiguity, and the full-grid complement
    // (255 − v) mirrors the Spark side exactly.
    "scale_hilbert_key" -> {
      val steps = (7 to 0 by -1).zipWithIndex.map { case (k, i) =>
        val s = 1L << k
        s"""s${i + 1} AS (SELECT p_partkey, q_price, q_size,
           |  d$i + ${s * s} * xor(3 * (CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END),
           |                       CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END) AS d${i + 1},
           |  CASE WHEN (y$i & $s) = 0 THEN
           |         CASE WHEN (x$i & $s) > 0 THEN 255 - y$i ELSE y$i END
           |       ELSE x$i END AS x${i + 1},
           |  CASE WHEN (y$i & $s) = 0 THEN
           |         CASE WHEN (x$i & $s) > 0 THEN 255 - x$i ELSE x$i END
           |       ELSE y$i END AS y${i + 1}
           |  FROM s$i)""".stripMargin
      }
      s"""WITH q AS (
        |  SELECT p_partkey,
        |         least(255, greatest(0, CAST(floor((CAST(p_retailprice AS DOUBLE) - 900.0) / 1100.0 * 255) AS BIGINT))) AS q_price,
        |         least(255, greatest(0, CAST(floor((CAST(p_size AS DOUBLE) - 1.0) / 49.0 * 255) AS BIGINT))) AS q_size
        |  FROM part),
        |s0 AS (SELECT p_partkey, q_price, q_size, q_price AS x0, q_size AS y0,
        |              CAST(0 AS BIGINT) AS d0 FROM q),
        |${steps.mkString(",\n")}
        |SELECT p_partkey, q_price, q_size, CAST(d8 AS BIGINT) AS hkey
        |FROM s8
        |ORDER BY p_partkey ASC NULLS FIRST""".stripMargin
    },

    // Clustering moves bytes, never rows: the oracle is the identical box
    // on the unclustered table.
    "scale_zorder_skipping" ->
      """SELECT count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_v10k,
        |       min(event_id) AS min_eid,
        |       max(event_id) AS max_eid
        |FROM events
        |WHERE user_id <= 9 AND value >= 50.0 AND value < 150.0""".stripMargin,

    // The oracle ranks naively (fine at oracle scale); the value at a
    // sorted position is tie-invariant, so both engines agree exactly.
    "scale_range_bounds" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
        |n AS (SELECT count(*) AS n_total FROM v),
        |t AS (SELECT k AS split_id,
        |             greatest(1, (k * n_total) // 32) AS tr
        |      FROM generate_series(1, 31) AS g(k), n)
        |SELECT split_id, r.c AS split_cents
        |FROM t JOIN r ON r.rn = t.tr
        |ORDER BY split_id ASC NULLS FIRST""".stripMargin,

    // DuckDB sums promote to HUGEINT — every sum casts back to BIGINT;
    // `//` is integer division (≡ Spark `div`); hour() is BIGINT already.
    "scale_compaction_plan" ->
      """WITH f AS (
        |  SELECT date_trunc('day', ts) AS dt,
        |         CAST(hour(ts) AS BIGINT) AS hr,
        |         count(*) AS file_rows,
        |         CAST(sum(24 + length(event_type) + length(props)) AS BIGINT) AS file_bytes
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT dt, hr, file_rows, file_bytes,
        |         CAST(coalesce(sum(file_bytes) OVER (
        |           PARTITION BY dt ORDER BY hr ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off_bytes
        |  FROM f),
        |b AS (
        |  SELECT dt, hr, file_rows, file_bytes, off_bytes // 16384 AS bin_id FROM p)
        |SELECT dt, hr, file_rows, file_bytes, bin_id,
        |       count(*) OVER (PARTITION BY dt, bin_id) AS bin_files,
        |       CAST(sum(file_bytes) OVER (PARTITION BY dt, bin_id) AS BIGINT) AS bin_bytes
        |FROM b
        |ORDER BY dt ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin
  )
}
