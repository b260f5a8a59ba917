package graft.ops

import graft.Tables
import graft.functions.VectorFunctions.kernel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 — event-stream product-analytics operators over `events`:
  * time-series gap-fill with forward-fill, sequential funnels, and cohort
  * retention. The three classic shapes a user of an event-analytics engine
  * runs daily, each expressed as one declarative Catalyst plan with a
  * DuckDB oracle twin.
  *
  * Determinism rules (SURVEY §5.3): all offsets/counts are exact integer
  * arithmetic on microsecond timestamps; the one money-ish aggregate
  * (`sum_value_ffill`) aggregates in exact DECIMAL and casts to double
  * once at output, after the forward-fill (copying a decimal is exact, so
  * the filled value is bit-identical to its source bucket's).
  *
  * Scale notes (100 TB):
  *  - `ts_gapfill_ffill`'s spine is |event_type| × |hours| — a function of
  *    the time span and key cardinality, NOT the row count, so it stays
  *    tiny while the fact aggregation is one map-side-combinable shuffle.
  *    The forward-fill window partitions by event_type over the spine
  *    (small by construction), never over raw events.
  *  - `win_funnel_steps` chains equi-joins + aggregations all keyed on
  *    user_id: one partitioning reused across stages (AQE coalesces), no
  *    window over the full event stream, and each stage's output is one
  *    row per user — monotonically shrinking.
  *  - `agg_retention_cohort` is two user_id-keyed shuffles (first-event
  *    agg, distinct activity weeks) + a co-partitioned join; the result
  *    cardinality is |cohort weeks| × |offsets|.
  *  - `ts_ohlc_resample` is ONE map-side-combinable aggregate (min_by/
  *    max_by partials carry a (value, key) pair); `win_path_transitions`
  *    windows per user_id — never a global order — then aggregates to a
  *    |types|² matrix.
  *
  * Three time-series families are each written once, on the Spark side
  * and as a DuckDB CTE fragment, and every query of a family adds only its
  * own projection, join type and ORDER BY:
  *  - the hourly spine ([[hourlySpine]] / `duckHourlySpine`): gap-fill,
  *    interpolation and the decomposition family;
  *  - the additive decomposition ([[decomposed]] / `duckDecomposed`):
  *    `ts_decompose_additive`, `ts_seasonal_strength`,
  *    `ts_residual_outliers`;
  *  - the Holt day series ([[holtDaySeries]] / `duckHoltDays` with the
  *    linear and seasonal recursions): the four `ts_holt_*` queries.
  */
object EventAnalytics {

  // date_trunc returns TIMESTAMP_LTZ even on NTZ input — cast straight
  // back to NTZ (sessions run UTC) so the output column compares
  // bit-for-bit with DuckDB's tz-free truncation, per the Tables rule.
  private def hourTrunc(c: Column): Column =
    date_trunc("hour", c).cast("timestamp_ntz")

  /** Every (event_type, hr) over the global [min, max] hour span of `ev`:
    * |types| × |hours| rows, a function of the span and the key
    * cardinality, never of the row count. */
  private def hourlySpine(ev: DataFrame): DataFrame = {
    val hours = ev.agg(hourTrunc(min(col("ts"))).as("lo"), hourTrunc(max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hr"))
    ev.select(col("event_type")).distinct().crossJoin(hours)
  }

  /** The additive decomposition of the dense hourly count series `x` per
    * event_type (rationale at ts_decompose_additive): `trend_micro` (the
    * centred 25-hour mean, full windows only), `d` = 10⁶·x − trend_micro,
    * and `seasonal_micro`, the (type, hour-of-day) offset floor-mean of
    * `d`, left-joined back. `d` is null exactly where the trend is, and
    * every row with a non-null `d` has its seasonal row. */
  private def decomposed(ev: DataFrame): DataFrame = {
    val agg = ev.groupBy(col("event_type"), hourTrunc(col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val dense = hourlySpine(ev).join(agg, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), coalesce(col("x"), lit(0L)).as("x"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
      .rowsBetween(-12, 12)
    val t1 = dense
      .withColumn("w_n", count(lit(1)).over(wT))
      .withColumn("sum25", sum(col("x")).over(wT))
      .withColumn("trend_micro",
        when(col("w_n") === 25, expr("(1000000 * sum25) div 25")))
      .withColumn("d", col("x") * lit(1000000L) - col("trend_micro"))
    val seas = t1.filter(col("d").isNotNull)
      .groupBy(col("event_type").as("s_type"),
        hour(col("hr")).cast("long").as("hod"))
      .agg(expr("(sum(d + 1000000000000) div count(1)) - 1000000000000")
        .as("seasonal_micro"))
    t1.join(broadcast(seas),
        t1("event_type") === col("s_type") &&
          hour(t1("hr")).cast("long") === col("hod"), "left")
      .select(col("event_type"), col("hr"), col("x"), col("trend_micro"),
        col("d"), col("seasonal_micro"))
  }

  /** Each (event_type, UTC day) key's rows as one array `xs` of
    * (ts, event_id, iv) structs in (ts, event_id) order, iv the value in
    * exact integer ten-thousandths: the input the graft_holt kernels fold
    * (rationale at ts_holt_linear). */
  private def holtDaySeries(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(date_trunc('DAY', ts) AS TIMESTAMP_NTZ)").as("dt"),
        col("ts"), col("event_id"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      .groupBy(col("event_type"), col("dt"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("iv")))).as("xs"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // Hourly resample of each event_type over the global [min,max] hour
    // span: every (type, hour) bucket exists (gaps get n=0), and the
    // decimal value sum is carried forward across empty buckets
    // (last-non-null window), the standard time-series densification
    // before charting/as-of alignment.
    "ts_gapfill_ffill" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val agg = ev
        .groupBy(col("event_type"), hourTrunc(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(Tables.Money)).as("sv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourlySpine(ev).join(agg, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sv"), ignoreNulls = true).over(w)
            .cast("double").as("sum_value_ffill"))
        .orderBy(col("event_type").asc, col("hr").asc)
    },

    // Conversion LATENCY per funnel step — the timing companion of
    // win_funnel_steps: for users who completed view→click (and
    // click→purchase), the step delay in exact integer microseconds,
    // summarized per step as n / mean / exact-median / min / max. The
    // median is a RANK SELECTION at ⌈n/2⌉ (the agg_winsorized_mean
    // idiom — never an interpolating percentile), the mean is one
    // double division, min/max are selections: no float discipline
    // anywhere. One step-sharded window over the ≤|users| step table.
    "win_funnel_latency" -> { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val cl = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("v_ts") &&
          col("ts") <= col("v_ts") + expr("interval 24 hours"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id"))
        .filter(col("ts") > col("c_ts") &&
          col("ts") <= col("c_ts") + expr("interval 24 hours"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      val steps = v.join(cl, Seq("user_id"))
        .select(lit("1_view_click").as("step"), col("user_id"),
          expr("timestampdiff(MICROSECOND, v_ts, c_ts)").as("delta_us"))
        .unionAll(cl.join(p, Seq("user_id"))
          .select(lit("2_click_purchase").as("step"), col("user_id"),
            expr("timestampdiff(MICROSECOND, c_ts, p_ts)").as("delta_us")))
      val w = Window.partitionBy(col("step"))
        .orderBy(col("delta_us").asc, col("user_id").asc)
      steps
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("step"))).cast("long"))
        .groupBy(col("step"))
        .agg(max(col("n")).as("n"),
          sum(col("delta_us")).as("sum_us"),
          max(when(col("r") === expr("(n + 1) div 2"), col("delta_us")))
            .as("p50_us"),
          min(col("delta_us")).as("min_us"), max(col("delta_us")).as("max_us"))
        .select(col("step"), col("n"),
          round(col("sum_us").cast("double") / col("n").cast("double"), 6)
            .as("mean_us"),
          col("p50_us"), col("min_us"), col("max_us"))
        .orderBy(col("step").asc)
    },

    // Sequential conversion funnel view → click → purchase with a 24 h
    // step deadline: first view per user, then the first click strictly
    // after it (within 24 h), then the first purchase strictly after that
    // click (within 24 h). Output is one row per funnel-entered user with
    // the step timestamps (null = dropped off) and the reached depth.
    "win_funnel_steps" -> { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val cl = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("v_ts") &&
          col("ts") <= col("v_ts") + expr("interval 24 hours"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id"))
        .filter(col("ts") > col("c_ts") &&
          col("ts") <= col("c_ts") + expr("interval 24 hours"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      v.join(cl, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
          (lit(1L) + when(col("c_ts").isNotNull, 1L).otherwise(0L)
            + when(col("p_ts").isNotNull, 1L).otherwise(0L)).as("funnel_depth"))
        .orderBy(col("user_id").asc)
    },

    // OHLC resample (the financial candlestick shape): per (type, hour)
    // the first/last/min/max of `value`, first/last ordered by the total
    // (ts, event_id) key so ties cannot flip the answer. Every output is
    // a SELECTION of an input double — no arithmetic, so cross-engine
    // exact by construction. One map-side-combinable aggregate: min_by/
    // max_by carry a (value, key) pair through partial aggregation, the
    // same one-shuffle shape as any groupBy at 100 TB.
    "ts_ohlc_resample" -> { (s, d) =>
      val key = struct(col("ts"), col("event_id"))
      Tables.events(s, d).groupBy(col("event_type"), hourTrunc(col("ts")).as("hr"))
        .agg(min_by(col("value"), key).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max_by(col("value"), key).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type").asc, col("hr").asc)
    },

    // Event-path transition matrix (the Sankey/markov-chain feed): each
    // user's event stream in (ts, event_id) order, counting adjacent
    // event_type -> next_type transitions. One user_id-sharded window
    // (never a global order), then a tiny |types|² aggregate.
    "win_path_transitions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc, col("next_type").asc)
    },

    // Linear interpolation over the same hourly spine as ts_gapfill_ffill:
    // missing (type, hour) buckets get the straight line between the
    // bracketing known hourly sums instead of a carried-forward copy (the
    // charting/feature-store alternative to ffill). Determinism: the
    // numerator `p_v*(n_h-hr) + n_v*(hr-p_h)` is exact DECIMAL(18,4) ×
    // small-int hour-delta arithmetic (scale stays 4, precision ≤ 30 — no
    // Spark precision-loss rescale, no DuckDB width overflow), so the
    // output is ONE double division of exact quantities. Known buckets
    // short-circuit to their exact sum; edges (no bracket) stay null —
    // interpolation only, never extrapolation. Scale: identical shape to
    // ts_gapfill_ffill — the four windows run over the tiny spine, never
    // over raw events.
    "ts_interpolate_linear" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val agg = ev
        .groupBy(col("event_type"), hourTrunc(col("ts")).as("hr"))
        .agg(sum(col("value").cast(Tables.Money))
          .cast("decimal(18,4)").as("sv"))
      val wP = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wN = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val knownHr = when(col("sv").isNotNull, col("hr"))
      hourlySpine(ev).join(agg, Seq("event_type", "hr"), "left")
        .withColumn("p_h", last(knownHr, ignoreNulls = true).over(wP))
        .withColumn("p_v", last(col("sv"), ignoreNulls = true).over(wP))
        .withColumn("n_h", first(knownHr, ignoreNulls = true).over(wN))
        .withColumn("n_v", first(col("sv"), ignoreNulls = true).over(wN))
        .select(col("event_type"), col("hr"),
          when(col("sv").isNotNull, col("sv").cast("double"))
            .when(col("p_h").isNotNull && col("n_h").isNotNull,
              (col("p_v") * expr("CAST(timestampdiff(HOUR, hr, n_h) AS INT)")
                + col("n_v") * expr("CAST(timestampdiff(HOUR, p_h, hr) AS INT)"))
                .cast("double")
                / expr("CAST(timestampdiff(HOUR, p_h, n_h) AS INT)").cast("double"))
            .as("v_interp"))
        .orderBy(col("event_type").asc, col("hr").asc)
    },

    // Robust per-type outlier detection via MAD (median absolute
    // deviation), the standard monitoring/anomaly shape: flag events whose
    // |value - median| exceeds 3 × MAD. Every statistic is an exact
    // DISCRETE median — approx_percentile at accuracy ≥ group size returns
    // the exact lower-median SELECTION of an input double, the convention
    // DuckDB's quantile_disc shares bit-for-bit (same accuracy→exact trade
    // and SCALE BOUND as agg_approx_percentile: exact below 10M rows per
    // type, production tunes accuracy down) — and the derived deviations
    // are elementwise IEEE |x - med| on identical operands, so both
    // engines select from identical multisets. No window over raw events
    // anywhere: two map-side-combinable aggregates over |types| groups +
    // two broadcast join-backs — the 100 TB shape a global-sort median
    // window would not be.
    "ts_mad_outliers" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, 0.5, 10000000)").as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("abs_dev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("approx_percentile(abs_dev, 0.5, 10000000)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("abs_dev") > lit(3.0d) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"))
        .orderBy(col("event_id").asc)
    },

    // Weekly cohort retention: users cohorted by the Monday-start week of
    // their first event; n_users = distinct users from that cohort active
    // in cohort_week + week_offset. Both week columns are Monday
    // midnights, so the day difference is an exact multiple of 7 and the
    // integer `div` is lossless (never `/` — float division in BOTH
    // engines).
    "agg_retention_cohort" -> { (s, d) =>
      val ev = Tables.events(s, d)
      // NTZ cast for the same reason as hourTrunc's.
      val f = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("timestamp_ntz").as("cohort_week"))
      val a = ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("timestamp_ntz").as("activity_week"))
        .distinct()
      f.join(a, Seq("user_id"))
        .groupBy(col("cohort_week"),
          expr("CAST(datediff(activity_week, cohort_week) div 7 AS BIGINT)")
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week").asc, col("week_offset").asc)
    },

    // Slowly-changing-dimension type 2 history build: per customer,
    // collapse the order-status sequence (ordered by (o_orderdate,
    // o_orderkey) — the unique key breaks date ties identically in both
    // engines) into status runs via gaps-and-islands, then emit one
    // validity row per run: valid_from = first order date of the run,
    // valid_to = next run's valid_from (null ⇒ current). All exact
    // integer/timestamp arithmetic.
    //
    // Scale: both windows and the run groupBy partition by o_custkey —
    // one key family, no global sort until the final output ORDER BY;
    // dimension builds like this run per-entity and shrink monotonically.
    "scd2_status_history" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val runs = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("chg",
          when(lag(col("o_orderstatus"), 1).over(w).isNull
            || lag(col("o_orderstatus"), 1).over(w) =!= col("o_orderstatus"), 1)
            .otherwise(0))
        .withColumn("run_id", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("o_custkey"), col("run_id"))
        // status is constant within a run (runs ARE status changes), so a
        // plain min is a deterministic pick and stays hash-aggregable.
        .agg(min(col("o_orderstatus")).as("status"),
          min(col("o_orderdate")).as("valid_from"),
          count(lit(1)).as("n_orders"))
      val wRun = Window.partitionBy(col("o_custkey")).orderBy(col("run_id").asc)
      runs
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wRun))
        .select(col("o_custkey"), col("run_id"), col("status"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"), col("n_orders"))
        .orderBy(col("o_custkey").asc, col("run_id").asc)
    },

    // Lag-1 autocorrelation of event values per type: pair each value
    // with its predecessor under the deterministic (ts, event_id) order,
    // then Pearson corr over the pairs — rounded to 6 dp, the repo's
    // established double-stat discipline (agg_corr_covar). One window +
    // one aggregate, both partitioned by event_type.
    "ts_autocorr_lag1" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .withColumn("prev", lag(col("value"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(round(corr(col("value"), col("prev")), 6).as("acf1"),
          count(col("prev")).as("n_pairs"))
        .orderBy(col("event_type").asc)
    },

    // Theil–Sen robust trend per event_type over each key's first 60
    // observations: the median of all pairwise slopes (iv_j − iv_i) /
    // (t_j − t_i), the outlier-resistant alternative to OLS regression
    // (29% breakdown point). The WINDOW BOUND is the semantics — all-pairs
    // over an unbounded key is quadratic, so the declared query estimates
    // the trend of the fixed-width series head (rn ≤ 60, saturated at
    // every fixture scale); at 100 TB the same shape runs per
    // (key, calendar window) with the bound as the window row cap — the
    // production Theil–Sen recipe (the full estimator would use
    // repeated-median or pair sampling). Exactness: slopes are ratios of
    // exact integers (iv ten-thousandths, dx microseconds via
    // timestampdiff; Δt = 0 pairs excluded as in the standard estimator);
    // the median is selected by row_number over the IEEE-divided double
    // (identical in both engines) with the (dy, dx) integer tie-break, so
    // the output (median pair + one double division, ×3.6e9 ≤ 2.1e16 —
    // no overflow) is bit-deterministic. One windowed rank + a ≤60-row
    // per-key self-join + one windowed median pick: three exchanges on
    // the same key, each over ≤ keys·60 (or ·1770) rows.
    "ts_theil_sen" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pts = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 60)
      val pa = pts.select(col("event_type"), col("ts").as("ts_a"),
        col("iv").as("iv_a"), col("rn").as("rn_a"))
      val pb = pts.select(col("event_type"), col("ts").as("ts_b"),
        col("iv").as("iv_b"), col("rn").as("rn_b"))
      val pairs = pa.join(pb, Seq("event_type"))
        .filter(col("rn_b") > col("rn_a") && col("ts_b") =!= col("ts_a"))
        .select(col("event_type"), (col("iv_b") - col("iv_a")).as("dy"),
          expr("timestampdiff(MICROSECOND, ts_a, ts_b)").as("dx"))
      val order = Window.partitionBy(col("event_type"))
        .orderBy((col("dy").cast("double") / col("dx").cast("double")).asc,
          col("dy").asc, col("dx").asc)
      pairs
        .withColumn("sr", row_number().over(order))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("sr") === expr("(m + 1) div 2"))
        .select(col("event_type"), col("m").as("n_pairs"),
          col("dy").as("med_dy"), col("dx").as("med_dx"),
          ((col("dy") * lit(3600000000L)).cast("double") /
            col("dx").cast("double")).as("slope_per_hour"))
        .orderBy(col("event_type").asc)
    },

    // The CALENDAR-WINDOWED Theil–Sen — the production shape the
    // first-60 comment above promises (VERDICT r14 #4): the same
    // all-pairs median slope computed per (event_type, UTC day), with
    // the same row cap now applied PER WINDOW (rn ≤ 60 within each
    // (key, day) cell — the cap is what keeps the pair join quadratic
    // only in a constant). At 100 TB the day key joins the shuffle key,
    // so every exchange stays (key, window)-partitioned and cells peel
    // independently; a cell with one distinct timestamp yields no pairs
    // and drops out identically in both engines. Same exact (dy, dx)
    // integer arithmetic, IEEE-double sort key, and median tie-break as
    // the unwindowed query; dt follows the repo date_trunc rule
    // (cast straight back to TIMESTAMP_NTZ).
    "ts_theil_sen_windowed" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"), col("dt"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pts = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(date_trunc('DAY', ts) AS TIMESTAMP_NTZ)").as("dt"),
          col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 60)
      val pa = pts.select(col("event_type"), col("dt"), col("ts").as("ts_a"),
        col("iv").as("iv_a"), col("rn").as("rn_a"))
      val pb = pts.select(col("event_type"), col("dt"), col("ts").as("ts_b"),
        col("iv").as("iv_b"), col("rn").as("rn_b"))
      val pairs = pa.join(pb, Seq("event_type", "dt"))
        .filter(col("rn_b") > col("rn_a") && col("ts_b") =!= col("ts_a"))
        .select(col("event_type"), col("dt"),
          (col("iv_b") - col("iv_a")).as("dy"),
          expr("timestampdiff(MICROSECOND, ts_a, ts_b)").as("dx"))
      val order = Window.partitionBy(col("event_type"), col("dt"))
        .orderBy((col("dy").cast("double") / col("dx").cast("double")).asc,
          col("dy").asc, col("dx").asc)
      pairs
        .withColumn("sr", row_number().over(order))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy(col("event_type"), col("dt"))))
        .filter(col("sr") === expr("(m + 1) div 2"))
        .select(col("event_type"), col("dt"), col("m").as("n_pairs"),
          col("dy").as("med_dy"), col("dx").as("med_dx"),
          ((col("dy") * lit(3600000000L)).cast("double") /
            col("dx").cast("double")).as("slope_per_hour"))
        .orderBy(col("event_type").asc, col("dt").asc)
    },

    // Mann–Kendall trend test per event_type over the same first-60
    // window as ts_theil_sen (the standard robust-trend PAIRING: MK for
    // significance, Theil–Sen for magnitude). S = Σ_{i<j} sign(x_j − x_i)
    // and the tie-corrected variance numerator
    // n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) are EXACT BIGINTs (one pair
    // aggregate + one tie-group aggregate, joined per key); only the
    // z-score leaves integers — (S ∓ 1) / sqrt(var_num / 18), a chain of
    // IEEE-correctly-rounded ops on exact integers (the ⌊√n⌋ round-7
    // rule extended: determinism needs identical correctly-rounded ops,
    // not exactness), rounded once at output.
    "ts_mann_kendall" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pts = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 60)
      val pa = pts.select(col("event_type"), col("iv").as("iv_a"),
        col("rn").as("rn_a"))
      val pb = pts.select(col("event_type"), col("iv").as("iv_b"),
        col("rn").as("rn_b"))
      val sAgg = pa.join(pb, Seq("event_type"))
        .filter(col("rn_b") > col("rn_a"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("iv_b") > col("iv_a"), 1L)
          .when(col("iv_b") < col("iv_a"), -1L).otherwise(0L)).as("s"))
      val tieAgg = pts.groupBy(col("event_type"), col("iv"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t")).as("n"),
          sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
            .as("tie_term"))
      sAgg.join(tieAgg, Seq("event_type"))
        .withColumn("var_num",
          col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
            col("tie_term"))
        .select(col("event_type"), col("n"), col("s"), col("var_num"),
          round(
            (col("s") - signum(col("s")).cast("long")).cast("double") /
              sqrt(when(col("var_num") > 0, col("var_num")).cast("double") /
                lit(18.0)), 6).as("z"))
        .orderBy(col("event_type").asc)
    },

    // SEASONAL Mann–Kendall (the Hirsch–Slack test) per event_type with
    // hour-of-day seasons: the MK statistic computed WITHIN each season
    // (only like-season observations are compared, so a diurnal cycle
    // cannot masquerade as trend) and summed — S = Σ_s S_s, and the
    // variance numerators add because seasons are disjoint:
    // var_num = Σ_s [n_s(n_s−1)(2n_s+5) − Σ_g t(t−1)(2t+5)]. Same
    // first-60-per-cell bound, exact-BIGINT S and variance, and
    // correctly-rounded z chain as ts_mann_kendall; one extra season key
    // threaded through the shuffles (at 100 TB the (key, season) pair is
    // the shuffle key and cells peel independently — the windowed
    // theil_sen partition discipline).
    "ts_mann_kendall_seasonal" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"), col("season"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pts = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("season"),
          col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 60)
      val pa = pts.select(col("event_type"), col("season"),
        col("iv").as("iv_a"), col("rn").as("rn_a"))
      val pb = pts.select(col("event_type"), col("season"),
        col("iv").as("iv_b"), col("rn").as("rn_b"))
      val sAgg = pa.join(pb, Seq("event_type", "season"))
        .filter(col("rn_b") > col("rn_a"))
        .groupBy(col("event_type"), col("season"))
        .agg(sum(when(col("iv_b") > col("iv_a"), 1L)
          .when(col("iv_b") < col("iv_a"), -1L).otherwise(0L)).as("s_s"))
      val tieAgg = pts.groupBy(col("event_type"), col("season"), col("iv"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"), col("season"))
        .agg(sum(col("t")).as("n_s"),
          sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
            .as("tie_s"))
      sAgg.join(tieAgg, Seq("event_type", "season"))
        .withColumn("var_s",
          col("n_s") * (col("n_s") - 1) * (lit(2L) * col("n_s") + 5) -
            col("tie_s"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_seasons"), sum(col("n_s")).as("n"),
          sum(col("s_s")).as("s"), sum(col("var_s")).as("var_num"))
        .select(col("event_type"), col("n_seasons"), col("n"), col("s"),
          col("var_num"),
          round(
            (col("s") - signum(col("s")).cast("long")).cast("double") /
              sqrt(when(col("var_num") > 0, col("var_num")).cast("double") /
                lit(18.0)), 6).as("z"))
        .orderBy(col("event_type").asc)
    },

    // Holt linear (double exponential) smoothing per (event_type, day) —
    // the level+trend recurrence ts_ewma_dyadic's single-state kernel
    // cannot express:
    //   l_t = ⌊(x_t + l_{t−1} + b_{t−1}) / 2⌋   (α = ½)
    //   b_t = ⌊(l_t − l_{t−1} + b_{t−1}) / 2⌋   (β = ½)
    // seeded l_1 = x_1, b_1 = 0, over integer micro-units. Unlike the
    // EWMA's finite dyadic kernel, the trend recurrence has no truncated
    // convolution form, so this is a genuine sequential fold — and the
    // cross-engine trap is that Spark's `div` TRUNCATES toward zero while
    // DuckDB's `//` FLOORS, diverging exactly when the trend goes
    // negative. The sign-safe twin pair: the native graft_holt kernel
    // steps with arithmetic shift (>> 1 ≡ ⌊v/2⌋ for every sign), and the
    // oracle emulates floor division integer-only — so each step is
    // bit-identical. The fold runs as ONE O(n) pass of the graft_holt
    // codegen kernel over each key's sorted iv list (the graft_winnow
    // precedent: the first cut's aggregate()-HOF fold appended to an
    // array per element — O(n²) copies, 2.3 s at sf0.1 — the kernel does
    // the identical arithmetic in one loop), returning interleaved
    // [l₁,b₁,l₂,b₂,…]; an indexed transform zips states back onto the
    // sorted rows (element_at bounds are exact by construction). Keys are
    // (type, day): the state is day-scoped, so at 100 TB the fold
    // parallelizes across days × types while each day's recurrence stays
    // exactly sequential — the same key-scoped-fold contract as
    // streamCusum. The oracle replays the identical recurrence as a
    // recursive CTE joined on per-key row_number. Output keeps the exact
    // integer state (level_u/trend_u) plus one rounded double division.
    "ts_holt_linear" -> { (s, d) =>
      holtDaySeries(s, d)
        .withColumn("st", kernel("graft_holt", expr("transform(xs, x -> x.iv)")))
        .select(col("event_type"), col("dt"), explode(expr(
          """transform(xs, (x, i) -> named_struct(
            |  'ts', x.ts, 'event_id', x.event_id, 'iv', x.iv,
            |  'l', element_at(st, 2 * i + 1),
            |  'b', element_at(st, 2 * i + 2)))"""
            .stripMargin.replace("\n", " "))).as("r"))
        .select(col("event_type"), col("dt"),
          col("r.ts").as("ts"), col("r.event_id").as("event_id"),
          col("r.iv").as("iv"),
          col("r.l").as("level_u"), col("r.b").as("trend_u"),
          round(col("r.l").cast("double") / 10000.0, 6).as("level"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    },

    // Holt–Winters additive-seasonal smoothing (triple exponential,
    // α = β = γ = ½, period p = 4) per (event_type, day) — the seasonal
    // recurrence ts_holt_linear's two-state kernel cannot express:
    //   l_t = ⌊(x_t − s_{t−p} + l_{t−1} + b_{t−1}) / 2⌋
    //   b_t = ⌊(l_t − l_{t−1} + b_{t−1}) / 2⌋
    //   s_t = ⌊(x_t − l_t + s_{t−p}) / 2⌋
    // seed rows t ≤ p: l = x, b = s = 0. x − s goes negative even on
    // positive data, so every halving is the sign-safe arithmetic shift
    // (Spark) ↔ floor-division-emulation (oracle) twin pair from
    // ts_holt_linear. One O(n) graft_holt_winters codegen-kernel pass per
    // (type, day) key — the graft_holt discipline with a third state and
    // a p-step lookback (the kernel reads its own output slot; the oracle
    // carries the last p seasonal values as a rolling LIST in the
    // recursive CTE's state — lists are plain values in a recursion).
    // Same 100 TB contract as ts_holt_linear: day-scoped state keys
    // parallelize across days × types while each day's fold stays exactly
    // sequential.
    "ts_holt_winters" -> { (s, d) =>
      holtDaySeries(s, d)
        .withColumn("st", kernel("graft_holt_winters", expr("transform(xs, x -> x.iv)"), lit(4)))
        .select(col("event_type"), col("dt"), explode(expr(
          """transform(xs, (x, i) -> named_struct(
            |  'ts', x.ts, 'event_id', x.event_id, 'iv', x.iv,
            |  'l', element_at(st, 3 * i + 1),
            |  'b', element_at(st, 3 * i + 2),
            |  's', element_at(st, 3 * i + 3)))"""
            .stripMargin.replace("\n", " "))).as("r"))
        .select(col("event_type"), col("dt"),
          col("r.ts").as("ts"), col("r.event_id").as("event_id"),
          col("r.iv").as("iv"),
          col("r.l").as("level_u"), col("r.b").as("trend_u"),
          col("r.s").as("seasonal_u"),
          round(col("r.l").cast("double") / 10000.0, 6).as("level"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    },

    // FORECAST from the Holt linear fit — the reason anyone fits the
    // smoother: per (event_type, day) key, run the same graft_holt kernel
    // fold, keep only the FINAL states (l_T, b_T), and emit the h-step-
    // ahead linear forecast ŷ_{T+h} = l_T + h·b_T for h = 1..4. All
    // exact integer micro-units (one rounded double division at output),
    // so the oracle is the ts_holt_linear recursive CTE plus a final-row
    // projection crossed with the horizon range. Output is 4 rows per
    // key — the state explosion ts_holt_linear pays per input row never
    // happens here, so at 100 TB this is the CHEAPER query: same
    // day-scoped parallel fold, key-sized output.
    "ts_holt_forecast" -> { (s, d) =>
      holtDaySeries(s, d)
        .withColumn("st", kernel("graft_holt", expr("transform(xs, x -> x.iv)")))
        .withColumn("n", size(col("xs")))
        .withColumn("lt", expr("element_at(st, 2 * n - 1)"))
        .withColumn("bt", expr("element_at(st, 2 * n)"))
        .select(col("event_type"), col("dt"), col("lt"), col("bt"),
          explode(sequence(lit(1L), lit(4L))).as("h"))
        .select(col("event_type"), col("dt"), col("h"),
          (col("lt") + col("h") * col("bt")).as("forecast_u"),
          round((col("lt") + col("h") * col("bt")).cast("double") / 10000.0, 6)
            .as("forecast"))
        .orderBy(col("event_type").asc, col("dt").asc, col("h").asc)
    },

    // FORECAST from the Holt–Winters additive fit: final states l_T, b_T
    // plus the last p = 4 seasonal values, forecast ŷ_{T+h} = l_T + h·b_T
    // + s_{T−p+((h−1) mod p)+1} for h = 1..4 (one full season ahead; with
    // h ≤ p the seasonal index is simply T−4+h). Keys shorter than one
    // period carry no seasonal estimate and are filtered on BOTH engines
    // (n ≥ 4). Same exact-integer discipline; the oracle reads the
    // seasonal values straight off the recursive CTE's rolling LIST state
    // (sl[h] IS s_{T−4+h} once the list is full).
    "ts_holt_winters_forecast" -> { (s, d) =>
      holtDaySeries(s, d)
        .withColumn("n", size(col("xs")))
        .filter(col("n") >= 4)
        .withColumn("st", kernel("graft_holt_winters", expr("transform(xs, x -> x.iv)"), lit(4)))
        .withColumn("lt", expr("element_at(st, 3 * n - 2)"))
        .withColumn("bt", expr("element_at(st, 3 * n - 1)"))
        .select(col("event_type"), col("dt"), col("lt"), col("bt"), col("st"),
          col("n"), explode(sequence(lit(1L), lit(4L))).as("h"))
        .withColumn("sh", expr("element_at(st, CAST(3 * (n - 4 + h) AS INT))"))
        .select(col("event_type"), col("dt"), col("h"),
          (col("lt") + col("h") * col("bt") + col("sh")).as("forecast_u"),
          round((col("lt") + col("h") * col("bt") + col("sh")).cast("double")
            / 10000.0, 6).as("forecast"))
        .orderBy(col("event_type").asc, col("dt").asc, col("h").asc)
    },

    // Exponentially-weighted moving average with a dyadic (α=1/2) kernel
    // truncated at 16 taps: ewma_i = Σ_{j=0..15} 2^(15-j)·x_{i-j} / Σ 2^(15-j)
    // over the deterministic (ts, event_id) order per event_type. The
    // truncation makes the recursion a FINITE weighted sum, so both engines
    // evaluate the identical expression: values become exact integer
    // micro-units (value is ≤4 dp in the fixture — round(value·10⁴) is an
    // exact integer in both engines), the weighted numerator/denominator
    // are exact BIGINT sums, and the output is ONE double division
    // (SURVEY §5.3's transcendental-free ratio rule). All 16 lags sit on
    // one window spec → a single WindowExec pass, one shuffle by type.
    "ts_ewma_dyadic" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      def lagIv(j: Int) =
        if (j == 0) col("iv") else lag(col("iv"), j).over(w)
      val num = (0 until 16)
        .map(j => coalesce(lagIv(j), lit(0L)) * lit(1L << (15 - j)))
        .reduce(_ + _)
      val den = (0 until 16)
        .map(j => when(lagIv(j).isNotNull, lit(1L << (15 - j))).otherwise(lit(0L)))
        .reduce(_ + _)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("num", num).withColumn("den", den)
        .select(col("event_type"), col("ts"), col("event_id"),
          round(col("num").cast("double") /
            (col("den") * lit(10000L)).cast("double"), 6).as("ewma"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    },

    // CUSUM changepoint / drift detection per event_type: the classic
    // one-sided CUSUM s_t = max(0, s_{t-1} + (x_t − μ)) has the CLOSED FORM
    // s_t = cum_t − min(0, min_{j≤t} cum_j) over the prefix sums cum of the
    // deviations — so the "recursive" detector is two frames of ONE
    // (event_type)-partitioned window pass, no per-row state. Values become
    // exact integer micro-units (round(value·10⁴), the ts_ewma_dyadic
    // convention), the reference level is the per-type integer floor mean
    // μ = Σiv div n, and the alert threshold h = 10 × integer mean absolute
    // deviation — every division has non-negative operands, so Spark `div`
    // ≡ DuckDB `//`. Output = alarm ONSETS only (s crosses from ≤h to >h
    // — the changepoints; a drifted detector then STAYS in alarm, so
    // raw s>h rows would be most of the tail), via one more lag frame on
    // the SAME window partition — still a single event_type shuffle.
    // Scale: two map-side-combinable aggregates (|types| rows, broadcast
    // back) + one window keyed on event_type — the same no-global-window
    // shape as ts_mad_outliers.
    "ts_cusum_changepoint" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      val mu = ev.groupBy(col("event_type"))
        .agg(expr("sum(iv) div count(1)").as("mu"))
      val dev = ev.join(broadcast(mu), Seq("event_type"))
      val thr = dev.groupBy(col("event_type"))
        .agg(expr("10 * (sum(abs(iv - mu)) div count(1))").as("h"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val w = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dev.join(broadcast(thr), Seq("event_type"))
        .withColumn("cum", sum(col("iv") - col("mu")).over(w))
        .withColumn("s_cusum",
          col("cum") - least(lit(0L), min(col("cum")).over(w)))
        .withColumn("prev_s", lag(col("s_cusum"), 1, 0L).over(wOrd))
        .filter(col("s_cusum") > col("h") && col("prev_s") <= col("h"))
        .select(col("event_type"), col("ts"), col("event_id"),
          col("s_cusum"), col("h"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    },

    // Drawdown ALERT ONSETS — the monitoring form of ts_max_drawdown:
    // fire where the drop from the running peak first exceeds the
    // per-type threshold h = 5 × mean-absolute-deviation — the same
    // robust scale measure ts_cusum_changepoint trains (drawdowns grow
    // with sequence length, so the monitor multiplier sits lower than
    // the cumulative-sum detector's 10×). prev_dd via lag makes each crossing
    // fire exactly once; everything before the final ÷ stays integer
    // micro-units. streamDrawdown is the structural streaming twin
    // (StreamingSpec pins alert-stream bit-equality on the fixture).
    "ts_drawdown_alerts" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      val mu = ev.groupBy(col("event_type"))
        .agg(expr("sum(iv) div count(1)").as("mu"))
      val thr = ev.join(broadcast(mu), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(expr("5 * (sum(abs(iv - mu)) div count(1))").as("h"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.join(broadcast(thr), Seq("event_type"))
        .withColumn("dd", max(col("iv")).over(wCum) - col("iv"))
        .withColumn("prev_dd", lag(col("dd"), 1, 0L).over(wOrd))
        .filter(col("dd") > col("h") && col("prev_dd") <= col("h"))
        .select(col("event_type"), col("ts"), col("event_id"),
          col("dd"), col("h"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    },

    // Maximum drawdown per event type — the classic risk statistic: the
    // deepest drop from a running peak, with the trough row that realizes
    // it. Same integer-micro discipline as ts_cusum_changepoint (iv =
    // round(value·10⁴)), so peak − value is exact BIGINT subtraction and
    // the only double is the final ÷10⁴ projection. Two windows, BOTH
    // sharded by event_type (never a global order): the running peak is
    // rows-unbounded-preceding max, and the trough selection is a
    // row_number over (dd DESC, ts, event_id) — the deterministic
    // earliest-trough tie-break. At 100 TB each type's stream sorts
    // within its partition; nothing crosses types.
    "ts_max_drawdown" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("peak", max(col("iv")).over(wCum))
        .withColumn("dd", col("peak") - col("iv"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("dd").desc, col("ts").asc, col("event_id").asc)))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          (col("dd").cast("double") / lit(10000.0)).as("max_drawdown"),
          (col("peak").cast("double") / lit(10000.0)).as("peak_value"),
          col("ts").as("trough_ts"), col("event_id").as("trough_event"))
        .orderBy(col("event_type").asc)
    },

    // Classical additive time-series decomposition x = trend + seasonal +
    // residual over the dense hourly count series per event_type — the
    // composition ts_gapfill_ffill (dense spine) + ts_seasonal_profile
    // (hour-of-day means) feed into. All-INTEGER micro-unit arithmetic, so
    // the decomposition is bit-identical across engines:
    //  - trend = centered 25-hour moving average, full windows only:
    //    trend_micro = (10⁶·Σ₂₅x) div 25 (non-negative, Spark div ≡ DuckDB //).
    //  - detrended d = 10⁶·x − trend_micro (NEGATIVE in troughs, so the
    //    seasonal floor-mean uses the OFFSET trick: floor((Σd + n·C)/n) − C
    //    with C = 10¹² keeps every cross-engine division on the
    //    non-negative domain where truncation and floor agree — the
    //    integer-division rule's extension to signed numerators).
    //  - seasonal = per (type, hour-of-day) floor-mean of d; residual =
    //    d − seasonal.
    // Scale: the spine is |types|×|hours| (metadata-sized), one window
    // pass keyed by type, one tiny (type, 24) aggregate broadcast back.
    "ts_decompose_additive" -> { (s, d) =>
      decomposed(Tables.events(s, d))
        .select(col("event_type"), col("hr"), col("x"), col("trend_micro"),
          col("seasonal_micro"),
          (col("d") - col("seasonal_micro")).as("resid_micro"))
        .orderBy(col("event_type").asc, col("hr").asc)
    },

    // Strength of seasonality per event_type — the STL diagnostic
    // F_s = 1 − Var(residual)/Var(detrended) over the
    // ts_decompose_additive components (full-trend rows only): how much
    // of the detrended variation the diurnal profile explains. Variances
    // use the n·Σx² − (Σx)² form with the micro-unit sums carried in
    // DECIMAL(38,0) (n·Σd² ≈ 10²¹ overflows BIGINT; DuckDB's HUGEINT
    // matches), so F_s is exact integers until one double division,
    // subtracted from 1.0 and rounded to 9. Same plan shape as the
    // decomposition it diagnoses plus one tiny per-type aggregate.
    "ts_seasonal_strength" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      decomposed(Tables.events(s, d))
        .filter(col("d").isNotNull)
        .withColumn("r", col("d") - col("seasonal_micro"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("d").cast(dec38)).as("sd"),
          sum((col("d") * col("d")).cast(dec38)).as("sdd"),
          sum(col("r").cast(dec38)).as("sr"),
          sum((col("r") * col("r")).cast(dec38)).as("srr"))
        .select(col("event_type"), col("n"),
          round(lit(1.0) -
            (col("n") * col("srr") - col("sr") * col("sr")).cast("double") /
            (col("n") * col("sdd") - col("sd") * col("sd")).cast("double"),
            9).as("f_seasonal"))
        .orderBy(col("event_type").asc)
    },

    // Hour-of-day seasonal profile per event_type — the diurnal baseline a
    // monitoring/forecasting pipeline fits first (and the reference level
    // a seasonal CUSUM would subtract). One map-side-combinable aggregate
    // over (type, hour(ts)); |types|·24 output rows at any scale. The mean
    // is ONE double division of exact integers (micro-unit sum over
    // n·10⁴); min/max are selections of input doubles — no rounding
    // discipline needed anywhere.
    "ts_seasonal_profile" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
          col("value"), expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"),
          (sum(col("iv")).cast("double") /
            (count(lit(1)) * lit(10000L)).cast("double")).as("mean_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy(col("event_type").asc, col("hod").asc)
    },

    // Exact 5-point rolling median per event_type — the standard robust
    // smoother (median filters reject spikes a moving average smears).
    // Values become exact integer micro-units (round(value·10⁴), the
    // ts_ewma_dyadic convention); the window is the 5 rows ending at the
    // current one under the deterministic (ts, event_id) order, and the
    // median is element 3 of the sorted 5-array — an ODD width, so the
    // median is an exact data value (never an interpolation, which each
    // engine rounds its own way). Only FULL windows emit (lag-4 non-null),
    // so every output is defined identically in both engines; the single
    // output double is one division of an exact integer by 10⁴. All five
    // lags sit on one window spec → a single WindowExec pass, one shuffle
    // by event_type, no self-join.
    "ts_rolling_median" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("l4", lag(col("iv"), 4).over(w))
        .withColumn("arr", array(col("iv"),
          lag(col("iv"), 1).over(w), lag(col("iv"), 2).over(w),
          lag(col("iv"), 3).over(w), col("l4")))
        .filter(col("l4").isNotNull)
        .select(col("event_type"), col("ts"), col("event_id"),
          (element_at(sort_array(col("arr")), 3).cast("double") / lit(10000d))
            .as("med_value"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    },

    // CDC snapshot diff — the lakehouse merge primitive: given yesterday's
    // and today's versions of a keyed table, emit the insert/update/delete
    // changeset. The two versions are derived deterministically from
    // `orders` (keys ≡ 7 (mod 10) exist only in the new snapshot, ≡ 3 only
    // in the old, keys ≡ 0 (mod 5) carry a +10% exact-decimal price
    // revision — the residues are disjoint so every row has one unambiguous
    // class). One full-outer shuffle join on the key (AQE handles skew);
    // prices stay exact DECIMAL until the final double projection.
    "cdc_snapshot_diff" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      val snapOld = o.filter(col("o_orderkey") % 10 =!= 7)
        .select(col("o_orderkey").as("key"),
          Tables.dec2(col("o_totalprice")).as("price_old"))
      val snapNew = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey").as("key"),
          when(col("o_orderkey") % 5 === 0,
            Tables.dec2(col("o_totalprice")) * lit(1.10).cast("decimal(3,2)"))
            .otherwise(Tables.dec2(col("o_totalprice")) * lit(1.00).cast("decimal(3,2)"))
            .as("price_new"))
      snapOld.join(snapNew, Seq("key"), "full_outer")
        .withColumn("change_type",
          when(col("price_old").isNull, lit("insert"))
            .when(col("price_new").isNull, lit("delete"))
            .when(col("price_old").cast("decimal(20,4)") =!=
              col("price_new").cast("decimal(20,4)"), lit("update"))
            .otherwise(lit("unchanged")))
        .filter(col("change_type") =!= "unchanged")
        .select(col("key"), col("change_type"),
          col("price_old").cast("double").as("price_old"),
          col("price_new").cast("double").as("price_new"))
        .orderBy(col("key").asc)
    },

    // SCD2 MERGE apply — the step AFTER cdc_snapshot_diff in a lakehouse
    // pipeline: fold the day-2 changeset into a type-2 dimension, emitting
    // the full post-merge version history. Same deterministic snapshots as
    // cdc_snapshot_diff; per key the merge emits
    //   - a version-1 row for every key in the old snapshot (valid from
    //     day 1, CLOSED at day 2 iff the key was updated or deleted),
    //   - a current row for every updated (version 2) or inserted
    //     (version 1) key, valid from day 2.
    // Both rows come out of ONE full-outer join pass: an in-row 2-element
    // struct array explodes into candidate rows and null-price candidates
    // drop — no second scan, no union of two join branches. Prices stay
    // exact DECIMAL through classification (the =!= compare) and cast
    // double only at output; is_current ≡ valid_to IS NULL. At 100 TB this
    // is the foreachBatch-MERGE batch twin: one key-partitioned shuffle,
    // map-side row expansion, no window.
    "cdc_scd2_merge" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      val snapOld = o.filter(col("o_orderkey") % 10 =!= 7)
        .select(col("o_orderkey").as("key"),
          Tables.dec2(col("o_totalprice")).as("price_old"))
      val snapNew = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey").as("key"),
          when(col("o_orderkey") % 5 === 0,
            Tables.dec2(col("o_totalprice")) * lit(1.10).cast("decimal(3,2)"))
            .otherwise(Tables.dec2(col("o_totalprice")) * lit(1.00).cast("decimal(3,2)"))
            .as("price_new"))
      val ct = when(col("price_old").isNull, lit("insert"))
        .when(col("price_new").isNull, lit("delete"))
        .when(col("price_old").cast("decimal(20,4)") =!=
          col("price_new").cast("decimal(20,4)"), lit("update"))
        .otherwise(lit("unchanged"))
      // TIMESTAMP (not DATE): the fixture's own date columns are
      // timestamps, and the driver's pandas comparator types Spark DATE as
      // object vs DuckDB DATE as datetime64 — timestamps agree on both.
      val d1 = lit("2024-01-01 00:00:00").cast("timestamp_ntz")
      val d2 = lit("2024-01-02 00:00:00").cast("timestamp_ntz")
      snapOld.join(snapNew, Seq("key"), "full_outer")
        .withColumn("change_type", ct)
        .select(col("key"), explode(array(
          struct(lit(1L).as("version"),
            col("price_old").cast("decimal(14,4)").as("price"),
            d1.as("valid_from"),
            when(col("change_type").isin("update", "delete"), d2)
              .otherwise(lit(null).cast("timestamp_ntz")).as("valid_to")),
          struct(when(col("change_type") === "insert", lit(1L)).otherwise(lit(2L))
            .as("version"),
            when(col("change_type").isin("insert", "update"),
              col("price_new").cast("decimal(14,4)")).otherwise(lit(null))
              .as("price"),
            d2.as("valid_from"),
            lit(null).cast("timestamp_ntz").as("valid_to")))).as("r"))
        .filter(col("r.price").isNotNull)
        .select(col("key"), col("r.version").as("version"),
          col("r.price").cast("double").as("price"),
          col("r.valid_from").as("valid_from"), col("r.valid_to").as("valid_to"),
          col("r.valid_to").isNull.as("is_current"))
        .orderBy(col("key").asc, col("version").asc)
    },

    // Multi-touch marketing attribution: each click/view/signup touch is
    // credited to the user's NEXT purchase (the first purchase strictly
    // after it in (ts, event_id) order — a first_value over the
    // 1-FOLLOWING..UNBOUNDED frame, never a self-join). Per conversion the
    // touching channels get first-/last-touch flags and a linear credit of
    // cnt/n, kept exact as integer MICRO-credits — (10⁶·cnt) div n, all
    // operands non-negative so Spark `div` ≡ DuckDB `//` — then summed per
    // channel. Plan shape: one user_id-partitioned window pass for the
    // next-conversion id, one (user_id, conv_id)-partitioned pass for the
    // per-conversion count/ranks (one shuffle, three frames), then two
    // map-side-combinable groupBys. At 100 TB every stage keys on user_id
    // (no global window, no join) and the output is |channels| rows.
    "attr_multi_touch" -> { (s, d) =>
      val wNext = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(1, Window.unboundedFollowing)
      val touches = Tables.events(s, d)
        .withColumn("conv_id",
          first(when(col("event_type") === "purchase", col("event_id")),
            ignoreNulls = true).over(wNext))
        .filter(col("event_type").isin("click", "view", "signup") &&
          col("conv_id").isNotNull)
      val part = Window.partitionBy(col("user_id"), col("conv_id"))
      val ordF = part.orderBy(col("ts").asc, col("event_id").asc)
      val ordL = part.orderBy(col("ts").desc, col("event_id").desc)
      touches
        .withColumn("n", count(lit(1)).over(part))
        .withColumn("rn_f", row_number().over(ordF))
        .withColumn("rn_l", row_number().over(ordL))
        .groupBy(col("user_id"), col("conv_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), first(col("n")).as("n"),
          max(when(col("rn_f") === 1, 1L).otherwise(0L)).as("is_first"),
          max(when(col("rn_l") === 1, 1L).otherwise(0L)).as("is_last"))
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("is_first")).as("first_touch"),
          sum(col("is_last")).as("last_touch"),
          sum(expr("(1000000 * cnt) div n")).as("linear_micro"))
        .orderBy(col("channel").asc)
    },

    // STL-style anomaly detection — the composition the decompose family
    // exists for: flag hours where the RESIDUAL (x − trend − seasonal,
    // the shared `decomposed` seam, integer micro-units)
    // exceeds 3× the per-type MAD of residuals. The MAD is an EXACT
    // rank-selected lower median of |resid| (the agg_winsorized_mean
    // rank-pick discipline — never an interpolating quantile), so the
    // whole query is integer-exact with no FP at all. Plan: the
    // decompose's spine/window passes + one rank window over the
    // residual table + a |types|-row broadcast join-back.
    "ts_residual_outliers" -> { (s, d) =>
      val r = decomposed(Tables.events(s, d))
        .filter(col("d").isNotNull)
        .select(col("event_type"), col("hr"), col("x"),
          (col("d") - col("seasonal_micro")).as("resid_micro"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("resid_micro")).asc, col("hr").asc)
      val wAll = Window.partitionBy(col("event_type"))
      val mad = r
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type").as("m_type"),
          abs(col("resid_micro")).as("mad_micro"))
      r.join(broadcast(mad), col("event_type") === col("m_type"))
        .filter(abs(col("resid_micro")) > lit(3L) * col("mad_micro"))
        .select(col("event_type"), col("hr"), col("x"),
          col("resid_micro"), col("mad_micro"))
        .orderBy(col("event_type").asc, col("hr").asc)
    },

    // Bollinger-band breakout detection: per event type, a 20-point
    // rolling window (full windows only) flags rows outside
    // mean ± 2σ (population σ). Cross-engine discipline: values quantize
    // to iv = round(v·10⁴) (the ts_rolling_median idiom), the window
    // carries exact BIGINT Σiv and Σiv², and the band test is the
    // DENOMINATOR-CLEARED integer form |n·iv − Σiv| > 2·√(n·Σiv² − (Σiv)²)
    // — the only FP ops are the (IEEE-correctly-rounded) sqrt and the two
    // rounded output projections, so alarms are bit-identical in both
    // engines with no per-row division. Scale: one window pass sharded by
    // event_type (same shape as every ts_* query — at 100 TB the
    // partition key would be (series_id) with millions of shards); output
    // is breakout rows only.
    "ts_bollinger_breakout" -> { (s, d) =>
      val n = 20
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-(n - 1), Window.currentRow)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
        .withColumn("cnt", count(lit(1)).over(w))
        .withColumn("s1", sum(col("iv")).over(w))
        .withColumn("s2", sum(col("iv") * col("iv")).over(w))
        .filter(col("cnt") === n)
        .withColumn("dev", lit(n) * col("iv") - col("s1"))
        .withColumn("thr",
          lit(2.0d) * sqrt((lit(n) * col("s2") - col("s1") * col("s1"))
            .cast("double")))
        .filter(abs(col("dev")).cast("double") > col("thr"))
        .select(col("event_type"), col("ts"), col("event_id"),
          (col("iv").cast("double") / lit(10000d)).as("q_value"),
          round(col("s1").cast("double") / lit(n * 10000d), 6).as("band_mean"),
          round(sqrt((lit(n) * col("s2") - col("s1") * col("s1"))
            .cast("double")) / lit(n * 10000d), 6).as("band_sd"),
          when(col("dev") > 0, lit("up")).otherwise(lit("down")).as("direction"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
    }
  )

  /** [[hourlySpine]]'s oracle twin: the `spine` CTE (event_type, hr),
    * no leading WITH and no trailing comma. */
  private val duckHourlySpine =
    """spine AS (
      |  SELECT t.event_type, h.hr
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(generate_series(
      |       (SELECT date_trunc('hour', min(ts)) FROM events),
      |       (SELECT date_trunc('hour', max(ts)) FROM events),
      |       INTERVAL 1 HOUR)) AS hr) h
      |)""".stripMargin

  /** [[decomposed]]'s oracle twin, ending at the `dec` CTE (event_type,
    * hr, x, trend_micro, d, seasonal_micro); the offset trick keeps every
    * `//` on the non-negative domain (see ts_decompose_additive). DuckDB
    * lifts the window sums to HUGEINT, so readers cast back to BIGINT. */
  private val duckDecomposed =
    s"""$duckHourlySpine, agg AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hr,
       |         CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2
       |), dense AS (
       |  SELECT s.event_type, s.hr, COALESCE(a.x, 0) AS x
       |  FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.hr = a.hr
       |), t1 AS (
       |  SELECT event_type, hr, x,
       |         CASE WHEN count(*) OVER w = 25
       |              THEN (1000000 * sum(x) OVER w) // 25 END AS trend_micro
       |  FROM dense
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
       |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
       |), t2 AS (
       |  SELECT event_type, hr, x, trend_micro, 1000000 * x - trend_micro AS d
       |  FROM t1
       |), seas AS (
       |  SELECT event_type AS s_type, hour(hr) AS hod,
       |         (sum(d + 1000000000000) // count(*)) - 1000000000000 AS seasonal_micro
       |  FROM t2 WHERE d IS NOT NULL GROUP BY event_type, hour(hr)
       |), dec AS (
       |  SELECT t2.event_type, t2.hr, t2.x, t2.trend_micro, t2.d, seas.seasonal_micro
       |  FROM t2 LEFT JOIN seas
       |    ON seas.s_type = t2.event_type AND seas.hod = hour(t2.hr)
       |)""".stripMargin

  /** ⌊x/2⌋ in DuckDB. CROSS-ENGINE TRAP (measured, round 10): DuckDB `//`
    * TRUNCATES toward zero (−5 // 2 = −2) while Spark's shiftright(·, 1)
    * floors (−5 >> 1 = −3), so the Holt oracles use the integer-only
    * identity ⌊x/2⌋ = (x − floormod(x, 2)) / 2, floormod(x, 2) =
    * ((x % 2) + 2) % 2 (x − floormod is even, so `//` on it is exact and
    * truncate ≡ floor). */
  private def fdiv(x: String) = s"((($x) - (((($x) % 2) + 2) % 2)) // 2)"

  /** [[holtDaySeries]]'s oracle twin: the `b` CTE, each (type, day) key's
    * rows numbered rn in (ts, event_id) order. */
  private val duckHoltDays =
    """b AS (
      |  SELECT event_type, date_trunc('day', ts) AS dt, ts, event_id,
      |         CAST(round(value * 10000, 0) AS BIGINT) AS iv,
      |         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
      |                            ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events
      |)""".stripMargin

  /** graft_holt replayed as a recursive CTE `r` (l, b) joined on the
    * per-key rn of [[duckHoltDays]], from WITH RECURSIVE on. Recursion
    * depth = max rows per day-key (~750). */
  private val duckHoltLinear = {
    val lNew = fdiv("b.iv + r.l + r.b")
    val bNew = fdiv(s"$lNew - r.l + r.b")
    s"""WITH RECURSIVE $duckHoltDays,
       |r AS (
       |  SELECT event_type, dt, ts, event_id, iv, rn,
       |         iv AS l, CAST(0 AS BIGINT) AS b
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT b.event_type, b.dt, b.ts, b.event_id, b.iv, b.rn,
       |         $lNew AS l,
       |         $bNew AS b
       |  FROM r JOIN b ON b.event_type = r.event_type AND b.dt = r.dt
       |              AND b.rn = r.rn + 1
       |)""".stripMargin
  }

  /** graft_holt_winters (p = 4) as a recursive CTE `r` (l, b, s and the
    * rolling list sl of the last p seasonal values, s_{t−p} = sl[1] once it
    * is full) over [[duckHoltDays]]; seed rows gate on rn <= 4. */
  private val duckHoltSeasonal = {
    val lNew = fdiv("b.iv - r.sl[1] + r.l + r.b")
    val bNew = fdiv(s"$lNew - r.l + r.b")
    val sNew = fdiv(s"b.iv - $lNew + r.sl[1]")
    s"""WITH RECURSIVE $duckHoltDays,
       |r AS (
       |  SELECT event_type, dt, ts, event_id, iv, rn,
       |         iv AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS s,
       |         [CAST(0 AS BIGINT)] AS sl
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT b.event_type, b.dt, b.ts, b.event_id, b.iv, b.rn,
       |         CASE WHEN b.rn <= 4 THEN b.iv ELSE $lNew END AS l,
       |         CASE WHEN b.rn <= 4 THEN CAST(0 AS BIGINT) ELSE $bNew END AS b,
       |         CASE WHEN b.rn <= 4 THEN CAST(0 AS BIGINT) ELSE $sNew END AS s,
       |         list_concat(
       |           CASE WHEN len(r.sl) < 4 THEN r.sl ELSE r.sl[2:] END,
       |           [CASE WHEN b.rn <= 4 THEN CAST(0 AS BIGINT) ELSE $sNew END]) AS sl
       |  FROM r JOIN b ON b.event_type = r.event_type AND b.dt = r.dt
       |              AND b.rn = r.rn + 1
       |)""".stripMargin
  }

  val oracles: Seq[(String, String)] = Seq(
    "ts_gapfill_ffill" ->
      s"""WITH $duckHourlySpine, agg AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(38,4))) AS sv
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT s.event_type, s.hr AS hr, COALESCE(a.n, 0) AS n,
        |       CAST(last_value(a.sv IGNORE NULLS) OVER (
        |              PARTITION BY s.event_type ORDER BY s.hr
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS sum_value_ffill
        |FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.hr = a.hr
        |ORDER BY s.event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin,

    // Same funnel CTEs; deltas via date_diff microseconds, median via
    // the same rank selection.
    "win_funnel_latency" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), cl AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |    AND e.ts <= v.v_ts + INTERVAL 24 HOUR
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN cl ON e.user_id = cl.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > cl.c_ts
        |    AND e.ts <= cl.c_ts + INTERVAL 24 HOUR
        |  GROUP BY e.user_id
        |), steps AS (
        |  SELECT '1_view_click' AS step, v.user_id,
        |         date_diff('microsecond', v.v_ts, cl.c_ts) AS delta_us
        |  FROM v JOIN cl ON v.user_id = cl.user_id
        |  UNION ALL
        |  SELECT '2_click_purchase', cl.user_id,
        |         date_diff('microsecond', cl.c_ts, p.p_ts)
        |  FROM cl JOIN p ON cl.user_id = p.user_id
        |), r AS (
        |  SELECT step, user_id, delta_us,
        |         row_number() OVER (PARTITION BY step
        |           ORDER BY delta_us ASC, user_id ASC) AS r,
        |         count(*) OVER (PARTITION BY step) AS n
        |  FROM steps
        |)
        |SELECT step, CAST(max(n) AS BIGINT) AS n,
        |       round(CAST(sum(delta_us) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
        |         AS mean_us,
        |       CAST(max(CASE WHEN r = (n + 1) // 2 THEN delta_us END) AS BIGINT)
        |         AS p50_us,
        |       CAST(min(delta_us) AS BIGINT) AS min_us,
        |       CAST(max(delta_us) AS BIGINT) AS max_us
        |FROM r GROUP BY step
        |ORDER BY step ASC NULLS FIRST""".stripMargin,

    "win_funnel_steps" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), cl AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |    AND e.ts <= v.v_ts + INTERVAL 24 HOUR
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN cl ON e.user_id = cl.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > cl.c_ts
        |    AND e.ts <= cl.c_ts + INTERVAL 24 HOUR
        |  GROUP BY e.user_id
        |)
        |SELECT v.user_id, v.v_ts, cl.c_ts, p.p_ts,
        |       CAST(1 + (cl.c_ts IS NOT NULL)::INT + (p.p_ts IS NOT NULL)::INT
        |            AS BIGINT) AS funnel_depth
        |FROM v LEFT JOIN cl ON v.user_id = cl.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id ASC NULLS FIRST""".stripMargin,

    "ts_ohlc_resample" ->
      """WITH x AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, value,
        |         first_value(value) OVER (
        |             PARTITION BY event_type, date_trunc('hour', ts)
        |             ORDER BY ts, event_id) AS o,
        |         last_value(value) OVER (
        |             PARTITION BY event_type, date_trunc('hour', ts)
        |             ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM events
        |)
        |SELECT event_type, hr, min(o) AS open, max(value) AS high,
        |       min(value) AS low, min(c) AS close, count(*) AS n
        |FROM x GROUP BY 1, 2
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin,

    "win_path_transitions" ->
      """WITH x AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS next_type
        |  FROM events
        |)
        |SELECT event_type, next_type, count(*) AS n
        |FROM x WHERE next_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type ASC NULLS FIRST, next_type ASC NULLS FIRST""".stripMargin,

    "ts_interpolate_linear" ->
      s"""WITH $duckHourlySpine, agg AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         CAST(sum(CAST(value AS DECIMAL(38,4))) AS DECIMAL(18,4)) AS sv
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT s.event_type, s.hr, a.sv
        |  FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.hr = a.hr
        |), w AS (
        |  SELECT *,
        |         last_value(CASE WHEN sv IS NOT NULL THEN hr END IGNORE NULLS)
        |           OVER wp AS p_h,
        |         last_value(sv IGNORE NULLS) OVER wp AS p_v,
        |         first_value(CASE WHEN sv IS NOT NULL THEN hr END IGNORE NULLS)
        |           OVER wn AS n_h,
        |         first_value(sv IGNORE NULLS) OVER wn AS n_v
        |  FROM g
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hr
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY event_type ORDER BY hr
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT event_type, hr,
        |       CASE WHEN sv IS NOT NULL THEN CAST(sv AS DOUBLE)
        |            WHEN p_h IS NOT NULL AND n_h IS NOT NULL THEN
        |              CAST(p_v * CAST(date_diff('hour', hr, n_h) AS INTEGER)
        |                 + n_v * CAST(date_diff('hour', p_h, hr) AS INTEGER)
        |                   AS DOUBLE)
        |              / CAST(date_diff('hour', p_h, n_h) AS DOUBLE)
        |       END AS v_interp
        |FROM w
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin,

    "ts_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_disc(value, 0.5) AS med
        |  FROM events GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |         abs(e.value - m.med) AS abs_dev
        |  FROM events e JOIN med m ON e.event_type = m.event_type
        |), mad AS (
        |  SELECT event_type, quantile_disc(abs_dev, 0.5) AS mad
        |  FROM dev GROUP BY event_type
        |)
        |SELECT d.event_id, d.event_type, d.value, d.med, m.mad
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |WHERE d.abs_dev > 3.0 * m.mad
        |ORDER BY d.event_id ASC NULLS FIRST""".stripMargin,

    "agg_retention_cohort" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        |  FROM events
        |)
        |SELECT f.cohort_week,
        |       CAST(datediff('day', f.cohort_week, a.activity_week) // 7
        |            AS BIGINT) AS week_offset,
        |       count(DISTINCT a.user_id) AS n_users
        |FROM f JOIN a ON f.user_id = a.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week ASC NULLS FIRST, week_offset ASC NULLS FIRST""".stripMargin,

    "scd2_status_history" ->
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |                OR lag(o_orderstatus) OVER w <> o_orderstatus
        |              THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate ASC, o_orderkey ASC)
        |), runs0 AS (
        |  -- CAST: DuckDB sum(INTEGER) is HUGEINT (→ float64 in pandas);
        |  -- Spark's running sum is BIGINT.
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
        |               ORDER BY o_orderdate ASC, o_orderkey ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS run_id
        |  FROM flagged
        |), runs AS (
        |  SELECT o_custkey, run_id, min(o_orderstatus) AS status,
        |         min(o_orderdate) AS valid_from, count(*) AS n_orders
        |  FROM runs0 GROUP BY o_custkey, run_id
        |)
        |SELECT o_custkey, run_id, status, valid_from,
        |       lead(valid_from) OVER w2 AS valid_to,
        |       (lead(valid_from) OVER w2 IS NULL) AS is_current,
        |       n_orders
        |FROM runs
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id ASC)
        |ORDER BY o_custkey ASC NULLS FIRST, run_id ASC NULLS FIRST""".stripMargin,

    "ts_autocorr_lag1" ->
      """WITH p AS (
        |  SELECT event_type, value,
        |         lag(value) OVER (PARTITION BY event_type
        |                          ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events
        |)
        |SELECT event_type, round(corr(value, prev), 6) AS acf1,
        |       count(prev) AS n_pairs
        |FROM p GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    // Same bounded all-pairs median: epoch_us deltas twin timestampdiff
    // (MICROSECOND), the sort key is the identical IEEE double division,
    // and `//` ≡ Spark `div` on the non-negative (m + 1).
    "ts_theil_sen" ->
      """WITH p AS (
        |  SELECT event_type, epoch_us(ts) AS t,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS iv,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events
        |),
        |w AS (SELECT * FROM p WHERE rn <= 60),
        |pr AS (
        |  SELECT a.event_type, b.iv - a.iv AS dy, b.t - a.t AS dx
        |  FROM w a JOIN w b ON a.event_type = b.event_type
        |   AND b.rn > a.rn AND b.t <> a.t
        |),
        |r AS (
        |  SELECT event_type, dy, dx,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC,
        |                    dy ASC, dx ASC) AS sr,
        |         count(*) OVER (PARTITION BY event_type) AS m
        |  FROM pr
        |)
        |SELECT event_type, m AS n_pairs, dy AS med_dy, dx AS med_dx,
        |       CAST(dy * 3600000000 AS DOUBLE) / CAST(dx AS DOUBLE)
        |         AS slope_per_hour
        |FROM r WHERE sr = (m + 1) // 2
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    // The per-(event_type, day) twin: identical arithmetic with the day
    // key threaded through every stage and the row cap applied per cell.
    "ts_theil_sen_windowed" ->
      """WITH p AS (
        |  SELECT event_type, date_trunc('day', ts) AS dt, epoch_us(ts) AS t,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS iv,
        |         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events
        |),
        |w AS (SELECT * FROM p WHERE rn <= 60),
        |pr AS (
        |  SELECT a.event_type, a.dt, b.iv - a.iv AS dy, b.t - a.t AS dx
        |  FROM w a JOIN w b ON a.event_type = b.event_type AND a.dt = b.dt
        |   AND b.rn > a.rn AND b.t <> a.t
        |),
        |r AS (
        |  SELECT event_type, dt, dy, dx,
        |         row_number() OVER (PARTITION BY event_type, dt
        |           ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC,
        |                    dy ASC, dx ASC) AS sr,
        |         count(*) OVER (PARTITION BY event_type, dt) AS m
        |  FROM pr
        |)
        |SELECT event_type, dt, m AS n_pairs, dy AS med_dy, dx AS med_dx,
        |       CAST(dy * 3600000000 AS DOUBLE) / CAST(dx AS DOUBLE)
        |         AS slope_per_hour
        |FROM r WHERE sr = (m + 1) // 2
        |ORDER BY event_type ASC NULLS FIRST, dt ASC NULLS FIRST""".stripMargin,

    // Same first-60 window; S and the tie-corrected variance numerator
    // stay exact BIGINT, the z chain is the identical sequence of
    // correctly-rounded IEEE ops (CAST(18 AS DOUBLE): a bare 18.0 is
    // DECIMAL in DuckDB, per the repo float-division rule).
    "ts_mann_kendall" ->
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS iv,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events
        |),
        |w AS (SELECT * FROM p WHERE rn <= 60),
        |sa AS (
        |  SELECT a.event_type,
        |         CAST(sum(CASE WHEN b.iv > a.iv THEN 1
        |                       WHEN b.iv < a.iv THEN -1
        |                       ELSE 0 END) AS BIGINT) AS s
        |  FROM w a JOIN w b ON a.event_type = b.event_type AND b.rn > a.rn
        |  GROUP BY a.event_type
        |),
        |tg AS (SELECT event_type, iv, count(*) AS t
        |       FROM w GROUP BY event_type, iv),
        |ta AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
        |              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |                AS tie_term
        |       FROM tg GROUP BY event_type)
        |SELECT sa.event_type, n, s,
        |       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)
        |         AS var_num,
        |       round(CAST(s - sign(s) AS DOUBLE) /
        |             sqrt(CAST(CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term > 0
        |                            THEN n * (n - 1) * (2 * n + 5) - tie_term
        |                       END AS DOUBLE) / CAST(18 AS DOUBLE)), 6) AS z
        |FROM sa JOIN ta ON sa.event_type = ta.event_type
        |ORDER BY sa.event_type ASC NULLS FIRST""".stripMargin,

    // Hirsch–Slack seasonal MK: per-(type, hour) cells with the same
    // first-60 cap, summed per type; DuckDB hour() ≡ Spark hour() on the
    // fixture's timestamps, and every arithmetic step stays exact BIGINT
    // until the one z-chain division.
    "ts_mann_kendall_seasonal" ->
      """WITH p AS (
        |  SELECT event_type, hour(ts) AS season,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS iv,
        |         row_number() OVER (PARTITION BY event_type, hour(ts)
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events
        |),
        |w AS (SELECT * FROM p WHERE rn <= 60),
        |sa AS (
        |  SELECT a.event_type, a.season,
        |         CAST(sum(CASE WHEN b.iv > a.iv THEN 1
        |                       WHEN b.iv < a.iv THEN -1
        |                       ELSE 0 END) AS BIGINT) AS s_s
        |  FROM w a JOIN w b ON a.event_type = b.event_type
        |   AND a.season = b.season AND b.rn > a.rn
        |  GROUP BY a.event_type, a.season
        |),
        |tg AS (SELECT event_type, season, iv, count(*) AS t
        |       FROM w GROUP BY event_type, season, iv),
        |ta AS (SELECT event_type, season, CAST(sum(t) AS BIGINT) AS n_s,
        |              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |                AS tie_s
        |       FROM tg GROUP BY event_type, season),
        |cell AS (
        |  SELECT sa.event_type, sa.season, s_s, n_s,
        |         n_s * (n_s - 1) * (2 * n_s + 5) - tie_s AS var_s
        |  FROM sa JOIN ta ON sa.event_type = ta.event_type
        |   AND sa.season = ta.season)
        |SELECT event_type, count(*) AS n_seasons,
        |       CAST(sum(n_s) AS BIGINT) AS n,
        |       CAST(sum(s_s) AS BIGINT) AS s,
        |       CAST(sum(var_s) AS BIGINT) AS var_num,
        |       round(CAST(sum(s_s) - sign(sum(s_s)) AS DOUBLE) /
        |             sqrt(CAST(CASE WHEN sum(var_s) > 0 THEN sum(var_s)
        |                       END AS DOUBLE) / CAST(18 AS DOUBLE)), 6) AS z
        |FROM cell
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "ts_ewma_dyadic" -> {
      // The identical 16-tap dyadic kernel, generated to keep the 16 lag
      // terms literally in sync with the Spark side.
      val lags = (0 until 16).map { j =>
        val e = if (j == 0) "iv" else s"lag(iv, $j) OVER w"
        (s"coalesce($e, 0) * ${1L << (15 - j)}",
          s"CASE WHEN $e IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END")
      }
      s"""WITH b AS (
         |  SELECT event_type, ts, event_id,
         |         CAST(round(value * 10000, 0) AS BIGINT) AS iv
         |  FROM events
         |)
         |SELECT event_type, ts, event_id,
         |       round(CAST(${lags.map(_._1).mkString(" + ")} AS DOUBLE) /
         |             CAST((${lags.map(_._2).mkString(" + ")}) * 10000 AS DOUBLE),
         |             6) AS ewma
         |FROM b
         |WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
         |ORDER BY event_type ASC NULLS FIRST, ts ASC, event_id ASC""".stripMargin
    },

    "ts_holt_linear" ->
      s"""$duckHoltLinear
         |SELECT event_type, dt, ts, event_id, iv,
         |       CAST(l AS BIGINT) AS level_u, CAST(b AS BIGINT) AS trend_u,
         |       round(CAST(l AS DOUBLE) / 10000.0, 6) AS level
         |FROM r
         |ORDER BY event_type ASC NULLS FIRST, ts ASC, event_id ASC""".stripMargin,

    "ts_holt_winters" ->
      s"""$duckHoltSeasonal
         |SELECT event_type, dt, ts, event_id, iv,
         |       CAST(l AS BIGINT) AS level_u, CAST(b AS BIGINT) AS trend_u,
         |       CAST(s AS BIGINT) AS seasonal_u,
         |       round(CAST(l AS DOUBLE) / 10000.0, 6) AS level
         |FROM r
         |ORDER BY event_type ASC NULLS FIRST, ts ASC, event_id ASC""".stripMargin,

    // The ts_holt_linear recursion, projected to each key's FINAL states
    // and crossed with the h = 1..4 horizon: one linear projection per
    // step, all HUGEINT-safe integers cast back to BIGINT.
    "ts_holt_forecast" ->
      s"""$duckHoltLinear,
         |f AS (SELECT event_type, dt, l, b FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type, dt
         |                               ORDER BY rn DESC) AS rnn FROM r)
         |  WHERE rnn = 1)
         |SELECT f.event_type, f.dt, t.h,
         |       CAST(f.l + t.h * f.b AS BIGINT) AS forecast_u,
         |       round(CAST(f.l + t.h * f.b AS DOUBLE) / 10000.0, 6) AS forecast
         |FROM f, range(1, 5) t(h)
         |ORDER BY event_type ASC NULLS FIRST, dt ASC NULLS FIRST,
         |         h ASC NULLS FIRST""".stripMargin,

    // The ts_holt_winters recursion's final row carries (l, b) and the
    // rolling seasonal LIST — sl[h] IS s_{T−4+h} once the list is full —
    // so the forecast is a pure projection of the recursion state.
    // Keys shorter than one period (max rn < 4) are dropped, matching the
    // Spark side's n >= 4 filter.
    "ts_holt_winters_forecast" ->
      s"""$duckHoltSeasonal,
         |f AS (SELECT event_type, dt, l, b, sl FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type, dt
         |                               ORDER BY rn DESC) AS rnn FROM r)
         |  WHERE rnn = 1 AND rn >= 4)
         |SELECT f.event_type, f.dt, t.h,
         |       CAST(f.l + t.h * f.b + f.sl[t.h] AS BIGINT) AS forecast_u,
         |       round(CAST(f.l + t.h * f.b + f.sl[t.h] AS DOUBLE) / 10000.0, 6) AS forecast
         |FROM f, range(1, 5) t(h)
         |ORDER BY event_type ASC NULLS FIRST, dt ASC NULLS FIRST,
         |         h ASC NULLS FIRST""".stripMargin,

    // Same closed-form CUSUM; DuckDB lifts sums/divisions to HUGEINT, so
    // the output columns cast back to BIGINT (the graph_pagerank pattern).
    "ts_cusum_changepoint" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS iv
        |           FROM events),
        |m AS (SELECT event_type, sum(iv) // count(*) AS mu
        |      FROM b GROUP BY event_type),
        |d AS (SELECT b.*, m.mu FROM b JOIN m USING (event_type)),
        |t AS (SELECT event_type, 10 * (sum(abs(iv - mu)) // count(*)) AS h
        |      FROM d GROUP BY event_type),
        |c AS (SELECT d.event_type, d.ts, d.event_id, t.h,
        |             sum(iv - mu) OVER (PARTITION BY d.event_type
        |               ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d JOIN t USING (event_type)),
        |f AS (SELECT event_type, ts, event_id, h,
        |             cum - least(0, min(cum) OVER (PARTITION BY event_type
        |               ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_cusum
        |      FROM c),
        |g AS (SELECT *, lag(s_cusum, 1, 0) OVER (PARTITION BY event_type
        |               ORDER BY ts, event_id) AS prev_s
        |      FROM f)
        |SELECT event_type, ts, event_id,
        |       CAST(s_cusum AS BIGINT) AS s_cusum, CAST(h AS BIGINT) AS h
        |FROM g WHERE s_cusum > h AND prev_s <= h
        |ORDER BY event_type ASC NULLS FIRST, ts ASC NULLS FIRST,
        |         event_id ASC NULLS FIRST""".stripMargin,

    // The cusum-threshold calibration over the drawdown fold; all BIGINT.
    "ts_drawdown_alerts" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS iv
        |           FROM events),
        |m AS (SELECT event_type, sum(iv) // count(*) AS mu
        |      FROM b GROUP BY event_type),
        |t AS (SELECT b.event_type, 5 * (sum(abs(iv - mu)) // count(*)) AS h
        |      FROM b JOIN m USING (event_type) GROUP BY b.event_type),
        |p AS (SELECT b.event_type, ts, event_id, t.h,
        |             max(iv) OVER (PARTITION BY b.event_type
        |               ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - iv AS dd
        |      FROM b JOIN t ON b.event_type = t.event_type),
        |g AS (SELECT *, lag(dd, 1, 0) OVER (PARTITION BY event_type
        |               ORDER BY ts, event_id) AS prev_dd
        |      FROM p)
        |SELECT event_type, ts, event_id,
        |       CAST(dd AS BIGINT) AS dd, CAST(h AS BIGINT) AS h
        |FROM g WHERE dd > h AND prev_dd <= h
        |ORDER BY event_type ASC NULLS FIRST, ts ASC NULLS FIRST,
        |         event_id ASC NULLS FIRST""".stripMargin,

    // Identical window algebra; the only doubles are the two final ÷10⁴
    // projections (each one division of an exact BIGINT — the bare-literal
    // trap means the divisor must be CAST AS DOUBLE on this side).
    "ts_max_drawdown" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS iv
        |           FROM events),
        |p AS (SELECT event_type, ts, event_id, iv,
        |             max(iv) OVER (PARTITION BY event_type
        |               ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM b),
        |dd AS (SELECT event_type, ts, event_id, peak, peak - iv AS dd FROM p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |               ORDER BY dd DESC, ts ASC, event_id ASC) AS rn
        |      FROM dd)
        |SELECT event_type,
        |       CAST(dd AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS max_drawdown,
        |       CAST(peak AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS peak_value,
        |       ts AS trough_ts, event_id AS trough_event
        |FROM r WHERE rn = 1
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "ts_decompose_additive" ->
      s"""WITH $duckDecomposed
        |SELECT event_type, hr, x,
        |       CAST(trend_micro AS BIGINT) AS trend_micro,
        |       CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
        |       CAST(d - seasonal_micro AS BIGINT) AS resid_micro
        |FROM dec
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin,

    // The decompose CTE chain + one per-type variance-ratio aggregate;
    // DuckDB's HUGEINT sums mirror the Spark DECIMAL(38,0) discipline.
    "ts_seasonal_strength" ->
      s"""WITH $duckDecomposed, g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(d) AS sd, sum(d * d) AS sdd,
        |         sum(d - seasonal_micro) AS sr,
        |         sum((d - seasonal_micro) * (d - seasonal_micro)) AS srr
        |  FROM dec WHERE d IS NOT NULL GROUP BY event_type
        |)
        |SELECT event_type, n,
        |       round(CAST(1.0 AS DOUBLE) -
        |             CAST(n * srr - sr * sr AS DOUBLE) /
        |             CAST(n * sdd - sd * sd AS DOUBLE), 9) AS f_seasonal
        |FROM g
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "ts_seasonal_profile" ->
      """WITH b AS (SELECT event_type, hour(ts) AS hod, value,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS iv
        |           FROM events)
        |SELECT event_type, CAST(hod AS BIGINT) AS hod, count(*) AS n,
        |       CAST(sum(iv) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE) AS mean_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM b GROUP BY event_type, hod
        |ORDER BY event_type ASC NULLS FIRST, hod ASC NULLS FIRST""".stripMargin,

    // Identical 5-row frames via explicit lags; the median is DuckDB's
    // 1-based list_sort(...)[3] ≡ Spark element_at(sort_array, 3) — an
    // exact integer, so the one double division matches bit-for-bit.
    "ts_rolling_median" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS iv
        |           FROM events),
        |l AS (SELECT event_type, ts, event_id, iv,
        |             lag(iv, 1) OVER w AS l1, lag(iv, 2) OVER w AS l2,
        |             lag(iv, 3) OVER w AS l3, lag(iv, 4) OVER w AS l4
        |      FROM b
        |      WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC))
        |SELECT event_type, ts, event_id,
        |       CAST(list_sort([iv, l1, l2, l3, l4])[3] AS DOUBLE) / 10000 AS med_value
        |FROM l WHERE l4 IS NOT NULL
        |ORDER BY event_type ASC NULLS FIRST, ts ASC NULLS FIRST,
        |         event_id ASC NULLS FIRST""".stripMargin,

    // Same snapshots/classification as cdc_snapshot_diff; the two merge
    // candidates come from a UNION ALL over the one joined CTE (SQL has no
    // explode; the filters mirror the Spark-side null-price drop).
    "cdc_scd2_merge" ->
      """WITH snap_old AS (
        |  SELECT o_orderkey AS key,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS price_old
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |), snap_new AS (
        |  SELECT o_orderkey AS key,
        |         CASE WHEN o_orderkey % 5 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(3,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.00 AS DECIMAL(3,2))
        |         END AS price_new
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |), j AS (
        |  SELECT coalesce(o.key, n.key) AS key, o.price_old, n.price_new,
        |         CASE WHEN o.price_old IS NULL THEN 'insert'
        |              WHEN n.price_new IS NULL THEN 'delete'
        |              WHEN CAST(o.price_old AS DECIMAL(20,4)) <>
        |                   CAST(n.price_new AS DECIMAL(20,4)) THEN 'update'
        |              ELSE 'unchanged' END AS change_type
        |  FROM snap_old o FULL JOIN snap_new n ON o.key = n.key
        |), m AS (
        |  SELECT key, 1 AS version, CAST(price_old AS DECIMAL(14,4)) AS price,
        |         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |         CASE WHEN change_type IN ('update', 'delete')
        |              THEN TIMESTAMP '2024-01-02 00:00:00' END AS valid_to
        |  FROM j WHERE price_old IS NOT NULL
        |  UNION ALL
        |  SELECT key, CASE WHEN change_type = 'insert' THEN 1 ELSE 2 END,
        |         CAST(price_new AS DECIMAL(14,4)),
        |         TIMESTAMP '2024-01-02 00:00:00', NULL
        |  FROM j WHERE change_type IN ('insert', 'update'))
        |SELECT key, CAST(version AS BIGINT) AS version,
        |       CAST(price AS DOUBLE) AS price, valid_from, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM m
        |ORDER BY key ASC NULLS FIRST, version ASC NULLS FIRST""".stripMargin,

    "cdc_snapshot_diff" ->
      """WITH snap_old AS (
        |  SELECT o_orderkey AS key,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS price_old
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |), snap_new AS (
        |  SELECT o_orderkey AS key,
        |         CASE WHEN o_orderkey % 5 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(3,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.00 AS DECIMAL(3,2))
        |         END AS price_new
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |), diff AS (
        |  SELECT coalesce(o.key, n.key) AS key, o.price_old, n.price_new,
        |         CASE WHEN o.price_old IS NULL THEN 'insert'
        |              WHEN n.price_new IS NULL THEN 'delete'
        |              WHEN CAST(o.price_old AS DECIMAL(20,4)) <>
        |                   CAST(n.price_new AS DECIMAL(20,4)) THEN 'update'
        |              ELSE 'unchanged' END AS change_type
        |  FROM snap_old o FULL JOIN snap_new n ON o.key = n.key
        |)
        |SELECT key, change_type,
        |       CAST(price_old AS DOUBLE) AS price_old,
        |       CAST(price_new AS DOUBLE) AS price_new
        |FROM diff WHERE change_type <> 'unchanged'
        |ORDER BY key ASC NULLS FIRST""".stripMargin,

    // Linear credit stays exact: (10⁶·cnt) // n of non-negative BIGINTs
    // per conversion, summed — no floating-point fraction ever enters.
    "attr_multi_touch" ->
      """WITH conv AS (
        |  SELECT event_id, ts, user_id, event_type,
        |         first_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |                     IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS conv_id
        |  FROM events),
        |t AS (SELECT * FROM conv
        |      WHERE event_type IN ('click', 'view', 'signup')
        |        AND conv_id IS NOT NULL),
        |r AS (SELECT user_id, conv_id, event_type,
        |             count(*) OVER (PARTITION BY user_id, conv_id) AS n,
        |             row_number() OVER (PARTITION BY user_id, conv_id
        |                                ORDER BY ts ASC, event_id ASC) AS rn_f,
        |             row_number() OVER (PARTITION BY user_id, conv_id
        |                                ORDER BY ts DESC, event_id DESC) AS rn_l
        |      FROM t),
        |pc AS (SELECT user_id, conv_id, event_type,
        |              CAST(count(*) AS BIGINT) AS cnt, first(n) AS n,
        |              max(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS is_first,
        |              max(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS is_last
        |       FROM r GROUP BY user_id, conv_id, event_type)
        |SELECT event_type AS channel,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(sum(is_first) AS BIGINT) AS first_touch,
        |       CAST(sum(is_last) AS BIGINT) AS last_touch,
        |       CAST(sum((1000000 * cnt) // n) AS BIGINT) AS linear_micro
        |FROM pc GROUP BY event_type
        |ORDER BY channel ASC NULLS FIRST""".stripMargin,

    "ts_residual_outliers" ->
      s"""WITH $duckDecomposed, r AS (
        |  SELECT event_type, hr, x, d - seasonal_micro AS resid
        |  FROM dec WHERE d IS NOT NULL
        |), rk AS (
        |  SELECT event_type, abs(resid) AS ar,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY abs(resid) ASC, hr ASC) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM r
        |), mad AS (
        |  SELECT event_type AS m_type, ar AS mad_micro FROM rk
        |  WHERE rn = (n + 1) // 2
        |)
        |SELECT r.event_type, r.hr, r.x,
        |       CAST(resid AS BIGINT) AS resid_micro,
        |       CAST(mad_micro AS BIGINT) AS mad_micro
        |FROM r JOIN mad ON r.event_type = m_type
        |WHERE abs(resid) > 3 * mad_micro
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin,

    "ts_bollinger_breakout" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS iv
        |           FROM events),
        |w AS (SELECT event_type, ts, event_id, iv,
        |             count(*) OVER win AS cnt,
        |             sum(iv) OVER win AS s1,
        |             sum(iv * iv) OVER win AS s2
        |      FROM b
        |      WINDOW win AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
        |                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_type, ts, event_id,
        |       CAST(iv AS DOUBLE) / 10000 AS q_value,
        |       round(CAST(s1 AS DOUBLE) / 200000, 6) AS band_mean,
        |       round(sqrt(CAST(20 * s2 - s1 * s1 AS DOUBLE)) / 200000, 6) AS band_sd,
        |       CASE WHEN 20 * iv - s1 > 0 THEN 'up' ELSE 'down' END AS direction
        |FROM w
        |WHERE cnt = 20
        |  AND abs(CAST(20 * iv - s1 AS DOUBLE)) >
        |      2.0 * sqrt(CAST(20 * s2 - s1 * s1 AS DOUBLE))
        |ORDER BY event_type ASC NULLS FIRST, ts ASC NULLS FIRST,
        |         event_id ASC NULLS FIRST""".stripMargin
  )
}
