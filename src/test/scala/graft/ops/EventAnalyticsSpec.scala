package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic pins for the event-analytics family (the DuckDB oracle is the
  * cross-engine gate; these assert the invariants the SQL twin can't state
  * as clearly — spine completeness, step ordering, cohort totality). */
class EventAnalyticsSpec extends SparkSpec {

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("gapfill: dense spine (|types| x |hours|), zero-filled gaps, carried sums") {
    val rows = q("ts_gapfill_ffill").collect()
    val types = rows.map(_.getString(0)).distinct
    val hours = rows.map(_.getAs[java.time.LocalDateTime](1)).distinct
    assert(rows.length === types.length * hours.length,
      "spine must be the full cross product of event types and hours")
    // dense: within a type, consecutive spine rows are exactly 1 hour apart
    val perType = rows.groupBy(_.getString(0))
    perType.values.foreach { rs =>
      val hs = rs.map(_.getAs[java.time.LocalDateTime](1)).sortWith(_.isBefore(_))
      hs.sliding(2).foreach {
        case Array(a, b) => assert(java.time.Duration.between(a, b).toHours === 1L)
        case _           =>
      }
    }
    // at least one gap bucket exists at this sf, and every gap after the
    // first observation carries the previous non-null sum forward
    assert(rows.exists(_.getLong(2) == 0L), "expected at least one empty bucket")
    perType.values.foreach { rs =>
      val sorted = rs.sortWith((a, b) => a.getAs[java.time.LocalDateTime](1)
        .isBefore(b.getAs[java.time.LocalDateTime](1)))
      var lastSum: Option[Double] = None
      sorted.foreach { r =>
        val n = r.getLong(2)
        val sv = if (r.isNullAt(3)) None else Some(r.getDouble(3))
        if (n == 0L) assert(sv === lastSum,
          s"gap bucket must carry the previous sum (got $sv, want $lastSum)")
        lastSum = sv
      }
    }
  }

  test("funnel: step timestamps ordered within the 24h deadline, depth consistent") {
    val rows = q("win_funnel_steps").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[java.time.LocalDateTime]("v_ts")
      val c = Option(r.getAs[java.time.LocalDateTime]("c_ts"))
      val p = Option(r.getAs[java.time.LocalDateTime]("p_ts"))
      val depth = r.getAs[Long]("funnel_depth")
      assert(depth === 1L + c.size + p.size)
      if (p.isDefined) assert(c.isDefined, "purchase step requires the click step")
      c.foreach { ct =>
        assert(ct.isAfter(v) && !ct.isAfter(v.plusHours(24)),
          "click must fall in (v_ts, v_ts + 24h]")
      }
      (c, p) match {
        case (Some(ct), Some(pt)) =>
          assert(pt.isAfter(ct) && !pt.isAfter(ct.plusHours(24)),
            "purchase must fall in (c_ts, c_ts + 24h]")
        case _ =>
      }
    }
  }

  test("ohlc: low <= open/close <= high, buckets partition the events, open is the earliest row") {
    val rows = q("ts_ohlc_resample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h, s"open $o outside [low $l, high $h]")
      assert(l <= c && c <= h, s"close $c outside [low $l, high $h]")
    }
    val ev = graft.Tables.events(spark, sf)
    assert(rows.map(_.getLong(6)).sum === ev.count(),
      "bucket counts must partition the event stream")
    // cross-check one bucket's open/close against the raw rows
    val r0 = rows.head
    val raw = ev
      .filter(col("event_type") === r0.getString(0) &&
        date_trunc("hour", col("ts")).cast("timestamp_ntz") === r0.getAs[java.time.LocalDateTime](1))
      .orderBy(col("ts").asc, col("event_id").asc)
      .select(col("value")).collect()
    assert(raw.head.getDouble(0) === r0.getDouble(2), "open is the first value by (ts, event_id)")
    assert(raw.last.getDouble(0) === r0.getDouble(5), "close is the last value by (ts, event_id)")
  }

  test("path transitions: each user contributes exactly (events - 1) transitions") {
    val rows = q("win_path_transitions").collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
    val expected = ev.count() -
      ev.select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === expected)
    rows.foreach(r => assert(r.getLong(2) > 0L))
  }

  test("interpolate: known buckets exact, gaps strictly between brackets, edges null") {
    val rows = q("ts_interpolate_linear").collect()
    val gap = q("ts_gapfill_ffill").collect()
    assert(rows.length === gap.length, "same dense spine as the gapfill query")
    val known = gap.map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1))
      -> (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    rows.groupBy(_.getString(0)).values.foreach { rs =>
      val sorted = rs.sortWith((a, b) => a.getAs[java.time.LocalDateTime](1)
        .isBefore(b.getAs[java.time.LocalDateTime](1)))
      val vs = sorted.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      val ns = sorted.map { r =>
        known(r.getString(0) -> r.getAs[java.time.LocalDateTime](1))._1
      }
      val firstK = ns.indexWhere(_ > 0L)
      val lastK = ns.lastIndexWhere(_ > 0L)
      sorted.indices.foreach { i =>
        if (i < firstK || i > lastK) assert(vs(i).isEmpty,
          "no extrapolation outside the first/last known bucket")
        else if (ns(i) > 0L) {
          // a known bucket is its exact hourly sum (== the ffill value here)
          assert(vs(i) === known(sorted(i).getString(0)
            -> sorted(i).getAs[java.time.LocalDateTime](1))._2)
        } else {
          // a gap lies strictly between its bracketing known values
          val pv = (i - 1 to firstK by -1).collectFirst {
            case j if ns(j) > 0L => vs(j).get }.get
          val nv = (i + 1 to lastK).collectFirst {
            case j if ns(j) > 0L => vs(j).get }.get
          val v = vs(i).get
          assert(v >= math.min(pv, nv) - 1e-9 && v <= math.max(pv, nv) + 1e-9,
            s"interpolated $v outside bracket [$pv, $nv]")
        }
      }
      // midpoint sanity: a single-hour gap is the exact average of its
      // neighbors (delta 1 each side, denominator 2)
      sorted.indices.foreach { i =>
        if (i > firstK && i < lastK && ns(i) == 0L &&
            ns(i - 1) > 0L && ns(i + 1) > 0L) {
          val exp = (BigDecimal(vs(i - 1).get) + BigDecimal(vs(i + 1).get)) / 2
          assert(math.abs(vs(i).get - exp.toDouble) < 1e-6,
            "single-hour gap must be the neighbor midpoint")
        }
      }
    }
  }

  test("mad outliers: flagged iff |value - med| > 3*mad, med/mad are member selections") {
    val rows = q("ts_mad_outliers").collect()
    assert(rows.nonEmpty, "expected at least one outlier at this sf")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value")).collect()
    val byType = ev.groupBy(_.getString(1))
    def discMedian(xs: Array[Double]): Double = {
      val s = xs.sorted; s((s.length - 1) / 2) // lower median, a member
    }
    val stats = byType.map { case (t, rs) =>
      val vals = rs.map(_.getDouble(2))
      val med = discMedian(vals)
      t -> (med, discMedian(vals.map(v => math.abs(v - med))))
    }
    // flagged set matches the local recomputation exactly
    val expected = ev.filter { r =>
      val (med, mad) = stats(r.getString(1))
      math.abs(r.getDouble(2) - med) > 3.0 * mad
    }.map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet === expected)
    rows.foreach { r =>
      val (med, mad) = stats(r.getString(1))
      assert(r.getDouble(3) === med && r.getDouble(4) === mad,
        "med/mad must be the exact discrete-median members")
    }
  }

  test("mad outliers: both medians aggregate map-side (no window over raw events)") {
    val df = q("ts_mad_outliers")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Window"), "MAD must not sort raw events in a window")
    assert(plan.contains("BroadcastHashJoin"),
      "per-type stats must broadcast back to the events side")
  }

  test("retention: offset 0 holds the whole cohort; counts never exceed it") {
    val rows = q("agg_retention_cohort").collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.get(0).toString)
    byCohort.values.foreach { rs =>
      val week0 = rs.find(_.getLong(1) == 0L)
      assert(week0.isDefined, "every cohort is active in its own week")
      val base = week0.get.getLong(2)
      rs.foreach { r =>
        assert(r.getLong(1) >= 0L)
        assert(r.getLong(2) <= base,
          "retained users cannot exceed the cohort size")
      }
    }
    val totalUsers = graft.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(byCohort.values.map(_.find(_.getLong(1) == 0L).get.getLong(2)).sum
      === totalUsers, "cohorts partition the user base")
  }

  test("ewma: differential against a naive per-type scan of the 16-tap kernel") {
    val rows = q("ts_ewma_dyadic").collect()
    assert(rows.nonEmpty)
    // reference: recompute every row from the raw events, driver-side
    val raw = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3)))
    def lt(a: (String, java.time.LocalDateTime, Long, Double),
        b: (String, java.time.LocalDateTime, Long, Double)): Boolean =
      a._2.isBefore(b._2) || (a._2 == b._2 && a._3 < b._3)
    val expect = raw.groupBy(_._1).toSeq.flatMap { case (tpe, rs) =>
      val ordered = rs.sortWith(lt)
      ordered.zipWithIndex.toSeq.map { case ((_, ts, id, _), i) =>
        val window = ordered.slice(math.max(0, i - 15), i + 1).reverse
        val iv = window.map(r => math.round(r._4 * 10000))
        val wts = iv.indices.map(j => 1L << (15 - j))
        val num = iv.zip(wts).map { case (v, wt) => v * wt }.sum
        val den = wts.sum * 10000L
        ((tpe, ts, id),
          BigDecimal(num.toDouble / den.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toMap
    rows.foreach { r =>
      val k = (r.getString(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2))
      assert(math.abs(r.getDouble(3) - expect(k)) < 1e-9,
        s"ewma mismatch at $k: got ${r.getDouble(3)}, want ${expect(k)}")
    }
    // and the first row of each type is exactly its own value
    val firstPerType = raw.groupBy(_._1).map { case (tpe, rs) =>
      (tpe, rs.sortWith(lt).head)
    }
    rows.foreach { r =>
      val f = firstPerType(r.getString(0))
      if (f._2 == r.getAs[java.time.LocalDateTime](1) && f._3 == r.getLong(2))
        assert(math.abs(r.getDouble(3) -
          BigDecimal(f._4).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("cusum: closed form matches a sequential max(0, s + d) fold per type") {
    // The query computes s_t = cum_t − min(0, running-min(cum)) in one
    // window pass; the DEFINITION is the sequential recursion. Fold the
    // fixture events the slow way and compare the alert sets exactly.
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getLong(3)))
    def tsKey(t: java.time.LocalDateTime): (Long, Int) =
      (t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    val expect = ev.groupBy(_._1).toSeq.flatMap { case (tpe, rows) =>
      val n = rows.length.toLong
      val mu = rows.map(_._4).sum / n // non-negative sum: floorDiv == /
      val h = 10L * (rows.map(r => math.abs(r._4 - mu)).sum / n)
      var s = 0L
      rows.sortBy(r => (tsKey(r._2), r._3)).flatMap { r =>
        val prev = s
        s = math.max(0L, s + (r._4 - mu))
        if (s > h && prev <= h) Some((tpe, r._2, r._3, s, h)) else None
      }
    }.sortBy(r => (r._1, tsKey(r._2), r._3))
    val got = graft.SparkEntry.queries("ts_cusum_changepoint")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(expect.nonEmpty, "fixture should trigger at least one alert")
    assert(got === expect)
  }

  test("rolling median: differential against a sequential 5-window scan per type") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getLong(3)))
    def tsKey(t: java.time.LocalDateTime): (Long, Int) =
      (t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    val expect = ev.groupBy(_._1).toSeq.flatMap { case (tpe, rows) =>
      val ord = rows.sortBy(r => (tsKey(r._2), r._3))
      ord.sliding(5).filter(_.length == 5).map { w5 =>
        val r = w5.last
        (tpe, r._2, r._3, w5.map(_._4).sorted.apply(2).toDouble / 10000d)
      }
    }.sortBy(r => (r._1, tsKey(r._2), r._3))
    val got = q("ts_rolling_median").collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3))).toSeq
    assert(expect.nonEmpty)
    assert(got === expect)
    // a median filter output is always one of its window's input values —
    // spot the invariant globally: every med is an actual fixture value
    val vals = ev.map(_._4.toDouble / 10000d).toSet
    assert(got.forall(r => vals.contains(r._4)))
  }

  test("scd2 merge: version history consistent with the changeset classes") {
    val rows = q("cdc_scd2_merge").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.getAs[java.time.LocalDateTime](4)), r.getBoolean(5)))
    val byKey = rows.groupBy(_._1)
    val nOrders = graft.Tables.orders(spark, sf).count()
    (0L until nOrders).foreach { k =>
      val vs = byKey.getOrElse(k, Array.empty).sortBy(_._2)
      if (k % 10 == 3) { // delete: one closed row, nothing current
        assert(vs.length == 1 && vs(0)._2 == 1 && !vs(0)._5 && vs(0)._4.nonEmpty, s"k=$k")
      } else if (k % 10 == 7) { // insert: one current version-1 row
        assert(vs.length == 1 && vs(0)._2 == 1 && vs(0)._5 && vs(0)._4.isEmpty, s"k=$k")
      } else if (k % 5 == 0) { // update: closed v1 + current v2, +10%
        assert(vs.length == 2 && !vs(0)._5 && vs(1)._5 && vs(1)._2 == 2, s"k=$k")
        assert(math.abs(vs(1)._3 - vs(0)._3 * 1.10) < 1e-6, s"k=$k")
      } else { // unchanged: one open version-1 row
        assert(vs.length == 1 && vs(0)._2 == 1 && vs(0)._5 && vs(0)._4.isEmpty, s"k=$k")
      }
    }
    // exactly one current row per surviving key, none for deletes
    rows.filter(_._5).groupBy(_._1).values.foreach(v => assert(v.length == 1))
  }

  test("cdc: residue classes map to exactly their change type, update factor 1.1") {
    val rows = q("cdc_snapshot_diff").collect()
    val byKey = rows.groupBy(_.getLong(0))
    assert(byKey.values.forall(_.length == 1), "one changeset row per key")
    val nOrders = graft.Tables.orders(spark, sf).count()
    val keys = (0L until nOrders)
    val inserts = rows.filter(_.getString(1) == "insert").map(_.getLong(0)).toSet
    val deletes = rows.filter(_.getString(1) == "delete").map(_.getLong(0)).toSet
    val updates = rows.filter(_.getString(1) == "update").map(_.getLong(0)).toSet
    assert(inserts === keys.filter(_ % 10 == 7).toSet)
    assert(deletes === keys.filter(_ % 10 == 3).toSet)
    assert(updates === keys.filter(k => k % 5 == 0 && k % 10 != 3 && k % 10 != 7).toSet)
    rows.foreach { r =>
      r.getString(1) match {
        case "insert" => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "delete" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "update" =>
          assert(math.abs(r.getDouble(3) - r.getDouble(2) * 1.10) < 1e-6)
        case other => fail(s"unexpected change_type $other")
      }
    }
  }

  test("attribution: next-conversion scoping, first/last flags, exact linear micro-credits") {
    import spark.implicits._
    // Hand-traced plant:
    //   user 1: click e1, view e2, [purchase e3], signup e4, click e5,
    //           [purchase e6], view e7 (no later purchase -> dropped)
    //   user 2: view e8, view e9, [purchase e10]
    //   user 3: purchase e11 (untouched), view e12 (dropped)
    // conv e3 = {click first, view last}, conv e6 = {signup first, click
    // last}, conv e10 = {view x2, both flags}; linear = (1e6*cnt) div n.
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, t(0), 1L, "click"), (2L, t(5), 1L, "view"), (3L, t(10), 1L, "purchase"),
      (4L, t(20), 1L, "signup"), (5L, t(25), 1L, "click"), (6L, t(30), 1L, "purchase"),
      (7L, t(40), 1L, "view"),
      (8L, t(0), 2L, "view"), (9L, t(5), 2L, "view"), (10L, t(6), 2L, "purchase"),
      (11L, t(0), 3L, "purchase"), (12L, t(10), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val tmp = tempDir("attr_events")
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = EventAnalytics.queries.toMap.apply("attr_multi_touch")(spark, tmp)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows === Map(
      "click" -> ((2L, 1L, 1L, 1000000L)),
      "signup" -> ((1L, 1L, 0L, 500000L)),
      "view" -> ((2L, 1L, 2L, 1500000L))))
  }
}
