package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tests for the scale utilities: salted joins must be result-identical to
  * plain joins; bucketed tables must join without an exchange. */
class ScaleSpec extends SparkSpec {

  test("saltedJoin returns exactly the plain join result under heavy skew") {
    import spark.implicits._
    // 90% of probe rows hit one hot key
    val probe = (1 to 1000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i))
      .toDF("k", "v")
    val build = (0L to 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = probe.join(build, "k")
      .select("k", "v", "name").collect().map(_.toSeq.toList).sortBy(_.toString)
    val salted = Scale.saltedJoin(probe, build, "k", salt = 8)
      .select("k", "v", "name").collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(salted.toSeq === plain.toSeq)
  }

  test("zOrderKey layout prunes box queries on ANY dimension; row-major serves only its leading column") {
    // The layout claim, measured: 64k points uniform on a 2-d domain,
    // laid out into 64 range-partitions (a stand-in for files) two ways —
    // by the Morton key vs by lexicographic (x, y). A thin selective band
    // on the TRAILING dimension y must touch every row-major partition
    // (y is unsorted within each x-stripe) but only the few z-partitions
    // whose curve range crosses the band. The z-layout also keeps the
    // leading-dimension query bounded — balanced locality across
    // dimensions is the whole point of the interleave.
    import spark.implicits._
    val rnd = new scala.util.Random(99L)
    val pts = (0 until 65536).map(_ => (rnd.nextDouble() * 1e6, rnd.nextDouble() * 1e6))
      .toDF("x", "y")
    val zkey = Scale.zOrderKey(16,
      Scale.zQuantize(col("x"), 0, 1e6), Scale.zQuantize(col("y"), 0, 1e6))
    val zLayout = pts.repartitionByRange(64, zkey).localCheckpoint(true)
    val rowMajor = pts.repartitionByRange(64, col("x"), col("y")).localCheckpoint(true)
    def touched(df: org.apache.spark.sql.DataFrame,
        band: org.apache.spark.sql.Column): Long =
      df.filter(band).select(spark_partition_id()).distinct().count()
    val yBand = col("y") >= 500000.0 && col("y") < 531250.0 // 1/32 of the domain
    val xBand = col("x") >= 500000.0 && col("x") < 531250.0
    val zY = touched(zLayout, yBand)
    val rowY = touched(rowMajor, yBand)
    val zX = touched(zLayout, xBand)
    assert(rowY >= 60, s"row-major should scan ~all 64 partitions for a y-band, got $rowY")
    assert(zY <= 20, s"z-order should prune the y-band to ~a quad-tree row, got $zY")
    assert(zX <= 20, s"z-order must keep the x-band bounded too, got $zX")
    // sanity: both layouts hold the same rows
    assert(zLayout.count() === 65536L && rowMajor.count() === 65536L)
  }

  test("hilbert-clustered parquet prunes row groups on the trailing dimension; a 1-d sort cannot") {
    // The END-TO-END data-skipping claim behind scale_zorder_skipping,
    // measured on REAL parquet scan metrics (not in-memory partitions):
    // the same events rows written 32-files-each two ways — clustered by
    // the Hilbert key of (user, value) vs sorted by user_id alone — then
    // a narrow VALUE band (user unconstrained, the trailing dimension)
    // scans both. The pushed min/max row-group filter on `value` prunes
    // most Hilbert files (each covers a compact value range) but nothing
    // in the user-sorted layout (value spans the full domain in every
    // file), so the scan's numOutputRows — rows surviving reader-level
    // pruning, before Spark's post-scan Filter — must differ by a
    // multiple. AQE is disabled for the measurement so the raw
    // FileSourceScanExec node (and its metric) is reachable.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val ev = graft.Tables.events(spark, sf)
    val base = tempDir("graft_skip")
    val q = ev
      .withColumn("q_user", Scale.zQuantize(col("user_id"), 0.0, 1500.0, bits = 8))
      .withColumn("q_val", Scale.zQuantize(col("value"), 0.0, 600.0, bits = 8))
    Scale.hilbertKey(q, 8, "q_user", "q_val", "hkey")
      .repartitionByRange(32, col("hkey")).sortWithinPartitions(col("hkey"))
      .drop("q_user", "q_val", "hkey")
      .write.mode("overwrite").parquet(s"$base/hilbert")
    ev.repartitionByRange(32, col("user_id")).sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(s"$base/linear")
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def scanned(dir: String): (Long, Long) = {
        val df = spark.read.parquet(dir)
          .filter(col("value") >= 50.0 && col("value") < 70.0)
        val n = df.count() // drives execution; count's plan carries the scan
        val agg = df.groupBy().count()
        agg.collect()
        val scan = agg.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f }.head
        (scan.metrics("numOutputRows").value, n)
      }
      val (hRows, hTotal) = scanned(s"$base/hilbert")
      val (lRows, lTotal) = scanned(s"$base/linear")
      assert(hTotal === lTotal, "both layouts must hold the same rows")
      assert(lRows >= ev.count() * 9 / 10,
        s"user-sorted layout should read ~everything for a value band, read $lRows")
      assert(hRows <= lRows / 3,
        s"hilbert layout should prune to a fraction: $hRows vs $lRows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("hilbertKey: exhaustive grid is a unit-step space-filling walk matching xy2d") {
    import spark.implicits._
    // Driver-side reference: the textbook xy2d (public-domain algorithm).
    def xy2d(n: Int, x0: Int, y0: Int): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val bits = 4
    val n = 1 << bits
    val grid = for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong)
    val got = Scale.hilbertKey(grid.toDF("x", "y"), bits, "x", "y", "h")
      .collect().map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Long]("h")))
    got.foreach { case (x, y, h) =>
      assert(h === xy2d(n, x.toInt, y.toInt), s"($x,$y)")
    }
    // space-filling bijection: keys are exactly 0 .. n^2-1
    val byKey = got.sortBy(_._3)
    assert(byKey.map(_._3).toSeq === (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property (what z-order lacks): every consecutive pair of
    // keys is Manhattan-adjacent, so any key range is a connected blob
    byKey.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L, s"jump at ($x1,$y1)")
    }
  }

  test("AQE alone splits a skewed shuffle join — salting is for when AQE can't see the skew") {
    // Demonstrates the decision rule in Scale.saltedJoin's scaladoc: for a
    // plain batch equi-join, AQE's OptimizeSkewedJoin detects the hot
    // partition from runtime map statistics and splits it — no salting
    // needed. saltedJoin remains for the cases AQE cannot reach (stateful/
    // stream-stream ops, or joins whose skew hides from shuffle stats).
    import spark.implicits._
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture-sized thresholds: the hot partition (~1 MB) must dwarf the
      // advisory size the same way a hot 10 GB partition dwarfs 64 MB.
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 95% of probe rows on one hot key, with a payload so the skew is
      // visible in bytes (what the skew detector measures).
      val probe = (1 to 60000)
        .map(i => (if (i % 20 == 0) i.toLong % 7 else 42L, "x" * 64 + i))
        .toDF("k", "v")
      val build = (0L to 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = probe.join(build, "k")
      // execute THIS Dataset's plan (count() would build a separate
      // QueryExecution, leaving joined's adaptive plan un-finalized)
      assert(joined.collect().length === 60000) // every probe row matches once
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the hot partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables sort-merge join without a shuffle exchange") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = (1 to 1000).map(i => (i.toLong % 100, i)).toDF("k", "v")
      val right = (1 to 500).map(i => (i.toLong % 100, s"r$i")).toDF("k", "name")
      Scale.writeBucketed(left, "graft_bl", "k", buckets = 4)
      Scale.writeBucketed(right, "graft_br", "k", buckets = 4)
      val joined = spark.table("graft_bl").join(spark.table("graft_br"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() ===
        left.join(right, "k").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bl")
      spark.sql("DROP TABLE IF EXISTS graft_br")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("join_bucketed_colocated: the declared query's SMJ shuffles neither join side") {
    val df = graft.SparkEntry.queries("join_bucketed_colocated")(spark, sf)
    df.collect() // finalize AQE before inspecting (round-4 rule)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed declared join still shuffles a side:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"expected the forced sort-merge join:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"expected bucketed scans:\n$plan")
  }

  test("coalescePartitionedWrite bounds files per dt partition") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"2024-01-${"%02d".format(i % 5 + 1)}", i))
      .toDF("dt", "v")
    val out = tempDir("graft_cpw")
    Scale.coalescePartitionedWrite(df, Seq(col("dt")), filesPerPartition = 1)
      .write.partitionBy("dt").mode("overwrite").parquet(out)
    val partDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("dt="))
    assert(partDirs.length === 5)
    partDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName} has ${files.length} files")
    }
  }
}
