package graft.flowlog

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end streaming replica of the reference pipeline: envelope bytes →
  * decode → parse → dt/hr-partitioned Parquet with checkpointed
  * exactly-once delivery. MemoryStream stands in for the Kinesis source
  * with byte-identical payloads (SURVEY.md §2.I seam). */
class FlowLogStreamSpec extends SparkSpec {

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }

  private def envelope(eventId: Int, msg: String): Array[Byte] = gzip(
    s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"g","logStream":"s",
       |"subscriptionFilters":[],"logEvents":[
       |{"id":"$eventId","timestamp":1704067200000,"message":"$msg"}]}"""
      .stripMargin.replace("\n", ""))

  test("streaming pipeline: envelopes to partitioned parquet, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("flowlog_stream")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"

    def run(payloads: Seq[Array[Byte]], mem: MemoryStream[Array[Byte]]): Unit = {
      val parsed = FlowLog.withDatePartitions(
        FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(mem.toDF())))
        .filter(col("parse_error").isNull)
      val q = parsed.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .partitionBy("dt", "hr").start()
      try { mem.addData(payloads); q.processAllAvailable() } finally q.stop()
    }

    val line = (p: Int) =>
      s"2 1 eni-x 10.0.0.1 10.0.0.2 443 $p 6 1 100 1704067140 1704067200 ACCEPT OK"
    // same source instance across both runs: checkpointed offsets identify
    // what was committed, so the restart resumes exactly after batch 0.
    val mem = MemoryStream[Array[Byte]]
    run(Seq(envelope(1, line(1000)), envelope(2, line(1001))), mem)
    run(Seq(envelope(3, line(1002))), mem)

    val back = spark.read.parquet(out)
    assert(back.count() === 3)
    assert(back.select("dstport").collect().map(_.getInt(0)).sorted ===
      Array(1000, 1001, 1002))
    // hive layout dt=…/hr=… exists
    val dtDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("dt="))
    assert(dtDirs.nonEmpty)
    assert(dtDirs.head.listFiles().exists(_.getName.startsWith("hr=")))
    // partition values derive from flow start time (1704067140 = 23:59 UTC)
    assert(back.select("dt").distinct().head.get(0).toString === "2023-12-31")
  }

  test("dt/hr envelope sink: a batch whose part files landed before a crash is read back once") {
    // Spark's file sink logs a batch in _spark_metadata/<n>, then the query
    // commits it in commits/<n>. A crash after the part files landed but
    // before both log entries leaves them on disk as orphans; the restarted
    // query re-runs the batch, and the table read back (through the sink's
    // log) must hold every envelope's rows exactly once.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("flowlog_crash")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val chunks = fixtureEnvelopeChunks(3)
    val mem = MemoryStream[Array[Byte]]
    def start() = graft.streaming.StreamOps.startParquetSink(
      FlowLog.withDatePartitions(FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(mem.toDF()))),
      out, ckpt, Seq("dt", "hr"))
    def partFiles: Int = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try s.filter(_.getFileName.toString.matches("part-.*\\.parquet")).count().toInt
      finally s.close()
    }
    val q1 = start()
    try chunks.foreach { c => mem.addData(c); q1.processAllAvailable() } finally q1.stop()
    val n = chunks.size - 1
    val before = partFiles
    Seq(s"$ckpt/commits/$n", s"$ckpt/commits/.$n.crc",
      s"$out/_spark_metadata/$n", s"$out/_spark_metadata/.$n.crc")
      .foreach(f => new java.io.File(f).delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.exists(_.batchId == n), s"batch $n was not replayed")
    } finally q2.stop()
    assert(partFiles > before, "vacuous: the replay wrote no part files beside the orphans")
    val static = FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(chunks.toDF("value")))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(to_json(struct(static.columns.sorted.map(col).toSeq: _*)))
        .as[String].collect().sorted.toSeq
    val want = rows(static)
    assert(want.nonEmpty)
    assert(rows(spark.read.parquet(out)) === want,
      "the crashed batch's rows are missing or duplicated")
  }

  // ---- streaming security detectors (VERDICT r14 #1) ----

  /** Chronological line chunks of the whole sf fixture (forward + mirror
    * population), each wrapped as one gzip DATA_MESSAGE envelope. At
    * sf0.001 start_s = 1704067200 + id·37 is monotone in event_id (no mod
    * wrap below id 7006), so sorting by (start_s, rid) gives in-contract
    * arrival for a 30-minute watermark when fed chunk by chunk; WITHIN a
    * chunk the order is shuffled (arrival order inside a batch is not a
    * contract — the buffered event-time sort is). */
  private def fixtureEnvelopeChunks(nChunks: Int): Seq[Array[Byte]] = {
    val lines = FlowLogQueries.syntheticLines(
        graft.Tables.events(spark, sf))
      .select("start_s", "message", "rid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(r => (r._1, r._3))
    val rnd = new scala.util.Random(42)
    lines.grouped((lines.length + nChunks - 1) / nChunks).map { chunk =>
      val evs = rnd.shuffle(chunk.toSeq).map { case (s, msg, rid) =>
        s"""{"id":"$rid","timestamp":${s * 1000},"message":"$msg"}"""
      }.mkString(",")
      gzip(s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"g",""" +
        s""""logStream":"s","subscriptionFilters":[],"logEvents":[$evs]}""")
    }.toSeq
  }

  /** A far-future valid v2 line that drives the watermark past every
    * fixture day end (flush); its own key stays un-retired in state. */
  private def flushEnvelope(): Array[Byte] = {
    val s = 1704067200L + 30L * 86400L
    envelope(999999,
      s"2 123456789012 eni-zz 10.9.9.9 10.9.9.8 1 2 6 1 1 $s ${s + 1} ACCEPT OK")
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally spark.conf.set(key, prev)
  }

  test("streaming port-scan detector (RocksDB): FINAL reports equal the batch query, one onset per suspect, state retires, survives kill/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    withRocksDb {
      val dir = tempDir("flowlog_psstream")
      val mem = MemoryStream[Array[Byte]]
      def start() = FlowLogStream.streamPortScan(mem.toDF(), minPorts = 10,
          watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      val chunks = fixtureEnvelopeChunks(4)
      // first two chunks, then KILL: folded summaries + pending rows and
      // the alerted flags exist ONLY in RocksDB state at this point
      val q1 = start()
      mem.addData(chunks(0)); q1.processAllAvailable()
      mem.addData(chunks(1)); q1.processAllAvailable()
      q1.stop()
      val q2 = start()
      try {
        chunks.drop(2).foreach { c => mem.addData(c); q2.processAllAvailable() }
        mem.addData(flushEnvelope()); q2.processAllAvailable()
        val out = spark.read.parquet(s"$dir/out").collect()
          .map(r => (r.getAs[String]("kind"), r.getAs[String]("srcaddr"),
            r.getAs[Long]("n_ports"), r.getAs[Long]("n_rejects")))
        // FINAL reports ≡ the declared batch query (all sf0.001 flows are
        // day 1, so the day scope is the whole fixture)
        val fin = out.filter(_._1 == "FINAL")
          .map(r => (r._2, r._3, r._4)).toSet
        val batch = FlowLog.portScanSuspects(
            FlowLogQueries.parsedFlow(spark, sf), minPorts = 10).collect()
          .map(r => (r.getAs[String]("srcaddr"), r.getAs[Long]("n_ports"),
            r.getAs[Long]("n_rejects"))).toSet
        assert(batch.nonEmpty, "vacuous: batch query found no suspects")
        assert(fin === batch,
          s"stream/batch diverged: only-stream=${fin -- batch} only-batch=${batch -- fin}")
        // exactly one ONSET per suspect, fired at the exact crossing
        val onsets = out.filter(_._1 == "ONSET")
        assert(onsets.map(_._2).sorted.toSeq ===
          fin.map(_._1).toSeq.sorted, "onset set != suspect set")
        assert(onsets.forall(_._3 == 10L),
          s"onset must fire at the exact threshold crossing: $onsets")
        // day-key retirement: only the flush sentinel's own key survives
        val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows === 1L,
          s"day keys failed to retire: $stateRows state rows after flush")
      } finally q2.stop()
    }
  }

  test("streaming beacon-regularity detector (RocksDB): day-close reports equal the batch dispersion aggregation, state retires, survives kill/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.OutputMode
    withRocksDb {
      val dir = tempDir("flowlog_bcstream")
      val mem = MemoryStream[Array[Byte]]
      def start() = FlowLogStream.streamBeaconRegularity(mem.toDF(),
          minFlows = 5, watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      val chunks = fixtureEnvelopeChunks(4)
      val q1 = start()
      mem.addData(chunks(0)); q1.processAllAvailable()
      mem.addData(chunks(1)); q1.processAllAvailable()
      q1.stop() // kill: (last_s, n, Σg, Σg²) summaries live only in state
      val q2 = start()
      try {
        chunks.drop(2).foreach { c => mem.addData(c); q2.processAllAvailable() }
        mem.addData(flushEnvelope()); q2.processAllAvailable()
        val fin = spark.read.parquet(s"$dir/out").collect()
          .map(r => (r.getAs[String]("srcaddr"), r.getAs[Long]("dstport"),
            r.getAs[Long]("n_flows"), r.getAs[Long]("span_s"),
            r.getAs[Long]("dispersion"))).toSet
        // batch twin: the declared flowlog_beacon_regularity aggregation
        // WITHOUT its final top-10 limit (ranking is the reading query's
        // job in the streaming shape)
        val f = FlowLogQueries.parsedFlow(spark, sf)
          .filter(col("log_status") === "OK")
          .select(col("srcaddr"), col("dstport").cast("long").as("dstport"),
            col("start_ts").cast("long").as("start_s"))
        val w = Window.partitionBy(col("srcaddr"), col("dstport"))
          .orderBy(col("start_s").asc)
        val batch = f
          .withColumn("gap", col("start_s") - lag(col("start_s"), 1).over(w))
          .groupBy(col("srcaddr"), col("dstport"))
          .agg(count(lit(1)).as("n_flows"), sum(col("gap")).as("span_s"),
            sum(col("gap") * col("gap")).as("ss"))
          .filter(col("n_flows") >= 5)
          .select(col("srcaddr"), col("dstport"), col("n_flows"), col("span_s"),
            ((col("n_flows") - lit(1L)) * col("ss") -
              col("span_s") * col("span_s")).as("dispersion"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        assert(batch.nonEmpty, "vacuous: no qualifying channels in batch")
        assert(fin === batch,
          s"stream/batch diverged: only-stream=${(fin -- batch).take(3)} " +
            s"only-batch=${(batch -- fin).take(3)}")
        // the declared query's top-10 is a rank-and-limit over exactly
        // these rows — pin the containment so the twin claim is honest
        val declared = graft.SparkEntry.queries("flowlog_beacon_regularity")(
            spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        assert(declared.subsetOf(fin),
          s"declared top-10 not contained in stream reports: ${declared -- fin}")
        val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows === 1L,
          s"day keys failed to retire: $stateRows state rows after flush")
      } finally q2.stop()
    }
  }

  test("streaming exfil-ratio monitor (RocksDB): day-close reports equal the declared batch query, state retires, survives kill/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    withRocksDb {
      val dir = tempDir("flowlog_exstream")
      val mem = MemoryStream[Array[Byte]]
      def start() = FlowLogStream.streamExfilRatio(mem.toDF(),
          watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      val chunks = fixtureEnvelopeChunks(4)
      val q1 = start()
      mem.addData(chunks(0)); q1.processAllAvailable()
      mem.addData(chunks(1)); q1.processAllAvailable()
      q1.stop() // kill: the byte sums live only in RocksDB state
      val q2 = start()
      try {
        chunks.drop(2).foreach { c => mem.addData(c); q2.processAllAvailable() }
        // exfil's watermark tracks the extension-carrying population
        // (filters push below the watermark node), so the flush sentinel
        // must itself be a v5 line — its own (subnet, day-31) key stays
        // pending in state afterwards
        val fs = 1704067200L + 30L * 86400L
        mem.addData(envelope(999999,
          s"5 123456789012 eni-zz 10.9.9.9 10.9.9.8 1 2 6 1 1 $fs ${fs + 1} " +
            "ACCEPT OK vpc-z subnet-z i-z 0 IPv4 10.9.9.9 10.9.9.8 " +
            "us-east-1 use1-az1 - - - - egress 1"))
        q2.processAllAvailable()
        val fin = spark.read.parquet(s"$dir/out").collect()
          .map(r => (r.getAs[String]("subnet"), r.getAs[Long]("ingress_bytes"),
            r.getAs[Long]("egress_bytes"), r.getAs[Long]("n_flows"),
            r.getAs[Double]("exfil_ratio"))).toSet
        // all sf0.001 flows are day 1, so the day-scoped FINAL reports are
        // exactly the declared batch query's rows (the v5 flush sentinel
        // lives on day 31 and stays pending, so it never reports)
        val batch = graft.SparkEntry.queries("flowlog_exfil_ratio")(spark, sf)
          .collect()
          .map(r => (r.getAs[String]("subnet"), r.getAs[Long]("ingress_bytes"),
            r.getAs[Long]("egress_bytes"), r.getAs[Long]("n_flows"),
            r.getAs[Double]("exfil_ratio"))).toSet
        assert(batch.nonEmpty, "vacuous: batch exfil query found no subnets")
        assert(fin === batch,
          s"stream/batch diverged: only-stream=${(fin -- batch).take(3)} " +
            s"only-batch=${(batch -- fin).take(3)}")
        // day-1 keys retire; only the sentinel's own day-31 key survives
        val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows === 1L,
          s"day keys failed to retire: $stateRows state rows after flush")
      } finally q2.stop()
    }
  }

  test("exfil subnets are the destination's first three octets: 10.1.9.x and 10.9.9.x report apart, batch and stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val s0 = 1704067200L
    def v5(id: Int, dst: String, bytes: Long, s: Long, direction: String) =
      envelope(id, s"5 123456789012 eni-a 10.0.0.1 $dst 1 2 6 1 $bytes $s ${s + 1} " +
        s"ACCEPT OK vpc-a subnet-a i-a 0 IPv4 10.0.0.1 $dst us-east-1 use1-az1 " +
        s"- - - - $direction 1")
    val day1 = Seq(v5(1, "10.1.9.8", 100L, s0 + 10, "ingress"),
      v5(2, "10.1.9.7", 50L, s0 + 20, "egress"),
      v5(3, "10.9.9.8", 200L, s0 + 30, "ingress"),
      v5(4, "10.9.9.7", 70L, s0 + 40, "egress"))
    val want = Set(("10.1.9", 100L, 50L, 2L), ("10.9.9", 200L, 70L, 2L))
    val batch = FlowLog.exfilRatio(FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(
        day1.toDF("value")))).collect()
      .map(r => (r.getAs[String]("subnet"), r.getAs[Long]("ingress_bytes"),
        r.getAs[Long]("egress_bytes"), r.getAs[Long]("n_flows"))).toSet
    assert(batch === want)
    val dir = tempDir("flowlog_exsubnet")
    val mem = MemoryStream[Array[Byte]]
    val q = FlowLogStream.streamExfilRatio(mem.toDF(), watermark = "30 minutes")
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(day1); q.processAllAvailable()
      // a later-day v5 line advances the watermark past day 1's end
      mem.addData(v5(5, "10.1.9.8", 1L, s0 + 2L * 86400L, "egress"))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getAs[String]("subnet"), r.getAs[Long]("ingress_bytes"),
        r.getAs[Long]("egress_bytes"), r.getAs[Long]("n_flows"))).toSet
    assert(stream === want)
  }

  test("streaming ECS service-traffic monitor (RocksDB): FINAL equals the v7 batch query, one byte-budget onset per crossing service, state retires, survives kill/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    // ~half the 21 (cluster, service) day cells sit above this at
    // sf0.001 (≈4.8 v7 rows ≈ 12k bytes per cell) — both onset branches
    // fire (the vacuity rule)
    val minBytes = 12000L
    withRocksDb {
      val dir = tempDir("flowlog_ecsstream")
      val mem = MemoryStream[Array[Byte]]
      def start() = FlowLogStream.streamEcsServiceTraffic(mem.toDF(),
          minBytes = minBytes, watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      val chunks = fixtureEnvelopeChunks(4)
      val q1 = start()
      mem.addData(chunks(0)); q1.processAllAvailable()
      mem.addData(chunks(1)); q1.processAllAvailable()
      q1.stop() // kill: totals + the task set live only in RocksDB state
      val q2 = start()
      try {
        chunks.drop(2).foreach { c => mem.addData(c); q2.processAllAvailable() }
        // the detector's watermark tracks the v7 service population
        // (filter pushdown below the watermark node), so the flush
        // sentinel must itself be a 39-token v7 service line — its own
        // (cluster, service, day-31) key stays pending afterwards
        val fs = 1704067200L + 30L * 86400L
        mem.addData(envelope(999999,
          s"7 123456789012 eni-zz 10.9.9.9 10.9.9.8 1 2 6 1 1 $fs ${fs + 1} " +
            "ACCEPT OK vpc-z subnet-z i-z 0 IPv4 10.9.9.9 10.9.9.8 " +
            "us-east-1 use1-az1 - - - - egress 1 " +
            "arn:aws:ecs:us-east-1:1:cluster/z graft-z " +
            "arn:aws:ecs:us-east-1:1:container-instance/ci-z ci-z cont-z - " +
            "svc-zz arn:aws:ecs:us-east-1:1:task-definition/z:1 " +
            "arn:aws:ecs:us-east-1:1:task/z/task-zz task-zz"))
        q2.processAllAvailable()
        val outRows = spark.read.parquet(s"$dir/out").collect()
        val fin = outRows.filter(_.getAs[String]("kind") == "FINAL")
          .map(r => (r.getAs[String]("ecs_cluster_name"),
            r.getAs[String]("ecs_service_name"), r.getAs[Long]("n_flows"),
            r.getAs[Long]("total_bytes"), r.getAs[Long]("n_tasks"))).toSet
        // all sf0.001 flows are day 1, so the day-scoped FINAL reports
        // are exactly the declared batch query's rows
        val batch = graft.SparkEntry
          .queries("flowlog_ecs_service_traffic")(spark, sf).collect()
          .map(r => (r.getAs[String]("ecs_cluster_name"),
            r.getAs[String]("ecs_service_name"), r.getAs[Long]("n_flows"),
            r.getAs[Long]("total_bytes"), r.getAs[Long]("n_tasks"))).toSet
        assert(batch.nonEmpty, "vacuous: batch ECS query found no services")
        assert(fin === batch,
          s"stream/batch diverged: only-stream=${(fin -- batch).take(3)} " +
            s"only-batch=${(batch -- fin).take(3)}")
        // exactly one ONSET per cell whose day total crossed minBytes —
        // the day closed, so crossing ⇔ final total ≥ minBytes
        val onsets = outRows.filter(_.getAs[String]("kind") == "ONSET")
        val onsetKeys = onsets.map(r => (r.getAs[String]("ecs_cluster_name"),
          r.getAs[String]("ecs_service_name"))).toSet
        assert(onsets.length === onsetKeys.size, "duplicate ONSET for a key")
        val crossed = batch.filter(_._4 >= minBytes).map(b => (b._1, b._2))
        assert(crossed.nonEmpty && crossed.size < batch.size,
          s"minBytes=$minBytes is vacuous: ${crossed.size}/${batch.size} cells crossed")
        assert(onsetKeys === crossed,
          s"onset keys diverged from crossing cells: only-onset=" +
            s"${(onsetKeys -- crossed).take(3)} missed=${(crossed -- onsetKeys).take(3)}")
        // an onset reports the state AS OF the crossing row — within the
        // day's final bounds and at-or-above the threshold
        val finByKey = batch.map(b => (b._1, b._2) -> b).toMap
        onsets.foreach { r =>
          val k = (r.getAs[String]("ecs_cluster_name"),
            r.getAs[String]("ecs_service_name"))
          val f = finByKey(k)
          assert(r.getAs[Long]("total_bytes") >= minBytes)
          assert(r.getAs[Long]("total_bytes") <= f._4)
          assert(r.getAs[Long]("n_flows") <= f._3)
          assert(r.getAs[Long]("n_tasks") <= f._5)
        }
        // day-1 keys retire; only the sentinel's own day-31 key survives
        val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows === 1L,
          s"day keys failed to retire: $stateRows state rows after flush")
      } finally q2.stop()
    }
  }

  test("streaming refined SYN-scan detector (RocksDB): FINAL equals the tcp_flags batch query, one onset per scanner at the exact crossing, state retires, survives kill/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    withRocksDb {
      val dir = tempDir("flowlog_ssstream")
      val mem = MemoryStream[Array[Byte]]
      def start() = FlowLogStream.streamSynScanRefined(mem.toDF(),
          minPorts = 5, watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      val chunks = fixtureEnvelopeChunks(4)
      val q1 = start()
      mem.addData(chunks(0)); q1.processAllAvailable()
      mem.addData(chunks(1)); q1.processAllAvailable()
      q1.stop() // kill: port sets + counters + alerted flags live only in state
      val q2 = start()
      try {
        chunks.drop(2).foreach { c => mem.addData(c); q2.processAllAvailable() }
        // the detector's watermark tracks the tcp_flags-carrying population
        // (filter pushdown below the watermark node), so the flush sentinel
        // must itself be a v5 line; tcp_flags=0 keeps it out of the SYN
        // population while still advancing the clock — its own
        // (srcaddr, day-31) key stays pending in state afterwards
        val fs = 1704067200L + 30L * 86400L
        mem.addData(envelope(999999,
          s"5 123456789012 eni-zz 10.9.9.9 10.9.9.8 1 2 6 1 1 $fs ${fs + 1} " +
            "ACCEPT OK vpc-z subnet-z i-z 0 IPv4 10.9.9.9 10.9.9.8 " +
            "us-east-1 use1-az1 - - - - egress 1"))
        q2.processAllAvailable()
        val outRows = spark.read.parquet(s"$dir/out").collect()
        val fin = outRows.filter(_.getAs[String]("kind") == "FINAL")
          .map(r => (r.getAs[String]("srcaddr"), r.getAs[Long]("n_syn_ports"),
            r.getAs[Long]("n_syn_flows"), r.getAs[Long]("n_syn_rejects"),
            r.getAs[Long]("n_flows"))).toSet
        // all sf0.001 flows are day 1, so the day-scoped FINAL reports are
        // exactly the declared batch query's rows
        val batch = graft.SparkEntry
          .queries("flowlog_syn_scan_refined")(spark, sf).collect()
          .map(r => (r.getAs[String]("srcaddr"), r.getAs[Long]("n_syn_ports"),
            r.getAs[Long]("n_syn_flows"), r.getAs[Long]("n_syn_rejects"),
            r.getAs[Long]("n_flows"))).toSet
        assert(batch.nonEmpty, "vacuous: batch SYN-scan query found no scanners")
        assert(fin === batch,
          s"stream/batch diverged: only-stream=${(fin -- batch).take(3)} " +
            s"only-batch=${(batch -- fin).take(3)}")
        // exactly one ONSET per scanner, fired at the exact port-count
        // crossing (each SYN row adds at most one new port)
        val onsets = outRows.filter(_.getAs[String]("kind") == "ONSET")
        assert(onsets.map(_.getAs[String]("srcaddr")).sorted.toSeq ===
          fin.map(_._1).toSeq.sorted, "onset set != scanner set")
        assert(onsets.forall(_.getAs[Long]("n_syn_ports") == 5L),
          s"onset must fire at the exact threshold crossing")
        // an onset reports the state AS OF the crossing row
        val finByKey = batch.map(b => b._1 -> b).toMap
        onsets.foreach { r =>
          val f = finByKey(r.getAs[String]("srcaddr"))
          assert(r.getAs[Long]("n_syn_flows") <= f._3)
          assert(r.getAs[Long]("n_syn_rejects") <= f._4)
          assert(r.getAs[Long]("n_flows") <= f._5)
        }
        // day-1 keys retire; only the sentinel's own day-31 key survives
        val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows === 1L,
          s"day keys failed to retire: $stateRows state rows after flush")
      } finally q2.stop()
    }
  }

  test("refined SYN-scan detector output is invariant to micro-batch chunking (event-time determinism)") {
    // Same contract as the port-scan chunking test: ONSET timestamps and
    // as-of-crossing counts are a pure function of event-time content —
    // the strictly-below-watermark sorted fold makes arrival batching
    // invisible (the streamCusum rule on the new handler).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    def runWith(nChunks: Int): Set[List[Any]] = {
      val dir = tempDir(s"flowlog_sschunk$nChunks")
      val mem = MemoryStream[Array[Byte]]
      val q = FlowLogStream.streamSynScanRefined(mem.toDF(), minPorts = 5,
          watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      try {
        fixtureEnvelopeChunks(nChunks).foreach { c =>
          mem.addData(c); q.processAllAvailable()
        }
        spark.read.parquet(s"$dir/out").collect().map(_.toSeq.toList).toSet
      } finally q.stop()
    }
    val a = runWith(3)
    val b = runWith(7)
    assert(a.nonEmpty, "vacuous: no detector output")
    assert(a === b,
      s"chunking changed the output: only-3=${(a -- b).take(3)} only-7=${(b -- a).take(3)}")
  }

  test("port-scan detector output is invariant to micro-batch chunking (event-time determinism)") {
    // The detector's contract: output — including every ONSET's timestamp
    // and counts — is a pure function of the event-time CONTENT of the
    // stream, never of how arrival happened to batch (in-contract
    // arrival, the cusum rule). Two runs over the same fixture with
    // different chunk counts and different within-chunk shuffles must be
    // row-identical.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    def runWith(nChunks: Int): Set[List[Any]] = {
      val dir = tempDir(s"flowlog_pschunk$nChunks")
      val mem = MemoryStream[Array[Byte]]
      val q = FlowLogStream.streamPortScan(mem.toDF(), minPorts = 10,
          watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      try {
        fixtureEnvelopeChunks(nChunks).foreach { c =>
          mem.addData(c); q.processAllAvailable()
        }
        mem.addData(flushEnvelope()); q.processAllAvailable()
        spark.read.parquet(s"$dir/out").collect()
          .map(_.toSeq.toList).toSet
      } finally q.stop()
    }
    val a = runWith(3)
    val b = runWith(7)
    assert(a.nonEmpty, "vacuous: no detector output")
    assert(a === b,
      s"chunking changed the output: only-3=${(a -- b).take(3)} only-7=${(b -- a).take(3)}")
  }

  test("port-scan ONSET counts do not depend on the arrival order of flows equal on (ts, dstport)") {
    // A REJECT and an ACCEPT flow from one source to the same new port in
    // the same second cross minPorts = 2 together: whichever folds first is
    // the crossing row, so its n_rejects must come from the fold order,
    // not from which of the two arrived first.
    val key = ("10.0.0.7", new java.sql.Timestamp(0L))
    val first = FlowLogStream.PsPend(1000L, 80, reject = false)
    val (rej, acc) = (FlowLogStream.PsPend(2000L, 443, reject = true),
      FlowLogStream.PsPend(2000L, 443, reject = false))
    val fold = FlowLogStream.portScanFold(minPorts = 2)
    def onsets(rows: FlowLogStream.PsPend*) =
      fold.step(key, None, rows.iterator, 5000L).out.filter(_.kind == "ONSET")
    val a = onsets(first, rej, acc)
    assert(a.size === 1, s"vacuous: $a")
    assert(onsets(first, acc, rej) === a)
  }

  test("ECS service monitor output is invariant to micro-batch chunking (event-time determinism)") {
    // Same contract as the port-scan chunking test: ONSET timestamps and
    // as-of-crossing counts are a pure function of event-time content —
    // the strictly-below-watermark (ts, task, bytes)-sorted fold makes
    // arrival batching invisible (the streamCusum rule on the new handler).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    def runWith(nChunks: Int): Set[List[Any]] = {
      val dir = tempDir(s"flowlog_ecschunk$nChunks")
      val mem = MemoryStream[Array[Byte]]
      val q = FlowLogStream.streamEcsServiceTraffic(mem.toDF(),
          minBytes = 12000L, watermark = "30 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      try {
        fixtureEnvelopeChunks(nChunks).foreach { c =>
          mem.addData(c); q.processAllAvailable()
        }
        spark.read.parquet(s"$dir/out").collect().map(_.toSeq.toList).toSet
      } finally q.stop()
    }
    val a = runWith(3)
    val b = runWith(7)
    assert(a.nonEmpty, "vacuous: no detector output")
    assert(a === b,
      s"chunking changed the output: only-3=${(a -- b).take(3)} only-7=${(b -- a).take(3)}")
  }

  test("streaming rejected-traffic report over decoded envelopes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Array[Byte]]
    val parsed = FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(mem.toDF()))
    val report = parsed
      .filter(col("action") === "REJECT")
      .withWatermark("start_ts", "1 hour")
      .groupBy(window(col("start_ts"), "1 hour"), col("interface_id"))
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("bytes"))
    val q = report.writeStream.format("memory").queryName("stream_rejects")
      .outputMode("complete").start()
    try {
      mem.addData(Seq(
        envelope(1, "2 1 eni-a 10.0.0.1 10.0.0.2 443 80 6 1 100 1704067140 1704067200 REJECT OK"),
        envelope(2, "2 1 eni-a 10.0.0.3 10.0.0.2 443 81 6 1 150 1704067145 1704067200 REJECT OK"),
        envelope(3, "2 1 eni-b 10.0.0.1 10.0.0.2 443 82 6 1 999 1704067150 1704067200 ACCEPT OK")))
      q.processAllAvailable()
      val rows = spark.table("stream_rejects").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[String]("interface_id") === "eni-a")
      assert(rows.head.getAs[Long]("n") === 2L)
      assert(rows.head.getAs[Long]("bytes") === 250L)
    } finally q.stop()
  }
}
