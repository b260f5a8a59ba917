package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.flowlog.{FlowLog, FlowLogStream}
import perfbench.Main.{Conf, Op, Outcome}

/** The `ingest` workload: the paper's pipeline on a replayed Kinesis backlog.
  *
  * Closed loop, one consumer: the benchmark adds one fixed-size micro-batch
  * of envelopes, waits until all four queries have committed it, then adds
  * the next. Each query reads its own MemoryStream holding the same payloads
  * (one Kinesis consumer per application):
  *   - `sink`: decode → parse → `withDatePartitions` → dt/hr Parquet;
  *   - `port_scan`, `beacon`, `exfil`: the `FlowLogStream` detectors, their
  *     alerts appended to Parquet.
  */
object Ingest {
  val Queries: Seq[String] = Seq("sink", "port_scan", "beacon", "exfil")
  val WarmBatches = 4

  final case class Pipeline(mems: Seq[MemoryStream[Array[Byte]]],
      queries: Seq[StreamingQuery])

  def start(spark: SparkSession, root: Path, spans: Option[Spans]): Pipeline = {
    val sqlCtx = spark.sqlContext
    val mems = Queries.map(_ => MemoryStream[Array[Byte]](Encoders.BINARY, sqlCtx))
    def out(q: String, df: DataFrame) = df.writeStream.format("parquet")
      .queryName(q)
      .option("path", root.resolve(s"out/$q").toString)
      .option("checkpointLocation", root.resolve(s"ckpt/$q").toString)
      .outputMode(OutputMode.Append())
    def build[T](q: String)(body: => T): T =
      spans.fold(body)(_.time("entry.build", s"stream:$q")(body))
    val writers = Seq(
      build("sink") {
        out("sink", FlowLog.withDatePartitions(FlowLog.parseFlowLogs(
          FlowLog.decodeEnvelopes(mems(0).toDF())))).partitionBy("dt", "hr")
      },
      build("port_scan") { out("port_scan", FlowLogStream.streamPortScan(mems(1).toDF()).toDF()) },
      build("beacon") { out("beacon", FlowLogStream.streamBeaconRegularity(mems(2).toDF()).toDF()) },
      build("exfil") { out("exfil", FlowLogStream.streamExfilRatio(mems(3).toDF()).toDF()) })
    Pipeline(mems, writers.map(_.start()))
  }

  def feed(p: Pipeline, b: FlowGen.Batch): Unit = {
    p.mems.foreach(_.addData(b.payloads.toSeq))
    p.queries.foreach(_.processAllAvailable())
  }

  def run(spark: SparkSession, conf: Conf): Outcome = {
    val root = conf.dataRoot.resolve("ingest")
    val spans = if (conf.trace) Some(new Spans(System.nanoTime())) else None
    val listener = new LayerListener
    val progressListener = new ProgressListener
    if (conf.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(progressListener)
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    // The generator is the benchmark's own input, not the program: each batch
    // is made when the loop needs it, and its time and CPU are kept out of
    // setup_s and of the timed loop.
    val gen = new FlowGen(conf.seed)
    var genNs = 0L
    var genCpu = 0.0
    val fed = scala.collection.mutable.ArrayBuffer.empty[FlowGen.Batch]
    def generate(i: Int): FlowGen.Batch = {
      val t = System.nanoTime()
      val c = Main.cpuSeconds()
      val b = gen.batch(i)
      genNs += System.nanoTime() - t
      genCpu += Main.cpuSeconds() - c
      fed += b
      b
    }

    // Set-up: start the four queries and feed the warm-up batches.
    val buildT0 = System.nanoTime()
    val p = start(spark, root, spans)
    val buildMs = (System.nanoTime() - buildT0) / 1e6
    (0 until WarmBatches).foreach(i => feed(p, generate(i)))
    val warmBatchIds = p.queries.map(q => q.name -> q.lastProgress.batchId).toMap
    val setupS = (System.currentTimeMillis() - conf.t0) / 1000.0 - genNs / 1e9
    val sinkDir = root.resolve("out/sink")
    val sinkBefore = sinkFiles(sinkDir)

    val ops = Seq.newBuilder[Op]
    val windows = Seq.newBuilder[(Long, Long, Double)]
    val w0 = Main.writtenBytes()
    val c0 = Main.cpuSeconds()
    val (genNs0, genCpu0) = (genNs, genCpu)
    val t0 = System.nanoTime()
    def timedNs = System.nanoTime() - t0 - (genNs - genNs0)
    var i = WarmBatches
    while (timedNs / 1e9 < conf.seconds) {
      val op = s"batch:$i"
      val b = generate(i)
      val startMs = System.currentTimeMillis()
      val b0 = System.nanoTime()
      val ok =
        try {
          spans match {
            case None => feed(p, b)
            case Some(s) =>
              val r = s.begin("op", op)
              s.time("add", op, r)(p.mems.foreach(_.addData(b.payloads.toSeq)))
              p.queries.foreach(q => s.time(s"commit.${q.name}", op, r)(q.processAllAvailable()))
              s.end(r)
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $op FAILED: ${e.getMessage}"); false }
      val ms = (System.nanoTime() - b0) / 1e6
      ops += Op(op, ms, ok)
      windows += ((startMs, System.currentTimeMillis(), ms))
      i += 1
    }
    val timedS = timedNs / 1e9
    val written = Main.writtenBytes() - w0
    val cpu = Main.cpuSeconds() - c0 - (genCpu - genCpu0)
    val timedBatchIds = p.queries.map(q => q.name -> q.lastProgress.batchId).toMap
    val sinkAfter = sinkFiles(sinkDir)

    // Untimed: close every day, then check the outputs.
    val flush = gen.flush(i - 1)
    val checkT0 = System.nanoTime()
    val checks =
      try { feed(p, flush); check(spark, root, p, fed.toSeq :+ flush) }
      catch { case e: Throwable => Seq(s"flush failed: ${e.getMessage}") }
    val checkS = (System.nanoTime() - checkT0) / 1e9
    checks.foreach(c => System.err.println(s"[perfbench] ingest check failed: $c"))
    p.queries.foreach(_.stop())

    val opsSeq = ops.result()
    val linesPerOp = FlowGen.LinesPerBatch
    val layers = if (!conf.trace) Map.empty[String, (Double, String)] else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val l = streamLayers(progressListener.progress.asScala.toSeq.groupBy(_.name),
          warmBatchIds, timedBatchIds, opsSeq.size) ++
        execLayers(listener, windows.result()) ++
        sinkLayers(sinkBefore, sinkAfter, opsSeq.size, linesPerOp) ++
        streamJobs(listener, p, windows.result(), opsSeq.size) ++
        Map("entry.build_ms" -> (buildMs, "ms"),
          "trace.listener_ms" -> (listener.busyNs / 1e6 / math.max(1, opsSeq.size), "ms")) ++
        flowlogProbe(spark, conf, spans.get)
      conf.traceFile.foreach(spans.get.write)
      Layers.complete(l)
    }
    // a failed output check is a wrong answer: count each as a failed op
    val failedChecks = checks.map(c => Op(s"check:$c", 0.0, ok = false))
    Outcome(opsSeq ++ failedChecks, timedS, written, cpu, layers,
      Map("setup_s" -> setupS, "generate_s" -> genNs / 1e9, "check_s" -> checkS,
        "batch_lines" -> linesPerOp,
        "warm_batches" -> WarmBatches, "timed_batches" -> opsSeq.size,
        "batch_ms" -> opsSeq.map(o => math.round(o.ms)),
        "lines_per_s" -> opsSeq.count(_.ok) * linesPerOp / timedS,
        "loop" -> "closed, one consumer, 4 queries",
        "ground_truth" -> Map("lines" -> fed.map(_.lines).sum,
          "quarantined" -> fed.map(_.quarantined).sum,
          "bytes" -> fed.map(_.bytesSum).sum)),
      checksOk = checks.isEmpty)
  }

  private def sinkFiles(dir: Path): Map[Path, Long] = if (!Files.exists(dir)) Map.empty else {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => f -> Files.size(f)).toMap
    finally s.close()
  }

  /** Output checks. Returns the failed ones. */
  def check(spark: SparkSession, root: Path, p: Pipeline,
      fed: Seq[FlowGen.Batch]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$what: got $got, want $want"

    val sink = spark.read.parquet(root.resolve("out/sink").toString)
    val r = sink.agg(count(lit(1)), count(col("parse_error")),
      coalesce(sum(col("bytes")), lit(0L))).head()
    expect("sink lines", r.getLong(0), fed.map(_.lines.toLong).sum)
    expect("sink quarantined", r.getLong(1), fed.map(_.quarantined.toLong).sum)
    expect("sink bytes", r.getLong(2), fed.map(_.bytesSum).sum)

    val dropped = p.queries.flatMap(_.recentProgress)
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    expect("dropped_by_watermark", dropped, 0L)

    // Each detector's FINAL rows equal a batch aggregation of the same lines.
    import spark.implicits._
    val all = fed.flatMap(_.payloads).toDF("value")
    val parsed = FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(all)).cache()
    val lastDay = parsed.agg(max(to_date(col("start_ts")))).head().getDate(0)
    val closed = parsed.filter(to_date(col("start_ts")) < lit(lastDay))
      .withColumn("day", date_trunc("DAY", col("start_ts")))
    def out(q: String) = spark.read.parquet(root.resolve(s"out/$q").toString)
    def same(q: String, got: DataFrame, want: DataFrame): Unit = {
      val g = got.collect().map(_.toSeq).toSet
      val w = want.collect().map(_.toSeq).toSet
      if (w.isEmpty) bad += s"$q: batch twin found no rows"
      if (g != w) bad += s"$q FINAL rows differ from batch: only-stream=${(g -- w).take(3)} " +
        s"only-batch=${(w -- g).take(3)}"
    }
    same("port_scan",
      out("port_scan").filter(col("kind") === "FINAL")
        .select(col("srcaddr"), col("day"), col("n_ports"), col("n_rejects"), col("n_flows")),
      closed.filter(col("parse_error").isNull && col("dstport").isNotNull &&
          col("srcaddr").isNotNull)
        .groupBy(col("srcaddr"), col("day"))
        .agg(countDistinct(col("dstport")).as("n_ports"),
          sum(when(col("action") === "REJECT", 1L).otherwise(0L)).as("n_rejects"),
          count(lit(1)).as("n_flows"))
        .filter(col("n_ports") >= 10))
    val bw = Window.partitionBy(col("srcaddr"), col("dstport"), col("day"))
      .orderBy(col("s"))
    same("beacon",
      out("beacon").select(col("srcaddr"), col("dstport"), col("day"),
        col("n_flows"), col("span_s"), col("dispersion")),
      closed.filter(col("log_status") === "OK" && col("parse_error").isNull &&
          col("dstport").isNotNull)
        .select(col("srcaddr"), col("dstport").cast("long").as("dstport"), col("day"),
          unix_timestamp(col("start_ts")).as("s"))
        .withColumn("g", col("s") - lag(col("s"), 1).over(bw))
        .groupBy(col("srcaddr"), col("dstport"), col("day"))
        .agg(count(lit(1)).as("n_flows"),
          (max(col("s")) - min(col("s"))).as("span_s"),
          coalesce(sum(col("g") * col("g")), lit(0L)).as("ss"))
        .filter(col("n_flows") >= 5)
        .select(col("srcaddr"), col("dstport"), col("day"), col("n_flows"),
          col("span_s"), ((col("n_flows") - 1) * col("ss") -
            col("span_s") * col("span_s")).as("dispersion")))
    same("exfil",
      out("exfil").select(col("subnet"), col("day"), col("ingress_bytes"),
        col("egress_bytes"), col("n_flows")),
      closed.filter(col("flow_direction").isNotNull)
        .groupBy(concat(lit("10.1."), element_at(split(col("dstaddr"), "\\."), 3))
          .as("subnet"), col("day"))
        .agg(sum(when(col("flow_direction") === "ingress", col("bytes")).otherwise(0L))
            .as("ingress_bytes"),
          sum(when(col("flow_direction") === "egress", col("bytes")).otherwise(0L))
            .as("egress_bytes"),
          count(lit(1)).as("n_flows"))
        .filter(col("ingress_bytes") > 0 && col("egress_bytes") > 0))
    parsed.unpersist()
    bad.result()
  }

  /** stream.<q>.* means per timed micro-batch, from the progress reports of
    * the batches each query ran during the timed loop. */
  def streamLayers(progress: Map[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]],
      from: Map[String, Long], to: Map[String, Long], ops: Int): Map[String, (Double, String)] = {
    val n = math.max(1, ops).toDouble
    Queries.flatMap { q =>
      val ps = progress.getOrElse(q, Nil).filter(pr => pr.batchId > from(q) && pr.batchId <= to(q))
      def d(k: String) = ps.map(pr => Option(pr.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / n
      val st = ps.flatMap(_.stateOperators)
      val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      Seq(
        s"stream.$q.trigger_ms" -> (d("triggerExecution"), "ms"),
        s"stream.$q.add_batch_ms" -> (d("addBatch"), "ms"),
        s"stream.$q.query_planning_ms" -> (d("queryPlanning"), "ms"),
        s"stream.$q.wal_commit_ms" -> (d("walCommit"), "ms"),
        s"stream.$q.batches" -> (ps.size / n, "count"),
        s"stream.$q.state_rows" -> (last.map(_.numRowsTotal).sum.toDouble, "rows"),
        s"stream.$q.state_mb" -> (last.map(_.memoryUsedBytes).sum / 1e6, "MB"),
        s"stream.$q.state_commit_ms" -> (st.map(_.commitTimeMs).sum / n, "ms"),
        s"stream.$q.dropped_by_watermark" -> (st.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows"))
    }.toMap
  }

  /** stream.<q>.jobs per micro-batch: Structured Streaming runs each query's
    * jobs under a job group named after the query's run id. */
  def streamJobs(l: LayerListener, p: Pipeline, windows: Seq[(Long, Long, Double)],
      ops: Int): Map[String, (Double, String)] = {
    val jobs = l.jobs.asScala.toSeq
    val (a, b) = (windows.headOption.fold(0L)(_._1), windows.lastOption.fold(0L)(_._2))
    p.queries.map { q =>
      val id = q.runId.toString
      s"stream.${q.name}.jobs" ->
        (jobs.count(j => j.group == id && j.startMs >= a && j.startMs <= b) /
          math.max(1, ops).toDouble, "count")
    }.toMap
  }

  /** exec.* per micro-batch: the jobs and stages that started inside each
    * batch's window (all four queries together). */
  def execLayers(l: LayerListener, windows: Seq[(Long, Long, Double)]): Map[String, (Double, String)] = {
    val jobs = l.jobs.asScala.toSeq
    val stages = l.stages.asScala.toSeq
    val n = math.max(1, windows.size).toDouble
    var nj, ns, nt, cpu, gc, shR, shW, sp, gap, busy = 0.0
    windows.foreach { case (a, b, ms) =>
      nj += jobs.count(j => j.startMs >= a && j.startMs <= b)
      val st = stages.filter(s => s.startMs >= a && s.startMs <= b)
      ns += st.size; nt += st.map(_.tasks).sum
      cpu += st.map(_.cpuNs).sum; gc += st.map(_.gcMs).sum
      shR += st.map(_.shuffleRead).sum; shW += st.map(_.shuffleWrite).sum
      sp += st.map(_.spill).sum
      val covered = Spans.covered(st.map(s => (s.startMs, s.endMs)), a, b)
      busy += covered
      gap += math.max(0.0, ms - covered)
    }
    Map(
      "exec.ms" -> (busy / n, "ms"), "exec.jobs" -> (nj / n, "count"),
      "exec.stages" -> (ns / n, "count"), "exec.tasks" -> (nt / n, "count"),
      "exec.driver_gap_ms" -> (gap / n, "ms"), "exec.task_cpu_ms" -> (cpu / 1e6 / n, "ms"),
      "exec.gc_ms" -> (gc / n, "ms"), "exec.shuffle_read_mb" -> (shR / 1e6 / n, "MB"),
      "exec.shuffle_write_mb" -> (shW / 1e6 / n, "MB"), "exec.spill_mb" -> (sp / 1e6 / n, "MB"))
  }

  def sinkLayers(before: Map[Path, Long], after: Map[Path, Long], ops: Int,
      linesPerOp: Int): Map[String, (Double, String)] = {
    val added = after -- before.keySet
    val bytes = added.values.sum.toDouble
    val n = math.max(1, ops).toDouble
    Map("sink.files" -> (added.size / n, "count"),
      "sink.mb" -> (bytes / 1e6 / n, "MB"),
      "sink.bytes_per_line" -> (bytes / (n * linesPerOp), "B"))
  }

  /** flowlog.*: decode and parse timed as batch `noop` writes over a fixed
    * slice of the seeded replay (median of three), untimed for the run. */
  def flowlogProbe(spark: SparkSession, conf: Conf, spans: Spans): Map[String, (Double, String)] = {
    import spark.implicits._
    val gen = new FlowGen(conf.seed)
    val env = (0 until 10).flatMap(i => gen.batch(i).payloads.toSeq).toDF("value")
    def noop(df: DataFrame, name: String): Double = {
      val t = (0 until 3).map { k =>
        val t0 = System.nanoTime()
        spans.time(name, s"probe:$k")(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e6
      }
      t.sorted.apply(1)
    }
    val decoded = FlowLog.decodeEnvelopes(env)
    val decodeMs = noop(decoded, "flowlog.decode")
    val pinned = decoded.localCheckpoint()
    val parsed = FlowLog.parseFlowLogs(pinned)
    val parseMs = noop(parsed, "flowlog.parse")
    val quarantined = parsed.filter(col("parse_error").isNotNull).count()
    Map("flowlog.decode_ms" -> (decodeMs, "ms"), "flowlog.parse_ms" -> (parseMs, "ms"),
      "flowlog.quarantined_lines" -> (quarantined.toDouble, "count"))
  }
}
