package perfbench

/** Every per-layer metric a traced run reports, with its unit. A workload
  * that does not exercise a layer reports it as 0 (the stream and sink
  * layers on the query workloads, store and batch planning on ingest). */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.driver_gap_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "store.builds" -> "count", "store.build_mb" -> "MB",
    "store.hits" -> "count", "store.build_ms" -> "ms",
    "flowlog.decode_ms" -> "ms", "flowlog.parse_ms" -> "ms",
    "flowlog.quarantined_lines" -> "count") ++
    Ingest.Queries.flatMap(q => Seq(
      s"stream.$q.trigger_ms" -> "ms", s"stream.$q.add_batch_ms" -> "ms",
      s"stream.$q.query_planning_ms" -> "ms", s"stream.$q.wal_commit_ms" -> "ms",
      s"stream.$q.batches" -> "count", s"stream.$q.jobs" -> "count",
      s"stream.$q.state_rows" -> "rows",
      s"stream.$q.state_mb" -> "MB", s"stream.$q.state_commit_ms" -> "ms",
      s"stream.$q.dropped_by_watermark" -> "rows")) ++ Seq(
    "sink.files" -> "count", "sink.mb" -> "MB", "sink.bytes_per_line" -> "B",
    "trace.listener_ms" -> "ms")

  def complete(m: Map[String, (Double, String)]): Map[String, (Double, String)] =
    all.map { case (k, u) => k -> m.get(k).map(v => (v._1, u)).getOrElse((0.0, u)) }.toMap
}
