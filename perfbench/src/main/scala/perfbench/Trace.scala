package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed call the benchmark made into the program. `op` names the query
  * execution or micro-batch the span belongs to; `parent` is 0 for a root. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, var endNs: Long)

/** Spans kept in memory; written out once, when the run ends. */
final class Spans(t0: Long) {
  private val buf = ArrayBuffer.empty[Span]

  def begin(name: String, op: String, parent: Int = 0): Int = {
    buf += Span(buf.size + 1, parent, name, op, System.nanoTime(), 0L)
    buf.size
  }
  def end(id: Int): Span = { val s = buf(id - 1); s.endNs = System.nanoTime(); s }

  def time[T](name: String, op: String, parent: Int = 0)(body: => T): T = {
    val id = begin(name, op, parent)
    try body finally end(id)
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = buf.iterator.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    (s.endNs - s.startNs - Spans.covered(kids, s.startNs, s.endNs)) / 1e6
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = buf.iterator.map { s =>
      Main.json.writeValueAsString(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> selfMs(s)))
    }.toSeq
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans {
  /** Length of the union of the intervals, clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var curS, curE = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

final case class JobRec(jobId: Int, group: String, startMs: Long)
final case class StageRec(stageId: Int, startMs: Long, endMs: Long,
    tasks: Int, cpuNs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long)

/** Records jobs, completed stages and SQL executions as the scheduler reports
  * them. Attribution to spans happens after the run
  * (by job group for batch queries, by time window for micro-batches). */
final class LayerListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  /** (start time ms, store dirs named in the physical plan) */
  val sqlStarts = new ConcurrentLinkedQueue[(Long, Set[String])]()
  @volatile var busyNs = 0L

  private val storeRef = "file:(/[^\\],\\s]*?/graft_[A-Za-z0-9_\\-]+)".r

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    busyNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.add(JobRec(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    stages.add(StageRec(si.stageId, si.submissionTime.getOrElse(end), end,
      si.numTasks,
      if (tm == null) 0L else tm.executorCpuTime,
      if (tm == null) 0L else tm.jvmGCTime,
      if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      val dirs = storeRef.findAllMatchIn(s.physicalPlanDescription)
        .map(_.group(1)).toSet
      sqlStarts.add((s.time, dirs))
    }
    case _ =>
  }
}

/** Streaming progress of every micro-batch, as Structured Streaming reports it. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
