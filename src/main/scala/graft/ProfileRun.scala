package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Ad-hoc stage-level profiler for optimization rounds (guide §1: measure
  * first). Runs named queries under the bench's session shape with a
  * SparkListener that attributes every completed stage to the query that
  * was running, then prints per-query job/stage counts, summed stage wall
  * time, and the top stages by duration. Not part of any gate — a
  * measurement tool only. An unknown query name is skipped with a message.
  *
  * Attribution is approximate: the listener reads the `@volatile current`
  * name when an event arrives on the asynchronous listener bus, so a stage
  * that completes after `current` flips to "between" is counted under
  * "between" (or the next query), which can understate a query's stageSum.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileRun q1 q2 ..."
  */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)

    @volatile var current = "warmup"
    case class StageRec(query: String, name: String, ms: Long, tasks: Int,
      shuffleReadMB: Double, shuffleWriteMB: Double)
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val jobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs(current) += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
        val m = si.taskMetrics
        stages.synchronized {
          stages += StageRec(current, si.name.takeWhile(_ != '\n').take(90),
            ms, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        }
      }
    })

    // same family warmup as Bench so codegen costs don't pollute
    Harness.warmup(spark)

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"$name: unknown query, skipped")
        case Some(fn) =>
          // one untimed pass (indexes/codegen), then the measured pass
          try fn(spark, sfDir).count() catch { case e: Throwable =>
            System.err.println(s"$name FAILED: ${e.getMessage}") }
          spark.catalog.clearCache(); System.gc()
          current = name
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          current = "between"
          spark.catalog.clearCache(); System.gc()
          val ss = stages.synchronized { stages.filter(_.query == name).toSeq }
          println(f"== $name wall=$wall%.3f s jobs=${jobs(name)} stages=${ss.size} " +
            f"stageSum=${ss.map(_.ms).sum / 1000.0}%.3f s")
          ss.sortBy(-_.ms).take(12).foreach { r =>
            println(f"   ${r.ms}%6d ms t=${r.tasks}%3d r=${r.shuffleReadMB}%7.1fMB " +
              f"w=${r.shuffleWriteMB}%7.1fMB  ${r.name}")
          }
      }
    }
    spark.stop()
  }
}
