package graft

/** Dump `.explain("formatted")` for named declared queries to files —
  * the optimization-round evidence artifact (plans/r{N}/<query>_{tag}.txt).
  *
  * Usage: runMain graft.PlanFormat <sfDir> <outDir> <tag> <query...>
  *
  * Runs under [[Harness.session]], the session shape Bench uses, so
  * Exchange counts and join strategies match what the bench executes.
  */
object PlanFormat {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, qs @ _*) = args.toSeq.toArray
    Harness.selected(qs)
    val spark = Harness.session(defaultCpus = 32)
    new java.io.File(outDir).mkdirs()
    qs.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${q}_$tag.txt", "UTF-8")
      try w.println(plan) finally w.close()
      println(s"[planformat] wrote $outDir/${q}_$tag.txt")
    }
    spark.stop()
  }
}
