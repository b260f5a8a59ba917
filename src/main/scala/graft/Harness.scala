package graft

import org.apache.spark.sql.SparkSession

/** The one owner of the session shape and warmup list of graft's mains
  * (Bench, ProfileRun, Verify, PlanFormat, SmokeEntry), so they all
  * measure, verify and dump plans under the same configuration.
  *
  * It sets no `spark.sql.extensions`: that would inject
  * LevenshteinGuardRule into bench and verify sessions and change the
  * plans being measured. Query closures need no registration: they call
  * the kernels as Columns through [[graft.functions.VectorFunctions.kernel]]. */
object Harness {

  /** The positive Int in env var `name` (`raw` is its value), or
    * `default` when unset; `Left` is the one-line error naming the
    * variable. */
  def positive(name: String, raw: Option[String], default: Int): Either[String, Int] =
    raw match {
      case None => Right(default)
      case Some(v) => v.toIntOption.filter(_ >= 1).toRight(s"bad $name: '$v'")
    }

  /** [[positive]] over the process environment; a malformed value exits 2
    * with one line on stderr instead of failing deep inside Spark. */
  def positiveEnv(name: String, default: Int): Int =
    positive(name, sys.env.get(name), default).fold(fail, identity)

  /** `local[n]` session with n = `SPARK_GRAFT_CPUS` (else `defaultCpus`),
    * validated before any session exists; n shuffle partitions, UTC, no
    * UI, log level WARN (ERROR for WindowExec), fork-free streaming
    * checkpoints ([[graft.streaming.ForklessLocalFs]]). */
  def session(defaultCpus: Int): SparkSession = {
    val n = positiveEnv("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    logLevels(spark)
    graft.streaming.ForklessLocalFs.install(spark)
    spark
  }

  /** Log level WARN, ERROR for WindowExec; also applied by the spec
    * session. WindowExec warns once per planned window without PARTITION
    * BY. graft has those only over tiny frames, on purpose:
    * AnnIndex.ivfCodebook's seeded init over limit(nlist) rows,
    * LlmOps.kmeansFixed, and the ≤32-row prefix-offset windows of
    * llm_sample_pps, llm_shard_assign and their kin. Hundreds of these
    * lines per verify run bury real warnings. */
  def logLevels(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** JVM/codegen warmup so the first timed query doesn't absorb session
    * bring-up (job scheduling, codegen compiler, shuffle machinery).
    * Whole-stage codegen classes are per plan-shape: without warming the
    * heavy families, the alphabetically-first query of each absorbs
    * ~3-4 s of janino compilation that belongs to no query (measured on
    * agg_approx_distinct and llm_dedup_embcos). Each family is warmed
    * untimed at the smallest SF — same shapes, negligible data:
    *  - llm_dedup_exact: the sha2+window family; first LLM-family query
    *    after the cheap agg block (BENCH_r04 measured it at 1.63x baseline
    *    on an absolute delta of 0.14 s — pure first-plan-of-family cost).
    *  - llm_sim_ann_pq: the PQ family (decimal-mean Lloyd loop + SDC
    *    broadcast lookup), whose serial codebook chain otherwise absorbs
    *    the family's codegen on the first timed run.
    *  - stream_session_agg_batch: the MergingSessions family (the r5
    *    1.47x-vs-baseline delta was this family's first-plan codegen).
    *  - graph_*: they sort before llm_* and are the first to hit the
    *    HOF-pair-explode and sorted-intersect-kernel plan families.
    *  - graph_louvain_full: first of the three Louvain queries (BENCH_r13
    *    5.12 s vs 3.5 s fresh — the round-13 family-warmup migration).
    *  - flowlog_bytes_per_eni_hour: first of the flowlog family; also
    *    pre-writes the signature-keyed envelope fixture for the warmup dir.
    */
  private val warmupQueries: Seq[String] = Seq(
    "agg_approx_distinct", "llm_dedup_embcos", "llm_sim_topk",
    "llm_dedup_exact", "llm_sim_ann_pq",
    "graph_triangle_count", "graph_khop_reach", "graph_pagerank",
    "graph_louvain_full", "flowlog_bytes_per_eni_hour",
    "stream_session_agg_batch")

  /** Run the warmup queries on `SPARK_GRAFT_WARMUP_DIR`, then drop cached
    * blocks. A failed warmup query never fails the run, but is reported. */
  def warmup(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    warmupQueries.foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir).count()
      catch { case e: Throwable =>
        // a silent no-op here makes the run incomparable to the committed
        // baseline — say so.
        System.err.println(s"[bench] WARMUP $q failed (numbers will include " +
          s"codegen compilation): ${e.getMessage}")
      }
    }
    spark.catalog.clearCache()
    System.gc()
  }

  /** The query names in `args` (empty = all queries). An unknown name
    * exits 2: a typo must not produce an empty "passing" run. */
  def selected(args: Seq[String]): Set[String] = {
    val unknown = args.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    args.toSet
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[graft] $msg")
    sys.exit(2)
  }
}
