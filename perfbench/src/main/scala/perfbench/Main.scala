package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. One run = one workload, one seed, one fresh JVM; see
  * perfbench/README.md for the workloads and metrics.
  *
  * stdout: a `{"describe":...}` line, then the result line the benchmark
  * contract defines (`correct`, `attempted`, `failed`, `metrics`). */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, dataRoot: Path, sfDir: String, expected: Path,
      traceFile: Option[Path], digest: String, record: Option[Path],
      t0: Long)

  /** One timed operation: a query execution or an ingest micro-batch. */
  final case class Op(name: String, ms: Double, ok: Boolean)

  /** What a workload hands back: its operations, timed wall time and
    * per-layer metrics (the latter only when tracing). */
  final case class Outcome(ops: Seq[Op], timedS: Double,
      writtenBytes: Long, cpuS: Double, layers: Map[String, (Double, String)],
      describe: Map[String, Any], checksOk: Boolean)

  /** Renders the describe, result and span lines (Scala maps keep their
    * iteration order). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", Paths.get(req("data-root")), req("sf"),
      Paths.get(req("expected")), m.get("trace-file").map(Paths.get(_)),
      m.getOrElse("digest", "unknown"), m.get("record").map(Paths.get(_)),
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
  }

  def session(conf: Conf): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.dataRoot.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes this process has passed to write(2) so far. */
  def writtenBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }
      .getOrElse(0L)

  /** CPU time of every thread of this process so far, in seconds. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.drop(6).trim.stripSuffix("kB").trim.toDouble / 1024.0 }
      .getOrElse(0.0)

  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = session(conf)
    val code =
      try {
        conf.record match {
          case Some(out) => QueryBench.record(spark, conf, out); 0
          case None => run(spark, conf)
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, conf: Conf): Int = {
    val out: Outcome = conf.workload match {
      case "ingest" => Ingest.run(spark, conf)
      case "cold_start" => QueryBench.run(spark, conf)
      case w => System.err.println(s"[perfbench] unknown workload: $w"); return 2
    }
    val ok = out.ops.filter(_.ok)
    val attempted = out.ops.size
    val failed = out.ops.count(!_.ok)
    val lat = if (ok.nonEmpty) ok.map(_.ms) else Seq(Double.NaN)
    val setupS = out.describe("setup_s").asInstanceOf[Double]
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (ok.size / out.timedS, "1/s"),
      "cpu_s_per_op" -> (out.cpuS / math.max(1, attempted), "s"),
      "written_mb_per_op" -> (out.writtenBytes / 1e6 / math.max(1, attempted), "MB"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val metrics = if (conf.trace) out.layers.toSeq.sortBy(_._1) else e2e
    val n = Runtime.getRuntime.availableProcessors()
    val describe = Map(
      "workload" -> conf.workload, "seed" -> conf.seed,
      "seconds" -> conf.seconds, "trace" -> conf.trace,
      "nproc" -> n, "master" -> s"local[$n]",
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "sf_dir" -> conf.sfDir, "source_digest" -> conf.digest,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "timed_s" -> out.timedS,
      "op_latency_ms" -> Seq(0.5, 0.9).map { p =>
        s"p${math.round(p * 100)}" -> Map("value" -> pct(lat, p), "samples" -> ok.size,
          "beyond" -> (ok.size - math.ceil(p * ok.size).toInt))
      }.toMap,
      "percentile_rule" -> "nearest rank over the run's timed operations; ungated",
      "checks_ok" -> out.checksOk) ++ out.describe
    println(json.writeValueAsString(Map("describe" -> describe)))
    if (conf.trace)
      println(json.writeValueAsString(Map("e2e_traced" -> e2e.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)))
    val correct = failed == 0 && out.checksOk
    println(json.writeValueAsString(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
    if (ok.isEmpty) 1 else 0
  }
}
