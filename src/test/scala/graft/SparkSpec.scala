package graft

import graft.store.SigStore
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — sbt runs
  * suites sequentially in the forked test JVM). It keeps its own
  * `local[4]` / 4-partition shape rather than `Harness.session`'s
  * `SPARK_GRAFT_CPUS` one, and takes Harness's log levels. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh temp dir (streaming checkpoints, sinks, fixture copies),
    * deleted with its contents when the suite ends. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => SigStore.delete(d))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Harness.logLevels(s)
    s
  }
}
