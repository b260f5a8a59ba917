package graft

import graft.SourceScan.occurrences
import org.scalatest.funsuite.AnyFunSuite

/** Harness's env parse (no session is built) and a `src/main` scan that
  * keeps each session and registration decision in its one owner. */
class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses once as a positive Int, else one line naming it") {
    def cpus(raw: Option[String]) = Harness.positive("SPARK_GRAFT_CPUS", raw, 32)
    assert(cpus(None) === Right(32))
    assert(cpus(Some("8")) === Right(8))
    Seq("0", "-2", "abc", "", " 4", "4.0", "99999999999").foreach { v =>
      assert(cpus(Some(v)) === Left(s"bad SPARK_GRAFT_CPUS: '$v'"), v)
    }
  }

  test("sessions, warmup and function registration each have one owner in src/main") {
    assert(occurrences("SparkSession.builder") === Map("Harness.scala" -> 1),
      "build sessions with graft.Harness.session")
    assert(occurrences("SPARK_GRAFT_WARMUP_DIR").keySet === Set("Harness.scala"),
      "warm up with graft.Harness.warmup")
    assert(occurrences("SPARK_GRAFT_CPUS").keySet === Set("Harness.scala"))
    assert(occurrences("injectFunction(") === Map("GraftExtensions.scala" -> 1),
      "inject kernels by looping over VectorFunctions.kernels")
    assert(occurrences("createOrReplaceTempFunction(") === Map("VectorExpressions.scala" -> 1),
      "register kernels by looping over VectorFunctions.kernels")
    // query code never writes the session's function registry: a kernel
    // call is a Column built by VectorFunctions.kernel
    assert(occurrences("VectorFunctions.register(") === Map.empty,
      "call kernels with VectorFunctions.kernel, not by registering them")
    assert(occurrences("udf.register(") === Map.empty,
      "apply a UDF as a Column; do not register it by name")
    functions.VectorFunctions.kernels.foreach { case (name, _) =>
      assert(occurrences(name + "(") === Map.empty,
        s"""call $name as VectorFunctions.kernel("$name", ...)""")
    }
    assert(occurrences("getRDDStorageInfo") === Map("PlanBridge.scala" -> 1),
      "one measured-stats LogicalRDD rebuild (PlanBridge.measured)")
  }
}
