package graft.streaming

import graft.SourceScan.occurrences
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the foreachBatch sinks on their one directory protocol: every
  * publish, store read, fold retirement and whole-dir swap goes through
  * BatchStore, so no sink lists, globs, probes or deletes dirs itself. */
class StreamSinkSeamSpec extends AnyFunSuite {

  test("foreachBatch sinks publish, read, retire and swap their dirs only through BatchStore") {
    for (needle <- Seq("storeDirs(", "rmDir(", """b*")"""))
      assert(occurrences(needle) === Map.empty, s"`$needle` is BatchStore's job")
    val overwrite = occurrences("""write.mode("overwrite").parquet(""")
    assert(!overwrite.contains("StreamOps.scala"),
      "a sink writes through BatchStore.append or BatchStore.replace")
    assert(overwrite.getOrElse("BatchStore.scala", 0) <= 2,
      "BatchStore writes each dir kind once")
  }
}
