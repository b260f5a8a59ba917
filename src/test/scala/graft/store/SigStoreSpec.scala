package graft.store

import graft.SparkSpec
import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** SigStore's build-once / atomic-publish contract on a throwaway source
  * table (no Spark involved: builds here write plain files). */
class SigStoreSpec extends SparkSpec {

  /** An sf dir holding one source table `src.parquet` with one file. */
  private def sourceDir(): String = {
    val d = tempDir("sigstore_src")
    Files.createDirectories(Paths.get(d, "src.parquet"))
    Files.write(Paths.get(d, "src.parquet", "part-0"), Array[Byte](1, 2, 3))
    d
  }

  private def writeMarker(dir: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "marker"), body.getBytes("UTF-8"))
  }

  private def read(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "marker")), "UTF-8")

  /** Staging dirs of `store` that are still on disk. */
  private def stagingOf(store: String): Seq[String] = {
    val f = new File(store)
    Option(f.getParentFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(f.getName + ".tmp-"))
  }

  test("a second getOrBuild is a hit and does not call build") {
    val d = sourceDir()
    var builds = 0
    def get() = SigStore.getOrBuild(d, "src", "spec_hit") { dir =>
      builds += 1; writeMarker(dir, "v1")
    }
    val first = get()
    try {
      assert(builds === 1)
      assert(first === SigStore.dir(d, "src", "spec_hit"))
      assert(read(first) === "v1")
      assert(get() === first)
      assert(builds === 1, "a published store must not be rebuilt")
      assert(stagingOf(first).isEmpty)
    } finally SigStore.delete(first)
  }

  test("a build that throws publishes nothing, leaves no staging dir, and the next call rebuilds") {
    val d = sourceDir()
    val store = SigStore.dir(d, "src", "spec_fail")
    val e = intercept[IllegalStateException] {
      SigStore.getOrBuild(d, "src", "spec_fail") { dir =>
        writeMarker(dir, "partial")
        throw new IllegalStateException("killed mid-build")
      }
    }
    assert(e.getMessage === "killed mid-build")
    assert(!new File(store).exists(), "a failed build must not publish")
    assert(stagingOf(store).isEmpty, "a failed build must remove its staging dir")
    var builds = 0
    val again = SigStore.getOrBuild(d, "src", "spec_fail") { dir =>
      builds += 1; writeMarker(dir, "whole")
    }
    try {
      assert(builds === 1)
      assert(read(again) === "whole")
    } finally SigStore.delete(again)
  }

  test("a leftover staging dir from a killed build is never read") {
    val d = sourceDir()
    val store = SigStore.dir(d, "src", "spec_stale")
    val dead = s"$store.tmp-killed"
    writeMarker(dead, "stale")
    try {
      var builds = 0
      val got = SigStore.getOrBuild(d, "src", "spec_stale") { dir =>
        builds += 1; writeMarker(dir, "fresh")
      }
      try {
        assert(builds === 1, "a leftover staging dir must not count as a store")
        assert(got === store)
        assert(read(got) === "fresh")
        assert(stagingOf(store) === Seq(new File(dead).getName),
          "only the killed build's own leftover may remain")
      } finally SigStore.delete(got)
    } finally SigStore.delete(dead)
  }

  test("a builder that loses the publish race drops its copy and uses the winner's store") {
    val d = sourceDir()
    val store = SigStore.dir(d, "src", "spec_race")
    val got = SigStore.getOrBuild(d, "src", "spec_race") { dir =>
      writeMarker(store, "winner") // another builder publishes first
      writeMarker(dir, "loser")
    }
    try {
      assert(got === store)
      assert(read(got) === "winner")
      assert(stagingOf(store).isEmpty, "the loser's staging dir must be deleted")
    } finally SigStore.delete(got)
  }

  test("changing a source file's size or mtime gives a different dir") {
    val d = sourceDir()
    val part = Paths.get(d, "src.parquet", "part-0")
    val base = SigStore.dir(d, "src", "spec_sig")
    assert(SigStore.dir(d, "src", "spec_sig") === base, "the key must be stable")
    assert(SigStore.dir(d, "src", "spec_sig_v2") !== base, "the name is part of the key")
    val mtime = part.toFile.lastModified() - 60000L
    assert(part.toFile.setLastModified(mtime))
    val touched = SigStore.dir(d, "src", "spec_sig")
    assert(touched !== base, "an mtime change must move the store")
    Files.write(part, Array[Byte](4), StandardOpenOption.APPEND)
    assert(part.toFile.setLastModified(mtime)) // only the size differs now
    val grown = SigStore.dir(d, "src", "spec_sig")
    assert(grown !== touched, "a size change must move the store")
    assert(new File(base).getName.startsWith("graft_spec_sig_"))
    assert(new File(base).getParent ===
      new File(System.getProperty("java.io.tmpdir")).getPath)
  }

  test("no code in src/main outside SigStore.scala derives a store location from java.io.tmpdir") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    val s = Files.walk(root.toPath)
    val offenders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "SigStore.scala")
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("java.io.tmpdir"))
        .map(_.toString).toList
      finally s.close()
    assert(offenders.isEmpty,
      s"store locations belong to graft.store.SigStore; found java.io.tmpdir in: $offenders")
  }
}
