package graft.store

import java.io.{File, IOException}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame

/** The one policy for graft's signature-persisted stores: flow-log
  * envelope/parsed/sink tables, graph edges and labels, format re-encodes,
  * sketch partials, and the ANN and containment indexes.
  *
  * A store is keyed on the source table's (name, size, mtime) file
  * signature, so a regenerated fixture never answers from stale derived
  * data. The store NAME carries the hand-bumped version tag of builders
  * whose output changes without the source changing (e.g.
  * `flowlog_env_v6`).
  *
  * A build writes into a fresh staging dir beside the store and goes
  * live through one atomic directory rename — the idempotent-write +
  * atomic-commit discipline of Structured Streaming's file sink. A reader
  * therefore never sees a partial store, a killed build leaves only an
  * unreferenced staging dir (its random suffix is never looked up), and
  * "the store dir exists" is the whole completeness test: no per-part
  * `_SUCCESS` markers. Concurrent builders of one store race benignly —
  * the loser's rename fails, its staging copy is deleted and the winner's
  * store is used. */
object SigStore {

  /** `$java.io.tmpdir/graft_<name>_<hash>`, the hash covering the sf dir
    * `d`, the store name and the file signature of `$d/<table>.parquet`.
    * The tmpdir is read per call: callers may repoint it at runtime. */
  def dir(d: String, table: String, name: String): String = {
    val files = Option(new File(s"$d/$table.parquet").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
    val sig = files.filter(_.isFile)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString("|")
    val h = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$d|$name|$sig"))
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_$h"
  }

  /** The published store dir for (d, table, name), running `build` into a
    * staging dir and publishing it first when the store is absent. `build`
    * receives the dir to write (single- or multi-part, any layout) and
    * must leave everything the store needs under it. */
  def getOrBuild(d: String, table: String, name: String)(
      build: String => Unit): String = {
    val target = dir(d, table, name)
    if (!new File(target).isDirectory) {
      val staging = s"$target.tmp-${java.util.UUID.randomUUID()}"
      try {
        build(staging)
        Files.move(Paths.get(staging), Paths.get(target),
          StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: IOException if new File(target).isDirectory => // lost the race
      } finally delete(staging)
    }
    target
  }

  /** Recursive delete; a missing path is a no-op. */
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new File(path))
  }

  /** Store write with REBALANCE + advisory-sized AQE coalescing, so output
    * files land near the advisory size (guide §6 — "aim for output files
    * in the 128 MB - 1 GB range") instead of one sub-MB file per shuffle
    * partition. Without this, a 32-partition aggregate writes ~32 tiny
    * files and every downstream scan pays one task per file — profiled at
    * ~0.5 s of pure task-launch floor per iterative graph query at sf0.1.
    *
    * AQE's `coalescePartitions.parallelismFirst` (default true)
    * deliberately IGNORES the advisory size to keep cores busy, which is
    * right for intermediate shuffles and wrong for persisted output — the
    * Spark docs themselves recommend setting it false when sizing output.
    * It is flipped only around this one-time build write and restored
    * after; the row set is unchanged (REBALANCE is a pure repartition) and
    * every consumer of these tables is partitioning- and order-independent
    * by design. */
  def rebalanced(df: DataFrame, dir: String): Unit = {
    val s = df.sparkSession
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try df.hint("rebalance").write.mode("overwrite").parquet(dir)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
