package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one directory protocol of the foreachBatch sinks in [[StreamOps]]:
  * every write, read, fold retirement and whole-dir swap they make goes
  * through these four operations.
  *
  * Replay contract. A foreachBatch body is at-least-once: a crash after
  * the body but before the offset commit re-fires the same batch id, and
  * by Spark's foreachBatch contract the replay carries the same rows. A
  * sink is exactly-once when every write is keyed by the batch id and a
  * replay converges on what the first firing left:
  *
  *  - [[append]] publishes `<dir>/<prefix><id>` the way `SigStore`
  *    publishes a store: the rows go to a staging dir beside it and one
  *    rename makes them live. The dir existing is the commit, so a replay
  *    skips the write (its bytes would be the same). Staging names start
  *    with `_`, so a killed attempt is never seen by [[readBefore]], by
  *    Spark's file listing or by a `b*` glob.
  *  - [[readBefore]] is the store as it stood before batch `id`.
  *  - [[retire]] drops what a published fold `c<id>` subsumes.
  *  - [[replace]] swaps a whole dir without a moment where it is absent.
  *
  * A store has one writer (a query runs one batch at a time). Dir names:
  * `b<id>` (one batch's delta), `c<id>` (a fold of the deltas up to id). */
object BatchStore {

  private def fs(p: Path): FileSystem =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) sys.error(s"batch store: cannot rename $from to $to")

  /** Ids of the published `<prefix><id>` dirs under `dir`, ascending; none
    * while `dir` does not exist. */
  private def ids(dir: String, prefix: String): Seq[Long] = {
    val root = new Path(dir)
    val f = fs(root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches(s"$prefix\\d+")).map(_.drop(prefix.length).toLong).sorted
  }

  /** Publish `df` as `<dir>/<prefix><id>`, or nothing when that dir already
    * exists (a replay: `df` is then not evaluated). */
  def append(dir: String, prefix: String, id: Long)(df: => DataFrame): Unit = {
    val target = new Path(s"$dir/$prefix$id")
    val f = fs(target)
    if (!f.exists(target)) {
      val staging = new Path(s"$dir/_$prefix$id.tmp-${java.util.UUID.randomUUID()}")
      try {
        df.write.parquet(staging.toString)
        rename(f, staging, target)
      } finally f.delete(staging, true)
    }
  }

  /** The store under `dir` as it stood before batch `id`: the newest fold
    * `c<j>` with j ≤ id plus the deltas `b<k>` with j < k < id (every
    * `b<k>` with k < id while there is no fold); None when there is none.
    * A replay of a folding batch reads its own `c<id>`, which also holds
    * the batch's own rows: a caller that folds filters them out. */
  def readBefore(dir: String, id: Long): Option[DataFrame] = {
    val cj = ids(dir, "c").filter(_ <= id).lastOption
    val parts = cj.map(j => s"$dir/c$j").toSeq ++
      ids(dir, "b").filter(k => k < id && cj.forall(_ < k)).map(k => s"$dir/b$k")
    if (parts.isEmpty) None else Some(SparkSession.active.read.parquet(parts: _*))
  }

  /** After `c<id>` is published: delete every older fold `c<j>` (j < id)
    * and every delta `b<k>` with k ≤ id. A replay of the folding batch, or
    * one after a crash mid-retirement, deletes the same set. */
  def retire(dir: String, id: Long): Unit = {
    val old = ids(dir, "c").filter(_ < id).map(j => s"$dir/c$j") ++
      ids(dir, "b").filter(_ <= id).map(k => s"$dir/b$k")
    old.foreach { d => val p = new Path(d); fs(p).delete(p, true) }
  }

  /** Replace the dir `path` with `df`, which receives `path` when a
    * published copy exists. The rows are written to `<path>.writing`,
    * renamed to `<path>.staged`, and only then does the old `path` go and
    * `<path>.staged` take its name. A crash anywhere in that swap leaves a
    * complete `<path>.staged`, so each call first finishes a swap a crash
    * left half done: a replayed batch then reads the full previous copy.
    * (A plain overwrite deletes `path` before its write job commits.) */
  def replace(path: String)(df: Option[String] => DataFrame): Unit = {
    val Seq(out, writing, staged) = Seq("", ".writing", ".staged").map(x => new Path(path + x))
    val f = fs(out)
    def publish(): Unit = { f.delete(out, true); rename(f, staged, out) }
    if (f.exists(staged)) publish()
    df(Some(path).filter(_ => f.exists(out))).write.mode("overwrite").parquet(writing.toString)
    rename(f, writing, staged)
    publish()
  }
}
