package graft.ops

import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Pins the round-16 consumption-aware retirement guard (ADVICE r15,
  * medium): parking a second frame under the same tag BEFORE the first
  * was executed must NOT unpersist the first's localCheckpoint blocks —
  * a localCheckpoint is not recomputable, so the old eager release made
  * the first frame fail with a missing-block error. The guard defers the
  * release until a QueryExecutionListener observes an execution touching
  * the retired slot's checkpoint RDDs. */
class CheckpointParkSpec extends SparkSpec {

  test("a retired-but-unconsumed frame still executes; release follows its first execution") {
    val tag = "checkpointpark-spec"
    val df1 = spark.range(0L, 1000L).toDF("id").localCheckpoint(true)
    CheckpointPark.park(tag, df1)
    // same call site parks again BEFORE df1 is consumed — the ADVICE
    // failure mode. df1 must remain executable afterwards.
    val df2 = spark.range(0L, 2000L).toDF("id").localCheckpoint(true)
    CheckpointPark.park(tag, df2)
    assert(df1.count() === 1000L,
      "retired-but-unconsumed frame lost its checkpoint blocks")
    // the deferred slot is released once the listener observes the
    // execution — listener events are asynchronous, so poll briefly
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (CheckpointPark.deferredCount > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(CheckpointPark.deferredCount === 0,
      "deferred slot was never released after its execution was observed")
    // df2 (the live occupant) is untouched by df1's retirement
    assert(df2.count() === 2000L)
    // a CONSUMED occupant retires immediately on the next park — the
    // round-15 bounded-retention behavior is preserved
    val df3 = spark.range(0L, 10L).toDF("id").localCheckpoint(true)
    CheckpointPark.park(tag, df3)
    assert(df3.count() === 10L)
  }

  test("repeated calls leave at most one checkpoint per call site persisted") {
    // The exact-search geometry (hybridVectorTop, once per hybrid-sink
    // micro-batch), the containment prefix filter's posting list, the
    // label propagation's last round or materialized labels (dedup
    // clusters, semantic dedup, graph components) and the simhash bands
    // are eager checkpoints that the returned frame still reads; each call
    // site parks them, so three calls keep at most the newest. A
    // checkpoint RDD's name ends with its call site ("... at
    // localCheckpoint at AnnIndex.scala:1147").
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (8L, 9L)).toDF("a", "b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // The persistent-RDD map holds its values weakly: a leaked checkpoint
    // could be collected before the check. The watcher holds every RDD it
    // sees persisted while the queries run.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]()
    @volatile var running = true
    val watcher = new Thread(() =>
      while (running) { sc.getPersistentRDDs.values.foreach(seen.add); Thread.sleep(1) })
    val queries = LlmOps.queries.toMap
    watcher.start()
    try for (_ <- 1 to 3) {
      LlmOps.hybridVectorTop(spark, sf).collect()
      for (q <- Seq("llm_dedup_containment_lsh", "llm_dedup_clusters", "llm_dedup_simhash",
          "llm_dedup_semantic"))
        queries(q)(spark, sf).collect()
      Graph.components(edges).collect()
    } finally {
      running = false
      watcher.join()
    }
    def site(r: RDD[_]): String = r.toString.split(" at ").last
    def leaked: Map[String, Int] = seen.asScala.toSeq
      .filter(r => !before.contains(r.id) && r.getStorageLevel != StorageLevel.NONE)
      .groupBy(site).map { case (k, rs) => k -> rs.size }.filter(_._2 > 1)
    assert(seen.asScala.exists(r => site(r).startsWith("AnnIndex.scala")),
      "the watcher saw no exact-search checkpoint")
    // a retired slot is released when the listener observes its execution
    // (asynchronous): poll briefly
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"call sites with more than one checkpoint left persisted: $leaked")
  }
}
