package graft.ops

import java.io.File
import scala.jdk.CollectionConverters._
import graft.{SparkSpec, Tables}
import graft.SourceScan.occurrences
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Keeps the ANN index lifecycle in its one owner: every embeddings store
  * is published through AnnIndex, the PQ sampled trainer is written once,
  * and only AnnIndex names the IVF layout's subdirs. The build test pins
  * the build body's release rule. */
class AnnSeamSpec extends SparkSpec {

  test("embeddings stores, the PQ trainer and the IVF layout have one owner in AnnIndex") {
    assert(occurrences("SigStore.getOrBuild(d, \"embeddings\"") === Map("AnnIndex.scala" -> 1),
      "build an embeddings store through AnnIndex's build body")
    assert(occurrences("val trainSub").values.sum === 1,
      "train a PQ codebook through AnnIndex.pqTrained")
    for (sub <- Seq("$dir/centroids", "$dir/assign"))
      assert(occurrences(sub).keySet === Set("AnnIndex.scala"),
        s"only AnnIndex writes or reads $sub")
  }

  test("building all nine embeddings stores leaves no build-time checkpoint persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // The persistent-RDD map holds its values weakly: a leaked checkpoint
    // could be collected before the check. The watcher holds every RDD it
    // sees persisted while the stores build.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]()
    @volatile var building = true
    val watcher = new Thread(() =>
      while (building) { sc.getPersistentRDDs.values.foreach(seen.add); Thread.sleep(1) })
    val root = tempDir("ann_stores")
    val prevRoot = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", root)
    watcher.start()
    try {
      AnnIndex.ivfIndex(spark, sf)
      AnnIndex.ivfBaseIndex(spark, sf)
      AnnIndex.exactCellsIndex(spark, sf)
      AnnIndex.exactSearchIndex(spark, sf, "ivfhybrid_index", col("vec_id") === 0)
      AnnIndex.exactSearchIndex(spark, sf, "ivfsearch_index", col("vec_id") % 50 === 0)
      AnnIndex.pqIndex(spark, sf)
      AnnIndex.ivfpqIndex(spark, sf)
      AnnIndex.ivfpqBaseIndex(spark, sf)
      AnnIndex.ivfCompactIndex(spark, sf,
        Tables.embeddings(spark, sf).filter(col("vec_id") % 10 === 0))
    } finally {
      building = false
      watcher.join()
      System.setProperty("java.io.tmpdir", prevRoot)
    }
    val stores = new File(root).list().toSeq.filter(_.startsWith("graft_"))
      .map(_.replaceAll("_[0-9a-f]+$", ""))
    assert(stores.sorted === Seq("ivf", "ivfbase", "ivfcompact", "ivfexact", "ivfhybrid",
      "ivfpq", "ivfpqbase", "ivfsearch", "pq").map(k => s"graft_${k}_index"))
    val leaked = seen.asScala.filter(r =>
      !before.contains(r.id) && r.getStorageLevel != StorageLevel.NONE)
    assert(seen.asScala.exists(r => !before.contains(r.id)),
      "the watcher saw no build checkpoint at all")
    assert(leaked.isEmpty, s"build checkpoints left persisted: ${leaked.map(_.id)}")
  }
}
