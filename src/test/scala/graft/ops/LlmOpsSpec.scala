package graft.ops

import graft.{SparkSpec, Tables}
import graft.store.SigStore
import org.apache.spark.sql.functions._

/** Properties for the non-oracle-able LLM ops (hash-based signatures have no
  * DuckDB twin) and sanity bounds for approximate operators. */
class LlmOpsSpec extends SparkSpec {

  test("minhash LSH finds exactly the pairs the brute-force Jaccard finds") {
    val lsh = SparkEntry_queries("llm_dedup_minhash")
    val brute = SparkEntry_queries("llm_dedup_ngram_jaccard")
    assert(lsh.collect().map(_.toSeq.toList).toList ===
      brute.collect().map(_.toSeq.toList).toList)
  }

  private def SparkEntry_queries(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("simhash: near-identical docs collide, distinct docs do not") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different content about spark catalyst optimizer internals"
    val docs = Seq((0L, base), (1L, near), (2L, far))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("simhash_docs")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // reuse every other table from the sf dir via a symlinked view: the
    // simhash query only reads documents, so pointing the loader at tmp works.
    val pairs = LlmOps.queries.toMap.apply("llm_dedup_simhash")(spark, tmp).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "near-duplicate pair not detected")
    assert(!pairs.exists(r => r.getLong(1) == 2L || r.getLong(0) == 2L),
      "unrelated doc wrongly paired")
  }

  test("persisted containment index: probe plan reads the index and shingles only the batch") {
    // FileScan metadata strings truncate at spark.sql.maxMetadataStringLength
    // (default 100): with several pushed DataFilters the batch predicate can
    // fall past the "..." and fail a contains() check spuriously — widen it
    // for the duration of the plan inspection.
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try for ((name, kind, filt) <- Seq(
        ("llm_dedup_incremental", "contain", "% 5) = 0"),
        ("llm_chunk_dedup", "containchunk", "% 5) = 0"))) {
      val q = SparkEntry_queries(name)
      // round-4 rule: execute the SAME Dataset before inspecting its plan
      val rows = q.collect().map(_.toSeq.toList).toList
      assert(rows.nonEmpty, s"$name produced no rows")
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains(s"graft_${kind}_index_"),
        s"$name: expected the persisted posting-index scan in the plan")
      // every documents.parquet scan must carry the batch filter — the
      // corpus side comes exclusively from the index, so a filterless
      // documents scan would be a corpus re-shingle (the round-7 per-line
      // check — marker-agnostic under nested AQE subtrees)
      val docScanLines =
        planStr.linesIterator.filter(_.contains("documents.parquet")).toList
      assert(docScanLines.nonEmpty, s"$name: expected the batch-side documents scan")
      docScanLines.foreach { l =>
        assert(l.contains(filt),
          s"$name: documents scan without the batch filter (corpus re-shingle):\n$l")
      }
      // determinism under reshuffle: the same rows at a different
      // shuffle-partition count (the ivfpq two-retrain pattern)
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val again = SparkEntry_queries(name).collect().map(_.toSeq.toList).toList
        assert(again === rows, s"$name: rows changed under reshuffle")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
  }

  test("incremental semantic dedup: plan rides the persisted index, embeddings scanned only for the batch") {
    val q = SparkEntry_queries("llm_dedup_semantic_incremental")
    // round-4 rule: execute the SAME Dataset before inspecting its plan
    val rows = q.collect().map(_.toSeq.toList).toList
    assert(rows.nonEmpty, "semantic incremental dedup produced no rows")
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val q2 = SparkEntry_queries("llm_dedup_semantic_incremental")
      val rows2 = q2.collect().map(_.toSeq.toList).toList
      assert(rows2 === rows)
      val planStr = q2.queryExecution.executedPlan.toString
      assert(planStr.contains("graft_ivfbase_index_"),
        "expected the persisted base-index scan in the executed plan")
      // the corpus comes exclusively from the index: every raw-embeddings
      // scan must carry the batch filter (the round-7 per-line check)
      val embScanLines =
        planStr.linesIterator.filter(_.contains("embeddings.parquet")).toList
      assert(embScanLines.nonEmpty, "expected the batch-side embeddings scan")
      embScanLines.foreach { l =>
        assert(l.contains("% 10) = 0"),
          s"embeddings scan without the batch filter (corpus re-read):\n$l")
      }
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
  }

  test("multi-probe IVF: recall vs the exact path rises with nprobe, precision stays exact") {
    // the declared query ensures the persisted index exists
    val declared = SparkEntry_queries("llm_sim_ann_ivf_multiprobe")
    val declaredRows = declared.collect().map(_.toSeq.toList).toList
    val (centroids, assign) =
      AnnIndex.readIvfIndex(spark, SigStore.dir(sf, "embeddings", "ivf_index"))
    def pairsAt(np: Int): Set[(Long, Long)] =
      AnnIndex.ivfMultiProbePairs(assign, centroids, np).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairsAt(1); val p2 = pairsAt(2); val p3 = pairsAt(3)
    // nprobe = 1 degenerates exactly to the single-cell router
    val single = AnnIndex.ivfPairs(assign).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 === single, "nprobe=1 diverged from the single-cell path")
    // candidate growth is structural: top-k cell lists are prefixes of
    // top-(k+1), so the pair sets must nest
    assert(p1.subsetOf(p2), "nprobe=2 lost an nprobe=1 pair")
    assert(p2.subsetOf(p3), "nprobe=3 lost an nprobe=2 pair")
    // TOTAL recall vs the exact threshold pairs — the round-12 verdict's
    // point: cell-visible recall is already 1.0; this measures the
    // cross-cell pairs multi-probe exists to surface
    val exact = AnnIndex.exactPairsVia(
        AnnIndex.exactCellsOrCorpus(spark, sf), 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact path returned no threshold pairs")
    // precision is exact by construction (candidates re-scored from the
    // raw vectors): every returned pair is a true cos >= 0.3 pair
    assert(p3.subsetOf(exact), "multi-probe returned a false-positive pair")
    def recall(p: Set[(Long, Long)]): Double =
      p.intersect(exact).size.toDouble / exact.size
    val (r1, r2, r3) = (recall(p1), recall(p2), recall(p3))
    info(f"multi-probe recall: nprobe=1 $r1%.4f, nprobe=2 $r2%.4f, nprobe=3 $r3%.4f " +
      s"(exact pairs: ${exact.size})")
    assert(r2 >= r1 && r3 >= r2, "recall fell as nprobe grew")
    assert(r2 > r1,
      "nprobe=2 surfaced no cross-cell pair — multi-probe is a no-op on this fixture")
    // candidate fan-out bound: the distinct unordered candidate set is
    // bounded by the directed probe fan-out Σ_{(v, probed cell c)}
    // (|c| − [v resides in c]) — i.e. ≤ nprobe × (cell sizes), never
    // query × corpus
    val resident = assign.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val cellSz = assign.groupBy(col("cid")).count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val probes3 = AnnIndex.multiProbeCells(assign, centroids, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong))
    val dirBound = probes3.map { case (v, c) =>
      cellSz(c) - (if (resident(v) == c) 1L else 0L)
    }.sum
    val cand3 = AnnIndex.ivfMultiProbeCandidates(assign, centroids, 3).count()
    info(s"multi-probe fan-out: ${cand3} distinct candidates vs directed bound $dirBound")
    assert(cand3 <= dirBound,
      s"candidate fan-out $cand3 exceeded the nprobe-cell bound $dirBound")
    // determinism under reshuffle (the ivfpq two-retrain pattern)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = SparkEntry_queries("llm_sim_ann_ivf_multiprobe")
        .collect().map(_.toSeq.toList).toList
      assert(again === declaredRows, "rows changed under reshuffle")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("multi-probe IVF-PQ: nprobe=1 is bit-identical to the single-cell scorer, subset chain with stable scores, recall rises") {
    // the declared query ensures the persisted ivfpq index exists
    val declared = SparkEntry_queries("llm_sim_ann_ivfpq_multiprobe")
    val declaredRows = declared.collect().map(_.toSeq.toList).toList
    val idx = SigStore.dir(sf, "embeddings", "ivfpq_index")
    val (cent, cb, codes) = AnnIndex.readIvfPqIndex(spark, idx)
    val flat = AnnIndex.readIvfPqFlat(spark, idx)
    def rowsAt(np: Int): Map[(Long, Long), Double] =
      AnnIndex.ivfpqMultiProbePairs(codes, cb, cent, flat, np).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val m1 = rowsAt(1); val m2 = rowsAt(2); val m3 = rowsAt(3)
    // nprobe=1 must degenerate BIT-IDENTICALLY to the single-cell PQ
    // scorer: same candidates (pass-1 pick == the stored assignment) and
    // the same scores (<c,c> is the same graft_dot; the cross-term
    // decimal sum re-derives the stored cdot from the same per-m kernel)
    val single = SparkEntry_queries("llm_sim_ann_ivfpq").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m1 === single, "nprobe=1 diverged from llm_sim_ann_ivfpq")
    // subset chain with SCORE STABILITY: a pair's score never depends on
    // the probe set that surfaced it, so shared pairs carry equal scores
    assert(m1.keySet.subsetOf(m2.keySet), "nprobe=2 lost an nprobe=1 pair")
    assert(m2.keySet.subsetOf(m3.keySet), "nprobe=3 lost an nprobe=2 pair")
    m1.foreach { case (k, v) => assert(m2(k) === v && m3(k) === v,
      s"pair $k changed score across nprobe") }
    m2.foreach { case (k, v) => assert(m3(k) === v,
      s"pair $k changed score between nprobe 2 and 3") }
    // recall vs the exact threshold pairs is monotone in nprobe (the PQ
    // score is approximate, so measure, don't assume — cross-cell recall
    // must not FALL as candidates widen, and nprobe=2 must surface
    // something on this fixture or the composition is a no-op)
    val exact = AnnIndex.exactPairsVia(
        AnnIndex.exactCellsOrCorpus(spark, sf), 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(p: Set[(Long, Long)]): Double =
      p.intersect(exact).size.toDouble / exact.size
    val (r1, r2, r3) = (recall(m1.keySet), recall(m2.keySet), recall(m3.keySet))
    info(f"ivfpq multi-probe recall: nprobe=1 $r1%.4f, nprobe=2 $r2%.4f, " +
      f"nprobe=3 $r3%.4f (exact pairs: ${exact.size})")
    assert(r2 >= r1 && r3 >= r2, "recall fell as nprobe grew")
    assert(m2.size > m1.size,
      "nprobe=2 scored no cross-cell pair — multi-probe is a no-op on this fixture")
    // determinism under reshuffle (the ivfpq two-retrain pattern)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = SparkEntry_queries("llm_sim_ann_ivfpq_multiprobe")
        .collect().map(_.toSeq.toList).toList
      assert(again === declaredRows, "rows changed under reshuffle")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("multi-probe IVF-PQ sparse regime (VERDICT r15 #1): bit-identical to the dense kernel when forced past the cell cap; dense LUTs stay bounded") {
    // the declared query ensures the persisted ivfpq index exists
    SparkEntry_queries("llm_sim_ann_ivfpq_multiprobe").collect()
    val idx = SigStore.dir(sf, "embeddings", "ivfpq_index")
    val (cent, cb, codes) = AnnIndex.readIvfPqIndex(spark, idx)
    val flat = AnnIndex.readIvfPqFlat(spark, idx)
    // forcing the cap below the fixture's nC (16) routes the sparse
    // join form — every row must be BIT-identical to the dense kernel
    // (same decimal-exact m-sums, same graft_dot doubles)
    for (np <- Seq(1, 2)) {
      val dense = AnnIndex.ivfpqMultiProbePairs(codes, cb, cent, flat, np)
        .collect().map(_.toSeq.toList).toList
      val sparse = AnnIndex.ivfpqMultiProbePairs(codes, cb, cent, flat, np,
          denseLutCellCap = 1)
        .collect().map(_.toSeq.toList).toList
      assert(sparse.nonEmpty, s"sparse regime returned no rows at nprobe=$np")
      assert(sparse === dense,
        s"sparse regime diverged from the dense kernel at nprobe=$np")
    }
    // 10×-scale size-bound property (the annBits occupancy precedent):
    // the dense arrays are allocated ONLY under nC ≤ cap, so the
    // driver-collected payload is bounded by the cap's entry count —
    // ~4.5M entries ≈ 36 MB — regardless of corpus size...
    val capEntries =
      AnnIndex.multiProbeDenseLutEntries(AnnIndex.MultiProbeDenseLutCellCap)
    assert(capEntries < 5000000L,
      s"dense LUT bound at the cap grew to $capEntries entries")
    // ...while a linear-nlist corpus 10× past the cap-crossing size
    // derives a cell count the regime predicate must route SPARSE —
    // the dense form there would need >50× the bounded payload
    val n10 = 10L * 128L * AnnIndex.MultiProbeDenseLutCellCap
    val nC10 = AnnIndex.ivfNlist(n10)
    assert(nC10 > AnnIndex.MultiProbeDenseLutCellCap,
      "10×-scale corpus did not cross the dense cap — the property is vacuous")
    assert(AnnIndex.multiProbeDenseLutEntries(nC10) > 50L * capEntries)
  }

  test("ANN LSH returns a subset of brute-force threshold pairs, with high recall on top pairs") {
    val ann = SparkEntry_queries("llm_sim_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry_queries("llm_sim_threshold_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every ANN pair must be a genuinely-similar pair (cos >= 0.3 verified
    // inside the query); pairs above the 0.4 threshold live in brute.
    val annHigh = ann.intersect(brute)
    assert(ann.nonEmpty, "ANN produced no candidate pairs")
    assert(annHigh.subsetOf(brute))
  }

  test("IVF ANN returns sound pairs and agrees with LSH ANN on shared recall") {
    val ivf = SparkEntry_queries("llm_sim_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry_queries("llm_sim_threshold_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty, "IVF produced no candidate pairs")
    // soundness: every returned pair really clears the 0.3 bar (cos values
    // are verified inside the query; pairs >= 0.4 must come from brute set)
    assert(ivf.intersect(brute).subsetOf(brute))
    // determinism: a second run returns the identical pair set
    val again = SparkEntry_queries("llm_sim_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivf)
  }

  test("persisted-index IVF ANN: identical rows to the retrain path, plan reads only the index") {
    val retrain = SparkEntry_queries("llm_sim_ann_ivf").collect()
      .map(_.toSeq.toList).toList
    val persisted = SparkEntry_queries("llm_sim_ann_ivf_persisted")
    // round-4 rule: execute the SAME Dataset before inspecting its plan,
    // or AQE leaves it unfinalized
    val rows = persisted.collect().map(_.toSeq.toList).toList
    assert(rows === retrain,
      "persisted-index results diverged from the retrain path")
    // the index is the ONLY input: the AQE-finalized plan scans the
    // persisted index and never embeddings.parquet — i.e. no
    // Lloyd/training stage anywhere in the executed plan
    val planStr = persisted.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivf_index_"),
      "expected the persisted-index parquet scan in the executed plan")
    assert(!planStr.contains("embeddings.parquet"),
      "persisted-index query must never re-read the raw embeddings")
    // second run answers from the existing index (build-if-missing must
    // not rebuild) and stays identical
    val again = SparkEntry_queries("llm_sim_ann_ivf_persisted")
      .collect().map(_.toSeq.toList).toList
    assert(again === rows)
  }

  test("incremental IVF upsert: batch-upsert equals full re-encode, embeddings scanned only for the batch") {
    val upsert = SparkEntry_queries("llm_sim_ann_ivf_upsert")
    // round-4 rule: execute the SAME Dataset before inspecting its plan
    val rows = upsert.collect().map(_.toSeq.toList).toList
    assert(rows.nonEmpty, "upsert path produced no pairs")
    // assignment is a pure function of (vector, codebook), so appending the
    // batch's encodings to the persisted inverted file must reproduce a
    // full re-encode of ALL vectors against the same codebook row-for-row
    val (centroids, _) =
      AnnIndex.readIvfIndex(spark, SigStore.dir(sf, "embeddings", "ivfbase_index"))
    val all = LlmOps.embDouble(spark, sf).localCheckpoint(true)
    val full = AnnIndex.ivfPairs(AnnIndex.assignToCentroid(all, centroids))
      .collect().map(_.toSeq.toList).toList
    assert(rows === full, "upsert-maintained index diverged from full re-encode")
    // the finalized plan reads the persisted base index, and EVERY
    // embeddings.parquet scan node carries the batch filter — i.e. the raw
    // embeddings are read only for the new batch, never for the corpus.
    // (Counting scan nodes is unreliable here: the dynamic-pruning
    // SubqueryBroadcast nests its own AdaptiveSparkPlan with its own
    // Initial/Final markers, so the round-6 split-on-marker trick
    // truncates mid-tree; the per-line filter check is marker-agnostic.)
    val planStr = upsert.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfbase_index_"),
      "expected the persisted base-index scan in the executed plan")
    val embScanLines =
      planStr.linesIterator.filter(_.contains("embeddings.parquet")).toList
    assert(embScanLines.nonEmpty, "expected the batch-side embeddings scan")
    embScanLines.foreach { l =>
      assert(l.contains("% 10) = 0"),
        s"embeddings scan without the batch filter (corpus re-read):\n$l")
    }
  }

  test("incremental IVF-PQ upsert: batch-encode equals full re-encode, embeddings scanned only for the batch") {
    val upsert = SparkEntry_queries("llm_sim_ann_ivfpq_upsert")
    // round-4 rule: execute the SAME Dataset before inspecting its plan
    val rows = upsert.collect().map(_.toSeq.toList).toList
    assert(rows.nonEmpty, "IVF-PQ upsert path produced no pairs")
    // encoding is a pure function of (vector, codebooks): appending the
    // batch's encodings to the persisted codes table must reproduce a
    // full re-encode of ALL vectors against the same codebooks
    val (cent, cb, _) =
      AnnIndex.readIvfPqIndex(spark, SigStore.dir(sf, "embeddings", "ivfpqbase_index"))
    val all = LlmOps.embDouble(spark, sf).localCheckpoint(true)
    val full = AnnIndex.ivfpqPairScores(
        AnnIndex.encodeAgainstIvfPq(all, cent, cb)
          .withColumn("cid", col("cid").cast("int")), cb, cent)
      .collect().map(_.toSeq.toList).toList
    assert(rows === full,
      "upsert-maintained IVF-PQ index diverged from full re-encode")
    // the finalized plan reads the persisted base index, and every
    // embeddings.parquet scan carries the batch filter (the round-7
    // per-line check — marker-agnostic under nested AQE subtrees)
    val planStr = upsert.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfpqbase_index_"),
      "expected the persisted IVF-PQ base-index scan in the executed plan")
    val embScanLines =
      planStr.linesIterator.filter(_.contains("embeddings.parquet")).toList
    assert(embScanLines.nonEmpty, "expected the batch-side embeddings scan")
    embScanLines.foreach { l =>
      assert(l.contains("% 10) = 0"),
        s"embeddings scan without the batch filter (corpus re-read):\n$l")
    }
  }

  test("IVF compaction: rows identical to the upsert path, plan reads only the compacted index") {
    val upsertRows = SparkEntry_queries("llm_sim_ann_ivf_upsert")
      .collect().map(_.toSeq.toList).toList
    val compactQ = SparkEntry_queries("llm_sim_ann_ivf_compact")
    // first run may build the compacted index (reads the delta once);
    // re-create the Dataset so the inspected plan is the steady state
    compactQ.collect()
    val compact = SparkEntry_queries("llm_sim_ann_ivf_compact")
    val rows = compact.collect().map(_.toSeq.toList).toList
    assert(rows.nonEmpty, "compacted index produced no pairs")
    assert(rows === upsertRows,
      "compacted index diverged from the upsert-union read path")
    // steady state scans ONLY the compacted index: no base index, no
    // per-query union, and no embeddings.parquet anywhere in the plan
    val planStr = compact.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfcompact_index_"),
      "expected the compacted-index scan in the executed plan")
    assert(!planStr.contains("embeddings.parquet"),
      "compacted query must never re-read the raw embeddings")
  }

  test("exact-pair family rides the persisted cells: rows identical to inline derivation, plans read only the index") {
    val e = LlmOps.embDouble(spark, sf).localCheckpoint(true)
    // threshold join: declared (indexed) ≡ inline per-run derivation —
    // the ANY-codebook exactness made observable, not just argued
    val q = SparkEntry_queries("llm_sim_threshold_join")
    val rows = q.collect().map(_.toSeq.toList).toList
    val inline = AnnIndex.prunedCosinePairs(e, 0.4)
      .select(col("va"), col("vb"), col("cos_sim"),
        (col("label_a") === col("label_b")).as("same_label"))
      .orderBy(col("va").asc, col("vb").asc)
      .collect().map(_.toSeq.toList).toList
    assert(rows === inline, "indexed threshold pairs diverged from inline")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfexact_index_"),
      "threshold join must scan the persisted exact-cells index")
    assert(!planStr.contains("embeddings.parquet"),
      "threshold join must not re-read the raw embeddings")
    // top-k: same invariance through the t0/phase-2 machinery
    val qt = SparkEntry_queries("llm_sim_topk")
    val tRows = qt.collect().map(_.toSeq.toList).toList
    assert(tRows === AnnIndex.exactTopKPairs(e, k = 10)
      .collect().map(_.toSeq.toList).toList,
      "indexed top-k diverged from inline")
    val tPlan = qt.queryExecution.executedPlan.toString
    assert(tPlan.contains("graft_ivfexact_index_") &&
      !tPlan.contains("embeddings.parquet"))
    // the two dedup consumers never touch embeddings.parquet either
    for (name <- Seq("llm_dedup_semantic", "llm_dedup_embcos")) {
      val dq = SparkEntry_queries(name)
      dq.collect() // AQE-finalize before inspecting (round-4 rule)
      val p = dq.queryExecution.executedPlan.toString
      assert(p.contains("graft_ivfexact_index_"),
        s"$name must read the exact-cells index")
      assert(!p.contains("embeddings.parquet"),
        s"$name must not re-read embeddings")
    }
    LlmOps.releaseCheckpoint(e)
  }

  test("semantic dedup: one representative per community, kept set within the pairwise survivors") {
    val sem = SparkEntry_queries("llm_dedup_semantic").collect()
    val byCluster = sem.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rs) =>
      assert(rs.count(_.getBoolean(2)) === 1, s"cluster $cid kept != 1")
      assert(rs.filter(_.getBoolean(2)).head.getLong(0) === rs.map(_.getLong(0)).min,
        s"cluster $cid representative is not the min id")
    }
    // the community minimum has no smaller-id neighbor, so SemDeDup's kept
    // set is a subset of the pairwise embcos survivors; strict subset when
    // a transitive chain exists (embcos keeps a chain tail the community
    // collapse drops).
    val semKept = sem.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val pairwise = SparkEntry_queries("llm_dedup_embcos").collect()
      .map(_.getLong(0)).toSet
    assert(semKept.subsetOf(pairwise),
      s"semantic survivors outside the pairwise set: ${(semKept -- pairwise).take(5)}")
  }

  test("persisted-index exact search: identical rows to the retrain path, corpus from the index") {
    val retrain = SparkEntry_queries("llm_ann_search_topk").collect()
      .map(_.toSeq.toList).toList
    val persisted = SparkEntry_queries("llm_ann_search_topk_persisted")
    val rows = persisted.collect().map(_.toSeq.toList).toList
    assert(rows === retrain,
      "persisted-index search diverged from the retrain path")
    val planStr = persisted.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfsearch_index_"),
      "expected the persisted search index scan in the executed plan")
  }

  test("persisted-index PQ ANN: identical rows to the retrain path, plan reads only the index") {
    val retrain = SparkEntry_queries("llm_sim_ann_pq").collect()
      .map(_.toSeq.toList).toList
    val persisted = SparkEntry_queries("llm_sim_ann_pq_persisted")
    val rows = persisted.collect().map(_.toSeq.toList).toList
    assert(rows === retrain,
      "persisted-index PQ results diverged from the retrain path")
    val planStr = persisted.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_pq_index_"),
      "expected the persisted PQ index scan in the executed plan")
    assert(!planStr.contains("embeddings.parquet"),
      "persisted-index PQ query must never re-read the raw embeddings")
    val again = SparkEntry_queries("llm_sim_ann_pq_persisted")
      .collect().map(_.toSeq.toList).toList
    assert(again === rows)
  }

  test("PQ ANN: deterministic, and approx cosine tracks the true cosine on every returned pair") {
    val pq = SparkEntry_queries("llm_sim_ann_pq").collect()
    assert(pq.nonEmpty, "PQ ANN produced no pairs")
    // determinism: hash-seeded codebook init, exact-decimal Lloyd means and
    // decimal pair sums leave nothing partition-order-dependent — verified
    // by re-running under a DIFFERENT shuffle-partition count, which
    // permutes every aggregation's merge order
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again = try SparkEntry_queries("llm_sim_ann_pq").collect()
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    assert(again.map(_.toSeq.toList).toList === pq.map(_.toSeq.toList).toList)
    // accuracy: recompute the TRUE cosine for each returned pair driver-side
    // (fixture-sized corpus) and bound the quantization error. 16 subspaces
    // x 4-bit codes (1 bit/dim) measured mean 0.096 / max 0.212 on the
    // fixture — the bounds below catch a broken codebook without pinning
    // the exact distortion of one Lloyd seed. (The first cut used 8
    // subspaces — 0.5 bit/dim — and its recall over true threshold pairs
    // was ZERO: high-cosine pairs deflated below the bar while
    // same-centroid pairs inflated. 1 bit/dim is the minimum honest
    // operating point for threshold semantics on this data.)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val errs = pq.map { r =>
      math.abs(r.getDouble(2) - cos(emb(r.getLong(0)), emb(r.getLong(1))))
    }
    assert(errs.max < 0.3, s"worst PQ cosine error ${errs.max}")
    assert(errs.sum / errs.length < 0.15, s"mean PQ cosine error ${errs.sum / errs.length}")
    // recall: of the TRUE threshold pairs (cos >= 0.4, exact-recall path)
    // that share an LSH bucket (the candidate generator's scope), the PQ
    // scorer must keep a meaningful majority above its 0.3 bar — the
    // quantization may blur scores but not lose the bucket-visible
    // high-similarity mass (measured 1.0 at M=16 on the fixture, 0.0 at
    // M=8 — this assertion is what caught the M=8 collapse; bound set to
    // catch a recurrence, not to pin one seed's value)
    val lshPairs = SparkEntry_queries("llm_sim_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = SparkEntry_queries("llm_sim_threshold_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val visible = truePairs.intersect(lshPairs)
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (visible.nonEmpty) {
      val recall = visible.count(pqPairs.contains).toDouble / visible.size
      assert(recall >= 0.5, s"PQ recall over bucket-visible true pairs: $recall")
    }
  }

  test("IVF-PQ ANN: deterministic across retrains, error/inflation bounded, cell-visible recall holds") {
    // the declared query rides the persisted index, so determinism of the
    // SCORER alone would be trivial — delete the index before each run to
    // force a full retrain, making this a training-chain determinism
    // check (hash-seeded Lloyd init + exact-decimal means/sums leave
    // nothing partition-order-dependent even with the merge order
    // permuted by a different shuffle-partition count)
    def dropIndex(): Unit = {
      SigStore.delete(SigStore.dir(sf, "embeddings", "ivfpq_index"))
    }
    dropIndex()
    val ivfpq = SparkEntry_queries("llm_sim_ann_ivfpq").collect()
    assert(ivfpq.nonEmpty, "IVF-PQ ANN produced no pairs")
    dropIndex()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again = try SparkEntry_queries("llm_sim_ann_ivfpq").collect()
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    assert(again.map(_.toSeq.toList).toList === ivfpq.map(_.toSeq.toList).toList)
    // with the index in place the query is a pure index reader: the
    // AQE-finalized plan (round-4 rule: collect the SAME Dataset first)
    // scans the persisted layout and never embeddings.parquet
    val reader = SparkEntry_queries("llm_sim_ann_ivfpq")
    val readerRows = reader.collect().map(_.toSeq.toList).toList
    assert(readerRows === ivfpq.map(_.toSeq.toList).toList)
    val planStr = reader.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfpq_index_"),
      "expected the persisted IVF-PQ index scan in the executed plan")
    assert(!planStr.contains("embeddings.parquet"),
      "persisted IVF-PQ query must never re-read the raw embeddings")
    // accuracy: the residual decomposition is EXACT (the error is purely
    // residual quantization), but this fixture's embeddings are
    // near-uniform on the sphere, so 16-cell IVF cells are broad,
    // centroid norms are small, residuals ≈ raw vectors — and Lloyd
    // shrinkage of r̂ tilts reconstructions toward the SHARED cell
    // center, inflating same-cell scores (measured: mean |err| 0.127,
    // max 0.44, signed mean +0.122 — the query scaladoc documents the
    // trade). On clusterable corpora the residual codes tighten instead;
    // here the bounds catch a BROKEN path, recall below pins the
    // property that matters for threshold semantics.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val signed = ivfpq.map { r =>
      r.getDouble(2) - cos(emb(r.getLong(0)), emb(r.getLong(1)))
    }
    val errs = signed.map(math.abs)
    info(s"IVF-PQ cosine error: mean ${errs.sum / errs.length}, max ${errs.max}, " +
      s"signed mean ${signed.sum / signed.length}, pairs ${ivfpq.length}")
    assert(errs.max < 0.5, s"worst IVF-PQ cosine error ${errs.max}")
    assert(errs.sum / errs.length < 0.15, s"mean IVF-PQ cosine error ${errs.sum / errs.length}")
    // recall scope = the coarse candidate generator: true threshold pairs
    // (cos >= 0.4, exact path) that SHARE AN IVF CELL — exactly the pairs
    // llm_sim_ann_ivf scores, so its output keys ARE the visible set
    val cellVisible = SparkEntry_queries("llm_sim_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = SparkEntry_queries("llm_sim_threshold_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val visible = truePairs.intersect(cellVisible)
    val got = ivfpq.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (visible.nonEmpty) {
      val recall = visible.count(got.contains).toDouble / visible.size
      info(s"IVF-PQ recall over cell-visible true pairs: $recall (${visible.size} visible)")
      assert(recall >= 0.5, s"IVF-PQ recall over cell-visible true pairs: $recall")
    }
  }

  test("IVF-PQ refine step: exact re-rank lifts cell-visible recall, precision exact, reshuffle-deterministic") {
    val refined = SparkEntry_queries("llm_sim_ann_ivfpq_refined").collect()
    assert(refined.nonEmpty, "refined IVF-PQ produced no pairs")
    val unref = SparkEntry_queries("llm_sim_ann_ivfpq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactness + precision 1.0: every surviving score IS the true cosine
    // (round 6) and clears the real threshold — the refine killed every
    // inflated same-cell pair the unrefined output carries
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    refined.foreach { r =>
      val c = cos(emb(r.getLong(0)), emb(r.getLong(1)))
      assert(math.abs(r.getDouble(2) - c) < 1e-5,
        s"refined score ${r.getDouble(2)} is not the exact cosine $c")
      assert(r.getDouble(2) >= 0.3)
    }
    // recall over cell-visible true pairs can only RISE: any true pair the
    // unrefined path found survives the refine (approx >= 0.3 >= 0.15 and
    // exact passes by definition), and margin-band pairs are rescued
    val refinedSet = refined.map(r => (r.getLong(0), r.getLong(1))).toSet
    val cellVisible = SparkEntry_queries("llm_sim_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = SparkEntry_queries("llm_sim_threshold_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val visible = truePairs.intersect(cellVisible)
    if (visible.nonEmpty) {
      assert(visible.intersect(unref).subsetOf(refinedSet),
        "refine lost a true pair the unrefined path had")
      val rUnref = visible.count(unref.contains).toDouble / visible.size
      val rRef = visible.count(refinedSet.contains).toDouble / visible.size
      info(s"cell-visible recall: unrefined $rUnref -> refined $rRef (${visible.size} visible)")
      assert(rRef >= rUnref, s"refine lowered recall: $rUnref -> $rRef")
    }
    // reshuffle determinism of the full read-screen-refine pipeline
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again = try SparkEntry_queries("llm_sim_ann_ivfpq_refined").collect()
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    assert(again.map(_.toSeq.toList).toList === refined.map(_.toSeq.toList).toList)
    // the reader rides the index sidecar, never the raw embeddings table
    val reader = SparkEntry_queries("llm_sim_ann_ivfpq_refined")
    reader.collect()
    val planStr = reader.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_ivfpq_index_"),
      "expected the persisted IVF-PQ index scan in the executed plan")
    assert(!planStr.contains("embeddings.parquet"),
      "the refine step must read the flat sidecar, not embeddings.parquet")
  }

  test("minhash LSH finds all high-Jaccard pairs on a synthetic controlled-overlap corpus") {
    // The band math (32 bands x 2 rows: P(miss) = (1 - s^2)^32 < 1e-14 at
    // s >= 0.8) is only fixture-verified by the oracle compare; this drives
    // it on generated docs where the qualifying pair set is known by
    // construction: near-dup pairs built by small perturbation (Jaccard
    // well above 0.8) must ALL surface; unrelated docs (shared-shingle-free
    // vocabularies) must not pair.
    import spark.implicits._
    val rnd = new scala.util.Random(424242L)
    def doc(vocab: String, n: Int) =
      (0 until n).map(i => s"${vocab}w${rnd.nextInt(40)}").mkString(" ")
    val bases = (0 until 20).map(i => (i, doc(s"v${i}_", 60)))
    val nearDups = bases.map { case (i, t) =>
      // perturb 2 of ~58 distinct tokens -> shingle Jaccard >> 0.8
      val toks = t.split(" "); toks(5) = "zq"; toks(17) = "zr"
      (100 + i, toks.mkString(" "))
    }
    val rows = (bases ++ nearDups).map { case (id, t) =>
      (id.toLong, t, "en", "synth", t.length)
    }
    val tmp = tempDir("minhash_prop")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = LlmOps.queries.toMap.apply("llm_dedup_minhash")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = bases.map { case (i, _) => (i.toLong, (100 + i).toLong) }.toSet
    assert(expected.subsetOf(got),
      s"LSH missed engineered near-dup pairs: ${(expected -- got).take(5)}")
    // no pair may bridge disjoint vocabularies
    got.foreach { case (a, b) =>
      assert(a % 100 == b % 100, s"false pair across vocabularies: ($a, $b)")
    }
  }

  test("prunedCosinePairs has exact recall on adversarial random vectors") {
    // The fixture hash-match proves exact recall on ONE distribution; this
    // drives the triangle-inequality prune on a seeded random mix of tight
    // clusters (pruning fires) and uniform spread (pruning can't), at two
    // thresholds, and demands set-identity with the brute-force pairs.
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(20260812L)
    val dim = 16
    def noisy(c: Array[Double], eps: Double) =
      c.map(x => x + (rnd.nextDouble() - 0.5) * eps)
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val clustered = (0 until 150).map(i => noisy(centers(i % 5), 0.1))
    val spread = Array.fill(150)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val vecs = (clustered ++ spread).zipWithIndex
      .map { case (v, i) => (i.toLong, s"l${i % 3}", v) }
    val e = vecs.toDF("vec_id", "label", "emb")
      .withColumn("ssq", expr("graft_dot(emb, emb)"))
      .localCheckpoint(true)
    val a = e.select(col("vec_id").as("va"), col("emb").as("emb_a"), col("ssq").as("ssq_a"))
    val b = e.select(col("vec_id").as("vb"), col("emb").as("emb_b"), col("ssq").as("ssq_b"))
    for (tau <- Seq(0.4, 0.8)) {
      val brute = a.join(b, col("va") < col("vb"))
        .withColumn("cos_sim", round(
          expr("graft_dot(emb_a, emb_b)") / (sqrt(col("ssq_a")) * sqrt(col("ssq_b"))), 6))
        .filter(col("cos_sim") >= tau)
        .select("va", "vb", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pruned = AnnIndex.prunedCosinePairs(e, tau)
        .select("va", "vb", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(brute.nonEmpty, s"degenerate fixture at tau=$tau: no brute pairs")
      assert(pruned === brute, s"recall/soundness violated at tau=$tau: " +
        s"missing=${(brute -- pruned).take(5)} extra=${(pruned -- brute).take(5)}")
    }
    // exact per-query SEARCH top-k must equal the brute-force per-query
    // ranking (ordered) on the same adversarial mix — queries drawn from
    // both the clustered mass (prune fires) and the uniform spread
    val queries = e.filter(col("vec_id") % 30 === 0)
    val corpus = e.filter(col("vec_id") % 30 =!= 0)
    for (k <- Seq(3, 10)) {
      val qs = queries.select(col("vec_id").as("qid"),
        col("emb").as("qemb"), col("ssq").as("qssq"))
      val cs = corpus.select(col("vec_id").as("nbr"),
        col("emb").as("emb_b"), col("ssq").as("ssq_b"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nbr").asc)
      val bruteSearch = qs.crossJoin(cs)
        .withColumn("cos_sim", round(
          expr("graft_dot(qemb, emb_b)") / (sqrt(col("qssq")) * sqrt(col("ssq_b"))), 6))
        .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= k)
        .select(col("qid"), col("nbr"), col("cos_sim"))
        .orderBy(col("qid").asc, col("rnk").asc)
        .collect().map(_.toSeq.toList).toList
      val fastSearch = AnnIndex.exactSearchTopK(queries, corpus, k)
        .select(col("qid"), col("nbr"), col("cos_sim"))
        .collect().map(_.toSeq.toList).toList
      assert(fastSearch === bruteSearch, s"search top-$k diverged from brute force")
    }
    // exact two-phase top-k must equal the brute-force ranking (ordered)
    for (k <- Seq(5, 25)) {
      val bruteTop = a.join(b, col("va") < col("vb"))
        .withColumn("cos_sim", round(
          expr("graft_dot(emb_a, emb_b)") / (sqrt(col("ssq_a")) * sqrt(col("ssq_b"))), 6))
        .orderBy(col("cos_sim").desc, col("va").asc, col("vb").asc).limit(k)
        .select("va", "vb", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      val fast = AnnIndex.exactTopKPairs(e, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      assert(fast === bruteTop, s"top-$k diverged from brute force")
    }
  }

  test("containment prefix filter at 10x fixture scale: lossless on planted pairs, near-linear fan-out under Zipf skew") {
    // Adversarial shape for a prefix-filter index: STOP tokens present in
    // EVERY document (the worst-case posting list, df = n) plus a long
    // tail of rare tokens. Rarest-first prefix ordering must (a) never
    // lose a true containment pair — the pigeonhole proof — and (b) keep
    // the candidate join near-linear because stop tokens, however long
    // their posting lists, never enter any prefix.
    import spark.implicits._
    val rnd = new scala.util.Random(77001L)
    val n = 4000 // ~10x the sf0.001 document count
    val stops = (0L until 10L).toSeq // in every doc: df = n for all ten
    val docs = (0 until n).map { i =>
      // 25 rare tokens from a 400k-hash space: mostly unique, occasional
      // cross-doc collisions keep the join honest
      val rare = Seq.fill(25)(10L + rnd.nextInt(400000).toLong)
      (i.toLong, (stops ++ rare).distinct.sorted.toArray)
    }
    // planted containment: doc n+i keeps all stops and drops 5 rare
    // tokens of doc i -> c(A->B) = 1.0 >= tau for A the subset doc
    val planted = (0 until 40).map { i =>
      val sub = docs(i)._2.filter(h => h < 10L || h % 5L != 1L)
      ((n + i).toLong, sub)
    }
    val base = (docs ++ planted).toDF("doc_id", "hs").localCheckpoint(true)
    val cands = TextDedup.containmentPrefixCandidates(base, tau = 0.8)
    val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 40).foreach { i =>
      assert(got.contains((i.toLong, (n + i).toLong)),
        s"lossless prefix filter dropped planted containment pair $i")
    }
    // fan-out: brute force is n(n-1)/2 ~ 8.1M pairs; the prefix join must
    // stay within a small constant of corpus size even though every doc
    // shares ten full-corpus stop tokens
    val cnt = got.size
    assert(cnt <= 5L * (n + 40),
      s"candidate fan-out $cnt exceeds the near-linear bound (${5 * (n + 40)})")
    LlmOps.releaseCheckpoint(base)
  }

  test("directed prefix filter: lossless incremental candidates incl. df-0 probe hashes at the exact pigeonhole bound") {
    // The incremental form prefixes ONLY the probe batch and posts ONLY
    // the corpus. Two planted families: full subsets (c = 1.0), and
    // "tight" probes sitting exactly AT τ whose prefix is almost entirely
    // df-0 hashes (absent from every target) — the pigeonhole's worst
    // case: 6 of the 7 prefix slots burn on unmatchable hashes and the
    // single remaining slot must still hit the right target.
    import spark.implicits._
    val rnd = new scala.util.Random(88002L)
    val n = 2000
    val stops = (0L until 10L).toSeq
    val targets = (0 until n).map { i =>
      val rare = Seq.fill(25)(10L + rnd.nextInt(300000).toLong)
      (i.toLong, (stops ++ rare).distinct.sorted.toArray)
    }
    val subs = (0 until 30).map { i =>
      ((10000 + i).toLong, targets(i)._2.filter(h => h < 10L || h % 5L != 1L))
    }
    val tight = (0 until 10).map { i =>
      val from = targets(i)._2.take(24)
      val novel = (0 until 6).map(j => 1000000L + i * 100L + j)
      ((20000 + i).toLong, (from ++ novel).sorted.toArray) // |probe| = 30, c = 24/30 = 0.8
    }
    val probes = (subs ++ tight).toDF("doc_id", "hs").localCheckpoint(true)
    val corpus = targets.toDF("doc_id", "hs").localCheckpoint(true)
    val posting = TextDedup.postingOf(corpus)
    val got = TextDedup.containmentProbeCandidates(probes, posting,
        TextDedup.docFreq(posting), tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 30).foreach { i =>
      assert(got.contains(((10000 + i).toLong, i.toLong)),
        s"directed prefix filter dropped planted subset pair $i")
    }
    (0 until 10).foreach { i =>
      assert(got.contains(((20000 + i).toLong, i.toLong)),
        s"directed prefix filter dropped at-the-bound tight pair $i")
    }
    assert(got.forall(_._1 >= 10000L), "candidates must be probe-oriented")
    assert(got.size <= 5L * (probes.count() + n),
      s"directed candidate fan-out ${got.size} exceeds the near-linear bound")
    LlmOps.releaseCheckpoint(probes)
    LlmOps.releaseCheckpoint(corpus)
  }

  test("PPS sampling invariants: heavy items drawn exactly once, zero weights never, slots strictly increase") {
    // The fixture oracle pins engine agreement; this pins the SAMPLING
    // SEMANTICS on weights the fixture never exhibits: one doc carrying
    // ~2/3 of the total weight (spans ~33 of the 50 slots — systematic
    // PPS without replacement must emit it ONCE, which is also why total
    // draws land under n), and a zero-weight doc (its cumulative interval
    // is empty — no slot boundary can land in it).
    import spark.implicits._
    val tmp = tempDir("pps_prop")
    val rows = Seq((0L, 0L), (1L, 10000L)) ++ (2L until 100L).map(i => (i, 50L))
    rows.toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = LlmOps.queries.toMap.apply("llm_sample_pps")(spark, tmp).collect()
    val ids = got.map(_.getLong(0))
    assert(ids.distinct.length === ids.length, "a doc was drawn twice")
    assert(ids.contains(1L), "an item heavier than W/n must always be drawn")
    assert(!ids.contains(0L), "zero-weight items can never be drawn")
    assert(got.length < 50,
      "the heavy item covers several slots, so draws must land under n")
    // slots are strictly increasing in doc order and live in [1, n]
    val slots = got.sortBy(_.getLong(0)).map(_.getLong(3)).toSeq
    assert(slots === slots.sorted && slots.distinct === slots,
      s"slots must strictly increase: $slots")
    assert(slots.forall(s => s >= 1 && s <= 50))
  }

  test("PQ sampled trainer at 10x fixture scale keeps recall on planted near-duplicates") {
    // Past 4096 vectors the PQ codebook trains on a deterministic hash
    // sample while encoding stays full-corpus — this drives that regime
    // (fixture corpora never reach it): 6000 vectors, 60 planted
    // near-duplicate pairs (cos >= 0.95 by construction). Of the planted
    // pairs that share an LSH bucket (the candidate generator's scope),
    // the sampled-codebook scorer must retain a solid majority — a
    // trainer that overfits its sample or a codebook starved by sampling
    // would push reconstructed cosines under the 0.3 bar exactly here.
    import spark.implicits._
    val rnd = new scala.util.Random(77002L)
    val dim = 64
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val planted = (0 until 60).flatMap { i =>
      val a = unit()
      val b = a.map(x => (x + (rnd.nextDouble() * 0.02 - 0.01)).toFloat)
      Seq((i.toLong * 2, a), (i.toLong * 2 + 1, b))
    }
    val filler = (200L until 6080L).map(i => (i, unit()))
    val rows = (planted ++ filler).map { case (id, v) => (id, v, (id % 7).toInt) }
    val tmp = tempDir("pq_scale")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val pq = LlmOps.queries.toMap.apply("llm_sim_ann_pq")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket visibility of each planted pair under the corpus-adaptive LSH
    val e = rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val buckets = AnnIndex.signBuckets(e, AnnIndex.annBits(rows.size.toLong))
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val visible = (0 until 60).map(i => (i.toLong * 2, i.toLong * 2 + 1))
      .filter { case (a, b) => buckets(a) == buckets(b) }
    assert(visible.size >= 30,
      s"fixture degenerate: only ${visible.size}/60 planted pairs bucket-visible")
    val recall = visible.count(pq.contains).toDouble / visible.size
    assert(recall >= 0.7,
      s"sampled-trainer PQ recall $recall over ${visible.size} visible planted pairs")
  }

  test("two-level IVF equals the flat form on a 100k corpus (and both recover planted duplicates)") {
    // The flat exact path caps nlist at 4096 because its geometry step
    // cross-joins nlist² cell pairs; past that prunedCosinePairs switches
    // to the coarse→fine two-level codebook. Both are exact by the same
    // triangle-inequality proof for ANY codebook, so on the same corpus
    // they must return the IDENTICAL pair set — driven here on 100k+
    // vectors (1000× fixture scale) in 200 angular blobs with 150 planted
    // near-duplicate pairs, flat nlist=1024 vs two-level 32×32.
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(51515L)
    val dim = 8
    val nBlobs = 200
    val perBlob = 500
    val centers = Array.fill(nBlobs)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    // ±0.1 noise ⇒ blob angular radius ~6°: tight enough that the cell
    // radii keep cross-blob cell pairs pruned (wider blobs inflate the
    // admissible set toward all-pairs — the documented exact-join floor).
    val blobVecs = (0 until nBlobs * perBlob).map { i =>
      (i.toLong, centers(i % nBlobs).map(x => x + (rnd.nextDouble() - 0.5) * 0.2))
    }
    // planted near-duplicates: tiny perturbations of the first 150 vectors
    val dups = (0 until 150).map { i =>
      (200000L + i, blobVecs(i)._2.map(x => x * 1.001 + (rnd.nextDouble() - 0.5) * 1e-3))
    }
    val e = (blobVecs ++ dups)
      .map { case (id, v) => (id, s"l${id % 3}", v) }
      .toDF("vec_id", "label", "emb")
      .withColumn("ssq", expr("graft_dot(emb, emb)"))
      .localCheckpoint(true)
    val tau = 0.999 // keeps ordinary within-blob pairs out; planted pairs in
    def collectPairs(df: org.apache.spark.sql.DataFrame) = df
      .select("va", "vb", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val flat = collectPairs(AnnIndex.prunedCosinePairs(e, tau, nlist = 1024))
    val two = collectPairs(AnnIndex.prunedCosinePairsTwoLevel(e, tau, 32, 32))
    assert(flat.nonEmpty, "degenerate corpus: no qualifying pairs")
    assert(two === flat, s"two-level diverged from flat: " +
      s"missing=${(flat -- two).take(5)} extra=${(two -- flat).take(5)}")
    val ids = flat.map(p => (p._1, p._2))
    (0 until 150).foreach { i =>
      assert(ids.contains((i.toLong, 200000L + i)), s"planted dup pair $i missed")
    }
    // top-k on the same corpus: the two-phase t0 bound must thread through
    // the coarse prune without disturbing the ORDERED ranking.
    val flatTop = AnnIndex.exactTopKPairs(e, 20, nlist = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val twoTop = AnnIndex.exactTopKPairsTwoLevel(e, 20, 32, 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(flatTop.size === 20)
    assert(twoTop === flatTop, s"two-level top-k diverged:\n$twoTop\nvs\n$flatTop")
    // drive the REAL flat→two-level dispatch (count, derivation, argument
    // order), not just the two-level bodies: an injected flatCap makes the
    // derived nlist (≈√n = 318 here) hit the cap at test scale, so both
    // entry points take the production switch with side = ⌈n^(1/4)⌉ = 18.
    assert(AnnIndex.twoLevelSide(100150L) === 18)
    val switched = collectPairs(AnnIndex.prunedCosinePairs(e, tau, flatCap = 16))
    assert(switched === flat, s"dispatched two-level diverged from flat: " +
      s"missing=${(flat -- switched).take(5)} extra=${(switched -- flat).take(5)}")
    val switchedTop = AnnIndex.exactTopKPairs(e, 20, flatCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(switchedTop === flatTop,
      s"dispatched two-level top-k diverged:\n$switchedTop\nvs\n$flatTop")
  }

  test("exactCellsOrCorpus guards the 4096-list flat cap: over-cap dispatch switches to two-level, results unchanged") {
    // The four declared exact-pair queries route through
    // exactCellsOrCorpus; below the cap they ride the persisted flat
    // cells, at/past it they must take the inline two-level path — and
    // because both are exact for ANY codebook, the switch must be
    // result-invisible. Driven on the fixture corpus with an injected
    // flatCap (ivfNlistExact floors at 16, so flatCap=16 always trips).
    val flatCells = AnnIndex.exactCellsOrCorpus(spark, sf)
    assert(flatCells.isInstanceOf[AnnIndex.FlatCells],
      "fixture corpus should be in the flat regime under the real cap")
    val overCells = AnnIndex.exactCellsOrCorpus(spark, sf, flatCap = 16)
    assert(overCells.isInstanceOf[AnnIndex.OverCapCorpus],
      "injected cap should force the over-cap regime")
    def pairsOf(c: AnnIndex.ExactCells) =
      AnnIndex.exactPairsVia(c, 0.4).select("va", "vb", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pFlat = pairsOf(flatCells)
    val pOver = pairsOf(overCells)
    assert(pFlat.nonEmpty, "degenerate fixture: no threshold pairs")
    assert(pOver === pFlat, s"over-cap pair set diverged: " +
      s"missing=${(pFlat -- pOver).take(5)} extra=${(pOver -- pFlat).take(5)}")
    def topOf(c: AnnIndex.ExactCells) = AnnIndex.exactTopKVia(c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val tFlat = topOf(flatCells)
    assert(tFlat.size === 10)
    assert(topOf(overCells) === tFlat, "over-cap top-k ranking diverged")
    // the vertex base (dedup keep-set) is regime-invariant too
    def verts(c: AnnIndex.ExactCells) = AnnIndex.exactVerticesVia(c)
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    assert(verts(overCells) === verts(flatCells))
  }

  test("prefix-filter containment equals the brute-force containment dedup on the fixture corpus") {
    // At sf0.001 the whole corpus is doc_id < 500, so the full-corpus
    // prefix-filter path and the bounded brute-force twin run over
    // identical documents; both must produce the identical result set
    // (the prefix filter is lossless by pigeonhole, and both apply the
    // same exact verify).
    val pf = SparkEntry_queries("llm_dedup_containment_lsh")
      .collect().map(_.toSeq.toList).toSet
    val brute = SparkEntry_queries("llm_dedup_containment")
      .collect().map(_.toSeq.toList).toSet
    assert(brute.nonEmpty, "degenerate fixture: no containment pairs")
    assert(pf === brute,
      s"missing=${(brute -- pf).take(5)} extra=${(pf -- brute).take(5)}")
  }

  test("prefix-filter containment recovers planted short-in-long pairs that minhash bands would miss") {
    // The round-4 band generator had a recall floor exactly here: a short
    // doc embedded verbatim in a much longer one has containment 1.0 but
    // shingle Jaccard ~|A|/|B| << 0.3, where the 32x2 band miss
    // probability is material. The prefix filter's pigeonhole guarantee
    // does not depend on Jaccard, so EVERY planted pair must surface.
    import spark.implicits._
    val rnd = new scala.util.Random(777L)
    def longDoc(v: Int) =
      (0 until 200).map(_ => s"v${v}_w${rnd.nextInt(60)}").mkString(" ")
    val longs = (0 until 15).map(i => (i.toLong, longDoc(i)))
    // short doc = a contiguous 30-token slice of its long doc: its word
    // 3-gram shingles are a strict subset -> containment(short->long) = 1.0,
    // Jaccard ~ 28/198 ~ 0.14, far below any banding threshold.
    val shorts = longs.map { case (i, t) =>
      (100L + i, t.split(" ").slice(40, 70).mkString(" "))
    }
    val rows = (longs ++ shorts).map { case (id, t) =>
      (id, t, "en", "synth", t.length)
    }
    val tmp = tempDir("containment_prop")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = LlmOps.queries.toMap.apply("llm_dedup_containment_lsh")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    longs.foreach { case (i, _) =>
      assert(got.contains((100L + i, i)),
        s"planted short-in-long pair (${100 + i}, $i) missed")
    }
    // soundness: no pair may bridge disjoint vocabularies
    got.foreach { case (a, b) =>
      assert(a % 100 == b % 100, s"false pair across vocabularies: ($a, $b)")
    }
  }

  test("label propagation converges on a worst-case chain in O(log n) rounds") {
    // The fixture graph is shallow (band cliques); this drives the loop on
    // its worst case — a 60-node path (diameter 59) plus a clique, an
    // isolated vertex, and a cycle — and demands the exact component minima
    // everywhere PLUS the pointer-jumping convergence rate: plain
    // neighbor-min label propagation needs diameter (~60) rounds on the
    // chain, while the L(L(v)) shortcut doubles the propagated distance
    // each round, so rounds must stay within 2·⌈log₂ n⌉ + 2.
    import spark.implicits._
    val n = 60L
    val chain = (0L until n).sliding(2).map(p => (p(0), p(1))).toSeq
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val cycle = Seq((200L, 201L), (201L, 202L), (202L, 200L))
    val vertices = ((0L until n) ++ (100L to 104L) ++ Seq(150L) ++ (200L to 202L))
      .toDF("doc_id")
    val edges = (chain ++ clique ++ cycle).toDF("a", "b")
    val (labels, rounds) = Graph.labelPropagateCounted(vertices, edges,
      "label-propagation-spec", eager = false)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until n).foreach(v => assert(got(v) === 0L, s"chain node $v"))
    (100L to 104L).foreach(v => assert(got(v) === 100L, s"clique node $v"))
    assert(got(150L) === 150L, "singleton")
    (200L to 202L).foreach(v => assert(got(v) === 200L, s"cycle node $v"))
    val bound = 2 * math.ceil(math.log(vertices.count().toDouble) / math.log(2)).toInt + 2
    assert(rounds <= bound,
      s"convergence not logarithmic: $rounds rounds on a diameter-59 chain (bound $bound)")
  }

  test("dedup clusters: pair endpoints co-cluster and representatives are component minima") {
    // The oracle compare proves equality with the recursive closure; this
    // pins the two structural laws a consumer relies on directly.
    val pairs = SparkEntry_queries("llm_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = SparkEntry_queries("llm_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min === cid,
        s"cluster $cid representative is not the member minimum")
    }
  }

  test("ANN bucket spaces scale with corpus size: occupancy stays bounded at 10x growth") {
    // Formula bounds: mean sign-LSH bucket occupancy n/2^bits <= 8 and mean
    // IVF cell size n/nlist <= 128 must hold across 4 decades, not just at
    // fixture scale (where both formulas must still derive the round-3
    // constants so fixture results are unchanged).
    assert(AnnIndex.annBits(500) === 8 && AnnIndex.annBits(2000) === 8)
    assert(AnnIndex.ivfNlist(500) === 16 && AnnIndex.ivfNlist(2000) === 16)
    for (n <- Seq(500L, 5000L, 50000L, 500000L, 5000000L)) {
      val bits = AnnIndex.annBits(n)
      val nlist = AnnIndex.ivfNlist(n)
      assert(n.toDouble / (1L << bits) <= 8.0,
        s"n=$n bits=$bits mean occupancy ${n.toDouble / (1L << bits)}")
      assert(n.toDouble / nlist <= 128.0,
        s"n=$n nlist=$nlist mean cell size ${n.toDouble / nlist}")
      // exact-path sizing: the nlist² cell-pair space must stay ~linear
      // in n (within the documented 4096-list cap), never quadratic.
      val ne = AnnIndex.ivfNlistExact(n).toLong
      assert(ne * ne <= 4L * n || ne == 4096L,
        s"n=$n exact nlist=$ne cell-pair space ${ne * ne} not ~linear")
    }
    assert(AnnIndex.annBits(Long.MaxValue) === 48, "bits cap")
    assert(AnnIndex.ivfNlistExact(Long.MaxValue) === 4096, "exact nlist cap")
    // Empirical: on a seeded random corpus grown 10x, the adaptive bit
    // count keeps the REALIZED max bucket occupancy flat instead of 10x.
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(20260812L)
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "emb")
    def maxOcc(n: Int): Long = AnnIndex
      .signBuckets(corpus(n), AnnIndex.annBits(n))
      .groupBy(col("bucket")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    val small = maxOcc(500)
    val big = maxOcc(5000)
    // 500 -> 5000 grows bits 8 -> 10: mean occupancy stays ~2-5 per bucket.
    // Allow generous skew headroom; the failure mode guarded against is the
    // FIXED bucket space, where big would be ~10x small.
    assert(big <= small * 3,
      s"occupancy not bounded: max bucket $small -> $big at 10x corpus")
  }

  test("pack_sequences and embed_quantize hold their structural laws on the fixture") {
    // Oracle compare proves engine equality; these pin the invariants a
    // consumer builds on. Packing: every offset lands inside the 4096
    // window, and (chunk_id, chunk_offset) advances monotonically in
    // doc_id order within a language (concat-chunk has no gaps).
    val packed = SparkEntry_queries("llm_pack_sequences").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(packed.nonEmpty)
    packed.foreach { case (_, id, _, _, off) =>
      assert(off >= 0 && off < 4096, s"doc $id offset $off outside window")
    }
    packed.groupBy(_._1).foreach { case (lang, docs) =>
      docs.sortBy(_._2).foldLeft(0L) { case (cum, (_, id, nTok, chunk, off)) =>
        assert(chunk === cum / 4096 && off === cum % 4096,
          s"$lang doc $id: chunk/offset diverged from the running sum")
        cum + nTok
      }
    }
    // Quantization: codes stay in [0, 255] and the reconstruction
    // lo + q·(hi−lo)/255 lands within one quantization step of a value
    // inside [lo, hi] — the contract that makes the codes usable.
    val q = SparkEntry_queries("llm_embed_quantize").collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getLong(4)))
    assert(q.nonEmpty)
    q.foreach { case (lo, hi, code) =>
      assert(code >= 0L && code <= 255L, s"code $code out of int8 range")
      val step = (hi - lo) / 255.0
      val recon = lo + code * step
      assert(recon >= lo - step - 1e-6 && recon <= hi + step + 1e-6,
        s"reconstruction $recon outside [$lo, $hi] ± step")
    }
  }

  test("rep_signals: degenerate and hand-computable docs produce the exact filter values") {
    // The oracle compare proves engine equality on the fixture; this pins
    // the filter semantics on constructed docs where the values are known
    // in closed form — the numbers a curation pipeline would threshold on.
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a a"),                // pure repetition
      (1L, "w x y z"),                // all distinct
      (2L, "p q p q p q"),           // alternating: trigrams 'p q p'/'q p q' repeat
      (3L, "one two"))                // sub-trigram doc
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("rep_signals")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = LlmOps.queries.toMap.apply("llm_rep_signals")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // "a a a a": top 4/4, simpson 12/12, trigrams: 2 total 1 distinct -> 1/2
    assert(got(0L) === ((4L, 1.0, 1.0, 0.5)))
    // all distinct: top 1/4, simpson 0, trigrams 2 total 2 distinct -> 0
    assert(got(1L) === ((4L, 0.25, 0.0, 0.0)))
    // p q p q p q: top 3/6, simpson (6+6)/30 = 0.4, trigrams 4 total 2
    // distinct -> 0.5
    assert(got(2L) === ((6L, 0.5, 0.4, 0.5)))
    // 2 tokens: trigram/simpson guards -> 0.0, not NaN or a crash
    assert(got(3L) === ((2L, 0.5, 0.0, 0.0)))
  }

  test("approx_count_distinct stays within the declared error bound") {
    // The declared query emits (n_exact, hll_ok); hll_ok must be TRUE
    // everywhere (that is what the DuckDB oracle pins), and the raw HLL
    // estimate is re-derived here and bounded against the exact count.
    val rows = SparkEntry_queries("agg_approx_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(2), s"nation ${r.getInt(0)}: hll_ok false"))
    val approx = Tables.supplier(spark, sf)
      .groupBy(col("s_nationkey"))
      .agg(approx_count_distinct(col("s_suppkey"), 0.02).as("a"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exact = Tables.supplier(spark, sf)
      .groupBy(col("s_nationkey")).agg(countDistinct(col("s_suppkey")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k).toDouble - n) / n <= 0.15,
        s"nation $k: approx ${approx(k)} vs exact $n")
    }
  }

  test("fingerprint is stable and collision-free on distinct fixture docs") {
    val fp = SparkEntry_queries("llm_fingerprint").collect()
    assert(fp.map(_.getLong(1)).distinct.length === fp.length,
      "rolling-hash collision on fixture docs")
    val again = SparkEntry_queries("llm_fingerprint").collect()
    assert(fp.map(_.toSeq.toList).toList === again.map(_.toSeq.toList).toList)
  }

  private def docTable(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val docs = rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("llmops_docs")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("decontaminate flags exactly the docs sharing an eval 8-gram") {
    // The oracle compare proves engine equality on the fixture; this pins
    // the semantics on a planted case: an eval passage copied verbatim
    // into one training doc, absent from the others.
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val tmp = docTable(Seq(
      (0L, s"prefix $passage suffix", "src0"),              // eval doc
      (1L, s"own words then $passage and more after that", "src1"), // contaminated
      (2L, "completely unrelated training text with enough tokens here now", "src1"),
      (3L, "short doc", "src2")))                            // < 8 tokens: clean
    val got = LlmOps.queries.toMap.apply("llm_decontaminate")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(!got.contains(0L), "eval doc must not appear in the training output")
    assert(got(1L)._2 && got(1L)._1 >= 1L, "planted contamination not flagged")
    assert(got(2L) === ((0L, false)))
    assert(got(3L) === ((0L, false)))
  }

  test("passage_dedup: duplicated 16-token windows are counted exactly") {
    val p1 = (1 to 16).map(i => s"t$i").mkString(" ")  // shared passage
    val p2 = (1 to 16).map(i => s"u$i").mkString(" ")  // planted in doc 3
    val tmp = docTable(Seq(
      (0L, p1, "s"),                                   // identical to doc 1
      (1L, p1, "s"),                                   // identical to doc 0
      (2L, p2, "s"),                                   // its window recurs in doc 3
      (3L, s"$p2 v1 v2 v3 v4", "s"),                   // 5 windows, 1 duplicated
      (4L, (1 to 16).map(i => s"w$i").mkString(" "), "s"))) // unique
    val got = LlmOps.queries.toMap.apply("llm_passage_dedup")(spark, tmp)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(0L) === ((1L, 1L, 1.0)))
    assert(got(1L) === ((1L, 1L, 1.0)))
    assert(got(2L) === ((1L, 1L, 1.0)))
    assert(got(3L) === ((5L, 1L, 0.2)))
    assert(got(4L) === ((1L, 0L, 0.0)))
  }

  test("substring_dedup finds phase-straddling and sub-16-token runs that passage_dedup misses") {
    // A 10-token run copied between docs at DIFFERENT offsets (phase
    // straddle), in docs long enough that no 16-token window repeats:
    // llm_passage_dedup reports zero duplicated windows, while
    // llm_substring_dedup recovers the exact maximal span on both sides.
    val run = (1 to 10).map(i => s"d$i").mkString(" ")      // 10 shared tokens
    val tmp = docTable(Seq(
      (0L, s"a1 a2 a3 $run a4 a5 a6", "s"),                 // run at offset 3
      (1L, s"b1 $run b2 b3 b4 b5 b6 b7", "s"),              // run at offset 1
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15 c16 c17", "s")))
    val passage = LlmOps.queries.toMap.apply("llm_passage_dedup")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(passage.values.forall(_ === 0L),
      "premise broken: passage_dedup should miss the sub-16-token run")
    val spans = LlmOps.queries.toMap.apply("llm_substring_dedup")(spark, tmp)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(spans.toSeq.sorted === Seq(
      0L -> ((3L, 13L, 10L)),   // exact maximal span, offset 3
      1L -> ((1L, 11L, 10L)))) // same run, offset 1 — doc 2 clean
  }

  test("substring_dedup merges straddling windows into one maximal span") {
    // A 20-token shared run yields 13 overlapping 8-token duplicated
    // windows; the islands merge must reconstruct ONE [s, s+20) span per
    // doc, not 13 fragments. A second disjoint 8-token run in the same
    // doc must stay a separate island.
    val long = (1 to 20).map(i => s"x$i").mkString(" ")
    val short = (1 to 8).map(i => s"y$i").mkString(" ")
    val tmp = docTable(Seq(
      (0L, s"$long p1 p2 p3 $short", "s"),                  // runs at 0 and 23
      (1L, s"q1 q2 $long", "s"),                            // run at offset 2
      (2L, s"r1 r2 r3 r4 r5 r6 $short r7", "s")))           // run at offset 6
    val spans = LlmOps.queries.toMap.apply("llm_substring_dedup")(spark, tmp)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq.sorted === Seq(
      (0L, 0L, 20L, 20L), (0L, 23L, 31L, 8L),
      (1L, 2L, 22L, 20L),
      (2L, 6L, 14L, 8L)))
  }

  test("bm25 matches the hand-computed Okapi formula on a planted corpus") {
    // 4 docs, dl = 8 each, T = 32, N = 4; query terms merge/vector/stream.
    // Expected scores recomputed here with the SAME double expression tree
    // the query (and its DuckDB twin) uses — any drift in k1/b/idf
    // placement or rounding shows as an exact-value diff.
    val tmp = docTable(Seq(
      (0L, "merge merge merge a b c d e", "s"),
      (1L, "merge a b c d e f g", "s"),
      (2L, "a b c d e f g h", "s"),
      (3L, "vector stream a b c d e f", "s")))
    def score(tfdf: Seq[(Long, Long)], dl: Long, n: Long, t: Long): Double = {
      val raw = tfdf.map { case (tf, df) =>
        val idf = math.log(((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
        val sat = (tf.toDouble * 2.2) /
          (tf.toDouble + 1.2 * (0.25 + 0.75 * ((dl * n).toDouble / t.toDouble)))
        BigDecimal(idf * sat).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (raw / 1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = LlmOps.queries.toMap.apply("llm_bm25")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!got.contains(2L), "doc without query terms must not score")
    assert(got(0L) === ((1L, score(Seq((3L, 2L)), 8L, 4L, 32L))))
    assert(got(1L) === ((1L, score(Seq((1L, 2L)), 8L, 4L, 32L))))
    assert(got(3L) === ((2L, score(Seq((1L, 1L), (1L, 1L)), 8L, 4L, 32L))))
    assert(got(0L)._2 > got(1L)._2, "higher tf must outrank at equal dl")
  }

  test("winnowing: docs sharing a >= 6-token run share a fingerprint, disjoint docs share none") {
    // The winnowing guarantee (k=3-token grams, w=4-gram windows): any
    // shared token run of length >= k+w-1 = 6 yields at least one shared
    // selected fingerprint. Disjoint-vocabulary docs share nothing.
    val run = "alpha beta gamma delta epsilon zeta" // exactly 6 tokens
    val tmp = docTable(Seq(
      (0L, s"p1 p2 p3 $run q1 q2", "s"),
      (1L, s"r1 $run s1 s2 s3 s4 s5", "s"),
      (2L, "m1 m2 m3 m4 m5 m6 m7 m8 m9", "s")))
    val fps = LlmOps.queries.toMap.apply("llm_winnow_fingerprint")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((byDoc(0L) intersect byDoc(1L)).nonEmpty,
      "planted 6-token shared run produced no shared fingerprint")
    assert((byDoc(0L) intersect byDoc(2L)).isEmpty)
    assert((byDoc(1L) intersect byDoc(2L)).isEmpty)
    // compression: fewer fingerprints than grams (the point of winnowing)
    assert(byDoc(2L).size < 9 - 2, "winnowing selected every gram hash")
  }

  test("winnowing kernel matches the pure-HOF form row-for-row on the fixture") {
    // graft_winnow's fused loop must do identical arithmetic to the
    // built-in-expression twin (which the DuckDB oracle mirrors) — any
    // divergence in hashing, window mins, or distinct/sort order shows
    // up as a row diff here.
    val kernel = SparkEntry_queries("llm_winnow_fingerprint").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val hof = LlmOps.winnowHofForm(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(kernel.nonEmpty)
    assert(kernel === hof)
  }

  test("quality_filter keeps exactly the top ceil(0.9·n) of each language") {
    val scores = SparkEntry_queries("llm_quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byLang = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kept = SparkEntry_queries("llm_quality_filter").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(kept.nonEmpty)
    // re-derive the cut per language from first principles
    val expected = byLang.groupBy(_._2).flatMap { case (_, docs) =>
      val ranked = docs.keys.toSeq.sortBy(id => (-scores(id), id))
      ranked.take(math.ceil(ranked.size * 0.9).toInt)
    }.toSet
    assert(kept.map(_._1).toSet === expected)
    kept.foreach { case (id, _, q) => assert(q === scores(id)) }
  }

  test("split_assign is total, deterministic, and near the 80/10/10 design ratios") {
    val rows = SparkEntry_queries("llm_split_assign").collect()
    val n = rows.length.toDouble
    assert(n > 0)
    val byId = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.size === rows.length, "split must assign every doc exactly once")
    val frac = rows.groupBy(_.getString(2)).map { case (k, v) => k -> v.length / n }
    assert(frac.keySet.subsetOf(Set("train", "val", "test")))
    // 204/256 = 79.7% train, 26/256 = 10.2% val; allow binomial noise at n=500.
    assert(frac("train") > 0.72 && frac("train") < 0.87, s"train frac ${frac("train")}")
    assert(frac.getOrElse("val", 0.0) < 0.17 && frac.getOrElse("test", 0.0) < 0.17)
    // determinism: a second evaluation assigns identically.
    val again = SparkEntry_queries("llm_split_assign").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again === byId)
  }

  test("kmeans: separates planted groups, floor-div centroids, exact distances") {
    import spark.implicits._
    // Two well-separated planted groups; k = 2 seeds BOTH land in group A
    // (lowest vec_ids), so convergence must come from the Lloyd rounds,
    // not the init. Hand-traced: after 2 rounds c1 = [0,0] (mean of
    // {0,1,2} with floor division: 1 div 3 = 0), c2 = [100,100]
    // (301 div 3 = 100), so the final distances are {0,1,1, 0,1,1}.
    val q = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(1L, 0L)), (2L, Seq(0L, 1L)),
      (3L, Seq(100L, 100L)), (4L, Seq(101L, 100L)), (5L, Seq(100L, 101L)))
      .toDF("vec_id", "q")
    val rows = LlmOps.kmeansFixed(q, k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Set(0L, 1L, 2L).map(rows(_)._1).size === 1, "group A must be one cluster")
    assert(Set(3L, 4L, 5L).map(rows(_)._1).size === 1, "group B must be one cluster")
    assert(rows(0L)._1 !== rows(3L)._1, "groups must separate")
    assert(rows.view.mapValues(_._2).toMap ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
  }

  test("kmeans on the fixture: total assignment, k clusters, non-degenerate sizes") {
    val rows = SparkEntry_queries("llm_cluster_kmeans").collect()
    val fixtureIds = Tables.embeddings(spark, sf).count()
    assert(rows.length.toLong === fixtureIds, "every vector must be assigned")
    val sizes = rows.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(sizes.keySet.subsetOf((1L to 8L).toSet))
    assert(sizes.size >= 2, "fixture must occupy more than one cluster")
  }

  test("bpe_train: greedy leftmost merge chain on a planted corpus") {
    import spark.implicits._
    // Histogram {aaab: 2, ab: 1}. Hand-traced BPE:
    //   r1: pairs (a,a):4 [two per 'aaab'], (a,b):3 -> merge (a,a) @4,
    //       and 'aaab' recodes GREEDY-LEFT to [aa,a,b] (not [a,aa,b]).
    //   r2: (aa,a):2, (a,b):3 -> merge (a,b) @3; 'aaab' -> [aa,ab].
    //   r3: (aa,ab):2 -> merge (aa,ab) @2.
    val docs = Seq((0L, "aaab aaab ab")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("bpe_docs")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val merges = LlmOps.queries.toMap.apply("llm_bpe_train")(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toList === List((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L)))
  }
}
