package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured Streaming tests (SURVEY.md §2.I): MemoryStream micro-batches,
  * watermark/late-data behavior, stateful ops, checkpoint replay, and
  * batch-stream equivalence against the oracle-pinned batch forms. */
class StreamingSpec extends SparkSpec {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  // Media dedup fixtures. Block-structured audio: 64 constant blocks; the
  // half-rate rendition decimates each block exactly, so the energy
  // fingerprint is invariant.
  private def audioClip(codes: Seq[Int], rate: Int, perBlock: Int) =
    graft.multimodal.Multimodal.encodeWav(rate,
      codes.flatMap(c => Seq.fill(perBlock)(((c - 96) * 128).toShort)).toArray)
  private val codesA = (0 until 64).map(i => 97 + (i * 7) % 26)
  private val codesC = (0 until 64).map(i => 97 + (i * 11 + 3) % 26)
  // parity-grid video frames through the real JPEG codec
  private def frame(seed: Int): Array[Byte] = {
    val px = new Array[Byte](64 * 64)
    var i = 0
    while (i < px.length) {
      val j = (i / 64 / 8) * 8 + (i % 64) / 8
      px(i) = if ((j + seed) % 3 == 0) 48.toByte else 112.toByte
      i += 1
    }
    graft.multimodal.Jpeg.encodeGray(64, 64, px)
  }

  private val batch1 = Seq(
    Ev(1, t("2024-01-01 00:00:10"), 1, "click", 1.0),
    Ev(2, t("2024-01-01 00:00:40"), 1, "view", 2.0),
    Ev(3, t("2024-01-01 00:01:10"), 2, "click", 3.0),
    Ev(4, t("2024-01-01 00:02:05"), 1, "click", 4.0))
  // Watermark semantics: the watermark advances only AFTER the batch that
  // contains the advancing event, so batch2 raises it to 00:35 and only a
  // batch-THREE arrival of an older event is actually late.
  private val batch2 = Seq(
    Ev(5, t("2024-01-01 00:45:00"), 1, "view", 5.0),   // advances watermark to 00:35
    Ev(6, t("2024-01-01 00:00:50"), 2, "click", 6.0))  // NOT late yet (same batch)
  private val lateBatch = Seq(
    Ev(7, t("2024-01-01 00:00:55"), 2, "click", 7.0))  // late: watermark already 00:35
  private val allEvents = batch1 ++ batch2

  /** Run a streaming transform over the batches and collect the final sink
    * contents (complete or update mode memory sink). */
  private def runStream(mode: OutputMode, name: String)
      (xform: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = xform(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
      spark.table(name).collect()
    } finally q.stop()
  }

  test("tumbling window agg matches the batch form on the same data") {
    import spark.implicits._
    val streamed = runStream(OutputMode.Complete(), "tumbling")(
      df => StreamOps.tumblingAgg(df))
    // batch equivalence: nothing in these two batches is late w.r.t. the
    // watermark at its processing time, so the streamed result must equal
    // the same transform over the full static frame.
    val static = StreamOps.tumblingAgg(allEvents.toDF()).collect()
    assert(streamed.map(_.toSeq.toList).toSet === static.map(_.toSeq.toList).toSet)
  }

  test("late data beyond the watermark is dropped from append-mode results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.tumblingAgg(mem.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()  // watermark → 00:35
      mem.addData(lateBatch); q.processAllAvailable() // event 7 is late → dropped
      // far-future batch closes every window so append mode emits them
      mem.addData(Seq(Ev(99, t("2024-01-01 12:00:00"), 9, "view", 0.0)))
      q.processAllAvailable()
      val rows = spark.table("late_test").collect()
      // the 00:00 click window holds events 1 and 6 but NOT late event 7.
      val w0clicks = rows.filter(r =>
        r.getAs[Timestamp]("win_start") == t("2024-01-01 00:00:00") &&
          r.getAs[String]("event_type") == "click")
      assert(w0clicks.length === 1)
      assert(w0clicks.head.getAs[Long]("n") === 2L)
    } finally q.stop()
  }

  test("sliding windows: each event lands in window/slide overlapping panes") {
    val rows = runStream(OutputMode.Complete(), "sliding")(
      df => StreamOps.slidingAgg(df, window_ = "5 minutes", slide = "1 minute"))
    // event 3 at 00:01:10 belongs to the 5 panes starting 23:57..00:01
    val e3 = rows.filter(r => r.getAs[String]("event_type") == "click" &&
      r.getAs[Timestamp]("win_start").getTime <= t("2024-01-01 00:01:10").getTime &&
      r.getAs[Timestamp]("win_start").getTime > t("2024-01-01 00:01:10").getTime - 5 * 60 * 1000)
    assert(e3.length === 5)
  }

  test("session windows: gap merge and close") {
    val rows = runStream(OutputMode.Complete(), "sessions")(
      df => StreamOps.sessionAgg(df, gap = "30 minutes"))
    // user 1: events at 00:00:10, 00:00:40, 00:02:05 in one session, 00:45 new
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Timestamp]("session_start").getTime)
    assert(u1.length === 2)
    assert(u1.head.getAs[Long]("n_events") === 3L)
    assert(u1.head.getAs[Timestamp]("session_end") === t("2024-01-01 00:32:05"))
    assert(u1.last.getAs[Long]("n_events") === 1L)
  }

  test("streaming dedup drops duplicate event_ids within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.dedup(mem.toDF()).writeStream
      .format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch1.take(2)) // exact duplicates
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 4)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark evicts state at the watermark; plain dropDuplicates never does") {
    // The semantic boundary between the two dedup forms: after the
    // watermark passes a key's event time + delay, WithinWatermark forgets
    // the key (bounded state — a later duplicate re-emits), while plain
    // dropDuplicates remembers it forever (unbounded state — still drops).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(name: String, xform: DataFrame => DataFrame): Long = {
      val mem = MemoryStream[Ev]
      val q = xform(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        // original event_id=1 at 00:00:10 (state expiry 00:10:10)
        mem.addData(Seq(Ev(1, t("2024-01-01 00:00:10"), 1, "click", 1.0)))
        q.processAllAvailable()
        // advancer: watermark -> 00:35 AFTER this batch, evicting id=1's
        // WithinWatermark state (00:10:10 < 00:35)
        mem.addData(Seq(Ev(5, t("2024-01-01 00:45:00"), 1, "view", 5.0)))
        q.processAllAvailable()
        // duplicate id=1 with a fresh in-watermark timestamp (00:40 > 00:35)
        mem.addData(Seq(Ev(1, t("2024-01-01 00:40:00"), 1, "click", 9.0)))
        q.processAllAvailable()
        spark.table(name).count()
      } finally q.stop()
    }
    val within = run("dedup_within", df => StreamOps.dedup(df))
    val global = run("dedup_global", df => StreamOps.dedupGlobal(df))
    assert(within === 3L,
      "WithinWatermark must re-emit the duplicate after state eviction")
    assert(global === 2L,
      "plain dropDuplicates must drop the duplicate across any gap")
  }

  test("stream-static join enriches with dimension rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("user_id", "segment")
    val mem = MemoryStream[Ev]
    val q = StreamOps.enrichWithStatic(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
      assert(rows.length === 4)
      assert(rows.filter(_.getAs[Long]("user_id") == 1L)
        .forall(_.getAs[String]("segment") == "alpha"))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with nearby views") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.clickViewJoin(mem.toDF()).writeStream
      .format("memory").queryName("ssjoin_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(allEvents); q.processAllAvailable()
      val rows = spark.table("ssjoin_test").collect()
      // user 1 clicks at 00:00:10 & 00:02:05 both within 5 min of view 00:00:40
      assert(rows.map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("view_id"))).toSet ===
        Set((1L, 2L), (4L, 2L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.runningUserCounts(mem.toDF()).writeStream
      .format("memory").queryName("state_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
      val last = spark.table("state_test").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> rs.map(_.getAs[Long]("n_events")).max }
      assert(last === Map(1L -> 4L, 2L -> 2L))
    } finally q.stop()
  }

  test("transformWithState keeps running counts (Spark 4 API, RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val q = StreamOps.runningUserCountsTws(mem.toDF()).writeStream
      .format("memory").queryName("tws_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
      val last = spark.table("tws_test").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> rs.map(_.getAs[Long]("n_events")).max }
      assert(last === Map(1L -> 4L, 2L -> 2L))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("exactly-once parquet sink: checkpoint restart does not duplicate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_eo")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[Ev]
    val q1 = StreamOps.startParquetSink(mem.toDF(), out, ckpt)
    mem.addData(batch1); q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint with a new source delivering an
    // overlapping batch — committed offsets must not be re-emitted.
    val q2 = StreamOps.startParquetSink(mem.toDF(), out, ckpt)
    mem.addData(batch2); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(out).count() === 6) // 4 + 2, no duplicates
  }

  test("dropDuplicatesWithinWatermark survives a kill/restart: no duplicate, no lost row") {
    // The state-eviction test above proves the semantics within one run;
    // this proves the dedup STATE itself is durable across a checkpoint
    // restart — a duplicate of a pre-kill key must still be dropped by the
    // RECOVERED state store, and a never-seen key in the same post-restart
    // batch must still come through.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_dedup_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[Ev]
    def start() = StreamOps.dedup(mem.toDF()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(batch1) // ids 1-4, watermark after this batch: 00:02:05 - 10m
    q1.processAllAvailable()
    q1.stop() // kill mid-stream: ids 1-4 live in the dedup state store
    val q2 = start()
    try {
      mem.addData(Seq(
        Ev(1, t("2024-01-01 00:03:00"), 1, "click", 9.0),  // dup of pre-kill id
        Ev(8, t("2024-01-01 00:03:30"), 2, "view", 8.0)))  // never seen
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id"))
      assert(ids.sorted.toList === List(1L, 2L, 3L, 4L, 8L),
        s"restart boundary corrupted the dedup output: ${ids.sorted.toList}")
    } finally q2.stop()
  }

  test("streaming near-dup filter drops minhash near-duplicates across and within batches") {
    // The incremental form of llm_dedup_minhash: a persistent signature
    // store + per-batch band join. A doc near-duplicating an EARLIER
    // BATCH's doc is dropped, an in-batch duplicate keeps only the lowest
    // id, and unrelated docs pass through.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_neardup")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.startNearDupFilterSink(
      docs, s"$dir/out", s"$dir/store", s"$dir/ckpt")
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "and then rests quietly under the old oak tree"
    val other = "completely different content about spark catalyst optimizer " +
      "internals and whole stage code generation pipelines for modern engines"
    try {
      mem.addData((1L, base), (2L, other)); q.processAllAvailable()
      val near = base.replace("quietly", "noisily") // shingle jac ~0.73
      val third = "rows columns pages buffers caches spill files and shuffle " +
        "partitions make a distributed engine go fast at scale"
      mem.addData((10L, near), (11L, third), (12L, third)); q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out/b*")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toList
      assert(out === List(1L, 2L, 11L),
        s"expected 10 (cross-batch near-dup) and 12 (in-batch dup) dropped, got $out")
    } finally q.stop()
  }

  test("streaming near-dup filter: the signature store survives a kill/restart") {
    // The store is the filter's long-term memory: after a kill, a restarted
    // query must still drop a near-duplicate of a doc seen BEFORE the kill
    // (signatures come from the parquet store, not query state).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_neardup_ckpt")
    val mem = MemoryStream[(Long, String)]
    def start() = StreamOps.startNearDupFilterSink(
      mem.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/store", s"$dir/ckpt")
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "and then rests quietly under the old oak tree"
    val q1 = start()
    mem.addData((1L, base)); q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      mem.addData((20L, base.replace("quietly", "noisily")), (21L, "a brand " +
        "new document about partition pruning and column statistics for scans"))
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out/b*")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toList
      assert(out === List(1L, 21L),
        s"restart lost the signature store (20 must be dropped): $out")
    } finally q2.stop()
  }

  test("streaming near-dup filter: an unreadable store fails the batch instead of passing its duplicates") {
    // Only "no committed store dir yet" reads as an empty store; a store
    // that exists but cannot be read must stop the query, or every doc of
    // the batch would pass as unseen.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_neardup_corrupt")
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.startNearDupFilterSink(
      mem.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/store", s"$dir/ckpt")
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "and then rests quietly under the old oak tree"
    try {
      mem.addData((1L, base)); q.processAllAvailable()
      val parts = new java.io.File(s"$dir/store/b0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(parts.nonEmpty, "vacuous: batch 0 stored no signatures")
      parts.foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))
      mem.addData((2L, base))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(!new java.io.File(s"$dir/out/b1").exists(),
        "the duplicate of doc 1 was written as unseen")
    } finally q.stop()
  }

  test("foreachBatch merge sink upserts by key keeping the latest version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_merge")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[Ev]
    val q = StreamOps.startMergeSink(
      mem.toDF().select(col("user_id"), col("event_id"), col("value")),
      out, ckpt, key = "user_id", version = "event_id")
    try {
      mem.addData(Seq(
        Ev(1, t("2024-01-01 00:00:01"), 10, "click", 1.0),
        Ev(2, t("2024-01-01 00:00:02"), 20, "click", 2.0)))
      q.processAllAvailable()
      mem.addData(Seq(
        Ev(3, t("2024-01-01 00:00:03"), 10, "click", 9.0),  // upsert user 10
        Ev(4, t("2024-01-01 00:00:04"), 30, "click", 4.0))) // new user 30
      q.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap
      assert(rows === Map(10L -> (3L, 9.0), 20L -> (2L, 2.0), 30L -> (4L, 4.0)))
    } finally q.stop()
  }

  test("merge sink: a batch replayed after a crash mid-swap keeps every key") {
    // foreachBatch is at-least-once: a crash inside the target swap
    // re-fires the same batch. Both on-disk states the swap can be killed
    // in — the merged rows staged beside the old target, and the old
    // target already deleted — must replay to the full upserted table.
    import spark.implicits._
    val dir = tempDir("graft_mergeswap")
    val out = s"$dir/out"
    def run(rows: (Long, Long, Double)*): Unit = StreamOps.mergeBatch(
      rows.toDF("user_id", "event_id", "value"), out, "user_id", "event_id")
    def table: List[(Long, Long, Double)] = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"))).toList.sorted
    def mv(from: String, to: String): Unit = java.nio.file.Files.move(
      java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))
    def copy(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).forEach(p => java.nio.file.Files.copy(
        p, java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)))
    }
    val batch2 = Seq((10L, 3L, 9.0), (30L, 4L, 4.0))
    val want = List((10L, 3L, 9.0), (20L, 2L, 2.0), (30L, 4L, 4.0))
    run((10L, 1L, 1.0), (20L, 2L, 2.0))
    copy(out, s"$dir/before")
    run(batch2: _*)
    assert(table === want)
    // killed after staging, before the old target was deleted
    mv(out, s"$out.staged"); copy(s"$dir/before", out)
    run(batch2: _*)
    assert(table === want, "replay beside a staged target lost keys")
    // killed after the old target was deleted, before the final rename
    mv(out, s"$out.staged")
    run(batch2: _*)
    assert(table === want, "replay after the target was deleted lost keys")
    assert(!new java.io.File(s"$out.staged").exists() &&
      !new java.io.File(s"$out.writing").exists() &&
      new java.io.File(out).listFiles().forall(_.isFile),
      "swap left a temp dir behind")
  }

  test("streaming media dedup: rate/fps re-encodes of seen clips are dropped, batch-equivalent, restart-safe") {
    // The incremental, mixed-modality form of mm_dedup_audio/video: a
    // half-rate audio re-encode and a frame-doubled video re-upload of
    // clips ingested BEFORE A KILL must still be dropped by the restarted
    // query (signatures come from the parquet store, not query state),
    // and the survivor set must equal the one-shot batch dedup
    // (keep-lowest-media-id-per-signature is slicing-invariant).
    import graft.multimodal.Multimodal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_mediadedup")
    val mem = MemoryStream[(Long, String, Array[Byte])]
    def start() = StreamOps.startMediaDedupSink(
      mem.toDF().toDF("media_id", "media_type", "payload"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt")
    val f0 = frame(0); val f1 = frame(1)
    val batch1 = Seq(
      (1L, "audio", audioClip(codesA, 8000, 16)),
      (2L, "video", Multimodal.encodeVideo(Seq(f0, f1))),
      (3L, "video", Multimodal.encodeVideo(Seq(f1, f0)))) // reversed ≠ same
    val batch2 = Seq(
      (10L, "audio", audioClip(codesA, 4000, 8)),            // rate variant of 1 → drop
      (11L, "video", Multimodal.encodeVideo(Seq(f0, f0, f1, f1))), // doubled 2 → drop
      (12L, "audio", audioClip(codesC, 8000, 16)))           // new content → keep
    val q1 = start()
    mem.addData(batch1); q1.processAllAvailable()
    q1.stop() // the variants arrive AFTER the kill
    mem.addData(batch2)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out/b*")
        .collect().map(_.getAs[Long]("media_id")).sorted.toList
      assert(out === List(1L, 2L, 3L, 12L),
        s"expected 10 (audio rate variant) and 11 (fps variant) dropped: $out")
      // batch-equivalence: one-shot keep-lowest-id-per-signature over ALL rows
      val allRows = (batch1 ++ batch2)
        .map { case (id, t, p) => Multimodal.MediaRow(id, t, p) }.toDS()
      val au = Multimodal.audioFingerprint(allRows.filter(_.media_type == "audio"))
        .toDF().select(col("media_id"), concat(lit("a:"), col("fingerprint")).as("sig"))
      val vi = Multimodal.videoClipSignature(allRows.filter(_.media_type == "video"))
        .toDF().select(col("media_id"), concat(lit("v:"), col("clip_sig")).as("sig"))
      val oneShot = au.unionByName(vi).groupBy(col("sig"))
        .agg(min(col("media_id")).as("media_id"))
        .collect().map(_.getAs[Long]("media_id")).sorted.toList
      assert(out === oneShot, s"streamed survivors diverged from batch dedup: $out vs $oneShot")
    } finally q2.stop()
  }

  test("media dedup store compaction: bounded delta count, survivors identical across a kill/restart") {
    // The round-12 verdict's unbounded-store fix: with compactEvery = 2
    // the per-batch read set must stay <= 1 compacted fold + compactEvery
    // deltas, and folding must not change ANY dedup decision — survivors
    // equal the one-shot keep-lowest-id dedup exactly as in the
    // uncompacted test, including when the compaction boundary sits
    // before a kill/restart.
    import graft.multimodal.Multimodal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_mediacompact")
    val mem = MemoryStream[(Long, String, Array[Byte])]
    def start() = StreamOps.startMediaDedupSink(
      mem.toDF().toDF("media_id", "media_type", "payload"),
      s"$dir/out", s"$dir/store", s"$dir/ckpt", compactEvery = 2)
    val f0 = frame(0); val f1 = frame(1)
    val batches = Seq(
      Seq((1L, "audio", audioClip(codesA, 8000, 16)),
        (2L, "video", Multimodal.encodeVideo(Seq(f0, f1)))),
      Seq((10L, "audio", audioClip(codesA, 4000, 8)), // rate variant of 1 → drop
        (12L, "audio", audioClip(codesC, 8000, 16))), // new → keep
      // compaction fires at batch id 2; the kill happens before it
      Seq((20L, "video", Multimodal.encodeVideo(Seq(f0, f0, f1, f1))), // doubled 2 → drop
        (21L, "video", Multimodal.encodeVideo(Seq(f1, f0)))), // reversed ≠ 2 → keep
      Seq((30L, "audio", audioClip(codesC, 4000, 8)), // rate variant of 12 → drop
        (31L, "audio", audioClip(codesA, 8000, 16)))) // byte-identical to 1 → drop
    val q1 = start()
    mem.addData(batches(0)); q1.processAllAvailable()
    mem.addData(batches(1)); q1.processAllAvailable()
    q1.stop() // kill BEFORE the compacting batch
    mem.addData(batches(2))
    val q2 = start()
    try {
      q2.processAllAvailable() // batch 2 runs + compacts on the restarted query
      mem.addData(batches(3)); q2.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out/b*")
        .collect().map(_.getAs[Long]("media_id")).sorted.toList
      assert(out === List(1L, 2L, 12L, 21L),
        s"compacted-store survivors diverged: $out")
      // one-shot equivalence (monotone ids, so first-seen == lowest-id)
      val allRows = batches.flatten
        .map { case (id, t, p) => Multimodal.MediaRow(id, t, p) }.toDS()
      val au = Multimodal.audioFingerprint(allRows.filter(_.media_type == "audio"))
        .toDF().select(col("media_id"), concat(lit("a:"), col("fingerprint")).as("sig"))
      val vi = Multimodal.videoClipSignature(allRows.filter(_.media_type == "video"))
        .toDF().select(col("media_id"), concat(lit("v:"), col("clip_sig")).as("sig"))
      val oneShot = au.unionByName(vi).groupBy(col("sig"))
        .agg(min(col("media_id")).as("media_id"))
        .collect().map(_.getAs[Long]("media_id")).sorted.toList
      assert(out === oneShot,
        s"compacted streamed survivors diverged from batch dedup: $out vs $oneShot")
      // the store is BOUNDED: the compaction at batch 2 folded b0..b2
      // into c2 and deleted them, so only c2 + b3 remain
      val names = Option(new java.io.File(s"$dir/store").listFiles())
        .map(_.map(_.getName).toList.sorted).getOrElse(Nil)
        .filter(n => n.matches("[bc]\\d+"))
      assert(names === List("b3", "c2"),
        s"store not compacted to one fold + trailing deltas: $names")
      // and the fold kept first-seen rows only — one row per signature
      val c2 = spark.read.parquet(s"$dir/store/c2")
      assert(c2.groupBy(col("sig")).count().filter(col("count") > 1).count() === 0L,
        "compacted store holds duplicate signatures")
    } finally q2.stop()
  }

  test("media dedup compaction REPLAY: re-firing the compacting batch is idempotent and keeps the store") {
    // foreachBatch is at-least-once: a crash after the body but BEFORE the
    // offset commit re-fires the SAME (rows, id). For a compacting batch
    // the first firing already folded the store into c<id> and deleted the
    // deltas, so the replay's read set IS c<id> — the re-fired fold must
    // be SKIPPED (re-folding would read-and-overwrite c<id>, and the old
    // retirement set would then delete the entire compacted store) while
    // every dedup decision stays unchanged (c<id> filtered to
    // batch_id < id is exactly the pre-batch world). Exercised
    // deterministically by invoking the batch body twice at the
    // compaction id — the crash window a kill/restart of the query can't
    // hit on purpose.
    import graft.multimodal.Multimodal
    import spark.implicits._
    val dir = tempDir("graft_mediareplay")
    val f0 = frame(0); val f1 = frame(1)
    val batches = Seq(
      Seq((1L, "audio", audioClip(codesA, 8000, 16)),
        (2L, "video", Multimodal.encodeVideo(Seq(f0, f1)))),
      Seq((10L, "audio", audioClip(codesA, 4000, 8)),   // rate variant of 1 → drop
        (12L, "audio", audioClip(codesC, 8000, 16))),   // new → keep
      Seq((20L, "video", Multimodal.encodeVideo(Seq(f0, f0, f1, f1))), // doubled 2 → drop
        (21L, "video", Multimodal.encodeVideo(Seq(f1, f0)))),          // reversed ≠ 2 → keep
      Seq((30L, "audio", audioClip(codesC, 4000, 8)),   // rate variant of 12 → drop
        (31L, "audio", audioClip(codesA, 8000, 16))))   // byte-identical to 1 → drop
    def run(i: Int, id: Long): Unit = StreamOps.mediaDedupBatch(
      batches(i).toDF("media_id", "media_type", "payload"), id,
      s"$dir/out", s"$dir/store", compactEvery = 2)
    def storeNames: List[String] =
      Option(new java.io.File(s"$dir/store").listFiles())
        .map(_.map(_.getName).toList.sorted).getOrElse(Nil)
        .filter(n => n.matches("[bc]\\d+"))
    def outIds(id: Long): List[Long] = spark.read.parquet(s"$dir/out/b$id")
      .collect().map(_.getAs[Long]("media_id")).sorted.toList
    run(0, 0L); run(1, 1L)
    run(2, 2L) // compacting batch: folds b0..b2 into c2, deletes the deltas
    assert(storeNames === List("c2"), s"pre-replay store: $storeNames")
    val outFirst = outIds(2L)
    val c2First = spark.read.parquet(s"$dir/store/c2").collect()
      .map(r => (r.getAs[String]("sig"), r.getAs[Long]("media_id"),
        r.getAs[Long]("batch_id"))).sorted.toList
    run(2, 2L) // REPLAY — before the guard this threw (read+overwrite c2)
               // and would then have deleted the whole compacted store
    assert(storeNames === List("c2"),
      s"replay corrupted the store layout: $storeNames")
    assert(outIds(2L) === outFirst,
      s"replay changed the survivor set: ${outIds(2L)} vs $outFirst")
    val c2Replay = spark.read.parquet(s"$dir/store/c2").collect()
      .map(r => (r.getAs[String]("sig"), r.getAs[Long]("media_id"),
        r.getAs[Long]("batch_id"))).sorted.toList
    assert(c2Replay === c2First, "replay changed the compacted fold")
    run(3, 3L) // the stream continues past the replay
    assert(outIds(3L) === Nil, s"post-replay batch missed store dups: ${outIds(3L)}")
    val survivors = spark.read.parquet(s"$dir/out/b*")
      .collect().map(_.getAs[Long]("media_id")).sorted.toList
    // one-shot equivalence over ALL rows, as in the kill/restart test
    val allRows = batches.flatten
      .map { case (id, t, p) => Multimodal.MediaRow(id, t, p) }.toDS()
    val au = Multimodal.audioFingerprint(allRows.filter(_.media_type == "audio"))
      .toDF().select(col("media_id"), concat(lit("a:"), col("fingerprint")).as("sig"))
    val vi = Multimodal.videoClipSignature(allRows.filter(_.media_type == "video"))
      .toDF().select(col("media_id"), concat(lit("v:"), col("clip_sig")).as("sig"))
    val oneShot = au.unionByName(vi).groupBy(col("sig"))
      .agg(min(col("media_id")).as("media_id"))
      .collect().map(_.getAs[Long]("media_id")).sorted.toList
    assert(survivors === oneShot,
      s"replayed-stream survivors diverged from batch dedup: $survivors vs $oneShot")
  }

  test("streaming compaction monitor: plan equals the batch query and survives a kill/restart") {
    // The incremental form of scale_compaction_plan: per-batch (dt, hr)
    // inventory deltas accumulate in a store and the current plan is
    // rewritten through the SAME Basics.fileInventory byte arithmetic +
    // compactionPlanFromInventory bin assignment the declared query runs,
    // so streamed ≡ batch is structural. The kill/restart adds data while
    // the monitor is DOWN — the restarted query must fold it in from the
    // checkpoint, and pre-kill deltas must come back from the store.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_compact")
    val mem = MemoryStream[(Timestamp, String, String)]
    def start() = StreamOps.startCompactionPlanSink(
      mem.toDF().toDF("ts", "event_type", "props"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt", target = 200L)
    def slot(tag: String, day: Int, hr: Int, n: Int): Seq[(Timestamp, String, String)] =
      (0 until n).map { i =>
        (Timestamp.valueOf(f"2024-01-0$day $hr%02d:0${i % 6}:1${i % 10}"),
          s"ev$tag", "p" * (10 + i % 3))
      }
    val c1 = slot("a", 1, 0, 4) ++ slot("b", 1, 1, 5) ++ slot("c", 2, 3, 3)
    val c2 = slot("d", 1, 0, 2) ++ slot("e", 1, 5, 6) // slot (d1,0) grows; new slots
    val c3 = slot("f", 2, 3, 4) ++ slot("g", 2, 7, 2)
    val q1 = start()
    mem.addData(c1); q1.processAllAvailable()
    mem.addData(c2); q1.processAllAvailable()
    q1.stop()
    mem.addData(c3) // arrives while the monitor is down
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamedDf = spark.read.parquet(s"$dir/out/current")
      val streamed = streamedDf.collect().map(_.toSeq.toList).toSet
      val batchPlan = graft.ops.Basics.compactionPlanFromInventory(
        graft.ops.Basics.fileInventory(
          (c1 ++ c2 ++ c3).toDF("ts", "event_type", "props")), target = 200L)
        .collect().map(_.toSeq.toList).toSet
      assert(batchPlan.nonEmpty)
      assert(streamed === batchPlan,
        s"missing=${(batchPlan -- streamed).take(3)} extra=${(streamed -- batchPlan).take(3)}")
      // the fixture genuinely exercises bin packing: several bins per day
      assert(streamedDf.select("bin_id").distinct().count() >= 2)
      // and cross-batch accumulation: slot (day1, hr0) spans two batches
      val d1h0 = streamedDf.filter(col("hr") === 0).collect()
      assert(d1h0.length === 1 && d1h0.head.getAs[Long]("file_rows") === 6L,
        "cross-batch delta accumulation lost rows")
    } finally q2.stop()
  }

  test("batch-stream equivalence: streamed tumbling agg equals the oracle-pinned batch query shape") {
    import spark.implicits._
    val streamed = runStream(OutputMode.Complete(), "equiv")(
      df => StreamOps.tumblingAgg(df))
      .map(r => (r.getAs[Timestamp]("win_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"))).toSet
    val static = allEvents.toDF()
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === static)
  }

  test("streaming OHLC equals the batch candlestick on the same data (min_by/max_by state)") {
    import spark.implicits._
    val streamed = runStream(OutputMode.Complete(), "ohlc_equiv")(
      df => StreamOps.windowedOhlc(df))
      .map(r => (r.getAs[Timestamp]("win_start"), r.getAs[String]("event_type"),
        r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Long]("n"))).toSet
    val key = struct(col("ts"), col("event_id"))
    val static = allEvents.toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(min_by(col("value"), key).as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("open"), col("high"),
        col("low"), col("close"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(streamed === static)
  }

  test("silence detector: one alert per episode, in-horizon resume suppresses, final episodes match the batch view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // 30-minute silence, 10-minute watermark delay
    val q = StreamOps.streamSilenceAlerts(mem.toDF(), silenceMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("silence")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: speaks at 00:00 and (out of order, in horizon) 00:29 —
      //         the resume lands BEFORE wm passes 00:00+30m, so episode 1
      //         never alerts; then silent forever after 00:29.
      // user 2: speaks at 00:01, silent -> episode alerts at wm > 00:31;
      //         resumes at 02:00, silent again -> second episode alert.
      mem.addData(Seq(
        Ev(1, t("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(2, t("2024-01-01 00:01:00"), 2, "click", 1.0)))
      q.processAllAvailable()
      mem.addData(Seq( // advances wm to 00:30 only AFTER this batch
        Ev(3, t("2024-01-01 00:29:00"), 1, "view", 1.0),
        Ev(4, t("2024-01-01 00:40:00"), 3, "click", 1.0)))
      q.processAllAvailable()
      mem.addData(Seq( // wm now 00:30 < 00:31: user 2 not yet certain
        Ev(5, t("2024-01-01 02:00:00"), 2, "view", 1.0)))
      q.processAllAvailable() // wm -> 01:50: user 2 ep-1 alerts (00:01),
                              // user 1 (00:29+30m=00:59) alerts too
      mem.addData(Seq(Ev(6, t("2024-01-01 06:00:00"), 9, "click", 1.0)))
      q.processAllAvailable() // wm -> 05:50: closes user 2 ep-2, user 3
      val alerts = spark.table("silence").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("last_ts")))
        .toSet
      assert(alerts === Set(
        (1L, t("2024-01-01 00:29:00")),   // 00:00 gap was only 29m — no page
        (2L, t("2024-01-01 00:01:00")),   // first episode, preserved across
                                          //   the pre-certainty resume
        (2L, t("2024-01-01 02:00:00")),   // second episode
        (3L, t("2024-01-01 00:40:00"))),
        s"episode alerts wrong: $alerts")
      // user 9's sentinel stays pending (its own silence is uncertain):
      // exactly the batch-twin rule — last_ts above g_max - threshold
      assert(!alerts.exists(_._1 == 9L))
    } finally q.stop()
  }

  test("silence handler differential: random in-contract streams match the brute-force gap model") {
    // Seeded differential against an independent model: for any delivery
    // schedule that respects the watermark contract (every delivered time
    // is above the watermark at its batch), the union of alerts across all
    // invocations must be EXACTLY the certain gap-openers of the delivered
    // time-set — each once: a ∈ D alerts iff (succ(a) - a >= silence OR a
    // is the max) and the final watermark passed a + silence. This pins
    // the collapse logic (dropping a close pair's earlier time must never
    // create or lose an alert) against episodes the handwritten cases miss.
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val silence = 3000L
    val delay = 5000L
    val rnd = new scala.util.Random(20260813L)
    def invoke(st: Option[StreamOps.SilenceState], rows: List[Long], wm: Long)
        : (List[StreamOps.SilenceAlert], Option[StreamOps.SilenceState]) = {
      val gs = TestGroupState.create[StreamOps.SilenceState](
        org.apache.spark.api.java.Optional.fromNullable(st.orNull),
        GroupStateTimeout.EventTimeTimeout, 0L,
        org.apache.spark.api.java.Optional.of(java.lang.Long.valueOf(wm)),
        hasTimedOut = false)
      val out = StreamOps.silenceHandle(1L,
        rows.iterator.map(ms => StreamOps.SilenceIn(1L, new Timestamp(ms))),
        gs, silence).toList
      (out, if (gs.isRemoved || !gs.exists) None else Some(gs.get))
    }
    for (trial <- 1 to 200) {
      val n = rnd.nextInt(10) + 1
      val times = List.fill(n)(rnd.between(1000L, 26000L)).distinct
      var undelivered = rnd.shuffle(times)
      var wm = 0L
      var state: Option[StreamOps.SilenceState] = None
      var alerts = List.empty[StreamOps.SilenceAlert]
      var delivered = List.empty[Long]
      var guard = 0
      while (undelivered.nonEmpty && guard < 50) {
        guard += 1
        val eligible = undelivered.filter(_ > wm)
        if (eligible.isEmpty) {
          undelivered = Nil // contract-starved stragglers are never delivered
        } else {
          val batch = eligible.take(rnd.nextInt(eligible.length) + 1)
          undelivered = undelivered.diff(batch)
          delivered :::= batch
          val (out, ns) = invoke(state, batch, wm)
          alerts :::= out; state = ns
          wm = math.max(wm, delivered.max - delay)
        }
      }
      // drain: advance the watermark past every possible proof point
      val wmFinal = if (delivered.isEmpty) 1L else delivered.max + silence + 1
      if (state.nonEmpty) {
        val (out, ns) = invoke(state, Nil, wmFinal)
        alerts :::= out; state = ns
      }
      val d = delivered.distinct.sorted
      val expected = d.zip(d.tail).collect {
        case (a, b) if b - a >= silence => a
      } ++ d.lastOption
      assert(alerts.map(_.last_ts.getTime).sorted === expected.sorted,
        s"trial $trial: delivered=$d alerts=${alerts.map(_.last_ts.getTime).sorted}" +
          s" expected=${expected.sorted}")
      assert(state.isEmpty, s"trial $trial: state must drain after the final watermark")
      assert(alerts.forall(a =>
        a.silent_as_of.getTime == a.last_ts.getTime + silence))
    }
  }

  test("silence detector state survives a kill/restart: the buffered last-event exists only in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_silence_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[Ev]
    def start() = StreamOps.streamSilenceAlerts(mem.toDF(),
        silenceMs = 30L * 60 * 1000)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(Seq(Ev(1, t("2024-01-01 00:00:00"), 7, "click", 1.0)))
    q1.processAllAvailable()
    q1.stop() // kill: user 7's last event now exists ONLY in the state store
    val q2 = start()
    try {
      mem.addData(Seq(Ev(2, t("2024-01-01 06:00:00"), 8, "view", 1.0)))
      q2.processAllAvailable() // recovered wm advance must fire 7's timer
      val alerts = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("last_ts"),
          r.getAs[Timestamp]("silent_as_of")))
      assert(alerts.toList === List(
        (7L, t("2024-01-01 00:00:00"), t("2024-01-01 00:30:00"))),
        s"recovered state did not alert: ${alerts.toList}")
    } finally q2.stop()
  }

  test("streaming as-of join holds probes to the watermark and counts in-horizon out-of-order events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Timestamp)]
    val eMem = MemoryStream[(Long, Timestamp, Long)]
    val out = StreamOps.streamAsOfJoin(
      pMem.toDF().toDF("user_id", "p_ts"),
      eMem.toDF().toDF("user_id", "ts", "event_id"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events + a probe for user 1, a probe for matchless
      // user 2; watermark still floor — nothing may be answered yet
      eMem.addData((1L, t("2024-01-01 00:00:00"), 10L),
        (1L, t("2024-01-01 00:05:00"), 11L))
      pMem.addData((1L, t("2024-01-01 00:06:00")), (2L, t("2024-01-01 00:06:00")))
      q.processAllAvailable()
      assert(spark.table("asof_stream").count() === 0,
        "answered before the watermark passed the probe")
      // batch 2: an OUT-OF-ORDER event below the probe time but inside the
      // horizon — an answer-immediately design would already have missed it
      eMem.addData((1L, t("2024-01-01 00:05:30"), 12L))
      q.processAllAvailable()
      // batch 3 advances the watermark past 00:06 (01:00 − 10 min = 00:50);
      // batch 4's dummy row triggers the event-time timeouts
      eMem.addData((9L, t("2024-01-01 01:00:00"), 99L))
      q.processAllAvailable()
      eMem.addData((9L, t("2024-01-01 01:01:00"), 100L))
      q.processAllAvailable()
      val rows = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toMap
      assert(rows(1L) === 12L, "must pick the out-of-order 00:05:30 event, not 00:05:00")
      assert(rows(2L) === null, "matchless probe must answer with nulls")
    } finally q.stop()
  }

  test("streaming as-of join on the RocksDB state store: buffered state survives a kill/restart") {
    // VERDICT r13 #4: the heavy-state fMGWS ops must run on the RocksDB
    // provider — the 100 TB deployment default (heap providers cap state
    // at executor memory). Same durability pattern as the heap-provider
    // tests: a probe + its candidate events exist ONLY in (RocksDB)
    // state at the kill; the restarted query must answer from the
    // recovered state when the watermark passes.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = tempDir("graft_asof_rocks")
      val pMem = MemoryStream[(Long, Timestamp)]
      val eMem = MemoryStream[(Long, Timestamp, Long)]
      def start() = StreamOps.streamAsOfJoin(
        pMem.toDF().toDF("user_id", "p_ts"),
        eMem.toDF().toDF("user_id", "ts", "event_id"), "10 minutes")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      eMem.addData((1L, t("2024-01-01 00:00:00"), 10L),
        (1L, t("2024-01-01 00:05:00"), 11L))
      pMem.addData((1L, t("2024-01-01 00:06:00")))
      q1.processAllAvailable()
      q1.stop() // kill: probe + events live ONLY in RocksDB state
      val q2 = start()
      try {
        // the out-of-order 00:05:30 event must still beat 00:05:00 —
        // recovery preserved the buffered candidates, not just the floor
        eMem.addData((1L, t("2024-01-01 00:05:30"), 12L))
        q2.processAllAvailable()
        eMem.addData((9L, t("2024-01-01 01:00:00"), 99L))
        q2.processAllAvailable()
        eMem.addData((9L, t("2024-01-01 01:01:00"), 100L))
        q2.processAllAvailable()
        val rows = spark.read.parquet(s"$dir/out").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toMap
        assert(rows(1L) === 12L,
          s"RocksDB-recovered as-of state answered wrong: $rows")
      } finally q2.stop()
    } finally spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("streaming as-of idle TTL evicts silent keys; disabled TTL retains the floor forever") {
    // The key-space bound: with a TTL, a key silent for ttl past the
    // watermark drops its floor (a later probe answers null — itself
    // deep-late under the watermark contract); with TTL disabled the
    // floor answers indefinitely. Identical drive, opposite answers.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(name: String, ttlMs: Long): java.lang.Long = {
      val pMem = MemoryStream[(Long, Timestamp)]
      val eMem = MemoryStream[(Long, Timestamp, Long)]
      val out = StreamOps.streamAsOfJoin(
        pMem.toDF().toDF("user_id", "p_ts"),
        eMem.toDF().toDF("user_id", "ts", "event_id"), "10 minutes", ttlMs)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        eMem.addData((5L, t("2024-01-01 00:00:00"), 77L)); q.processAllAvailable()
        // advance the watermark a day past the floor, then one more batch
        // so user 5's idle timer (armed at floor + ttl) actually fires
        eMem.addData((9L, t("2024-01-02 00:00:00"), 99L)); q.processAllAvailable()
        eMem.addData((9L, t("2024-01-02 00:01:00"), 100L)); q.processAllAvailable()
        // probe user 5, then advance the watermark past it + a timeout batch
        pMem.addData((5L, t("2024-01-02 01:00:00"))); q.processAllAvailable()
        eMem.addData((9L, t("2024-01-02 02:00:00"), 101L)); q.processAllAvailable()
        eMem.addData((9L, t("2024-01-02 02:01:00"), 102L)); q.processAllAvailable()
        val rows = spark.table(name).collect().filter(_.getLong(0) == 5L)
        assert(rows.length === 1, s"expected exactly one answer for user 5, got ${rows.length}")
        if (rows.head.isNullAt(2)) null else java.lang.Long.valueOf(rows.head.getLong(2))
      } finally q.stop()
    }
    assert(run("asof_ttl_on", 60L * 1000) === null,
      "TTL'd key must have forgotten its floor")
    assert(run("asof_ttl_off", 0L) === 77L,
      "with TTL disabled the floor must still answer")
  }

  test("streaming windowed top-k equals the exact batch twin when capacity covers the keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    // window 1 (00:00–00:10): user 1 ×3, user 2 ×2, user 3 ×1, user 4 ×1
    // window 2 (00:10–00:20): user 5 ×2, user 1 ×1
    val w1 = Seq(
      1L -> t("2024-01-01 00:01:00"), 1L -> t("2024-01-01 00:02:00"),
      1L -> t("2024-01-01 00:03:00"), 2L -> t("2024-01-01 00:04:00"),
      2L -> t("2024-01-01 00:05:00"), 3L -> t("2024-01-01 00:06:00"),
      4L -> t("2024-01-01 00:07:00"))
    val w2 = Seq(
      5L -> t("2024-01-01 00:11:00"), 5L -> t("2024-01-01 00:12:00"),
      1L -> t("2024-01-01 00:13:00"))
    val q = StreamOps.streamWindowTopK(
        mem.toDF().toDF("user_id", "ts"), k = 3, capacity = 64)
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(w1); q.processAllAvailable()
      assert(spark.table("topk_stream").count() === 0,
        "emitted before the window was watermark-complete")
      mem.addData(w2); q.processAllAvailable()
      // advance watermark past both window ends, then fire the timers
      mem.addData(Seq(9L -> t("2024-01-01 01:00:00"))); q.processAllAvailable()
      mem.addData(Seq(9L -> t("2024-01-01 01:01:00"))); q.processAllAvailable()
      val got = spark.table("topk_stream").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .sortBy(x => (x._1.getTime, x._5))
      // exact regime: est = true count, err = 0, ranks dense by (n desc, key)
      val expected = Seq(
        (t("2024-01-01 00:00:00"), 1L, 3L, 0L, 1),
        (t("2024-01-01 00:00:00"), 2L, 2L, 0L, 2),
        (t("2024-01-01 00:00:00"), 3L, 1L, 0L, 3),
        (t("2024-01-01 00:10:00"), 5L, 2L, 0L, 1),
        (t("2024-01-01 00:10:00"), 1L, 1L, 0L, 2))
      assert(got.toSeq === expected,
        "ample-capacity streaming top-k must equal the exact batch twin")
    } finally q.stop()
  }

  test("space-saving sketch honors its published bounds under tight capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    // one window; N = 115 events over 43 distinct keys, capacity 8:
    // heavies 1/2/3 (50+30+20 = 100) all exceed N/m ≈ 14.4 and MUST
    // survive; 40 singleton keys fight over the remaining counters
    val heavy = Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ Seq.fill(20)(3L)
    val light = (100L until 140L).toSeq
    val all = (heavy ++ light).zipWithIndex.map { case (k, i) =>
      k -> t(f"2024-01-01 00:0${i % 6}:${10 + i % 45}%02d")
    }
    val q = StreamOps.streamWindowTopK(
        mem.toDF().toDF("user_id", "ts"), k = 8, capacity = 8)
      .writeStream.format("memory").queryName("topk_tight")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(all); q.processAllAvailable()
      mem.addData(Seq(9L -> t("2024-01-01 01:00:00"))); q.processAllAvailable()
      mem.addData(Seq(9L -> t("2024-01-01 01:01:00"))); q.processAllAvailable()
      val got = spark.table("topk_tight").collect()
        .filter(_.getTimestamp(0) == t("2024-01-01 00:00:00"))
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      val trueCounts = Map(1L -> 50L, 2L -> 30L, 3L -> 20L)
      trueCounts.foreach { case (key, n) =>
        assert(got.contains(key), s"heavy hitter $key (true $n > N/m) evicted")
        val (est, err) = got(key)
        assert(est >= n, s"space-saving never undercounts: key $key est $est < true $n")
        assert(est - err <= n, s"est - err must lower-bound the true count: key $key")
      }
    } finally q.stop()
  }

  test("streaming top-k sketch survives a kill/restart: pre-kill counts still answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_topk_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[(Long, Timestamp)]
    def start() = StreamOps.streamWindowTopK(
        mem.toDF().toDF("user_id", "ts"), k = 2, capacity = 16)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(Seq(
      7L -> t("2024-01-01 00:01:00"), 7L -> t("2024-01-01 00:02:00"),
      8L -> t("2024-01-01 00:03:00")))
    q1.processAllAvailable()
    q1.stop() // kill: the window's sketch lives only in the checkpointed state
    val q2 = start()
    try {
      mem.addData(Seq(9L -> t("2024-01-01 01:00:00"))); q2.processAllAvailable()
      mem.addData(Seq(9L -> t("2024-01-01 01:01:00"))); q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
        .filter(_.getTimestamp(0) == t("2024-01-01 00:00:00"))
        .map(r => (r.getInt(4), r.getLong(1), r.getLong(2))).sorted
      assert(rows.toSeq === Seq((1, 7L, 2L), (2, 8L, 1L)),
        "recovered sketch must rank the pre-kill counts")
    } finally q2.stop()
  }

  test("streaming forward as-of answers the earliest in-window event and self-cleans its state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Timestamp)]
    val eMem = MemoryStream[(Long, Timestamp, Long)]
    val out = StreamOps.streamAsOfJoinForward(
      pMem.toDF().toDF("user_id", "p_ts"),
      eMem.toDF().toDF("user_id", "ts", "event_id"),
      toleranceMs = 10L * 60 * 1000, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("asof_fwd_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // probe at 00:06 (window 00:06–00:16); a past event (never forward-
      // matches), an in-window event at 00:10, and a probe for matchless
      // user 2. Nothing may answer before the watermark passes the windows.
      eMem.addData((1L, t("2024-01-01 00:00:00"), 10L))
      pMem.addData((1L, t("2024-01-01 00:06:00")), (2L, t("2024-01-01 00:06:00")))
      eMem.addData((1L, t("2024-01-01 00:10:00"), 30L))
      q.processAllAvailable()
      assert(spark.table("asof_fwd_stream").count() === 0,
        "answered before the probe window was watermark-complete")
      // an OUT-OF-ORDER in-window event EARLIER than the known candidate —
      // an answer-on-first-candidate design would already have missed it
      eMem.addData((1L, t("2024-01-01 00:08:00"), 20L))
      q.processAllAvailable()
      // advance the watermark past 00:16 (00:30 − 10 min = 00:20), then
      // trigger the armed window-end timers with one more batch
      eMem.addData((9L, t("2024-01-01 00:30:00"), 99L))
      q.processAllAvailable()
      eMem.addData((9L, t("2024-01-01 00:31:00"), 100L))
      q.processAllAvailable()
      val rows = spark.table("asof_fwd_stream").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toMap
      assert(rows(1L) === 20L,
        "must pick the earliest in-window event (00:08), not the first-seen (00:10)")
      assert(rows(2L) === null, "matchless probe must answer with nulls")
      // self-clean: key 1 answered with nothing left in horizon, key 2
      // never had events — both stores must be REMOVED (no floor row in
      // forward mode). Only key 9's in-horizon events remain.
      eMem.addData((9L, t("2024-01-01 00:32:00"), 101L))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows === 1L,
        s"expected only key 9's drained-to state row, got $stateRows")
    } finally q.stop()
  }

  test("streaming forward as-of state survives a kill/restart: buffered window still answers") {
    // forward-mode durability twin: at kill time the probe AND its only
    // in-window event exist solely in the checkpointed state (the window
    // is not watermark-complete). Recovery must emit the exact answer.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_asof_fwd_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val pMem = MemoryStream[(Long, Timestamp)]
    val eMem = MemoryStream[(Long, Timestamp, Long)]
    def start() = StreamOps.streamAsOfJoinForward(
        pMem.toDF().toDF("user_id", "p_ts"),
        eMem.toDF().toDF("user_id", "ts", "event_id"),
        toleranceMs = 10L * 60 * 1000, watermark = "10 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    pMem.addData((1L, t("2024-01-01 00:06:00")))
    eMem.addData((1L, t("2024-01-01 00:09:00"), 42L))
    q1.processAllAvailable()
    q1.stop() // kill: probe + in-window event live only in the state store
    val q2 = start()
    try {
      eMem.addData((9L, t("2024-01-01 00:30:00"), 99L)) // watermark past 00:16
      q2.processAllAvailable()
      eMem.addData((9L, t("2024-01-01 00:31:00"), 100L)) // fire the timer
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect().filter(_.getLong(0) == 1L)
      assert(rows.length === 1, s"expected the one recovered answer, got ${rows.length}")
      assert(rows.head.getLong(2) === 42L,
        "recovered state must answer with the buffered in-window event")
    } finally q2.stop()
  }

  test("streaming as-of state survives a kill/restart: a pre-kill buffered probe still answers") {
    // The hard case for durability: at kill time the probe exists ONLY in
    // the state store (buffered, watermark not yet past it) along with the
    // events that must answer it. A restart that lost either would emit
    // nothing or nulls; the recovered store must emit the exact answer.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_asof_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val pMem = MemoryStream[(Long, Timestamp)]
    val eMem = MemoryStream[(Long, Timestamp, Long)]
    def start() = StreamOps.streamAsOfJoin(
        pMem.toDF().toDF("user_id", "p_ts"),
        eMem.toDF().toDF("user_id", "ts", "event_id"), "10 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    eMem.addData((1L, t("2024-01-01 00:00:00"), 10L), (1L, t("2024-01-01 00:05:00"), 11L))
    pMem.addData((1L, t("2024-01-01 00:06:00")))
    q1.processAllAvailable()
    q1.stop() // kill: probe + events live only in the checkpointed state
    val q2 = start()
    try {
      eMem.addData((9L, t("2024-01-01 01:00:00"), 99L)) // advance watermark past 00:06
      q2.processAllAvailable()
      eMem.addData((9L, t("2024-01-01 01:01:00"), 100L)) // trigger the timeout
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect().filter(_.getLong(0) == 1L)
      assert(rows.length === 1, s"expected the one recovered answer, got ${rows.length}")
      assert(rows.head.getLong(2) === 11L,
        "recovered state must answer with the latest pre-kill event")
    } finally q2.stop()
  }

  test("as-of join strict-timer edge: watermark landing EXACTLY on a probe defers one batch") {
    // Spark fires an event-time timer only when timeoutTimestamp <
    // watermark STRICTLY, while the handler's ready split answers at
    // pts <= wm. When the watermark lands exactly on pending.min and the
    // key then goes silent, the answer defers one extra watermark advance
    // (arming earlier is invalid — the timestamp must be > wm). This test
    // pins that documented deferral: the answer is NOT lost, and arrives
    // correct on the next advance.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pMem = MemoryStream[(Long, Timestamp)]
    val eMem = MemoryStream[(Long, Timestamp, Long)]
    val out = StreamOps.streamAsOfJoin(
      pMem.toDF().toDF("user_id", "p_ts"),
      eMem.toDF().toDF("user_id", "ts", "event_id"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("asof_edge")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: probe + event enter state while the watermark is still at
      // the floor (the two MemoryStreams commit as separate micro-batches,
      // so the probe MUST be in state before any watermark-driving row —
      // otherwise a later-batch probe is answered by the ready split and
      // the timer edge never engages)
      eMem.addData((1L, t("2024-01-01 00:10:00"), 5L))
      pMem.addData((1L, t("2024-01-01 00:20:00")))
      q.processAllAvailable()
      // batch 2: the driver row at 00:30 lands the watermark at EXACTLY
      // the probe's 00:20; key 1 receives no data, so only the timer could
      // answer — and 00:20 < 00:20 is false (strict), so it defers
      eMem.addData((9L, t("2024-01-01 00:30:00"), 99L))
      q.processAllAvailable()
      assert(spark.table("asof_edge").count() === 0,
        "wm == p_ts with a silent key must defer (strict timer), not answer")
      // one more advance (wm → 00:20:01 > 00:20) fires the armed timer
      eMem.addData((9L, t("2024-01-01 00:30:01"), 100L))
      q.processAllAvailable()
      val rows = spark.table("asof_edge").collect().filter(_.getLong(0) == 1L)
      assert(rows.length === 1, s"deferred answer lost: ${rows.mkString(",")}")
      assert(rows.head.getLong(2) === 5L, "deferred answer must still be correct")
    } finally q.stop()
  }

  test("streaming CUSUM: alert stream equals the batch changepoint query on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Reference profile (mu, h) per type — fit on history by the batch
    // job, exactly the batch query's integer derivation.
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3), r.getLong(4)))
    val ref = ev.groupBy(_._1).map { case (tpe, rows) =>
      val n = rows.length.toLong
      val mu = rows.map(_._5).sum / n
      tpe -> (mu, 10L * (rows.map(r => math.abs(r._5 - mu)).sum / n))
    }
    val mem = MemoryStream[Ev]
    val q = StreamOps.streamCusum(mem.toDF(), ref)
      .writeStream.format("memory").queryName("cusum_equiv")
      .outputMode(OutputMode.Append()).start()
    try {
      // three chronological chunks (each above the running watermark —
      // in-contract), SHUFFLED within each chunk: arrival order inside a
      // batch is not a contract, the buffered event-time sort is
      val sorted = ev.sortBy(r =>
        (r._2.toEpochSecond(java.time.ZoneOffset.UTC), r._2.getNano, r._3))
      val rnd = new scala.util.Random(7)
      sorted.grouped((sorted.length + 2) / 3).foreach { chunk =>
        mem.addData(rnd.shuffle(chunk.toSeq).map(r =>
          Ev(r._3, Timestamp.valueOf(r._2), 0L, r._1, r._4)))
        q.processAllAvailable()
      }
      // flush: a far-future sentinel of an UNKNOWN type (h = MaxValue in
      // the handler — folded, never alarming) drives the watermark past
      // every fixture row
      mem.addData(Seq(Ev(0, t("2030-01-01 00:00:00"), 0, "zz_flush", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("cusum_equiv").collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[Timestamp]("ts").toLocalDateTime,
          r.getAs[Long]("event_id"), r.getAs[Long]("s_cusum"), r.getAs[Long]("h")))
        .toSet
      val batch = graft.SparkEntry.queries("ts_cusum_changepoint")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed === batch,
        s"stream/batch diverged: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming Holt smoother: state stream equals ts_holt_linear, day keys retire") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3)))
    val mem = MemoryStream[Ev]
    val q = StreamOps.streamHolt(mem.toDF())
      .writeStream.format("memory").queryName("holt_equiv")
      .outputMode(OutputMode.Append()).start()
    try {
      // chronological chunks, shuffled within each (the cusum contract:
      // arrival order inside a batch is not a contract, event-time is)
      val sorted = ev.sortBy(r =>
        (r._2.toEpochSecond(java.time.ZoneOffset.UTC), r._2.getNano, r._3))
      val rnd = new scala.util.Random(13)
      sorted.grouped((sorted.length + 2) / 3).foreach { chunk =>
        mem.addData(rnd.shuffle(chunk.toSeq).map(r =>
          Ev(r._3, Timestamp.valueOf(r._2), 0L, r._1, r._4)))
        q.processAllAvailable()
      }
      mem.addData(Seq(Ev(0, t("2030-01-01 00:00:00"), 0, "zz_flush", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("holt_equiv").collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[Timestamp]("dt").toLocalDateTime,
          r.getAs[Timestamp]("ts").toLocalDateTime,
          r.getAs[Long]("event_id"), r.getAs[Long]("iv"),
          r.getAs[Long]("level_u"), r.getAs[Long]("trend_u"),
          r.getAs[Double]("level")))
        .toSet
      val batch = graft.SparkEntry.queries("ts_holt_linear")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
          r.getAs[java.time.LocalDateTime](2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed === batch,
        s"stream/batch diverged: only-stream=${(streamed -- batch).take(3)} " +
          s"only-batch=${(batch -- streamed).take(3)}")
      // day-key retirement: the flush watermark (2029-12-31 23:50) sits
      // past every fixture day end, so only the sentinel's own key may
      // remain in state
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows === 1L,
        s"day keys failed to retire: $stateRows state rows after flush")
    } finally q.stop()
  }

  test("streaming drawdown: alert stream equals the batch query on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3), r.getLong(4)))
    // h per type: the batch query's integer 5×mean-abs-dev calibration
    val ref = ev.groupBy(_._1).map { case (tpe, rows) =>
      val n = rows.length.toLong
      val mu = rows.map(_._5).sum / n
      tpe -> 5L * (rows.map(r => math.abs(r._5 - mu)).sum / n)
    }
    val mem = MemoryStream[Ev]
    val q = StreamOps.streamDrawdown(mem.toDF(), ref)
      .writeStream.format("memory").queryName("dd_equiv")
      .outputMode(OutputMode.Append()).start()
    try {
      val sorted = ev.sortBy(r =>
        (r._2.toEpochSecond(java.time.ZoneOffset.UTC), r._2.getNano, r._3))
      val rnd = new scala.util.Random(11)
      sorted.grouped((sorted.length + 2) / 3).foreach { chunk =>
        mem.addData(rnd.shuffle(chunk.toSeq).map(r =>
          Ev(r._3, Timestamp.valueOf(r._2), 0L, r._1, r._4)))
        q.processAllAvailable()
      }
      mem.addData(Seq(Ev(0, t("2030-01-01 00:00:00"), 0, "zz_flush", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("dd_equiv").collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[Timestamp]("ts").toLocalDateTime,
          r.getAs[Long]("event_id"), r.getAs[Long]("dd"), r.getAs[Long]("h")))
        .toSet
      val batch = graft.SparkEntry.queries("ts_drawdown_alerts")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed === batch,
        s"stream/batch diverged: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming Holt state survives a kill/restart: the fold summary persists across runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_holt_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[Ev]
    def start() = StreamOps.streamHolt(mem.toDF())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    // three rows enter state; the advance row folds the first two:
    // l(10000)=10000,b=0; l=⌊(30000+10000+0)/2⌋=20000, b=⌊(20000−10000)/2⌋=5000
    mem.addData(Seq(
      Ev(1, t("2024-01-01 00:00:00"), 0, "err", 1.0),
      Ev(2, t("2024-01-01 00:01:00"), 0, "err", 3.0),
      Ev(3, t("2024-01-01 00:02:00"), 0, "err", 2.0)))
    q1.processAllAvailable()
    mem.addData(Seq(Ev(8, t("2024-01-01 00:11:30"), 0, "err", 1.0)))
    q1.processAllAvailable() // wm 00:01:30: folds rows 1-2; row 3 stays buffered
    q1.stop() // kill: (l=20000, b=5000) + the buffered row 3 exist ONLY in state
    val q2 = start()
    try {
      mem.addData(Seq(Ev(9, t("2024-01-01 06:00:00"), 0, "err", 1.0)))
      q2.processAllAvailable() // recovered summary folds row 3 (+ row 8)
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("level_u"),
          r.getAs[Long]("trend_u"))).sortBy(_._1)
      // row 3 continues the PRE-KILL summary:
      // l = ⌊(20000+20000+5000)/2⌋ = 22500, b = ⌊(22500−20000+5000)/2⌋ = 3750
      assert(rows.take(3).toList === List(
        (1L, 10000L, 0L), (2L, 20000L, 5000L), (3L, 22500L, 3750L)),
        s"recovered Holt state wrong: ${rows.toList}")
    } finally q2.stop()
  }

  test("transformWithState Holt (RocksDB): equals ts_holt_linear, day keys retire, state survives a kill/restart") {
    // The streamHolt fold ported to Spark 4's arbitrary-state API
    // (SURVEY §2.I), pinned to the SAME contracts as the fMGWS original:
    // full-fixture bit-equality against the batch ts_holt_linear under
    // shuffled chronological-chunk arrival, day-key retirement via the
    // explicit timer registry, and a kill/restart whose recovered
    // ValueState continues the fold exactly. transformWithState runs
    // only on the RocksDB state store provider — also the 100 TB
    // deployment default (heap providers cap state at executor memory),
    // so this test IS the engine's RocksDB suite pass for the TWS path.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = graft.Tables.events(spark, sf)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .collect()
        .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
          r.getLong(2), r.getDouble(3)))
      val mem = MemoryStream[Ev]
      val q = StreamOps.streamHoltTws(mem.toDF())
        .writeStream.format("memory").queryName("holt_tws_equiv")
        .outputMode(OutputMode.Append()).start()
      try {
        val sorted = ev.sortBy(r =>
          (r._2.toEpochSecond(java.time.ZoneOffset.UTC), r._2.getNano, r._3))
        val rnd = new scala.util.Random(17)
        sorted.grouped((sorted.length + 2) / 3).foreach { chunk =>
          mem.addData(rnd.shuffle(chunk.toSeq).map(r =>
            Ev(r._3, Timestamp.valueOf(r._2), 0L, r._1, r._4)))
          q.processAllAvailable()
        }
        mem.addData(Seq(Ev(0, t("2030-01-01 00:00:00"), 0, "zz_flush", 0.0)))
        q.processAllAvailable()
        val streamed = spark.table("holt_tws_equiv").collect()
          .map(r => (r.getAs[String]("event_type"),
            r.getAs[Timestamp]("dt").toLocalDateTime,
            r.getAs[Timestamp]("ts").toLocalDateTime,
            r.getAs[Long]("event_id"), r.getAs[Long]("iv"),
            r.getAs[Long]("level_u"), r.getAs[Long]("trend_u"),
            r.getAs[Double]("level")))
          .toSet
        val batch = graft.SparkEntry.queries("ts_holt_linear")(spark, sf)
          .collect()
          .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
            r.getAs[java.time.LocalDateTime](2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getDouble(7)))
          .toSet
        assert(batch.nonEmpty)
        assert(streamed === batch,
          s"TWS stream/batch diverged: only-stream=${(streamed -- batch).take(3)} " +
            s"only-batch=${(batch -- streamed).take(3)}")
        // retirement: only the flush sentinel's key may survive — a
        // stale-timer bug (re-arming after clear) would leave more
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows === 1L,
          s"TWS day keys failed to retire: $stateRows state rows after flush")
      } finally q.stop()
      // kill/restart: the recovered ValueState must continue the fold
      // (same arithmetic checkpoints as the fMGWS durability test)
      val dir = tempDir("graft_holt_tws_ckpt")
      val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
      val mem2 = MemoryStream[Ev]
      def start() = StreamOps.streamHoltTws(mem2.toDF())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      mem2.addData(Seq(
        Ev(1, t("2024-01-01 00:00:00"), 0, "err", 1.0),
        Ev(2, t("2024-01-01 00:01:00"), 0, "err", 3.0),
        Ev(3, t("2024-01-01 00:02:00"), 0, "err", 2.0)))
      q1.processAllAvailable()
      mem2.addData(Seq(Ev(8, t("2024-01-01 00:11:30"), 0, "err", 1.0)))
      q1.processAllAvailable() // wm 00:01:30: folds rows 1-2; row 3 buffered
      q1.stop() // kill: summary + buffered row exist ONLY in RocksDB state
      val q2 = start()
      try {
        mem2.addData(Seq(Ev(9, t("2024-01-01 06:00:00"), 0, "err", 1.0)))
        q2.processAllAvailable()
        val rows = spark.read.parquet(out).collect()
          .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("level_u"),
            r.getAs[Long]("trend_u"))).sortBy(_._1)
        assert(rows.take(3).toList === List(
          (1L, 10000L, 0L), (2L, 20000L, 5000L), (3L, 22500L, 3750L)),
          s"recovered TWS Holt state wrong: ${rows.toList}")
      } finally q2.stop()
    } finally spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("streaming drawdown state survives a kill/restart: the peak persists across runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_dd_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    // h = 15000: the 3.0 peak exists ONLY in pre-kill state; the post-
    // restart 1.0 row draws down 20000 > h and must alert against it.
    val ref = Map("err" -> 15000L)
    val mem = MemoryStream[Ev]
    def start() = StreamOps.streamDrawdown(mem.toDF(), ref)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(Seq(
      Ev(1, t("2024-01-01 00:00:00"), 0, "err", 3.0),
      Ev(2, t("2024-01-01 00:01:00"), 0, "err", 2.9)))
    q1.processAllAvailable()
    q1.stop() // kill: the 30000-micro peak lives only in recovered state
    val q2 = start()
    try {
      mem.addData(Seq(Ev(3, t("2024-01-01 00:02:00"), 0, "err", 1.0)))
      q2.processAllAvailable()
      mem.addData(Seq(Ev(9, t("2024-01-01 06:00:00"), 0, "err", 3.5)))
      q2.processAllAvailable() // watermark passes 00:02 -> folds the drop
      val alerts = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Timestamp]("ts"), r.getAs[Long]("event_id"),
          r.getAs[Long]("dd")))
      assert(alerts.toList === List((t("2024-01-01 00:02:00"), 3L, 20000L)),
        s"recovered drawdown state wrong: ${alerts.toList}")
    } finally q2.stop()
  }

  test("streaming CUSUM state survives a kill/restart: buffered rows and the fold summary persist") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_cusum_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    // mu = 0, h = 25000: each 1.0-valued event adds 10000 to s, so the
    // third event in event-time order (00:02) crosses 25000 -> one onset.
    val ref = Map("err" -> (0L, 25000L))
    val mem = MemoryStream[Ev]
    def start() = StreamOps.streamCusum(mem.toDF(), ref)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData(Seq(
      Ev(1, t("2024-01-01 00:00:00"), 0, "err", 1.0),
      Ev(2, t("2024-01-01 00:01:00"), 0, "err", 1.0),
      Ev(3, t("2024-01-01 00:02:00"), 0, "err", 1.0)))
    q1.processAllAvailable()
    q1.stop() // kill: all three rows exist ONLY in the recovered state
    val q2 = start()
    try {
      mem.addData(Seq(Ev(9, t("2024-01-01 06:00:00"), 0, "err", 1.0)))
      q2.processAllAvailable() // recovered buffer folds as wm advances
      val alerts = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Timestamp]("ts"), r.getAs[Long]("event_id"),
          r.getAs[Long]("s_cusum")))
      assert(alerts.toList === List((t("2024-01-01 00:02:00"), 3L, 30000L)),
        s"recovered CUSUM state wrong: ${alerts.toList}")
    } finally q2.stop()
  }

  test("streaming Bollinger: alert stream equals the batch breakout query on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3)))
    val mem = MemoryStream[Ev]
    val q = StreamOps.streamBollinger(mem.toDF())
      .writeStream.format("memory").queryName("boll_equiv")
      .outputMode(OutputMode.Append()).start()
    try {
      val sorted = ev.sortBy(r =>
        (r._2.toEpochSecond(java.time.ZoneOffset.UTC), r._2.getNano, r._3))
      val rnd = new scala.util.Random(13)
      sorted.grouped((sorted.length + 2) / 3).foreach { chunk =>
        mem.addData(rnd.shuffle(chunk.toSeq).map(r =>
          Ev(r._3, Timestamp.valueOf(r._2), 0L, r._1, r._4)))
        q.processAllAvailable()
      }
      mem.addData(Seq(Ev(0, t("2030-01-01 00:00:00"), 0, "zz_flush", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("boll_equiv").collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[Timestamp]("ts").toLocalDateTime,
          r.getAs[Long]("event_id"),
          r.getAs[Long]("iv").toDouble / 10000d,
          r.getAs[String]("direction")))
        .toSet
      val batch = graft.SparkEntry.queries("ts_bollinger_breakout")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
          r.getLong(2), r.getAs[Double]("q_value"),
          r.getAs[String]("direction")))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed === batch,
        s"stream/batch diverged: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
      // the integer band test must hold exactly on every emitted alert
      spark.table("boll_equiv").collect().foreach { r =>
        val dev = r.getAs[Long]("dev"); val vN = r.getAs[Long]("var_n")
        assert(math.abs(dev).toDouble > 2.0d * math.sqrt(vN.toDouble))
        assert((dev > 0) === (r.getAs[String]("direction") == "up"))
      }
    } finally q.stop()
  }

  test("streaming Bollinger state survives a kill/restart: the rolling window persists") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_boll_ckpt")
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    // n = 6: five 1.0-rows then one 9.0-row — dev = 5·(y−x) = 400000 beats
    // thr = 2·√5·|y−x| ≈ 357771 (a 3-point window can NEVER alert:
    // max |dev|/√var_n = (n−1)/√n < 2 for n ≤ 5).
    val mem = MemoryStream[Ev]
    def start() = StreamOps.streamBollinger(mem.toDF(), n = 6)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    mem.addData((1 to 5).map(i =>
      Ev(i.toLong, t(f"2024-01-01 00:0${i - 1}:00"), 0, "err", 1.0)))
    q1.processAllAvailable()
    q1.stop() // kill: all five window rows exist ONLY in the recovered state
    val q2 = start()
    try {
      mem.addData(Seq(Ev(6, t("2024-01-01 00:05:00"), 0, "err", 9.0)))
      q2.processAllAvailable() // still pending: wm < 00:00
      mem.addData(Seq(Ev(9, t("2024-01-01 06:00:00"), 0, "zz_flush", 0.0)))
      q2.processAllAvailable() // wm 05:50 folds all six in event-time order
      val alerts = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Timestamp]("ts"), r.getAs[Long]("event_id"),
          r.getAs[Long]("dev"), r.getAs[Long]("var_n"),
          r.getAs[String]("direction")))
      assert(alerts.toList ===
        List((t("2024-01-01 00:05:00"), 6L, 400000L, 32000000000L, "up")),
        s"recovered Bollinger window wrong: ${alerts.toList}")
    } finally q2.stop()
  }

  test("streaming DQ gate: violations quarantine with reasons, clean rows pass, restart loses nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_dqgate")
    // (id, status, price) rows; two constraints, one row failing each,
    // one row failing BOTH
    val mem = MemoryStream[(Long, String, Double)]
    val constraints = Seq(
      "domain_status" -> !col("status").isInCollection(Seq("F", "O", "P")),
      "nonneg_price" -> (col("price") < 0.0))
    def start() = StreamOps.startDqGateSink(
      mem.toDF().toDF("id", "status", "price"), constraints,
      s"$dir/out", s"$dir/quarantine", s"$dir/ckpt")
    val q1 = start()
    mem.addData(Seq((1L, "F", 10.0), (2L, "X", 5.0), (3L, "O", -1.0)))
    q1.processAllAvailable()
    q1.stop() // kill
    // rows added while the gate is down must be recovered from the offset
    mem.addData(Seq((4L, "P", 7.0), (5L, "Z", -2.0)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val clean = spark.read.parquet(s"$dir/out/b*")
        .select(col("id")).as[Long].collect().sorted.toSeq
      assert(clean === Seq(1L, 4L), s"clean set wrong: $clean")
      val quar = spark.read.parquet(s"$dir/quarantine/b*")
        .select(col("id"), col("dq_failed")).as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(quar === Seq(
        2L -> "domain_status",
        3L -> "nonneg_price",
        5L -> "domain_status,nonneg_price"),
        s"quarantine reasons wrong: $quar")
      // nothing dropped, nothing duplicated across the restart boundary
      assert(clean.size + quar.size === 5)
    } finally q2.stop()
  }

  test("streaming IVF maintenance: micro-batch postings equal the one-shot encode, across a kill/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    val dir = tempDir("graft_ivfstream")
    // standing index trained ONCE on the base corpus (vec_id % 10 != 0) —
    // the same split the batch upsert query uses
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("ssq", expr("graft_dot(emb, emb)"))
    val base = e.filter(col("vec_id") % 10 =!= 0).localCheckpoint(true)
    graft.ops.AnnIndex.writeIvfIndex(base, s"$dir/idx",
      nlist = graft.ops.AnnIndex.ivfNlist(base.count()), iters = 2)
    // the ingest stream: the % 10 == 0 vectors as RAW floats, in 3 batches
    val delta = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1).toSeq
    assert(delta.nonEmpty)
    val mem = MemoryStream[(Long, Int, Array[Float])]
    def start() = StreamOps.startIvfUpsertSink(
      mem.toDF().toDF("vec_id", "label", "embedding"),
      s"$dir/idx/centroids", s"$dir/store", s"$dir/ckpt")
    val (b1, rest) = delta.splitAt(delta.size / 3)
    val q1 = start()
    mem.addData(b1); q1.processAllAvailable()
    q1.stop() // kill
    // these vectors exist ONLY in the un-consumed source while the query
    // is down — the restarted query must ingest them from the checkpoint
    val (b2, b3) = rest.splitAt(rest.size / 2)
    mem.addData(b2)
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(b3); q2.processAllAvailable()
      val centroids = spark.read.parquet(s"$dir/idx/centroids")
      def norm(df: DataFrame) =
        df.select(col("vec_id"), col("label"), col("cid"), col("ssq"),
            col("cang"))
          .orderBy(col("vec_id").asc).collect().map(_.toSeq.toList).toList
      // the accumulated store ≡ the batch upsert path's one-shot encode of
      // the same vectors against the same codebook (the shared
      // encodeAgainstCodebook seam), independent of batch slicing and of
      // the kill/restart boundary
      val streamed = norm(spark.read.parquet(s"$dir/store/b*").drop("batch_id"))
      val oneShot = norm(graft.ops.AnnIndex.encodeAgainstCodebook(
        graft.Tables.embeddings(spark, sf).filter(col("vec_id") % 10 === 0)
          .select(col("vec_id"), col("label"), col("embedding")), centroids))
      assert(streamed.size === delta.size, "store lost or duplicated vectors")
      assert(streamed === oneShot,
        "streamed postings diverged from the batch encode")
      // and no batch ever re-read the standing corpus: the store carries
      // only delta vec_ids
      assert(spark.read.parquet(s"$dir/store/b*")
        .filter(col("vec_id") % 10 =!= 0).count() === 0)
    } finally q2.stop()
  }

  test("streaming hybrid retrieval: incremental stats converge to the batch query, across a kill/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_hybrid")
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val mem = MemoryStream[(Long, String)]
    def start() = StreamOps.startHybridSearchSink(
      mem.toDF().toDF("doc_id", "text"), sf,
      s"$dir/out", s"$dir/stats", s"$dir/ckpt")
    val (c1, rest) = docs.splitAt(150)
    val q1 = start()
    mem.addData(c1); q1.processAllAvailable()
    // mid-stream standings are a live, well-formed top-20 over the 150
    // docs seen so far
    val mid = spark.read.parquet(s"$dir/out/current")
    assert(mid.count() === 20)
    assert(mid.filter(col("rank_t").isNotNull)
      .filter(col("doc_id") >= 150).count() === 0,
      "mid-stream text ranks must only cover ingested docs")
    q1.stop() // kill: batch-1 stats live only in the parquet store
    val q2 = start()
    try {
      val (c2, c3) = rest.splitAt(200)
      mem.addData(c2); q2.processAllAvailable()
      mem.addData(c3); q2.processAllAvailable()
      // after the full corpus has streamed through, the standings are
      // bit-identical to the declared (oracle-backed) batch query
      val got = spark.read.parquet(s"$dir/out/current")
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .collect().map(_.toSeq.toList).toList
      val want = graft.SparkEntry.queries("llm_hybrid_search")(spark, sf)
        .collect().map(_.toSeq.toList).toList
      assert(got === want,
        "streamed standings diverged from the batch hybrid query")
    } finally q2.stop()
  }

  test("streaming hdr histogram sink: merged store equals the batch histogram, across a kill/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_hdrsink")
    // values straddle the exact (<32) range and several bucketed octaves
    val all = (1L to 400L).map(i => (if (i % 2 == 0) "a" else "b", i * 37 % 3000 + 1))
    val mem = MemoryStream[(String, Long)]
    def start() = StreamOps.startHdrHistogramSink(
      mem.toDF().toDF("p", "v"), s"$dir/store", s"$dir/ckpt")
    val (b1, rest) = all.splitAt(150)
    val q1 = start()
    mem.addData(b1); q1.processAllAvailable()
    q1.stop() // kill
    // rows added while the sink is down must be recovered from the offset
    val (b2, b3) = rest.splitAt(100)
    mem.addData(b2)
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(b3); q2.processAllAvailable()
      // reader fold: plain per-bucket SUM over the batch-scoped partials
      val streamed = spark.read.parquet(s"$dir/store/b*")
        .groupBy(col("p"), col("bkt")).agg(sum(col("cnt")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      // the one-shot batch histogram through the SAME bucketSql seam
      val batch = all.toDF("p", "v")
        .withColumn("bkt", expr(graft.functions.HdrHistogram.bucketSql("v")))
        .groupBy(col("p"), col("bkt")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed === batch,
        "streamed-merged histogram diverged from the batch histogram")
      // nothing dropped, nothing duplicated across the restart boundary
      assert(streamed.values.sum === all.size.toLong)
    } finally q2.stop()
  }

  test("streaming theta sketch sink: merged blobs equal the one-shot sketch, set algebra exact, across a kill/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_thetasink")
    // two overlapping segments: a = {0..599}, b = {300..899}
    val all = (0L until 600L).map("a" -> _) ++ (300L until 900L).map("b" -> _)
    val mem = MemoryStream[(String, Long)]
    def start() = StreamOps.startThetaSketchSink(
      mem.toDF().toDF("p", "k"), s"$dir/store", s"$dir/ckpt")
    val (b1, rest) = all.splitAt(400)
    val q1 = start()
    mem.addData(b1); q1.processAllAvailable()
    q1.stop() // kill: these rows live only in the un-consumed source while down
    val (b2, b3) = rest.splitAt(350)
    mem.addData(b2)
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(b3); q2.processAllAvailable()
      import graft.functions.ThetaSketch
      val merged = spark.read.parquet(s"$dir/store/b*")
        .groupBy(col("p")).agg(ThetaSketch.thetaUnionAgg(col("sk")).as("sk"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
      // streamed-merge ≡ one-shot batch sketch, byte-for-byte: the sink
      // shares the thetaSketchAgg seam and theta blobs are a pure
      // function of the key set (ThetaSketchSpec pins the invariance)
      val oneShot = all.toDF("p", "k")
        .groupBy(col("p")).agg(ThetaSketch.thetaSketchAgg(col("k")).as("sk"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
      assert(merged.keySet === Set("a", "b"))
      merged.foreach { case (p, blob) =>
        assert(blob.toSeq === oneShot(p).toSeq,
          s"segment $p blob diverged from the batch sketch")
      }
      // the merged blobs answer the overlap question exactly (exact mode)
      assert(ThetaSketch.estimate(merged("a")) === 600L)
      assert(ThetaSketch.estimate(merged("b")) === 600L)
      assert(ThetaSketch.unionEstExact(merged("a"), merged("b")) === 900L)
      assert(ThetaSketch.intersectEst(merged("a"), merged("b")) === 300L)
      assert(ThetaSketch.aNotBEst(merged("a"), merged("b")) === 300L)
    } finally q2.stop()
  }

  // ---- one replay harness over the nine foreachBatch sinks ----

  /** A foreachBatch sink under the replay harness. `start(input, dir)`
    * starts it with its checkpoint at `dir/ckpt`; `dirs` hold its
    * `b<id>` / `c<id>` dirs and `tables` are the dirs it swaps whole (the
    * merge target, `current`), all relative to `dir`. */
  private case class SinkCase(batches: Seq[DataFrame],
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery,
      dirs: Seq[String], tables: Seq[String] = Nil)

  /** The published contents of every `b<id>` / `c<id>` dir and table of
    * `c` under `dir`, as sorted JSON rows keyed by relative path. */
  private def published(c: SinkCase, dir: String): Map[String, Seq[String]] = {
    import spark.implicits._
    def rows(path: String): Seq[String] = {
      val df = spark.read.parquet(path)
      df.select(to_json(struct(df.columns.sorted.map(col).toSeq: _*)))
        .as[String].collect().sorted.toSeq
    }
    val deltas = for {
      d <- c.dirs
      f <- Option(new java.io.File(s"$dir/$d").listFiles()).toSeq.flatten
      if f.getName.matches("[bc]\\d+")
    } yield s"$d/${f.getName}" -> rows(f.getPath)
    (deltas ++ c.tables.map(t => t -> rows(s"$dir/$t"))).toMap
  }

  /** Runs `c`'s batches uninterrupted, then again with two crash windows
    * before the last batch: the batch before it finished its body but not
    * its offset commit (its `commits/<n>` is deleted, so the restarted
    * query replays it), and a killed attempt left a half-written staging
    * dir beside every published dir. Both runs must publish the same. */
  private def checkReplay(c: SinkCase): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = c.batches.zipWithIndex
      .map { case (df, i) => df.withColumn("_batch", lit(i)) }.reduce(_ unionByName _)
    val last = c.batches.size - 1
    def corrupt(dir: String): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part-00000.parquet"),
        "not parquet".getBytes)
    }
    def run(crash: Boolean): Map[String, Seq[String]] = {
      val dir = tempDir("graft_replay")
      val mem = MemoryStream[Int]
      def start() =
        c.start(mem.toDF().toDF("_batch").join(rows, "_batch").drop("_batch"), dir)
      var q = start()
      try {
        for (i <- 0 to last) {
          if (crash && i == last) {
            q.stop()
            val n = last - 1
            Seq(s"commits/$n", s"commits/.$n.crc")
              .foreach(f => new java.io.File(s"$dir/ckpt/$f").delete())
            for (d <- c.dirs; p <- Seq("b", "c")) corrupt(s"$dir/$d/_$p$last.tmp-killed")
            c.tables.foreach(t => corrupt(s"$dir/$t.writing"))
            q = start()
            q.processAllAvailable()
            assert(q.recentProgress.exists(_.batchId == n), s"batch $n was not replayed")
          }
          mem.addData(i); q.processAllAvailable()
        }
      } finally q.stop()
      published(c, dir)
    }
    val clean = run(crash = false)
    assert(clean.nonEmpty && clean.values.exists(_.nonEmpty), "vacuous: nothing published")
    val crashed = run(crash = true)
    assert(crashed.keySet === clean.keySet, "the replayed run published other dirs")
    for ((path, want) <- clean)
      assert(crashed(path) === want, s"$path differs after the replay")
  }

  private def replayTest(sink: String)(c: => SinkCase): Unit =
    test(s"foreachBatch replay: the $sink sink publishes the same after a replayed batch and a half-written attempt") {
      checkReplay(c)
    }

  replayTest("merge") {
    import spark.implicits._
    SinkCase(Seq(Seq((10L, 1L, 1.0), (20L, 2L, 2.0)), Seq((10L, 3L, 9.0), (30L, 4L, 4.0)),
        Seq((20L, 5L, 5.0), (40L, 6L, 6.0))).map(_.toDF("user_id", "event_id", "value")),
      (in, d) => StreamOps.startMergeSink(in, s"$d/out", s"$d/ckpt", "user_id", "event_id"),
      dirs = Nil, tables = Seq("out"))
  }

  replayTest("near-dup") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "and then rests quietly under the old oak tree"
    val third = "rows columns pages buffers caches spill files and shuffle " +
      "partitions make a distributed engine go fast at scale"
    SinkCase(Seq(
        Seq((1L, base), (2L, "completely different content about spark catalyst " +
          "optimizer internals and whole stage code generation pipelines")),
        Seq((10L, base.replace("quietly", "noisily")), (11L, third), (12L, third)),
        Seq((20L, third), (21L, "a brand new document about partition pruning and " +
          "column statistics for scans"))).map(_.toDF("doc_id", "text")),
      (in, d) => StreamOps.startNearDupFilterSink(in, s"$d/out", s"$d/store", s"$d/ckpt"),
      dirs = Seq("out", "store"))
  }

  replayTest("hybrid search") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1).take(90).toSeq
    SinkCase(docs.grouped(30).map(_.toDF("doc_id", "text")).toSeq,
      (in, d) => StreamOps.startHybridSearchSink(in, sf, s"$d/out", s"$d/stats", s"$d/ckpt"),
      dirs = Seq("stats/docs", "stats/terms"), tables = Seq("out/current"))
  }

  replayTest("DQ gate") {
    import spark.implicits._
    val constraints = Seq(
      "domain_status" -> !col("status").isInCollection(Seq("F", "O", "P")),
      "nonneg_price" -> (col("price") < 0.0))
    SinkCase(Seq(Seq((1L, "F", 10.0), (2L, "X", 5.0), (3L, "O", -1.0)),
        Seq((4L, "P", 7.0), (5L, "Z", -2.0)), Seq((6L, "F", 1.0), (7L, "Q", 3.0)))
        .map(_.toDF("id", "status", "price")),
      (in, d) => StreamOps.startDqGateSink(in, constraints, s"$d/out",
        s"$d/quarantine", s"$d/ckpt"),
      dirs = Seq("out", "quarantine"))
  }

  replayTest("IVF upsert") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val idx = s"${tempDir("graft_replay_ivf")}/idx"
    val e = graft.Tables.embeddings(spark, sf)
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("ssq", expr("graft_dot(emb, emb)")).localCheckpoint(true)
    graft.ops.AnnIndex.writeIvfIndex(base, idx,
      nlist = graft.ops.AnnIndex.ivfNlist(base.count()), iters = 2)
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1).toSeq
    SinkCase(delta.grouped((delta.size + 2) / 3).map(_.toDF("vec_id", "label", "embedding")).toSeq,
      (in, d) => StreamOps.startIvfUpsertSink(in, s"$idx/centroids", s"$d/store", s"$d/ckpt"),
      dirs = Seq("store"))
  }

  replayTest("HDR histogram") {
    import spark.implicits._
    SinkCase((1L to 300L).map(i => (if (i % 2 == 0) "a" else "b", i * 37 % 3000 + 1))
        .grouped(100).map(_.toDF("p", "v")).toSeq,
      (in, d) => StreamOps.startHdrHistogramSink(in, s"$d/store", s"$d/ckpt"),
      dirs = Seq("store"))
  }

  replayTest("theta sketch") {
    import spark.implicits._
    SinkCase(((0L until 300L).map("a" -> _) ++ (150L until 450L).map("b" -> _))
        .grouped(200).map(_.toDF("p", "k")).toSeq,
      (in, d) => StreamOps.startThetaSketchSink(in, s"$d/store", s"$d/ckpt"),
      dirs = Seq("store"))
  }

  replayTest("media dedup") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val f0 = frame(0); val f1 = frame(1)
    // compactEvery = 1: the replayed batch is a folding one
    SinkCase(Seq(
        Seq((1L, "audio", audioClip(codesA, 8000, 16)),
          (2L, "video", Multimodal.encodeVideo(Seq(f0, f1)))),
        Seq((10L, "audio", audioClip(codesA, 4000, 8)),
          (12L, "audio", audioClip(codesC, 8000, 16))),
        Seq((20L, "video", Multimodal.encodeVideo(Seq(f0, f0, f1, f1))),
          (21L, "video", Multimodal.encodeVideo(Seq(f1, f0)))))
        .map(_.toDF("media_id", "media_type", "payload")),
      (in, d) => StreamOps.startMediaDedupSink(in, s"$d/out", s"$d/store", s"$d/ckpt",
        compactEvery = 1),
      dirs = Seq("out", "store"))
  }

  replayTest("compaction plan") {
    import spark.implicits._
    def slot(tag: String, day: Int, hr: Int, n: Int): Seq[(Timestamp, String, String)] =
      (0 until n).map { i =>
        (Timestamp.valueOf(f"2024-01-0$day $hr%02d:0${i % 6}:1${i % 10}"),
          s"ev$tag", "p" * (10 + i % 3))
      }
    SinkCase(Seq(slot("a", 1, 0, 4) ++ slot("b", 1, 1, 5),
        slot("d", 1, 0, 2) ++ slot("e", 1, 5, 6), slot("f", 2, 3, 4) ++ slot("g", 2, 7, 2))
        .map(_.toDF("ts", "event_type", "props")),
      (in, d) => StreamOps.startCompactionPlanSink(in, s"$d/store", s"$d/out", s"$d/ckpt",
        target = 200L),
      dirs = Seq("store"), tables = Seq("out/current"))
  }
}
