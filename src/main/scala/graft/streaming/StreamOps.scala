package graft.streaming

import graft.ops.TextDedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming operator library (SURVEY.md §2.I).
  *
  * Every transform takes and returns a DataFrame so it composes identically
  * over a static frame (batch-equivalence — pinned by the `stream_*_batch`
  * oracle queries) and over `readStream`/MemoryStream input (pinned by
  * StreamingSpec).
  *
  * Scale notes (100 TB stream): state is bounded by the watermark — every
  * stateful op here requires one, so the state store evicts closed windows
  * instead of growing forever. Keys partition the state store (user_id /
  * event_type), so a 1000-executor cluster shards state horizontally.
  * Sinks are exactly-once: the Parquet sink through Spark's file-sink
  * commit log, every foreachBatch sink through [[BatchStore]]'s replay
  * contract.
  */
object StreamOps {

  /** Bytes/events per tumbling window per key. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("w.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Windowed OHLC (the streaming twin of the batch `ts_ohlc_resample`
    * candlestick): first/last/min/max of `value` per (window, type), the
    * open/close ordered by the total (ts, event_id) key so replays and
    * micro-batch boundaries can never flip a tie. min_by/max_by are
    * declarative aggregates, so the streaming state store holds one
    * (value, key) pair per extremum per group — constant-size state per
    * open window, watermark-evicted like any windowed agg. */
  def windowedOhlc(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val key = struct(col("ts"), col("event_id"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(min_by(col("value"), key).as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("open"),
        col("high"), col("low"), col("close"), col("n"))
  }

  /** 5-minute windows sliding every minute. */
  def slidingAgg(events: DataFrame, window_ : String = "5 minutes",
      slide: String = "1 minute", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Per-user sessions with a gap timeout. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Drop duplicate event_ids within the watermark horizon — the SCALE form
    * of streaming dedup: a key's state is evicted once the watermark passes
    * its event time + delay, so state is bounded by the watermark window.
    * The trade: a duplicate arriving more than the delay after the original
    * (with a fresh in-watermark timestamp) finds no state and RE-EMITS.
    * StreamingSpec pins this against [[dedupGlobal]] on the same input. */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Exact-forever dedup on event_id: plain dropDuplicates with NO
    * watermark, so the state store retains EVERY seen key indefinitely and
    * duplicates are dropped across arbitrary time gaps. Deliberately
    * unwatermarked: with a watermark set, streaming dedup discards
    * late-arriving rows BEFORE consulting state, which would silently drop
    * a never-seen event that merely arrived late — the opposite of this
    * operator's contract. The cost is state growing with distinct keys; at
    * 100 TB prefer [[dedup]] unless the key domain is provably bounded
    * (e.g. a dimension id space). */
  def dedupGlobal(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Enrich the stream with a static dimension table (broadcast join — the
    * static side never re-shuffles the stream). */
  def enrichWithStatic(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), key)

  /** Stream-stream join: clicks ⋈ views by user within ±5 minutes, both
    * sides watermarked so join state is evictable. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 5 MINUTES") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 5 MINUTES"))
  }

  case class UserCount(user_id: Long, n_events: Long, last_value: Double)

  /** Arbitrary stateful processing: running per-user counters across
    * micro-batches via flatMapGroupsWithState (update mode). */
  def runningUserCounts(events: DataFrame): Dataset[UserCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "CAST(value AS DOUBLE) AS value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserCount, UserCount](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserCount]) =>
          val prev = state.getOption.getOrElse(UserCount(user, 0L, 0.0))
          var n = prev.n_events
          var last = prev.last_value
          rows.foreach { r => n += 1; last = r._2 }
          val next = UserCount(user, n, last)
          state.update(next)
          Iterator(next)
      }
  }

  /** Spark 4 transformWithState flavor of the running counter: typed
    * ValueState through a StatefulProcessor. Requires the RocksDB state
    * store provider (set `spark.sql.streaming.stateStore.providerClass` to
    * RocksDBStateStoreProvider on the session). */
  class UserCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserCount] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var state: ValueState[UserCount] = _
    override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserCount]("count",
        Encoders.product[UserCount], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[UserCount] = {
      val prev = Option(state.get()).getOrElse(UserCount(key, 0L, 0.0))
      var n = prev.n_events
      var last = prev.last_value
      rows.foreach { r => n += 1; last = r._2 }
      val next = UserCount(key, n, last)
      state.update(next)
      Iterator(next)
    }
  }

  /** transformWithState running counters (Spark 4 arbitrary-state API). */
  def runningUserCountsTws(events: DataFrame): Dataset[UserCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "CAST(value AS DOUBLE) AS value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** `df.writeStream` checkpointed at `checkpoint`, its checkpoint I/O
    * fork-free ([[ForklessLocalFs]]): every checkpointing sink starts here. */
  private def checkpointed(df: DataFrame, checkpoint: String): DataStreamWriter[Row] = {
    ForklessLocalFs.install(df.sparkSession)
    df.writeStream.option("checkpointLocation", checkpoint)
  }

  /** Merge-style sink via foreachBatch: upsert each micro-batch into the
    * target by key, keeping the row with the highest version column.
    * Exactly-once through [[BatchStore]] (see its replay contract): the
    * max-version merge makes a re-run batch converge to the same target.
    *
    * Scale notes: the full-target rewrite here is the local stand-in for a
    * real table format's MERGE (partition-scoped rewrites); the dedup
    * window per key is the same plan a Delta/Iceberg merge executes. */
  def startMergeSink(df: DataFrame, outPath: String, checkpoint: String,
      key: String, version: String): StreamingQuery =
    checkpointed(df, checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, outPath, key, version)
      }
      .start()

  /** One micro-batch of [[startMergeSink]]: the target is swapped through
    * [[BatchStore.replace]], so a batch replayed after a crash mid-swap
    * merges into the full target and the max-version merge converges. */
  private[graft] def mergeBatch(batch: DataFrame, outPath: String,
      key: String, version: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(col(version).desc, col(key).asc)
    BatchStore.replace(outPath) { published =>
      published.fold(batch)(batch.sparkSession.read.parquet(_).unionByName(batch))
        .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** Streaming near-duplicate document filter — the incremental form of
    * llm_dedup_minhash: each micro-batch of (doc_id, text, …) rows is
    * minhash-signed and band-joined against a persistent signature STORE
    * plus the batch itself; a doc is DROPPED when exact-Jaccard-verified
    * at ≥ tau against any PREVIOUSLY SEEN doc (an earlier batch, or a
    * lower doc_id in the same batch). Survivors land under
    * `outPath/b<batchId>`; ALL of the batch's signatures (survivors and
    * dropped — a future doc similar only to a dropped one must still be
    * caught) append to the store under `storePath/b<batchId>`.
    *
    * Exactly-once through [[BatchStore]] (see its replay contract); the
    * store is read with `readBefore`. Before the first batch the store is
    * empty; any read failure fails the batch instead of letting its
    * duplicates through.
    *
    * Scale notes: the per-batch work is bands(batch) ⋈ bands(store) — an
    * equi-join on (band_idx, band_hash) whose probe side is ONE
    * micro-batch; the store never self-joins. At 100 TB the store is a
    * table partitioned/bucketed by band hash, exactly the signature table
    * the batch path persists (TextDedup.minhashBase), and this sink is
    * the standard backfill-then-tail dedup deployment. Sub-3-token docs
    * have no shingle signature and pass through unfiltered (they cannot
    * near-dup under the 3-gram definition), mirroring the batch path. */
  def startNearDupFilterSink(docs: DataFrame, outPath: String,
      storePath: String, checkpoint: String, tau: Double = 0.5): StreamingQuery =
    checkpointed(docs, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        try {
          val sigs = TextDedup.signaturesOf(TextDedup.shinglesOf(b))
            .withColumn("batch_id", lit(id))
            .persist()
          val all = BatchStore.readBefore(storePath, id).fold(sigs)(sigs.unionByName(_))
          // new docs are the a side, every seen doc the b side
          val nb = TextDedup.bandHashes(sigs)
            .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
          val ab = TextDedup.bandHashes(all)
            .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
          val dups = nb.join(ab, Seq("band_idx", "band_hash"))
            .filter(col("doc_a") =!= col("doc_b"))
            .select(col("doc_a"), col("doc_b")).distinct()
            .join(TextDedup.sideA(sigs), "doc_a")
            .join(TextDedup.sideB(all, col("batch_id").as("old_batch")), "doc_b")
            // "previously seen": an earlier batch, or earlier in this one
            .filter(col("old_batch") < id ||
              (col("old_batch") === id && col("doc_b") < col("doc_a")))
            .withColumn("common", TextDedup.common)
            .filter(TextDedup.jaccard >= tau)
            .select(col("doc_a").as("doc_id")).distinct()
          BatchStore.append(outPath, "b", id)(b.join(dups, Seq("doc_id"), "left_anti"))
          BatchStore.append(storePath, "b", id)(sigs)
          sigs.unpersist()
        } finally b.unpersist()
        ()
      }
      .start()

  /** Streaming hybrid retrieval — the incremental form of
    * `llm_hybrid_search`: each micro-batch of (doc_id, text) rows appends
    * its EXACT INTEGER BM25 stats (per-doc length; per-doc-term query-term
    * frequency) to a persistent stats store, and the CURRENT hybrid
    * top-20 standings (BM25 over the accumulated corpus ⊕ cosine top-100
    * from the train-once persisted ANN index, RRF-fused) are rewritten
    * under `outPath/current` after every batch.
    *
    * Batch-equivalence is STRUCTURAL, not approximate: the scoring and
    * fusion run through the same LlmOps.bm25Stats → bm25FromStats →
    * rrfFuse / hybridVectorTop bodies the declared (oracle-backed) batch
    * query uses, over stats that accumulate losslessly (tf/dl are integers, and
    * df / n_docs / t_total are re-derived from the accumulated rows each
    * batch, never incrementally mutated) — so after the last batch the
    * output is bit-identical to the batch query on the same documents
    * (StreamingSpec pins it, including across a kill/restart).
    *
    * Exactly-once through [[BatchStore]] (see its replay contract): the
    * standings read the stats stored before this batch plus its own
    * in-memory delta, and `current` is swapped with `replace`.
    *
    * Scale notes (100 TB stream): per batch, the stats append is map-only
    * over the batch (the token stream is filtered to the |q| query terms
    * BEFORE its one aggregation); the standings recompute reads the
    * accumulated per-DOC stat rows — at most |q|+1 skinny rows per doc,
    * independent of document size — and the vector side reads the
    * persisted index, never the raw embeddings. A deployment re-ranking
    * per batch over billions of docs would keep the same store and fold
    * the df/tot re-derivation into a metadata table; the fusion windows
    * stay bounded at 100 rows either way. */
  def startHybridSearchSink(docs: DataFrame, sfDir: String, outPath: String,
      statsPath: String, checkpoint: String,
      qTerms: Seq[String] = graft.ops.LlmOps.Bm25Terms): StreamingQuery =
    checkpointed(docs, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        val (tf, dl) = graft.ops.LlmOps.bm25Stats(b, qTerms)
        // this batch's stats, cached: each is stored once and scored once
        val tfB = tf.withColumn("batch_id", lit(id)).persist()
        val dlB = dl.withColumn("batch_id", lit(id)).persist()
        try {
          // standings from the ACCUMULATED stats, this batch included
          def accumulated(delta: DataFrame, dir: String): DataFrame = {
            BatchStore.append(dir, "b", id)(delta)
            BatchStore.readBefore(dir, id).fold(delta)(delta.unionByName(_))
          }
          val dlAll = accumulated(dlB, s"$statsPath/docs")
            .select(col("doc_id"), col("dl"))
          val tfAll = accumulated(tfB, s"$statsPath/terms")
            .select(col("doc_id"), col("term"), col("tf"))
          BatchStore.replace(s"$outPath/current")(_ => graft.ops.LlmOps.rrfFuse(
            graft.ops.LlmOps.bm25FromStats(tfAll, dlAll),
            graft.ops.LlmOps.hybridVectorTop(spark, sfDir)))
        } finally Seq(tfB, dlB, b).foreach(_.unpersist())
        ()
      }
      .start()

  /** Streaming data-quality GATE — the micro-batch twin of the batch
    * `dq_constraint_check` audit, deployed the way ingestion pipelines
    * actually gate: every micro-batch is split against a list of named
    * row constraints; clean rows land under `outPath/b<id>`, violating
    * rows land under `quarantinePath/b<id>` WITH the list of failed
    * constraint names attached (`dq_failed`) — rejected data is never
    * dropped silently, it is parked for inspection/repair, and the gate
    * adds zero shuffles (both splits are map-only filters over the
    * batch).
    *
    * Exactly-once through [[BatchStore]] (see its replay contract).
    * `constraints` are (name, violated-predicate) pairs, evaluated once
    * per row via one array projection.
    *
    * NULL semantics (three-valued, SAME as the batch `dq_constraint_check`
    * twin and its SQL oracle): a NULL in a gated column makes a
    * domain/range predicate evaluate to NULL, which `when` treats as
    * not-violated — so a NULL PASSES every constraint except an explicit
    * `isNull` one. That is the deliberate SQL-native contract: nullness
    * is its own constraint, not an implicit violation of every range
    * check. Gate authors who want NULL-rejects add
    * `("x_not_null", col("x").isNull)` per gated column, or write the
    * predicate as `coalesce(bad, lit(true))` to fail closed. */
  def startDqGateSink(df: DataFrame, constraints: Seq[(String, org.apache.spark.sql.Column)],
      outPath: String, quarantinePath: String, checkpoint: String): StreamingQuery = {
    require(constraints.nonEmpty, "a gate needs at least one constraint")
    require(!df.columns.contains("dq_failed"),
      "input already carries a dq_failed column — the gate would clobber it")
    checkpointed(df, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val failed = array(constraints.map { case (name, bad) =>
          when(bad, lit(name)).otherwise(lit(null))
        }: _*)
        val tagged = batch.withColumn("dq_failed",
          org.apache.spark.sql.functions.filter(failed, c => c.isNotNull))
          .persist()
        try {
          BatchStore.append(outPath, "b", id)(
            tagged.filter(size(col("dq_failed")) === 0).drop("dq_failed"))
          BatchStore.append(quarantinePath, "b", id)(
            tagged.filter(size(col("dq_failed")) > 0)
              .withColumn("dq_failed", array_join(col("dq_failed"), ",")))
        } finally tagged.unpersist()
        ()
      }
      .start()
  }

  /** Streaming IVF index maintenance — the micro-batch twin of the batch
    * `llm_sim_ann_ivf_upsert` path, i.e. the way a real vector-ingest
    * deployment actually appends to a standing ANN index: each
    * micro-batch of raw vectors (vec_id, label, embedding) is encoded
    * against the PERSISTED codebook at `centroidsPath` (never retrained —
    * the upsert staleness contract: the codebook affects efficiency only,
    * never answers, on the exact cell-routed paths) and its posting rows
    * land batch-scoped under `storePath/b<id>`. The published `b<id>`
    * dirs ∪ the base index's assign table IS the upsert view; compaction
    * (`llm_sim_ann_ivf_compact`) later folds the deltas in.
    *
    * Exactly-once through [[BatchStore]] (see its replay contract).
    * Batch-equivalence is STRUCTURAL: the
    * encode body is AnnIndex.encodeAgainstCodebook, the same seam the
    * batch upsert runs, so the accumulated store equals the one-shot
    * encode row-for-row however arrival slices the stream.
    *
    * Scale notes (100 TB stream): per batch the work is one broadcast
    * codebook fan-out folded map-side (assignToCentroid's min(struct)
    * argmin — the shuffle carries ONE row per vector), the standing
    * corpus is never re-read or re-shuffled, and the raw embeddings are
    * touched only for the arriving rows — the exact property the batch
    * upsert plan-asserts. */
  def startIvfUpsertSink(vectors: DataFrame, centroidsPath: String,
      storePath: String, checkpoint: String): StreamingQuery =
    checkpointed(vectors, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        BatchStore.append(storePath, "b", id)(
          graft.ops.AnnIndex.encodeAgainstCodebook(batch,
            batch.sparkSession.read.parquet(centroidsPath))
            .withColumn("batch_id", lit(id)))
      }
      .start()

  /** Streaming mergeable-quantile ingest — the micro-batch twin of
    * `agg_hdr_quantile_merge`'s partial layer (the latency-histogram
    * dashboard shape): each micro-batch of (p: segment, v: BIGINT value)
    * rows folds to its deterministic HdrHistogram bucket counts through
    * the SAME `HdrHistogram.bucketSql` seam the batch query uses — so
    * streamed-merge ≡ batch-histogram is structural, not a parallel
    * implementation promise — and appends them batch-scoped. The reader
    * merges with a plain per-bucket SUM (associative + commutative +
    * deterministic, so arrival slicing is unobservable) and answers any
    * percentile from the counters.
    *
    * Exactly-once through [[BatchStore]] (see its replay contract).
    * Scale: a batch shuffles only its
    * (segment, bucket) partial counts — a few KB per segment regardless
    * of batch row count; the store grows by buckets, never rows, and a
    * periodic compaction (sum into one file) is the same fold as the
    * read path. */
  def startHdrHistogramSink(values: DataFrame, storePath: String,
      checkpoint: String): StreamingQuery =
    checkpointed(values, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        BatchStore.append(storePath, "b", id)(batch.select(col("p"), col("v"))
          .withColumn("bkt", expr(graft.functions.HdrHistogram.bucketSql("v")))
          .groupBy(col("p"), col("bkt")).agg(count(lit(1)).as("cnt"))
          .withColumn("batch_id", lit(id)))
      }
      .start()

  /** Streaming distinct-set ingest — the micro-batch twin of
    * `agg_theta_sketch_setops`' partial layer (the audience-overlap
    * dashboard shape): each micro-batch of (p: segment, k: BIGINT key)
    * rows folds to one compact theta blob per segment through the SAME
    * `ThetaSketch.thetaSketchAgg` seam the batch query uses, appended
    * batch-scoped. The reader merges blobs per segment with
    * `thetaUnionAgg` — theta union is a pure function of the input key
    * SET (k smallest MurmurHash3 values, no RNG; ThetaSketchSpec pins
    * blob byte-identity under reshuffle and merge-tree shape), so
    * arrival slicing is unobservable — and answers |A|, |A∪B|, |A∩B|,
    * |A\B| questions from the merged blobs without ever rejoining raw
    * rows.
    *
    * Exactly-once through [[BatchStore]] (see its replay contract).
    * Scale: a batch shuffles one
    * ≈8 B/retained-key blob per (segment, batch) — bounded by the lgK
    * nominal regardless of batch row count; the store grows by
    * segments × batches, never rows, and periodic compaction is the same
    * thetaUnionAgg fold as the read path. */
  def startThetaSketchSink(keys: DataFrame, storePath: String,
      checkpoint: String): StreamingQuery =
    checkpointed(keys, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        BatchStore.append(storePath, "b", id)(batch.select(col("p"), col("k"))
          .groupBy(col("p"))
          .agg(graft.functions.ThetaSketch.thetaSketchAgg(col("k")).as("sk"))
          .withColumn("batch_id", lit(id)))
      }
      .start()

  /** Streaming MEDIA near-dup filter — the incremental, mixed-modality
    * form of `mm_dedup_audio` / `mm_dedup_video`: each micro-batch of
    * (media_id, media_type, payload) rows is signature-extracted through
    * the REAL codecs — audio payloads through decodeWav + the 64-block
    * energy fingerprint ([[graft.multimodal.Multimodal.audioFingerprint]]),
    * video payloads through the container walk + per-frame Jpeg decode +
    * run-collapsed signature ([[graft.multimodal.Multimodal.videoClipSignature]])
    * — and a clip is DROPPED when its modality-prefixed signature matches
    * a PREVIOUSLY SEEN clip (an earlier batch, or a lower media_id in the
    * same batch): a half-rate re-encode of an already-ingested track or a
    * frame-doubled re-upload of a known clip never reaches the corpus.
    * Survivors land under `outPath/b<id>`; ALL of the batch's signatures
    * (survivors and dropped) append to the store — a future variant
    * similar to a dropped clip must still be caught.
    *
    * The dedup contract is FIRST-SEEN-WINS: within one batch ties break
    * to the lowest media_id, across batches the earlier arrival survives
    * regardless of id ordering. Under monotone media_id arrival (the
    * natural ingest order) this coincides with the one-shot
    * keep-lowest-id batch dedup — the equivalence StreamingSpec pins —
    * but a late-arriving LOWER id is dropped in favor of the id already
    * ingested (the streaming-correct choice: the survivor set already
    * shipped downstream).
    *
    * Store compaction (bounded per-batch reads): every `compactEvery`
    * batches the accumulated per-batch delta dirs fold into ONE deduped
    * store `c<id>` — min (batch_id, media_id) per signature, which
    * preserves every read the filter can ever issue (only the EARLIEST
    * occurrence of a signature decides any later batch, and a replayed
    * batch's `batch_id < id` filter still sees exactly the pre-batch
    * world because first-seen rows from the replayed batch carry its own
    * id) — and the folded deltas are deleted. The per-batch store read is
    * then ≤ 1 compacted dir + compactEvery deltas, O(1) in stream
    * lifetime instead of O(batches).
    *
    * Exactly-once through [[BatchStore]] (see its replay contract). The
    * store read keeps a `batch_id < id` filter: a replay of a COMPACTING
    * batch (crash after the body, before the offset commit) reads its own
    * published c<id>, and c<id> filtered to batch_id < id is exactly the
    * pre-batch world (min-per-signature keeps the earliest occurrence, and
    * first-seen rows from the replayed batch carry its own id), so the
    * replay's dedup decisions are unchanged and its fold is skipped.
    * StreamingSpec exercises this replay directly by invoking
    * [[mediaDedupBatch]] twice at a compaction id.
    *
    * Scale notes (100 TB media lake): signature extraction is a
    * partition-preserving decode map — payloads never shuffle; the store
    * join carries (signature, media_id) rows only, keyed on the
    * signature — the universal dedup shuffle shape; at deployment scale
    * the store is a signature-bucketed table and the probe side is ONE
    * micro-batch, exactly the startNearDupFilterSink backfill-then-tail
    * shape applied to media. */
  def startMediaDedupSink(media: DataFrame, outPath: String,
      storePath: String, checkpoint: String,
      compactEvery: Int = 4): StreamingQuery =
    checkpointed(media, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mediaDedupBatch(batch, id, outPath, storePath, compactEvery)
      }
      .start()

  /** One micro-batch of [[startMediaDedupSink]], exposed so the replay
    * contract (foreachBatch is at-least-once: a crash after the body but
    * before the offset commit re-fires the SAME (batch, id)) can be
    * exercised deterministically in a spec by invoking the body twice. */
  private[graft] def mediaDedupBatch(batch: DataFrame, id: Long,
      outPath: String, storePath: String, compactEvery: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.persist()
    try {
      val rows = b.select(col("media_id"), col("media_type"), col("payload"))
        .as[graft.multimodal.Multimodal.MediaRow]
      // modality prefixes keep the two signature spaces disjoint
      val au = graft.multimodal.Multimodal
        .audioFingerprint(rows.filter(_.media_type == "audio")).toDF()
        .select(col("media_id"), concat(lit("a:"), col("fingerprint")).as("sig"))
      val vi = graft.multimodal.Multimodal
        .videoClipSignature(rows.filter(_.media_type == "video")).toDF()
        .select(col("media_id"), concat(lit("v:"), col("clip_sig")).as("sig"))
      val sigs = au.unionByName(vi)
        .withColumn("batch_id", lit(id))
        .persist()
      val before = BatchStore.readBefore(storePath, id)
      val all = before.fold(sigs)(s => sigs.unionByName(s.filter(col("batch_id") < id)))
      val dups = sigs.select(col("media_id").as("new_id"), col("sig"))
        .join(all.select(col("media_id").as("old_id"), col("sig"),
          col("batch_id").as("old_batch")), Seq("sig"))
        // "previously seen": an earlier batch, or earlier in this one
        .filter(col("old_batch") < id ||
          (col("old_batch") === id && col("old_id") < col("new_id")))
        .select(col("new_id").as("media_id")).distinct()
      BatchStore.append(outPath, "b", id)(b.join(dups, Seq("media_id"), "left_anti"))
      BatchStore.append(storePath, "b", id)(sigs)
      if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
        // fold the read set + this batch's delta: one groupBy over
        // signature rows (payloads never enter the store)
        BatchStore.append(storePath, "c", id)(before.fold(sigs)(sigs.unionByName(_))
          .groupBy(col("sig"))
          .agg(min(struct(col("batch_id"), col("media_id"))).as("m"))
          .select(col("m.media_id").as("media_id"), col("sig"),
            col("m.batch_id").as("batch_id")))
        BatchStore.retire(storePath, id)
      }
      sigs.unpersist()
    } finally b.unpersist()
    ()
  }

  /** Streaming compaction monitor — the incremental form of the declared
    * `scale_compaction_plan` query: as event rows stream in, each
    * micro-batch appends its per-(dt, hr) inventory DELTAS (exact integer
    * row counts and byte estimates — one map-side-combinable groupBy over
    * the batch) to a persistent store, and the CURRENT compaction plan is
    * rewritten under `outPath/current` after every batch.
    *
    * Batch-equivalence is STRUCTURAL, not approximate: the accumulated
    * deltas sum losslessly to exactly the batch query's inventory (counts
    * and byte sums are integers, and sum-of-partials ≡ one global
    * groupBy), and the plan is produced by the SAME
    * `Basics.fileInventory` byte arithmetic and
    * `Basics.compactionPlanFromInventory` bin-assignment body the
    * declared query runs — so after the last batch the plan is
    * bit-identical to the batch query on the same rows (StreamingSpec
    * pins it, including across a kill/restart).
    *
    * Exactly-once through [[BatchStore]] (see its replay contract): the
    * plan reads the deltas stored before this batch plus its own in-memory
    * delta, and `current` is swapped with `replace`.
    *
    * Scale notes (100 TB lake): the per-batch append shuffles only the
    * batch's (dt, hr) partials — bounded by slots touched, never batch
    * rows; the plan recompute reads the accumulated partial rows (slots ×
    * batches, metadata-sized) and every plan window is dt-partitioned. A
    * deployment would compact the store periodically with the same
    * groupBy-sum as the read path, and feed the monitor's plan directly
    * to the table maintenance scheduler. */
  def startCompactionPlanSink(events: DataFrame, storePath: String,
      outPath: String, checkpoint: String, target: Long = 16384L): StreamingQuery =
    checkpointed(events, checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // cached: the delta is stored once and planned once
        val delta = graft.ops.Basics.fileInventory(batch)
          .withColumn("batch_id", lit(id)).persist()
        try {
          BatchStore.append(storePath, "b", id)(delta)
          val inventory = BatchStore.readBefore(storePath, id)
            .fold(delta)(delta.unionByName(_))
            .groupBy(col("dt"), col("hr"))
            .agg(sum(col("file_rows")).as("file_rows"),
              sum(col("file_bytes")).as("file_bytes"))
          BatchStore.replace(s"$outPath/current")(_ =>
            graft.ops.Basics.compactionPlanFromInventory(inventory, target))
        } finally delta.unpersist()
        ()
      }
      .start()

  case class AsOfIn(user_id: Long, ts: java.sql.Timestamp, id: Long,
      is_probe: Boolean)
  case class AsOfEvent(ts_ms: Long, id: Long)
  case class AsOfBuf(has_floor: Boolean, floor_ts: Long, floor_id: Long,
      events: List[AsOfEvent], probes: List[Long])
  case class AsOfAnswer(user_id: Long, p_ts: java.sql.Timestamp,
      event_id: Option[Long], event_ts: Option[java.sql.Timestamp])

  /** Streaming as-of join — the event-time-complete streaming form of the
    * batch join_asof / native AsOfJoin operator: each probe (user_id,
    * p_ts) is answered with the latest event (user_id, ts, event_id) at
    * ts <= p_ts, ties on the highest event_id.
    *
    * Probes are HELD until the watermark passes their timestamp and only
    * then answered: by the watermark contract every event at-or-before
    * p_ts has arrived, so the answer equals the batch operator's on the
    * same data — an answer-immediately design would miss in-horizon
    * out-of-order events (StreamingSpec drives exactly that case). Both
    * inputs union into one tagged, watermarked stream so a single
    * flatMapGroupsWithState (EventTimeTimeout) sees each user's probes
    * and events together; held probes register an event-time timeout at
    * their p_ts so the answer fires on the first trigger after the
    * watermark passes even if the key receives no further rows.
    *
    * State bound per key: the events inside the watermark horizon, PLUS
    * exactly one "floor" row — everything at-or-below the watermark
    * collapses to the single latest such event (the as-of answer any
    * future probe could still need), plus the pending probes.
    *
    * `idleTtlMs` bounds the KEY SPACE too: a key whose floor has been
    * silent for that long past the watermark drops its state entirely
    * (an event-time timeout at floor_ts + ttl). A probe arriving after
    * that answers null — it is itself deep-late under the watermark
    * contract, which permits dropping it outright; 0 disables. */
  def streamAsOfJoin(probes: DataFrame, events: DataFrame,
      watermark: String = "10 minutes",
      idleTtlMs: Long = 24L * 3600 * 1000): Dataset[AsOfAnswer] = {
    val spark = probes.sparkSession
    import spark.implicits._
    val tagged = events
      .select(col("user_id"), col("ts"), col("event_id").as("id"),
        lit(false).as("is_probe"))
      .unionByName(probes.select(col("user_id"), col("p_ts").as("ts"),
        lit(0L).as("id"), lit(true).as("is_probe")))
      .withWatermark("ts", watermark)
      .as[AsOfIn]
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfBuf, AsOfAnswer](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[AsOfIn], state: GroupState[AsOfBuf]) =>
          asofHandle(user, rows, state, idleTtlMs)
      }
  }

  private def asofHandle(user: Long, rows: Iterator[AsOfIn],
      state: GroupState[AsOfBuf], idleTtlMs: Long): Iterator[AsOfAnswer] = {
    val prev = state.getOption.getOrElse(AsOfBuf(false, 0L, 0L, Nil, Nil))
    var events = prev.events
    var probes = prev.probes
    rows.foreach { r =>
      if (r.is_probe) probes ::= r.ts.getTime
      else events ::= AsOfEvent(r.ts.getTime, r.id)
    }
    val floor =
      if (prev.has_floor) Some(AsOfEvent(prev.floor_ts, prev.floor_id)) else None
    val wm = state.getCurrentWatermarkMs()
    val (ready, pending) = probes.partition(_ <= wm)
    def best(pts: Long): Option[AsOfEvent] = {
      val cands = events.filter(_.ts_ms <= pts) ++ floor.filter(_.ts_ms <= pts)
      if (cands.isEmpty) None else Some(cands.maxBy(e => (e.ts_ms, e.id)))
    }
    val answers = ready.sorted.map { pts =>
      val m = best(pts)
      AsOfAnswer(user, new java.sql.Timestamp(pts),
        m.map(_.id), m.map(e => new java.sql.Timestamp(e.ts_ms)))
    }
    // evict: everything at-or-below the watermark collapses to one floor
    val (old, fresh) = events.partition(_.ts_ms <= wm)
    val floorCands = old ++ floor
    val nf = if (floorCands.isEmpty) None
             else Some(floorCands.maxBy(e => (e.ts_ms, e.id)))
    // last event-time activity of the key: in-horizon events if any,
    // else the floor (fresh events are > wm by construction, so when
    // fresh is non-empty lastActivity > wm and expiry below cannot fire)
    val lastActivity = (nf.toList ++ fresh).map(_.ts_ms).maxOption
    val idleExpired = idleTtlMs > 0 && pending.isEmpty &&
      lastActivity.forall(a => wm >= a + idleTtlMs)
    if (idleExpired) {
      // nothing a future in-horizon probe could still need — drop the key
      state.remove()
    } else {
      state.update(AsOfBuf(nf.isDefined, nf.map(_.ts_ms).getOrElse(0L),
        nf.map(_.id).getOrElse(0L), fresh, pending))
      // EventTimeTimeout demands a timestamp strictly above the watermark;
      // pending probes satisfy that by construction (pts > wm). With no
      // pending probes, arm the idle-TTL timer instead so the key gets a
      // chance to expire without further traffic.
      // Firing-edge note: Spark fires an event-time timer only when the
      // timeout is STRICTLY below the watermark, while the ready split
      // above uses pts <= wm. If the watermark lands exactly on
      // pending.min and the key then goes silent, that probe's answer
      // defers one extra watermark advance (arming any earlier is
      // invalid — the timestamp must be > wm). Accepted one-batch
      // deferral, not an off-by-one.
      if (pending.nonEmpty) state.setTimeoutTimestamp(pending.min)
      else if (idleTtlMs > 0 && lastActivity.isDefined)
        state.setTimeoutTimestamp(math.max(lastActivity.get + idleTtlMs, wm + 1))
    }
    answers.iterator
  }

  case class SilenceIn(user_id: Long, ts: java.sql.Timestamp)
  case class SilenceState(times: List[Long])
  case class SilenceAlert(user_id: Long, last_ts: java.sql.Timestamp,
      silent_as_of: java.sql.Timestamp)

  /** Streaming silence detector (the monitoring dead-man's switch): one
    * alert per key per silence EPISODE — a maximal event-time gap of at
    * least `silenceMs` — emitted only once the gap is CERTAIN (the
    * watermark has passed gap_start + silenceMs, so by the watermark
    * contract nothing can fill it anymore). "No rows arrived yet" is NOT
    * silence: an out-of-order in-horizon event can still close a gap, and
    * a resume that arrives before certainty must not erase a gap that was
    * real (both cases are spec-pinned).
    *
    * State per key is the short list of GAP-OPENING CANDIDATES and
    * FILLERS: in-horizon times (> watermark) are all kept — a time with a
    * close successor still fills the interval an out-of-order arrival
    * beneath it would otherwise mis-measure — while at-or-below-watermark
    * times collapse into the later element of any close pair (nothing can
    * arrive beneath them anymore, and a time with a close successor can
    * never open an alertable gap itself). That bounds state at the
    * in-horizon event count plus AT MOST ONE still-pending below-watermark
    * gap-opener (two would have to sit within silenceMs of each other
    * while each keeping a >= silenceMs successor gap — contradiction). Once the
    * trailing gap is certain the key's state is REMOVED: a never-returning
    * key costs nothing forever after, and a resume rebuilds from its next
    * event and may alert again for a later episode (one page per outage,
    * not per key-lifetime). The batch twin `stream_silence_batch`
    * (oracle-backed) is the final-state view: keys whose last event
    * precedes the stream maximum by the threshold. StreamingSpec pins the
    * episode semantics and state durability across a kill/restart. */
  def streamSilenceAlerts(events: DataFrame,
      silenceMs: Long = 4L * 3600 * 1000,
      watermark: String = "10 minutes"): Dataset[SilenceAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", watermark).as[SilenceIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SilenceState, SilenceAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SilenceIn], state: GroupState[SilenceState]) =>
          silenceHandle(user, rows, state, silenceMs)
      }
  }

  // private[streaming] so StreamingSpec can drive it directly through
  // TestGroupState for the seeded differential property
  private[streaming] def silenceHandle(user: Long, rows: Iterator[SilenceIn],
      state: GroupState[SilenceState],
      silenceMs: Long): Iterator[SilenceAlert] = {
    val wm = state.getCurrentWatermarkMs()
    val all = (state.getOption.map(_.times).getOrElse(Nil) ++
      rows.map(_.ts.getTime)).distinct.sorted
    if (all.isEmpty) { state.remove(); return Iterator.empty }
    // certain inner gaps: successor at least silenceMs away AND the
    // watermark has passed the proof point
    val gapAlerts = all.zip(all.tail).collect {
      case (a, b) if b - a >= silenceMs && wm >= a + silenceMs => a
    }
    val last = all.last
    val trailingCertain = wm >= last + silenceMs
    val alerts = (gapAlerts ++ (if (trailingCertain) List(last) else Nil))
      .map(a => SilenceAlert(user, new java.sql.Timestamp(a),
        new java.sql.Timestamp(a + silenceMs)))
    if (trailingCertain) {
      // trailing certainty implies every earlier gap was certain too
      // (a < last), so everything has alerted — drop the key entirely
      state.remove()
    } else {
      // Retire alerted gap-openers (their episode fired; keeping them
      // would re-alert next invocation) and collapse close pairs — both
      // measured against the TRUE adjacency in `all`, and collapse only
      // at-or-below the watermark. Two traps the seeded differential
      // property caught, both the same shape: dropping a time that still
      // FILLS an interval lets a neighbor pair with a far survivor and
      // fabricate a gap. (1) An in-horizon time with a close successor
      // must stay — a future out-of-order arrival can still land beneath
      // it; once t <= wm nothing can, and dropping is safe. (2) The
      // collapse must see alerted openers as fillers (pair adjacency from
      // `all`, not from the post-retirement list), or the opener's
      // below-wm close predecessor pairs across the hole; measured on
      // `all` that predecessor provably collapses in the same pass.
      val candidates = all.zip(all.tail).collect {
        case (a, b) if !gapAlerts.contains(a) &&
          (b - a >= silenceMs || a > wm) => a
      } :+ all.last
      state.update(SilenceState(candidates))
      // every candidate is a pending alert awaiting certainty at
      // t + silenceMs; wm + 1 because EventTimeTimeout demands a
      // strictly-above-watermark timestamp (strict-firing note as above)
      state.setTimeoutTimestamp(math.max(candidates.head + silenceMs, wm + 1))
    }
    alerts.iterator
  }

  case class TopKIn(user_id: Long, ts: java.sql.Timestamp)
  /** Space-saving summary entry: estimated count and its over-count bound
    * (the evicted predecessor's count — Metwally et al. 2005). */
  case class SSEntry(key: Long, cnt: Long, err: Long)
  case class TopKBuf(entries: List[SSEntry])
  case class TopKAnswer(win_start: java.sql.Timestamp, user_id: Long,
      est_count: Long, max_err: Long, rnk: Int)

  /** Streaming windowed heavy hitters: per tumbling window, the
    * approximate top-k keys by count via a SPACE-SAVING sketch (Metwally,
    * Agrawal, El Abbadi 2005) of fixed `capacity` counters per window —
    * O(capacity) state per window regardless of key cardinality, which is
    * the whole point: exact per-window top-k over a 100 TB stream would
    * hold every key's count in the state store; this holds `capacity`.
    *
    * Space-saving guarantees (the spec's sketch-error property):
    * any key with true count > N/capacity is IN the summary; every
    * estimate obeys true <= est <= true + err, with err bounded by the
    * smallest counter at insertion time (<= N/capacity). With capacity >=
    * distinct keys in the window the sketch is exact — that is the
    * batch-equivalence regime pinned against `stream_topk_batch`'s oracle.
    *
    * Windows emit when the watermark passes their end (answers are
    * event-time complete), ranked (est desc, key asc), state removed —
    * the same hold-then-finalize contract as the other stateful ops here.
    * Batch rows fold in (ts, key) order so results do not depend on
    * shuffle arrival order. Keys group by WINDOW, so one task owns a
    * window's sketch; at 1000-executor scale the map-side pre-aggregation
    * this forgoes is recovered by sketch MERGEABILITY (union summaries,
    * keep top `capacity`) — a two-stage shard→merge form keyed by
    * (window, shard) — documented here as the scale-out path; the fixture
    * op keeps the single-stage shape the tests can drive exhaustively. */
  def streamWindowTopK(events: DataFrame, windowDur: String = "10 minutes",
      k: Int = 3, capacity: Int = 64,
      watermark: String = "10 minutes"): Dataset[TopKAnswer] = {
    val spark = events.sparkSession
    import spark.implicits._
    val windowMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(windowDur))
    val wms = windowMs.days * 86400000L + windowMs.microseconds / 1000L
    require(wms > 0 && windowMs.months == 0, s"fixed-length window required: $windowDur")
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
      .as[TopKIn]
      .groupByKey(r => Math.floorDiv(r.ts.getTime, wms) * wms)
      .flatMapGroupsWithState[TopKBuf, TopKAnswer](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wstart: Long, rows: Iterator[TopKIn], state: GroupState[TopKBuf]) =>
          topkHandle(wstart, wms, rows, state, k, capacity)
      }
  }

  private def topkHandle(wstart: Long, wms: Long, rows: Iterator[TopKIn],
      state: GroupState[TopKBuf], k: Int, capacity: Int): Iterator[TopKAnswer] = {
    var entries = state.getOption.map(_.entries).getOrElse(Nil)
    // fold in deterministic (ts, key) order — space-saving is
    // order-sensitive and shuffle arrival order is not a contract
    val batch = rows.map(r => (r.ts.getTime, r.user_id)).toArray.sorted
    batch.foreach { case (_, key) =>
      entries.find(_.key == key) match {
        case Some(e) =>
          entries = SSEntry(key, e.cnt + 1, e.err) :: entries.filterNot(_.key == key)
        case None if entries.size < capacity =>
          entries = SSEntry(key, 1L, 0L) :: entries
        case None =>
          // evict the deterministic min counter (cnt asc, key asc); the
          // newcomer inherits its count as the over-estimate bound
          val victim = entries.minBy(e => (e.cnt, e.key))
          entries = SSEntry(key, victim.cnt + 1, victim.cnt) ::
            entries.filterNot(_.key == victim.key)
      }
    }
    val wm = state.getCurrentWatermarkMs()
    val wend = wstart + wms
    if (wend <= wm) {
      // window event-time complete: emit ranked top-k, drop the sketch
      state.remove()
      entries.sortBy(e => (-e.cnt, e.key)).take(k).zipWithIndex.map {
        case (e, i) =>
          TopKAnswer(new java.sql.Timestamp(wstart), e.key, e.cnt, e.err, i + 1)
      }.iterator
    } else {
      state.update(TopKBuf(entries))
      state.setTimeoutTimestamp(wend) // strict-firing deferral note above
      Iterator.empty
    }
  }

  case class CusumIn(event_type: String, ts: java.sql.Timestamp,
      event_id: Long, iv: Long)
  /** Pending row at MICROSECOND fidelity (the fixture's ts has micros and
    * the CUSUM fold order is (ts, event_id) — ms-resolution state would
    * collapse distinct instants into arrival-order ties). */
  case class CusumPend(ts_us: Long, event_id: Long, iv: Long)
  case class CusumSum(cum: Long, min_cum: Long, prev_s: Long)
  case class CusumAlert(event_type: String, ts: java.sql.Timestamp,
      event_id: Long, s_cusum: Long, h: Long)

  private def tsToUs(t: java.sql.Timestamp): Long =
    (t.getTime - t.getNanos / 1000000) * 1000L + t.getNanos / 1000
  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp((us / 1000000L) * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** The cusum family's input (cusum, drawdown, Holt, Bollinger): the
    * value quantized to integer micro-units, watermarked on ts. */
  private def quantized(events: DataFrame,
      watermark: String): Dataset[CusumIn] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(round(value * 10000, 0) AS BIGINT)").as("iv"))
      .withWatermark("ts", watermark)
      .as[CusumIn]
  }
  private def pend(r: CusumIn): CusumPend =
    CusumPend(tsToUs(r.ts), r.event_id, r.iv)
  private val pendMs: CusumPend => Long = _.ts_us / 1000
  private val pendOrder: Ordering[CusumPend] =
    Ordering.by((p: CusumPend) => (p.ts_us, p.event_id))

  /** Streaming CUSUM changepoint detector — the streaming twin of the
    * batch `ts_cusum_changepoint`: per event_type, fold the one-sided
    * CUSUM recursion s ← max(0, s + (iv − μ)) over the event-time order
    * and emit ALARM ONSETS (s crosses from ≤ h to > h) only.
    *
    * μ and h come from a TRAINED REFERENCE PROFILE (`ref`: event_type →
    * (μ, h)) — the standard monitoring deployment, where the reference
    * level is fit on history by the batch job and the detector watches
    * live traffic against it (a detector that re-fits μ on the stream it
    * is judging would drift its own alarm line). Unknown keys run with
    * (0, Long.MaxValue): folded but never alarming.
    *
    * CUSUM is order-SENSITIVE, so it runs on [[EventTimeFold]]: rows fold
    * once strictly below the watermark in (ts, event_id) order into the
    * O(1) summary (cum, running-min cum, prev s). The summary persists for
    * the key's lifetime BY DESIGN — a drift detector's baseline is its
    * whole history, and there are |event_type| keys — so the key never
    * retires. StreamingSpec pins bit-equality of the alert stream against
    * the batch query and state durability across a kill/restart. */
  def streamCusum(events: DataFrame, ref: Map[String, (Long, Long)],
      watermark: String = "10 minutes"): Dataset[CusumAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    EventTimeFold.run(quantized(events, watermark).groupByKey(_.event_type),
      EventTimeFold[String, CusumPend, CusumSum, CusumAlert](
        CusumSum(0L, 0L, 0L), pendMs, pendOrder, _ => None,
        { (tpe, c, ready) =>
          val (mu, h) = ref.getOrElse(tpe, (0L, Long.MaxValue))
          var cum = c.cum
          var minCum = c.min_cum
          var prevS = c.prev_s
          val out = List.newBuilder[CusumAlert]
          ready.foreach { p =>
            cum += p.iv - mu
            if (cum < minCum) minCum = cum
            val s = cum - math.min(0L, minCum)
            if (s > h && prevS <= h)
              out += CusumAlert(tpe, usToTs(p.ts_us), p.event_id, s, h)
            prevS = s
          }
          (CusumSum(cum, minCum, prevS), out.result())
        }))(pend)
  }

  case class DrawdownSum(peak: Long, prev_dd: Long)
  case class DrawdownAlert(event_type: String, ts: java.sql.Timestamp,
      event_id: Long, dd: Long, h: Long)

  /** Streaming drawdown monitor — the streaming twin of the batch
    * `ts_drawdown_alerts`: per event_type, track the running peak of the
    * integer-micro value stream and emit ALERT ONSETS where the drop from
    * that peak first exceeds the trained threshold h (the
    * 5×mean-absolute-deviation calibration of the batch query, fit on
    * history by the batch job). Unknown keys run with h =
    * Long.MaxValue: folded but never alarming — flush sentinels are safe.
    * Like [[streamCusum]], the (peak, prev_dd) summary never retires — a
    * drawdown monitor's peak IS its whole history. StreamingSpec pins
    * alert-stream bit-equality against the batch query on the fixture. */
  def streamDrawdown(events: DataFrame, ref: Map[String, Long],
      watermark: String = "10 minutes"): Dataset[DrawdownAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    EventTimeFold.run(quantized(events, watermark).groupByKey(_.event_type),
      EventTimeFold[String, CusumPend, DrawdownSum, DrawdownAlert](
        // peak starts at MinValue so the first folded row sets peak = iv
        // and dd = 0 — exactly the batch window's first-row semantics.
        DrawdownSum(Long.MinValue, 0L), pendMs, pendOrder, _ => None,
        { (tpe, s, ready) =>
          val h = ref.getOrElse(tpe, Long.MaxValue)
          var peak = s.peak
          var prevDd = s.prev_dd
          val out = List.newBuilder[DrawdownAlert]
          ready.foreach { p =>
            if (p.iv > peak) peak = p.iv
            val dd = peak - p.iv
            if (dd > h && prevDd <= h)
              out += DrawdownAlert(tpe, usToTs(p.ts_us), p.event_id, dd, h)
            prevDd = dd
          }
          (DrawdownSum(peak, prevDd), out.result())
        }))(pend)
  }

  case class HoltSum(has: Boolean, l: Long, b: Long)
  case class HoltState(event_type: String, dt: java.sql.Timestamp,
      ts: java.sql.Timestamp, event_id: Long, iv: Long,
      level_u: Long, trend_u: Long, level: Double)

  /** The Holt fold of [[streamHolt]] and [[streamHoltTws]]. A day key
    * retires once the watermark is strictly past its day end. */
  private val holtFold =
    EventTimeFold[(String, java.sql.Timestamp), CusumPend, HoltSum, HoltState](
      HoltSum(has = false, 0L, 0L), pendMs, pendOrder,
      k => Some(EventTimeFold.dayEnd(k._2) + 1),
      { case ((tpe, dt), s, ready) =>
        var has = s.has; var l = s.l; var b = s.b
        val out = List.newBuilder[HoltState]
        ready.foreach { p =>
          if (!has) { has = true; l = p.iv; b = 0L } // seed: l1 = x1, b1 = 0
          else {
            val l1 = (p.iv + l + b) >> 1
            b = (l1 - l + b) >> 1
            l = l1
          }
          out += HoltState(tpe, dt, usToTs(p.ts_us), p.event_id, p.iv, l, b,
            java.math.BigDecimal.valueOf(l.toDouble / 10000.0)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        }
        (HoltSum(has, l, b), out.result())
      })

  /** Streaming Holt linear smoother — the streaming twin of the batch
    * `ts_holt_linear`: per (event_type, DAY) key, fold the α = β = ½
    * level/trend recurrence over the event-time order and emit EVERY
    * folded row with its exact integer states. Each step is the
    * graft_holt kernel's arithmetic inlined — the SIGN-SAFE arithmetic
    * shift (>> 1 ≡ ⌊v/2⌋ for every sign), so a negative trend stays
    * bit-identical to the batch kernel and the DuckDB floor-division
    * twin; `level` is the same HALF_UP 6-dp rounding as the batch column.
    *
    * Day-scoped keys are the deployable-at-100 TB contract the batch
    * query documents: state is (has, l, b) + the in-horizon buffer per
    * (type, day), folds parallelize across days × types, and a day key
    * RETIRES — once the watermark passes its day end with nothing
    * pending, no in-contract row can ever fold into it again, so the
    * state is removed (StreamingSpec asserts the post-flush state row
    * count). streamCusum's summary, by contrast, IS its whole history and
    * persists by design. */
  def streamHolt(events: DataFrame,
      watermark: String = "10 minutes"): Dataset[HoltState] = {
    val spark = events.sparkSession
    import spark.implicits._
    EventTimeFold.run(quantized(events, watermark)
        .groupByKey(r => (r.event_type, EventTimeFold.day(r.ts))),
      holtFold)(pend)
  }

  case class TwsHoltBuf(buf: EventTimeFold.Buf[HoltSum, CusumPend],
      timer_ms: Option[Long])

  /** [[streamHolt]] ported to Spark 4's `transformWithState` (SURVEY §2.I
    * names the API) — same key space, same fold, same retirement
    * contract, expressed in the arbitrary-state API instead of
    * flatMapGroupsWithState:
    *
    *  - the fold state lives in a named `ValueState` (typed via a product
    *    encoder, no TTL — retirement is event-time-exact, not wall-clock);
    *  - fMGWS's single implicit timeout becomes an EXPLICIT timer
    *    registry: exactly ONE live timer per key, tracked in the state
    *    row itself (timer_ms) so each invocation deletes the stale timer
    *    before arming the one [[EventTimeFold]] chose;
    *  - `handleExpiredTimer` is the flush path: fold with no input rows.
    *    A timer that fires after retirement finds no state and must
    *    return empty WITHOUT re-arming, or the key is resurrected
    *    forever.
    *
    * transformWithState runs only on the RocksDB state store provider —
    * the 100 TB deployment default anyway (heap providers cap state at
    * executor memory); StreamingSpec sets the conf and pins bit-equality
    * against ts_holt_linear, retirement, and a kill/restart resume. */
  def streamHoltTws(events: DataFrame,
      watermark: String = "10 minutes"): Dataset[HoltState] = {
    val spark = events.sparkSession
    import spark.implicits._
    quantized(events, watermark)
      .groupByKey(r => (r.event_type, EventTimeFold.day(r.ts)))
      .transformWithState(new HoltTwsProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  private[streaming] class HoltTwsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, java.sql.Timestamp), CusumIn, HoltState] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ValueState[TwsHoltBuf] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      buf = getHandle.getValueState[TwsHoltBuf]("holt",
        org.apache.spark.sql.Encoders.product[TwsHoltBuf],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: (String, java.sql.Timestamp),
        rows: Iterator[CusumIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[HoltState] =
      fold(key, rows, tv.getCurrentWatermarkInMs(), fromTimer = false)
    override def handleExpiredTimer(key: (String, java.sql.Timestamp),
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[HoltState] =
      fold(key, Iterator.empty, tv.getCurrentWatermarkInMs(), fromTimer = true)

    private def fold(key: (String, java.sql.Timestamp), rows: Iterator[CusumIn],
        wm: Long, fromTimer: Boolean): Iterator[HoltState] = {
      val prev = if (buf.exists()) Some(buf.get()) else None
      val (next, delete, register, out) =
        holtTws(key, prev, rows.map(pend), wm, fromTimer)
      delete.foreach(t => getHandle.deleteTimer(t))
      register.foreach(t => getHandle.registerTimer(t))
      next match {
        case Some(b) => buf.update(b)
        case None => if (prev.isDefined) buf.clear() // day key retires
      }
      out.iterator
    }
  }

  /** One [[HoltTwsProcessor]] invocation, pure: the [[holtFold]] step plus
    * the one-live-timer registry. Returns the next state (None = clear),
    * the timer to delete, the timer to register and the rows to emit.
    * `fromTimer` marks the flush path: the firing timer was consumed by
    * the runtime, so it is not deleted again, and a stale timer that
    * fires after retirement returns nothing and does not resurrect the
    * key. */
  private[streaming] def holtTws(key: (String, java.sql.Timestamp),
      prev: Option[TwsHoltBuf], rows: Iterator[CusumPend], wm: Long,
      fromTimer: Boolean)
      : (Option[TwsHoltBuf], Option[Long], Option[Long], List[HoltState]) =
    if (fromTimer && prev.isEmpty) (None, None, None, Nil)
    else {
      val next = holtFold.step(key, prev.map(_.buf), rows, wm)
      val live = if (fromTimer) None else prev.flatMap(_.timer_ms)
      (next.state.map(TwsHoltBuf(_, next.timer)),
        live.filterNot(next.timer.contains),
        next.timer.filterNot(live.contains), next.out)
    }

  case class BollAlert(event_type: String, ts: java.sql.Timestamp,
      event_id: Long, iv: Long, dev: Long, var_n: Long, direction: String)

  /** Streaming Bollinger-band breakout monitor — the streaming twin of the
    * batch `ts_bollinger_breakout`: per event_type, a 20-point rolling
    * window flags rows outside mean ± 2σ, in the batch query's
    * denominator-cleared integer form |n·iv − Σiv| > 2·√(n·Σiv² − (Σiv)²)
    * (dev and var_n are emitted as the exact BIGINTs, the sqrt is the one
    * IEEE FP op — the alert stream is bit-comparable to the batch rows).
    *
    * The summary is the last n−1 folded values — O(n) per key by
    * construction (a sliding window's summary IS its window) — and, like
    * [[streamCusum]]'s, never retires. Unknown/sentinel keys are safe
    * with no reference profile: a key alarms only after n folded rows. */
  def streamBollinger(events: DataFrame, n: Int = 20,
      watermark: String = "10 minutes"): Dataset[BollAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    EventTimeFold.run(quantized(events, watermark).groupByKey(_.event_type),
      EventTimeFold[String, CusumPend, List[Long], BollAlert](
        Nil, pendMs, pendOrder, _ => None,
        { (tpe, prevLast, ready) =>
          var last = prevLast // most recent n−1 folded values, oldest first
          val out = List.newBuilder[BollAlert]
          ready.foreach { p =>
            if (last.size == n - 1) { // full window = n−1 predecessors + current
              val win = p.iv :: last
              val s1 = win.sum
              val s2 = win.map(v => v * v).sum
              val dev = n * p.iv - s1
              val varN = n * s2 - s1 * s1
              if (math.abs(dev).toDouble > 2.0d * math.sqrt(varN.toDouble))
                out += BollAlert(tpe, usToTs(p.ts_us), p.event_id, p.iv, dev,
                  varN, if (dev > 0) "up" else "down")
            }
            last = (last :+ p.iv).takeRight(n - 1)
          }
          (last, out.result())
        }))(pend)
  }


  case class AsOfFwdBuf(events: List[AsOfEvent], probes: List[Long])

  /** Streaming FORWARD as-of join: each probe (user_id, p_ts) answers with
    * the EARLIEST event at ts in [p_ts, p_ts + toleranceMs], ties on the
    * lowest event_id — the streaming twin of the batch
    * AsOfDirection.Forward operator. The tolerance is mandatory here: it is
    * what makes a NULL answer finalizable — a probe is complete once the
    * watermark passes p_ts + tolerance, because any later-arriving event
    * inside its window would be at-or-below the watermark and hence
    * dropped-late by the contract.
    *
    * State bound per key — the forward counterpart of the backward
    * operator's floor-row invariant: the events inside the watermark
    * horizon, plus the at-or-below-watermark events still inside some
    * pending probe's window, plus the pending probes. There is NO floor
    * row and no idle-TTL knob: an event below every pending window can
    * never forward-match a future probe (future probes sit above the
    * watermark, hence above that event), so a silent key's state drains
    * to empty and is REMOVED outright — forward as-of self-cleans.
    * StreamingSpec proves both halves: the in-window retention across a
    * kill/restart, and the post-answer state removal. */
  def streamAsOfJoinForward(probes: DataFrame, events: DataFrame,
      toleranceMs: Long,
      watermark: String = "10 minutes"): Dataset[AsOfAnswer] = {
    require(toleranceMs >= 0L, "forward streaming as-of needs a non-negative tolerance")
    val spark = probes.sparkSession
    import spark.implicits._
    val tagged = events
      .select(col("user_id"), col("ts"), col("event_id").as("id"),
        lit(false).as("is_probe"))
      .unionByName(probes.select(col("user_id"), col("p_ts").as("ts"),
        lit(0L).as("id"), lit(true).as("is_probe")))
      .withWatermark("ts", watermark)
      .as[AsOfIn]
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfFwdBuf, AsOfAnswer](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[AsOfIn], state: GroupState[AsOfFwdBuf]) =>
          asofFwdHandle(user, rows, state, toleranceMs)
      }
  }

  private def asofFwdHandle(user: Long, rows: Iterator[AsOfIn],
      state: GroupState[AsOfFwdBuf], tolMs: Long): Iterator[AsOfAnswer] = {
    val prev = state.getOption.getOrElse(AsOfFwdBuf(Nil, Nil))
    var events = prev.events
    var probes = prev.probes
    rows.foreach { r =>
      if (r.is_probe) probes ::= r.ts.getTime
      else events ::= AsOfEvent(r.ts.getTime, r.id)
    }
    val wm = state.getCurrentWatermarkMs()
    // a probe is final once its whole window [pts, pts+tol] is under the
    // watermark; its answer is the min-(ts, id) event inside the window
    val (ready, pending) = probes.partition(_ + tolMs <= wm)
    val answers = ready.sorted.map { pts =>
      val cands = events.filter(e => e.ts_ms >= pts && e.ts_ms <= pts + tolMs)
      val m = if (cands.isEmpty) None else Some(cands.minBy(e => (e.ts_ms, e.id)))
      AsOfAnswer(user, new java.sql.Timestamp(pts),
        m.map(_.id), m.map(e => new java.sql.Timestamp(e.ts_ms)))
    }
    // evict: an at-or-below-watermark event survives only while some
    // pending window still covers it (ts >= the window's start). Nothing
    // below every pending window is ever needed again — no floor row.
    val minPending = pending.minOption.getOrElse(Long.MaxValue)
    val kept = events.filter(e => e.ts_ms > wm || e.ts_ms >= minPending)
    if (kept.isEmpty && pending.isEmpty) {
      state.remove() // fully drained: forward as-of self-cleans
    } else {
      state.update(AsOfFwdBuf(kept, pending))
      // wake at the earliest window end (strictly above wm for pending
      // probes by construction); with only in-horizon events left, wake
      // when the latest one falls under the watermark so the key can
      // drain without further traffic. Same strict-firing one-batch
      // deferral note as the backward handler.
      if (pending.nonEmpty) state.setTimeoutTimestamp(pending.min + tolMs)
      else state.setTimeoutTimestamp(kept.map(_.ts_ms).max)
    }
    answers.iterator
  }

  /** Exactly-once partitioned Parquet sink: append mode + checkpointed
    * offsets; re-starting from the checkpoint never re-writes a committed
    * batch. */
  def startParquetSink(df: DataFrame, outPath: String, checkpoint: String,
      partitionCols: Seq[String] = Seq.empty): StreamingQuery = {
    val w = checkpointed(df, checkpoint)
      .format("parquet")
      .option("path", outPath)
      .outputMode(OutputMode.Append())
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).start()
  }
}
