package graft.ops

import graft.Tables
import graft.functions.VectorFunctions.kernel
import graft.ops.LlmOps.releaseCheckpoint
import graft.store.SigStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Spark side of graft's text dedup family: tokens and k-token grams,
  * the 32-token / stride-24 chunk windows, the shingle-hash signatures and
  * their LSH bands, the lossless containment prefix filter and the verify
  * joins, and the three `documents` stores (`shinglesig_index`,
  * `contain_index`, `containchunk_index`). LlmOps' dedup closures and the
  * streaming near-dup sink pick a frame here and add only their
  * projection, thresholds and ORDER BY.
  *
  * Scale notes (100 TB):
  *  - MinHash-LSH replaces the O(n²) pair space with band buckets: one
  *    shuffle groups (band_idx, band_hash) → id lists, pairs explode within
  *    a bucket, then exact-Jaccard verify on candidates only (32 bands × 2
  *    rows: P(miss) = (1 − s²)³² < 1e-14 at s ≥ 0.8).
  *  - Asymmetric containment candidates come from a LOSSLESS prefix-filter
  *    join ([[containmentProbeCandidates]]), not banding — guaranteed
  *    recall at any length ratio, rare-first ordering bounding the posting
  *    fan-out.
  *  - Grams and chunks are map-only projections of the document scan. */
object TextDedup {

  /** (doc_id, toks): the lower-cased text split on single spaces. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("toks"))

  /** Rows whose token array `toks` holds at least k tokens. This plain
    * pre-filter is the only guard [[grams]] has: no CASE/IF may wrap the
    * transform — a conditional branch defeats Catalyst subexpression
    * elimination, so the split would re-evaluate per element, O(tokens²)
    * per document (measured 25× slower at sf0.1). A doc with fewer than k
    * tokens has no k-gram. */
  private def atLeast(df: DataFrame, toks: String, k: Int): DataFrame =
    df.filter(size(col(toks)) >= k)

  /** The k-token grams of the token-array column `toks`, space-joined, in
    * order of position; duplicates removed when `distinct`. `toks` must be
    * its own projected column (CollapseProject keeps non-cheap multi-use
    * aliases, so it is evaluated once per row, where a split inlined in
    * the lambda re-splits per element), filtered by [[atLeast]].
    * coalesce(…, array()) makes the result non-nullable, so the
    * optimizer's inferred isnotnull constraints constant-fold instead of
    * re-running the whole inlined gram pipeline as a scan filter. */
  private def grams(toks: String, k: Int, distinct: Boolean): Column = {
    val g = s"transform(sequence(0, size($toks) - $k), i -> concat_ws(' ', slice($toks, i + 1, $k)))"
    expr(s"coalesce(${if (distinct) s"array_distinct($g)" else g}, array())")
  }

  /** Tokenized docs with at least k tokens. */
  private[ops] def tokenized(docs: DataFrame, k: Int): DataFrame =
    atLeast(tokens(docs), "toks", k)

  /** (doc_id, sh): the distinct word 3-gram shingles of a (doc_id, text)
    * frame — a table, or a streaming micro-batch. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    tokenized(docs, 3).select(col("doc_id"), grams("toks", 3, distinct = true).as("sh"))

  /** (doc_id, g): one row per distinct k-token gram of each document. */
  private[ops] def distinctGrams(docs: DataFrame, k: Int): DataFrame =
    tokenized(docs, k).select(col("doc_id"), explode(grams("toks", k, distinct = true)).as("g"))

  /** (doc_id, s, w, dr, nd): every k-token window `w` of every document at
    * every token offset `s`, kept with multiplicity, and `nd`, the number
    * of distinct documents holding `w`. nd is count(DISTINCT doc_id) as
    * max(dense_rank): both window functions share ONE exchange and sort on
    * `w`, where groupBy(w).agg(countDistinct) + join-back would shuffle
    * the window strings twice. */
  private[ops] def sharedWindows(docs: DataFrame, k: Int): DataFrame =
    tokenized(docs, k)
      .select(col("doc_id"), posexplode(grams("toks", k, distinct = false)).as(Seq("s", "w")))
      .withColumn("dr", dense_rank().over(Window.partitionBy(col("w")).orderBy(col("doc_id").asc)))
      .withColumn("nd", max(col("dr")).over(Window.partitionBy(col("w"))))

  /** (doc_id, chunk_idx, start_tok, n_tok, ctoks): every document cut into
    * 32-token windows at stride 24 (8 tokens of overlap). Map-only. */
  private[ops] def chunkWindows(docs: DataFrame): DataFrame =
    tokens(docs)
      .withColumn("n_tok", size(col("toks")))
      .select(col("doc_id"), col("n_tok"), col("toks"),
        explode(expr("sequence(0, n_tok - 1, 24)")).as("start_tok"))
      .select(col("doc_id"), expr("start_tok div 24").cast("long").as("chunk_idx"),
        col("start_tok"), col("n_tok"), expr("slice(toks, start_tok + 1, 32)").as("ctoks"))

  /** (doc_id, hs): each row's shingle set as sorted FNV-64 hashes. */
  private def hashed(shingled: DataFrame): DataFrame =
    shingled.select(col("doc_id"), kernel("graft_shingle_hashes", col("sh")).as("hs"))

  /** Chunk-level shingle hashes of a documents frame: each
    * [[chunkWindows]] chunk with at least 3 tokens, under the composite
    * surrogate uid = doc_id·10⁴ + chunk_idx (chunk_idx < 10⁴ ⟺ docs under
    * ~240k tokens; a longer-doc deployment widens the factor). */
  private def chunkSignatures(docs: DataFrame): DataFrame =
    hashed(atLeast(chunkWindows(docs), "ctoks", 3)
      .select((col("doc_id") * lit(10000L) + col("chunk_idx")).as("doc_id"),
        grams("ctoks", 3, distinct = true).as("sh")))

  /** Signature frame (doc_id, hs, n, sig) over a shingled frame — shared
    * by [[minhashBase]] and the streaming near-dup filter. */
  private[graft] def signaturesOf(shingled: DataFrame): DataFrame =
    hashed(shingled)
      .withColumn("n", size(col("hs")))
      .withColumn("sig", kernel("graft_minhash", col("hs")))

  /** The documents signature table [[signaturesOf]], PERSISTED once per
    * documents signature: every minhash / n-gram / containment query
    * re-scans a column-pruned, filter-pushed parquet table instead of
    * re-shingling the corpus (the doc_id < 500 oracle-twin subsets read
    * only their slice). Shingling is deterministic, so a rebuild over
    * unchanged data recreates the identical table. At 100 TB this IS the
    * signature table a dedup pipeline writes before pair generation. */
  private[ops] def minhashBase(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SigStore.getOrBuild(d, "documents", "shinglesig_index") {
      signaturesOf(shinglesOf(Tables.documents(s, d))).write.mode("overwrite").parquet(_)
    })

  /** One row per (doc_id, band_idx, band_hash): the 32×2 LSH banding of a
    * signature frame, shared by the batch candidate generator and the
    * streaming filter (whose join shape is batch ⋈ store, not the
    * within-corpus self-pairing below). */
  private[graft] def bandHashes(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
        posexplode(expr("transform(sequence(0, 31), b -> xxhash64(slice(sig, b * 2 + 1, 2)))")))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")

  /** Unordered candidate pairs (doc_a < doc_b) from LSH band collisions:
    * one shuffle groups (band_idx, band_hash) → sorted id lists, pairs
    * explode within a bucket (no self-join), distinct across bands. */
  private def minhashBandCandidates(base: DataFrame): DataFrame =
    bandHashes(base)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Graph.pairFanOut("ids")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()

  /** The probe side of a verify join over a (doc_id, hs) frame:
    * (doc_a, hs_a, n_a = |hs|) plus `keep`. */
  private[graft] def sideA(sigs: DataFrame, keep: Column*): DataFrame =
    sigs.select(Seq(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
      size(col("hs")).as("n_a")) ++ keep: _*)

  /** [[sideA]]'s target twin: (doc_b, hs_b, n_b) plus `keep`. */
  private[graft] def sideB(sigs: DataFrame, keep: Column*): DataFrame =
    sideA(sigs, keep: _*)
      .withColumnsRenamed(Map("doc_a" -> "doc_b", "hs_a" -> "hs_b", "n_a" -> "n_b"))

  /** |A ∩ B| of the two sides' sorted hash sets (the native merge-intersect). */
  private[graft] def common: Column =
    kernel("graft_sorted_intersect_long", col("hs_a"), col("hs_b"))

  /** Jaccard of the two sides from a `common` column. */
  private[graft] def jaccard: Column =
    col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double")

  /** Verified near-duplicate pairs (doc_a < doc_b, jac ≥ 0.5): band-bucket
    * candidates, exact-Jaccard verified on the persisted signature table.
    * Shared by the pair-listing query and the cluster builder. */
  private[ops] def minhashDupPairs(s: SparkSession, d: String): DataFrame = {
    // (Round-18 measured NON-win, reverted: Parallelism.restore on the
    // single-file signature table — to spread the 517 ms single-task
    // banding fan-out — cost more in the repartition of the hs/sig
    // array columns than the spread saved: llm_dedup_clusters
    // 1.94 → 2.32 s.)
    val base = minhashBase(s, d)
    minhashBandCandidates(base)
      .join(sideA(base), "doc_a")
      .join(sideB(base), "doc_b")
      .withColumn("common", common)
      .withColumn("jac", jaccard)
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** (doc_id, h): one row per hash of a (doc_id, hs) frame. */
  private def hashRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(col("hs")).as("h"))

  /** The inverted shingle file (doc_b, h) of a (doc_id, hs) frame. */
  private[ops] def postingOf(sigs: DataFrame): DataFrame =
    hashRows(sigs).withColumnRenamed("doc_id", "doc_b")

  /** (h, df): the document frequency of each hash in a posting list. */
  private[ops] def docFreq(posting: DataFrame): DataFrame =
    posting.groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** LOSSLESS candidates (probe doc_a, target doc_b) for directed
    * containment c(A→B) = |A∩B| / |A| ≥ tau, via prefix filtering (the
    * AllPairs/PPJoin family): order each probe's hashes by ascending
    * document frequency in the targets (rarest first, ties on the hash; a
    * hash absent there has df 0 and sorts first) and probe the posting
    * list with only the first ⌊(1−tau)·|A|⌋ + 1 of them. If c(A→B) ≥ tau
    * then |A \ B| ≤ (1−tau)·|A| < prefix size, so BY PIGEONHOLE at least
    * one prefix hash of A is also in B, for ANY global hash order — zero
    * recall loss (a proof, not a heuristic; the DuckDB compare against the
    * unpruned oracle IS the losslessness check). MinHash banding cannot
    * give this: a short doc inside a much longer one has low Jaccard no
    * matter how high its containment. The df order is pure efficiency: it
    * makes the probed hashes the most selective ones, so a stop-shingle
    * sits in many postings but almost no prefixes. `posting` is (doc_b, h)
    * and `dfreq` its [[docFreq]], standing frames (e.g. read from a
    * [[containmentIndex]]), so the corpus is never re-shingled per probe —
    * the 100 TB daily-ingest contract. */
  private[ops] def containmentProbeCandidates(probes: DataFrame,
      posting: DataFrame, dfreq: DataFrame, tau: Double): DataFrame =
    hashRows(probes)
      .join(dfreq, Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(df, h))), x -> x.h)")
        .as("ord"))
      .select(col("doc_id").as("doc_a"), explode(expr(
        s"slice(ord, 1, CAST(floor((1.0 - $tau) * size(ord)) AS INT) + 1)")).as("h"))
      .join(posting, Seq("h"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** Unordered candidate pairs (doc_a < doc_b) for containment in EITHER
    * direction within one corpus: [[containmentProbeCandidates]] run
    * against the corpus's own posting list, then symmetrized. `base` must
    * carry (doc_id, hs) with distinct sorted hashes. The posting list is
    * checkpointed (it is read twice) and parked: the returned frame still
    * reads it, so the next call retires it. */
  private[ops] def containmentPrefixCandidates(base: DataFrame, tau: Double): DataFrame = {
    val posting = postingOf(base).localCheckpoint(true)
    CheckpointPark.park("containment_prefix", posting)
    containmentProbeCandidates(base, posting, docFreq(posting), tau)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
  }

  /** Train-once persistence for the containment side: the corpus is
    * shingled ONCE at build time, and every probe batch reads three parquet
    * tables under `dir`:
    *  - `sigs`: (doc_id, hs) — the corpus signatures, read by the verify
    *    join only for matched candidates;
    *  - `posting`: (doc_b, h) — the probe join's build side. At deployment
    *    scale this is written BUCKETED by h so the daily probe co-locates
    *    without a corpus shuffle; plain parquet here (the in-memory
    *    catalog's bucket metadata does not survive sessions);
    *  - `df`: (h, df) — posting document frequencies for the rarest-first
    *    prefix order.
    * Shingling is deterministic, so a rebuild over unchanged data
    * recreates the identical index. */
  private def writeContainmentIndex(corpus: DataFrame, dir: String): Unit = {
    val s = corpus.sparkSession
    val sigs = corpus.localCheckpoint(true)
    sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    postingOf(sigs).write.mode("overwrite").parquet(s"$dir/posting")
    docFreq(s.read.parquet(s"$dir/posting")).write.mode("overwrite").parquet(s"$dir/df")
    releaseCheckpoint(sigs)
  }

  /** Read a [[writeContainmentIndex]] back: (sigs, posting, df). */
  private def readContainmentIndex(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    (s.read.parquet(s"$dir/sigs"), s.read.parquet(s"$dir/posting"),
      s.read.parquet(s"$dir/df"))

  /** The documents store `name` over the (doc_id, hs) frame `corpus`,
    * built on first use and read back as (sigs, posting, df). */
  private def containmentIndex(s: SparkSession, d: String, name: String,
      corpus: => DataFrame): (DataFrame, DataFrame, DataFrame) =
    readContainmentIndex(s, SigStore.getOrBuild(d, "documents", name) {
      writeContainmentIndex(corpus, _)
    })

  /** Directed containment matches: (doc_a, n_matches), the number of
    * targets each probe shares ≥ 70% of its hashes with, among the
    * candidate pairs `cands`. The threshold compare is exact integer
    * (10·common ≥ 7·|A|). */
  private def containmentMatches(cands: DataFrame, probes: DataFrame,
      targets: DataFrame): DataFrame =
    cands.join(sideA(probes), "doc_a")
      .join(sideB(targets), "doc_b")
      // identity-aggregate barrier keeps the merge-intersect kernel out of
      // inferred join conditions
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"))
      .agg(max(common).as("common"))
      .filter(col("common") * 10 >= col("n_a") * 7)
      .groupBy(col("doc_a")).agg(count(lit(1)).as("n_matches"))

  /** Daily-ingest containment dedup of the batch (doc_id ≡ 0 mod 5)
    * against the ingested corpus (the rest), over the (doc_id, hs) keys
    * `sigsOf` derives from a documents frame: the corpus side is the
    * persisted store `name`, so a probe run derives keys for ONLY the
    * batch and scans three index tables, never re-deriving the corpus.
    * The batch frame stays lazy (a checkpoint would hide the documents
    * scan from plan assertions). One row per batch key:
    * (doc_id, n_matches, is_dup). */
  private[ops] def ingestDedup(s: SparkSession, d: String, name: String,
      sigsOf: DataFrame => DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val (sigs, posting, dfreq) =
      containmentIndex(s, d, name, sigsOf(docs.filter(col("doc_id") % 5 =!= 0)))
    val batch = sigsOf(docs.filter(col("doc_id") % 5 === 0))
    val matches = containmentMatches(
      containmentProbeCandidates(batch, posting, dfreq, 0.7), batch, sigs)
    val n = coalesce(col("n_matches"), lit(0L))
    batch.select(col("doc_id"))
      .join(matches, col("doc_id") === col("doc_a"), "left")
      .select(col("doc_id"), n.as("n_matches"), (n > 0L).as("is_dup"))
  }

  /** [[ingestDedup]] over whole documents (`contain_index`). */
  private[ops] def docIngestDedup(s: SparkSession, d: String): DataFrame =
    ingestDedup(s, d, "contain_index", docs => hashed(shinglesOf(docs)))

  /** [[ingestDedup]] over [[chunkSignatures]] (`containchunk_index`):
    * doc_id is the chunk uid. */
  private[ops] def chunkIngestDedup(s: SparkSession, d: String): DataFrame =
    ingestDedup(s, d, "containchunk_index", chunkSignatures)
}
