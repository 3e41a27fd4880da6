package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Every operator here is linear (explode → hash-partition → aggregate) or
  * candidate-bounded (LSH banding) — no O(n²) pass touches the full corpus,
  * so each survives a 1000-executor scale-up:
  *
  *  - exact: one hash aggregation on the content key (map-side combined).
  *  - MinHash+LSH: shingle explode (linear) → per-doc signature (one agg) →
  *    band explode (constant ×B) → bucket self-join (only colliding bands
  *    shuffle) → candidate pairs. The full-corpus cross join never exists.
  *  - SimHash: per-doc 64-bit signature in one aggregation; pairing is done
  *    on signature bands (pigeonhole buckets), not all-pairs.
  *  - n-gram Jaccard: exact verification join on shared shingles — meant to
  *    run AFTER candidate generation (LSH) at scale; the gate query bounds
  *    it to a doc_id prefix instead.
  *
  * Hash = md5 (Spark and any SQL oracle agree bit-for-bit on it); min() over
  * hex strings is order-isomorphic to min over the numeric hash value.
  */
object Dedup {

  /** Whitespace tokens of `text`. */
  def tokens(text: Column): Column = split(text, " ")

  /** Exact dedup: one row per distinct text with the surviving doc_id
    * (smallest) and the duplicate count. Groups by the md5 CONTENT HASH,
    * not the text: the shuffle then carries 16 bytes per document instead
    * of the document itself — at corpus scale that is the difference
    * between shuffling the corpus and shuffling 2% of it. (An md5
    * collision would merge two distinct texts; at 2^-128 per pair that is
    * the standard content-addressing trade.) */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("_h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"),
        first(length(col("text"))).as("n_chars"))
      .select(col("keep_id"), col("n_dups"), col("n_chars"))

  /** Streaming exact dedup — the continuous-ingest counterpart of
    * [[exact]] for a crawl feed: each arriving document keyed by its md5
    * content hash, duplicates dropped with
    * `dropDuplicatesWithinWatermark`, so dedup state is BOUNDED — a
    * signature is evicted once the event-time watermark passes its
    * arrival + `lateness`. (Plain streaming `dropDuplicates` grows state
    * forever on an unbounded corpus; the windowed form is the only shape
    * that survives a never-ending stream. A duplicate arriving after its
    * original's eviction is re-emitted — downstream batch [[exact]] over
    * the stored corpus remains the exactness backstop, the stream dedup
    * is the volume knob that keeps the hot path duplicate-free.)
    *
    * Input: a STREAMING frame with `text` and an event-time timestamp
    * column `tsCol`. Output: the input rows minus within-watermark
    * duplicates, plus the `content_sig` used for the match. */
  def exactStream(docs: DataFrame, tsCol: String,
                  lateness: String = "10 minutes"): DataFrame =
    docs.withColumn("content_sig", md5(col("text")))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_sig")

  /** Per-doc MinHash signature columns over pre-hashed token columns:
    * sig_i = min(h_i). */
  private def minhashSigs(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => min(col(s"h$i")).as(s"sig$i"))

  /** Token -> (h0..h15) hash dictionary over the DISTINCT vocabulary:
    * tokens repeat heavily across documents, so hashing each vocabulary
    * entry once and joining back costs |vocab| x numHashes md5 calls
    * instead of |token occurrences| x numHashes (an order of magnitude at
    * corpus scale). The dictionary is vocabulary-sized; AQE broadcasts it
    * while it fits and falls back to a shuffle join beyond that.
    *
    * Each hash is carried as the NUMERIC value of the md5's first 15 hex
    * chars (60 bits — the widest hex prefix that fits a signed long):
    * fixed-width lowercase hex is order-isomorphic to its numeric value,
    * so min() picks the same winner as a string oracle, and band equality
    * over the truncated values agrees with full-hex equality up to 2^-60
    * prefix collisions. 16 longs through the join and the min-aggregation
    * cost 128 B/row instead of 512 B of hex, and the aggregate runs on
    * primitive buffers. */
  private def tokenHashDict(tok: DataFrame, numHashes: Int): DataFrame =
    tok.select(col("tok")).distinct()
      .select(col("tok") +:
        (0 until numHashes).map(i =>
          conv(substring(md5(concat(lit(i.toString), lit("|"), col("tok"))), 1, 15), 16, 10)
            .cast("long").as(s"h$i")): _*)

  /** MinHash+LSH candidate pairs: `numHashes` signatures, bands of
    * `rowsPerBand`; two docs are candidates iff some band matches exactly.
    * Returns (doc_a, doc_b) with doc_a < doc_b, distinct.
    *
    * Scale hardening:
    *  - the bucket key is `xxhash64` of the concatenated band signature —
    *    8 bytes through the shuffle instead of a 128-char hex string; an
    *    external oracle joining on the raw concatenation produces the same
    *    pairs (equal strings ⇔ equal hashes modulo 2^-64 collisions).
    *  - the signature subplan is scanned ONCE: each bucket's members are
    *    gathered by a single [[BoundedCollect]] aggregation (buffer and
    *    shuffle hard-capped at maxBucket+1 longs even for a bucket holding
    *    half the corpus) and pairs expand from the bucket array with a
    *    narrow double-explode — no bucket self-join, no second pass over
    *    the token explode + hash dictionary + min aggregation.
    *  - buckets larger than `maxBucket` docs evaluate to the overflow
    *    marker (size maxBucket+1) and are dropped before pair expansion: a
    *    degenerate bucket of k near-identical docs would cost k² pairs that
    *    exact dedup (or clustering on the bucket id) handles for k, not k²
    *    — the cap bounds the worst-case expansion fan-out. Singleton
    *    buckets are filtered in the same pass (they cannot produce a
    *    pair). */
  def minHashLsh(docs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4,
                 maxBucket: Int = 1000, broadcastDict: Boolean = true): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // the dictionary is |vocab|-sized — broadcast it explicitly (the
    // occurrence side is ALWAYS the bigger one, but its parquet-derived
    // size estimate can fool the planner into building the wrong side);
    // at fleet scale where the vocabulary itself outgrows a broadcast,
    // pass broadcastDict=false for a shuffle join co-partitioned on tok
    val dict = tokenHashDict(tok, numHashes)
    val sigs = tok
      .join(if (broadcastDict) broadcast(dict) else dict, "tok")
      .groupBy(col("doc_id"))
      .agg(minhashSigs(numHashes).head, minhashSigs(numHashes).tail: _*)
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("bv"))
    }
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val buckets = banded.groupBy(col("band"), col("bv"))
      .agg(BoundedCollect.column(col("doc_id"), maxBucket).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
    buckets
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .distinct()
  }

  // ---- incremental dedup against a persisted signature index -------------

  /** Per-doc signature rows for the incremental index: one row per LSH
    * band bucket plus one EXACT-CONTENT bucket, `(doc_id, bv)`. The
    * bucket value folds the band number into the hash
    * (`xxhash64(band, sig…)`, exact content as band −1 over `md5(text)`),
    * so bucket identity is a single long — 8 bytes through every probe,
    * join, and index file. Equality structure is identical to an
    * external oracle keying on `band || sig-hex` (modulo 2^-64 hash
    * collisions, the same trade [[minHashLsh]] documents). */
  def indexSignatures(docs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4,
                      broadcastDict: Boolean = true): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dict = tokenHashDict(tok, numHashes)
    val sigs = tok
      .join(if (broadcastDict) broadcast(dict) else dict, "tok")
      .groupBy(col("doc_id"))
      .agg(minhashSigs(numHashes).head, minhashSigs(numHashes).tail: _*)
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      xxhash64(lit(b) +: parts: _*)
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bv"))
      .unionByName(
        docs.select(col("doc_id"), xxhash64(lit(-1), md5(col("text"))).as("bv")))
  }

  /** Incremental dedup of ONE ARRIVING BATCH against the persisted
    * signature index at `indexDir` ([[SigIndex]]) — the production shape
    * of a continuously-fed corpus: every batch dedups against EVERYTHING
    * ALREADY KEPT, not just itself, and survivors extend the index for
    * the next batch.
    *
    * Survivor rule (deterministic, order-free within the batch): a
    * document survives iff none of its buckets (LSH bands + exact
    * content) exists in the index, AND it is the smallest `doc_id` of
    * every bucket it occupies within the batch — i.e. keep-one-per-
    * bucket with smallest-id preference. Exact duplicates share ALL
    * buckets, so the rule subsumes exact dedup; near-duplicates share
    * ≥ 1 band with ≥ 3/4 estimated Jaccard at the 16/4 default. The rule
    * is monotone (a doc's fate depends only on the index and smaller
    * batch ids), which is what lets an external SQL oracle replay the
    * whole history bit-exactly.
    *
    * Scale shape (the point of the design):
    *  - batch signatures are linear in the batch and materialize ONCE
    *    (localCheckpoint) — they feed the probe, the within-batch
    *    window, and the survivor append without recomputing the
    *    token-explode;
    *  - the INDEX IS NEVER SHUFFLED: the batch's distinct bucket values
    *    (≤ docs × (bands+1) longs) become an `In(bv)` probe pushed into
    *    the index scan, where the per-file parquet BLOOM on `bv` skips
    *    every row group holding none of them — a micro-batch against a
    *    billion-doc index reads footers plus the few colliding row
    *    groups, exactly the lone-series pushdown story of the points
    *    store. Past `maxProbe` distinct buckets the probe falls back to
    *    a bucket-keyed semi join (one shuffle of batch + index);
    *  - within-batch keep-one is ONE window over the batch-sized
    *    signature relation.
    *
    * Returns the surviving `docs` rows; survivors' signatures are
    * appended to the index under `name` before returning. doc_ids must
    * be globally unique across batches (the caller's ingest contract),
    * and batches are assumed SEQUENTIAL per index — the foreachBatch
    * shape; two writers racing the same index both append (the manifest
    * discipline keeps that safe) but may each keep one copy of a pair
    * duplicated ACROSS the racing batches.
    *
    * `name` is the batch's STABLE identity and is deliberately required:
    * retries must reuse the name. A caller that appended this batch's
    * survivors but failed before consuming the result (or a replayed
    * micro-batch — [[incrementalOnce]] derives the name from the batch
    * id) answers from the batch's own directory on retry. With a fresh
    * name per retry the batch would collide with its OWN prior append in
    * the index and silently return zero survivors. */
  def incremental(docs: DataFrame, indexDir: String, name: String,
                  numHashes: Int = 16, rowsPerBand: Int = 4,
                  broadcastDict: Boolean = true, maxProbe: Int = 100000)
      : DataFrame =
    incrementalCore(docs, indexDir,
      indexSignatures(docs, numHashes, rowsPerBand, broadcastDict),
      maxProbe, name)

  /** Per-doc signature rows for the SIMHASH incremental index: one row
    * per pigeonhole band of the 64-bit simhash (two documents within
    * `maxHamming` bits agree exactly on ≥ 1 of the `maxHamming + 1`
    * bands — the [[simHashPairs]] recall argument) plus the exact-content
    * bucket. Same `(doc_id, bv)` shape as [[indexSignatures]], so the
    * two signature families share [[SigIndex]] and the incremental rule;
    * they differ in WHAT "near" means (bit-flip distance vs estimated
    * Jaccard). Band extraction is arithmetic-shift + mask — identical in
    * Spark and any SQL oracle, sign bits masked away. */
  def simhashIndexSignatures(docs: DataFrame, maxHamming: Int = 2): DataFrame = {
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(i => i * 64 / nBands)
    val bandCols = (0 until nBands).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - bounds(b)
      val mask = if (width == 64) -1L else (1L << width) - 1
      xxhash64(lit(b), shiftright(col("simhash"), lo).bitwiseAND(lit(mask)))
    }
    simHash(docs)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bv"))
      .unionByName(
        docs.select(col("doc_id"), xxhash64(lit(-1), md5(col("text"))).as("bv")))
  }

  /** [[incremental]] with SIMHASH banding: a batch document drops when
    * any of its hamming pigeonhole bands (or its exact content hash)
    * already exists in the index or belongs to a smaller-id batch doc —
    * the bit-flip-distance notion of "already kept", on the same
    * persisted index machinery. `name` is the batch's stable identity —
    * required, retries must reuse it (see [[incremental]]). */
  def incrementalSimHash(docs: DataFrame, indexDir: String, name: String,
                         maxHamming: Int = 2, maxProbe: Int = 100000)
      : DataFrame =
    incrementalCore(docs, indexDir, simhashIndexSignatures(docs, maxHamming),
      maxProbe, name)

  /** [[incrementalSimHash]] keyed by a streaming batch id. */
  def incrementalSimHashOnce(docs: DataFrame, indexDir: String, batchId: Long,
                             maxHamming: Int = 2, maxProbe: Int = 100000)
      : DataFrame =
    incrementalSimHash(docs, indexDir, name = s"b$batchId", maxHamming, maxProbe)

  private def incrementalCore(docs: DataFrame, indexDir: String,
                              signatures: => DataFrame, maxProbe: Int,
                              name: String): DataFrame = {
    val spark = docs.sparkSession
    // replay detection: if this batch already landed, the appended sigs
    // ARE the survivors' — answer from the batch's own directory, no
    // signature recompute, no index read (at-least-once foreachBatch
    // replays become exactly-once). A replay arriving AFTER compaction
    // folded the batch (past the grace window — the stream rolled back
    // a long-committed checkpoint) fails loud rather than re-appending.
    if (SigIndex.contains(spark, indexDir, name))
      return SigIndex.readBatch(spark, indexDir, name) match {
        case Some(batch) =>
          docs.join(batch.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        case None => throw new IllegalStateException(
          s"incremental dedup batch '$name' replayed but a compaction has " +
            "folded its directory — the replay exceeded the grace window " +
            "(or raced the fold inside it); rerun against a fresh index " +
            "or raise SigIndex.compact graceMs")
      }
    // read the commit number BEFORE snapshotting the index: the number
    // read here and published at by the append covers the whole
    // read→dedup→append span, so a second writer that read the same index
    // state fails loud at its publish instead of silently splitting
    // survivors
    val seq = SigIndex.nextAppendSeq(spark, indexDir)
    val sigs = signatures.localCheckpoint()
    val idx = SigIndex.read(spark, indexDir)
    // distinct buckets of the batch, driver-bounded inside probedRows
    val batchBvs = sigs.select(col("bv")).distinct()
    val (probed, inProbe) = SigIndex.probedRows(idx, batchBvs, maxProbe)
    val hitBvs = probed.select("bv").distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bv"))
    val notMin = sigs.withColumn("_min", min(col("doc_id")).over(w))
      .where(col("doc_id") > col("_min")).select("doc_id")
    // broadcast ONLY on the In-probe path, where hitBvs is bounded by the
    // probe budget; the fallback's hit set can be batch-bucket-sized
    // (millions on a wide batch) — leave the join shape to the planner
    val hitDocs = sigs
      .join(if (inProbe) broadcast(hitBvs) else hitBvs, Seq("bv"), "left_semi")
      .select("doc_id")
    val dropped = hitDocs.unionByName(notMin).distinct().localCheckpoint()
    val survivors = docs.join(dropped, Seq("doc_id"), "left_anti")
    SigIndex.append(
      sigs.join(dropped, Seq("doc_id"), "left_anti"), indexDir, name,
      seq = Some(seq))
    survivors
  }

  /** [[incremental]] keyed by a streaming batch id — the `foreachBatch`
    * form. A replayed batch id recomputes the same survivor set and does
    * not re-append. */
  def incrementalOnce(docs: DataFrame, indexDir: String, batchId: Long,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      broadcastDict: Boolean = true, maxProbe: Int = 100000)
      : DataFrame =
    incremental(docs, indexDir, name = s"b$batchId", numHashes, rowsPerBand,
      broadcastDict, maxProbe)

  /** Streaming sink: dedup every micro-batch against the index and hand
    * the survivors on (`ds.writeStream.foreachBatch(
    * Dedup.incrementalSink(dir, out))`).
    *
    * `maintainEvery` > 0 runs [[SigIndex.compact]] as a maintenance tick
    * every that many micro-batches (after the batch's append committed):
    * aged signature directories fold, decision sidecars roll into the
    * bounded ledger, and orphans vacuum — without it a long-running
    * stream grows one directory per micro-batch forever. Exactly-once
    * across a kill around the tick: the replayed batch answers from its
    * own directory, kept by `maintenanceGraceMs` (size it above the
    * checkpoint-replay lag), and the re-run tick folds nothing new. */
  def incrementalSink(indexDir: String, out: DataFrame => Unit,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      maintainEvery: Int = 0,
                      maintenanceGraceMs: Long = 15 * 60 * 1000L)
      : (DataFrame, Long) => Unit =
    (df, batchId) => {
      out(incrementalOnce(df, indexDir, batchId, numHashes, rowsPerBand))
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
        SigIndex.compact(df.sparkSession, indexDir, maintenanceGraceMs)
    }

  /** 64-bit SimHash over the token multiset: bit j is the sign of the vote
    * sum where each token votes ±1 according to bit j of its md5 (bit j
    * lives in nibble j/4 of the first 16 hex chars, position j%4 inside the
    * nibble — every md5 bit is used, unlike a high-bit-per-hex-digit scheme
    * that would cap the signature at 32 bits). Output: (doc_id, simhash
    * LONG). 64 bits matter at corpus scale: banding for near-dup pairing
    * gets ~21-bit bands (2^21 bucket values) instead of the 2^5-ish a short
    * signature leaves, so bucket sizes stay corpus/2^21 rather than
    * corpus-sized. Bit 63 is assembled from the Long.MinValue literal and
    * the word is OR-combined — both reproducible in an external SQL engine
    * without signed-shift overflow. */
  def simHash(docs: DataFrame): DataFrame = {
    // the packed ones-counters below are 16-bit lanes, so a document with
    // more tokens than 65535 would silently overflow into the neighboring
    // lane and corrupt the signature — the signature is computed over the
    // first 65535 tokens (deterministic, mirrored in the SQL oracle);
    // beyond that SimHash's vote sums are statistically saturated anyway
    val tok = docs.select(col("doc_id"),
        explode(slice(tokens(col("text")), 1, 65535)).as("tok"))
      .withColumn("h", md5(col("tok")))
    // 64 per-bit ±1 vote sums, packed: vote_j = 2·ones_j − n (exact integer
    // identity), and the 64 ones-counters ride as 16-bit fields four to a
    // long — 16 packed sum buffers + count(*) instead of 64 aggregates
    // (lane overflow prevented by the 65535-token clamp above). The
    // per-row bit extraction is ONE
    // [[NibbleSpread]] call (16 conv(substring(...)) chains inline enough
    // generated code to break whole-stage codegen). The signatures are
    // bit-identical to the unpacked formulation, so an external oracle
    // can keep summing ±1 votes.
    val packed = tok.select(col("doc_id"), NibbleSpread.column(col("h")).as("ps"))
    val aggs = (0 until 16).map(k => sum(element_at(col("ps"), k + 1)).as(s"s$k")) :+
      count(lit(1)).as("n")
    val bits: Seq[Column] = (0 until 64).map { j =>
      val ones = shiftright(col(s"s${j / 4}"), 16 * (j % 4)).bitwiseAND(lit(0xFFFFL))
      val bitVal = if (j == 63) lit(Long.MinValue) else lit(1L << j)
      when(ones * 2 > col("n"), bitVal).otherwise(lit(0L))
    }
    packed.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), bits.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-duplicate PAIRS with hamming distance <= `maxHamming`,
    * via pigeonhole banding: the 64-bit signature splits into
    * `maxHamming + 1` contiguous bands — two signatures within the distance
    * budget must agree EXACTLY on at least one band (<= maxHamming bits
    * differ, so some band is untouched), giving perfect recall; the final
    * bit_count(xor) verification is exact.
    *
    * Scale shape mirrors [[minHashLsh]]: bucket members gather in ONE
    * [[BoundedCollect.pairs]] aggregation (buffer capped at maxBucket+1
    * entries), pairs expand by double-explode carrying both signatures so
    * verification needs no join back, and buckets over `maxBucket` are
    * dropped. Band cardinality at maxHamming=2 is 2^21..2^22 values per
    * band, so expected bucket size is corpus/2^21 — the cap only fires on
    * truly degenerate (near-identical) clusters, which exact dedup handles
    * upstream. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 2,
                   maxBucket: Int = 1000): DataFrame =
    hammingPairs(simHash(docs), "simhash", maxHamming, maxBucket)

  /** Dropped-bucket counters for [[hammingPairs]] — read `.buckets.value`
    * / `.docs.value` after the action. */
  final case class DropStats(buckets: org.apache.spark.util.LongAccumulator,
                             docs: org.apache.spark.util.LongAccumulator)

  def newDropStats(spark: org.apache.spark.sql.SparkSession): DropStats = DropStats(
    spark.sparkContext.longAccumulator("graft.hamming.droppedBuckets"),
    spark.sparkContext.longAccumulator("graft.hamming.droppedDocs"))

  /** Hamming-distance ≤ `maxHamming` pairs over ANY 64-bit signature
    * relation (`doc_id`, `sigCol`) — simhash, image aHash/dHash, audio
    * fingerprints — via pigeonhole banding: split the word into
    * maxHamming+1 bands; two words within distance d agree exactly on
    * ≥ 1 band, so only band-bucket collisions are ever paired. Buckets
    * above the cap are dropped (the same BoundedCollect guard as MinHash
    * LSH), keeping a degenerate constant-signature corpus from going
    * quadratic.
    *
    * RECALL IS EXACT ONLY WHILE NO BUCKET EXCEEDS THE CAP. The narrowest
    * band has w = 64/(maxHamming+1) bits, so a band has 2^w bucket
    * values and the EXPECTED bucket is n/2^w docs. At maxHamming=2
    * (w=21) the cap fires only on truly degenerate near-identical
    * clusters, which exact dedup removes upstream. At maxHamming=8 the
    * bands are 7 bits — 128 values — and ordinary buckets reach any
    * fixed cap once n ≈ cap×128; dropped buckets then cost real recall,
    * not just degenerate pairs. Two mitigations are built in:
    *
    *  - the effective cap AUTO-SCALES with band width:
    *    `maxBucket × 2^(14−w)` (clamped to 2^14 entries ≈ 256 KB of
    *    buffer, ≤ ~134M verify pairs per full bucket) — so mh=8 keeps
    *    exact recall to ~2M docs instead of ~128k, at the verify cost a
    *    narrow-band configuration inherently implies;
    *  - pass `drops` ([[Dedup.newDropStats]]) to COUNT dropped
    *    buckets/docs in the same pass (accumulators, read after the
    *    action): recall loss is measured, never silent. Accumulator
    *    caveats apply (stage retries can overcount; the collect buffer
    *    holds cap+1 entries, so dropped-doc counts are a LOWER bound).
    *
    * Past that scale a 64-bit signature with d≤8 needs a different
    * candidate structure (wider signatures, or multi-index per-band
    * probing à la Norouzi et al. 2012) — raising the cap further buys
    * recall at quadratic per-bucket verify cost. */
  def hammingPairs(sigs: DataFrame, sigCol: String, maxHamming: Int = 2,
                   maxBucket: Int = 1000,
                   drops: Option[DropStats] = None): DataFrame = {
    val nBands = maxHamming + 1
    val minWidth = 64 / nBands
    val cap =
      if (minWidth >= 14) maxBucket
      else math.max(maxBucket, // an explicit larger cap is always honored
        math.min(maxBucket.toLong << (14 - minWidth), 1L << 14).toInt)
    val bounds = (0 to nBands).map(i => i * 64 / nBands)
    val bandCols = (0 until nBands).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - bounds(b)
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(b).as("band"),
        shiftright(col(sigCol), lo).bitwiseAND(lit(mask)).as("bv"))
    }
    val banded = sigs.select(col("doc_id"), col(sigCol).as("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val collected = banded.groupBy(col("band"), col("bv"))
      .agg(BoundedCollect.pairs(col("doc_id"), col("simhash"), cap).as("ids"))
    // drop accounting rides the cap FILTER itself ([[DropTally]]): the
    // tally fires in the aggregation stage's own task, so it reports even
    // when every bucket is dropped and AQE collapses the (then-empty)
    // downstream — the case a Dataset.observe metric node gets optimized
    // away in
    val overCap = drops match {
      case Some(ds) => org.apache.spark.sql.graftbridge.ColumnBridge.column(
        DropTally(org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          size(col("ids"))), cap, ds.buckets, ds.docs))
      case None => size(col("ids")) > cap
    }
    val buckets = collected.where(size(col("ids")) > 1 && !overCap)
    buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over an undirected duplicate-pair edge list
    * (`doc_a`, `doc_b` — the output shape of [[minHashLsh]],
    * [[simHashPairs]], [[ngramJaccard]], or `Similarity.nearDupPairs`
    * renamed): every document that appears in a pair is labeled with the
    * SMALLEST doc_id reachable from it. This is the step a real training
    * pipeline runs after candidate generation — near-dup pairs chain
    * (A≈B, B≈C but A≉C), so survivors must be picked per transitive
    * CLUSTER, not per pair.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14) — the
    * published O(log n)-round MapReduce formulation, here as DataFrame
    * ops so each round is two hash aggregations + two hash joins over
    * 16-byte edge rows:
    *
    *  - large-star: every node connects its LARGER neighbors to its
    *    minimum neighborhood node — implemented as groupBy(u).min(v)
    *    joined back onto the edge list (never a per-node neighbor
    *    collect, so a 10M-degree hub costs one aggregation buffer, not
    *    one array).
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to the neighborhood minimum.
    *
    * Rounds double the "steepness" of the component forest, so a
    * 100TB-scale pair set converges in tens of rounds, not
    * diameter-many label-propagation steps; a chain graph that would
    * take k propagation rounds takes O(log k) star rounds. The driver
    * loop only CONTROLS iteration — each round is fully distributed, the
    * edge set never leaves the cluster, and `localCheckpoint` truncates
    * the per-round lineage (swap for reliable `checkpoint` on a real
    * cluster). The convergence check is an exact symmetric edge-set
    * difference (edge-list-sized, shuffle-partitioned — no driver
    * materialization).
    *
    * Output: (doc_id, cluster_id), one row per node in `pairs`, where
    * cluster_id = min doc_id of the component. Reference behavior: the
    * store has no clustering operator; this extends the dedup family the
    * same way simHashPairs extends simHash. */
  def components(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val aCol = pairs.columns(0)
    val bCol = pairs.columns(1)
    // no up-front distinct/checkpoint: the first smallStar dedups, and
    // min-based neighborhood aggregation is duplicate-insensitive — one
    // fewer shuffle and one fewer materialization before round 1
    var edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))

    def bidirect(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // neighborhood minimum per node, self included: min(Γ(u) ∪ {u})
    def minNbr(b: DataFrame): DataFrame =
      b.groupBy(col("u")).agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val b = bidirect(e)
      b.where(col("v") > col("u"))
        .join(minNbr(b), Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // no distinct here: smallStar's orientation step dedups first thing,
      // so this would be a pure extra shuffle every round
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orientation is NOT deduped: min() is duplicate-insensitive and
      // the closing distinct canonicalizes the output — deduping here
      // would be a third shuffle per round for nothing
      val o = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = o.groupBy(col("u")).agg(min(col("v")).as("m"))
      o.join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var it = 0
    // no up-front emptiness probe (it would execute the whole pair-gen
    // lineage once just to look): an empty input converges on round 1 —
    // empty rounds are near-free
    var converged = false
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // convergence = the edge set is a STAR FOREST: smallStar orients
      // every edge (bigger → smaller), so the set is a forest of stars
      // exactly when (a) every source has a SINGLE target AND (b) no
      // target is itself a source — and a star forest is a fixpoint of
      // both operators (Kiveris SoCC'14). Check (a) is NOT redundant: a
      // node with two out-edges to different roots (e.g. {(2,0),(2,1)})
      // passes (b) alone but still needs a merge round — declaring
      // convergence there splits components and emits conflicting
      // labels for the shared source. TWO actions, `&&`-ordered, on
      // purpose: (a) is one cheap node-sized aggregation whose false
      // result pre-convergence means (b)'s self-join NEVER RUNS those
      // rounds. A fused union probe would not short-circuit — AQE
      // materializes every leaf exchange of the final plan eagerly, so
      // (b)'s two shuffles of `next` would execute on every
      // pre-convergence round (O(log n) of them) to save one scheduler
      // round trip at the fixpoint: shuffles-per-round beats
      // actions-at-fixpoint at any scale.
      converged = next.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .where(col("d") > 1).isEmpty &&
        next.select(col("v"))
          .join(next.select(col("u").as("v")), Seq("v"), "left_semi")
          .isEmpty
      edges = next
      it += 1
    }
    // star rounds converge in O(log n); exhausting maxIter means the
    // input is beyond the configured budget — fail loudly rather than
    // return a silently-wrong partial labeling
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge within $maxIter star rounds")

    // fixpoint edges form stars (node → component min); roots label
    // themselves
    val oriented = edges.select(greatest(col("u"), col("v")).as("doc_id"),
      least(col("u"), col("v")).as("cluster_id"))
    oriented
      .union(oriented.select(col("cluster_id").as("doc_id"), col("cluster_id")))
      .distinct()
  }

  /** Canonical-document selection: drop every clustered document except
    * the cluster minimum, keep all unclustered documents. The anti-join's
    * right side is node-count-sized (≪ corpus); AQE broadcasts it while
    * it fits and co-partitions beyond that.
    *
    * Output: (doc_id, n_chars) of the surviving corpus. */
  def keepOne(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = components(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).as("n_chars"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** Exact token-set Jaccard ≥ `threshold` pairs via a shared-token join:
    * |A∩B| from the join, |A|/|B| from per-doc distinct counts — the only
    * float op is the final single division (bit-stable for any oracle).
    * At scale this runs on LSH candidates; `docFilter` bounds the gate. */
  def ngramJaccard(docs: DataFrame, threshold: Double,
                   docFilter: Column = lit(true)): DataFrame = {
    // per-doc set dedup is LOCAL (array_distinct) and the set size rides
    // the exploded token stream, so the whole query is three shuffles —
    // the two join sides keyed by token and the pair aggregation — with
    // no (doc_id, tok) distinct shuffle and no per-side size joins. The
    // sizes are group keys of the pair aggregation (functionally
    // determined by the pair), keeping it a codegen'd HashAggregate.
    val tok = docs.where(docFilter)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("sz"),
        explode(col("toks")).as("tok"))
    val inter = tok.select(col("doc_id").as("doc_a"), col("sz").as("sza"), col("tok"))
      .join(tok.select(col("doc_id").as("doc_b"), col("sz").as("szb"), col("tok")), "tok")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Edit-distance verification over CANDIDATE pairs (the post-LSH exact
    * check when Jaccard's bag-of-tokens view is too loose — character
    * edits catch reorderings token sets miss): Levenshtein distance and
    * its normalized ratio for each (doc_a, doc_b) in `pairs`. The join
    * brings two documents together per CANDIDATE (bounded), never
    * corpus×corpus; the DP itself is Spark's codegen'd `levenshtein`. */
  def editDistancePairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"),
        round(levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6).as("edit_ratio"))

  /** Exact substring-level (span) deduplication, the token-n-gram variant
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): an n-token gram occurring more
    * than once ANYWHERE in the corpus marks every token it covers as
    * duplicated; covered tokens are removed, keeping the rest of the
    * document (where exact/MinHash dedup would keep or drop it whole).
    *
    * Returns one row per doc: token count, duplicated-gram position
    * count, covered-token count, and the md5 of the cleaned (covered
    * tokens removed) text — null-free, integer/hash-exact for oracles.
    *
    * Scale shape: gram explode (linear, ×n bytes) → one hash aggregation
    * on the gram for corpus counts → join back on the same gram key (one
    * shuffle pair, co-partitioned) → per-doc coverage explode (×n rows,
    * bounded) → per-doc aggregations. The paper's suffix array is the
    * in-core trick for arbitrary-length matches; fixed-n gram marking is
    * the standard distributed relaxation (covers every duplicated
    * substring of length ≥ n) and nothing here is quadratic or
    * driver-side.
    */
  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    // (doc, pos, gram): pos is 1-based, grams = positions 1..len-n+1
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    // greatest(..., 1): a doc shorter than n tokens emits its whole text
    // as one (short) gram — Spark's sequence(1, 0) would run DESCENDING
    // gram identity = the GramHashes native kernel: per-token FNV hashes
    // combined per window into a 128-bit (g1, g2) pair — no gram strings
    // are ever materialized, the explode carries 20 bytes/row, and the
    // whole stream stays inside codegen (the HOF + md5 formulation
    // walked interpreted lambdas per position — the dominant cost of
    // the 200M-gram corpus pass)
    val grams = toks.select(col("doc_id"),
        explode(GramHashes.column(col("w"), n)).as("u"))
      .select(col("doc_id"), col("u.pos").as("pos"),
        col("u.g1").as("g1"), col("u.g2").as("g2"))
    // corpus-wide gram counts; duplicated = total multiplicity >= 2. The
    // aggregation and the join-back hash-partition on the same gram key,
    // so Spark reuses one exchange for both sides.
    val dupG = grams.groupBy("g1", "g2").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("g1", "g2")
    val dupPos = grams.join(dupG, Seq("g1", "g2")).select("doc_id", "pos")
    // bring each doc's duplicated positions home as ONE array (bounded by
    // the doc's own gram count) and compute coverage LOCALLY with the
    // SpanCover kernel: one two-pointer sweep marks covered tokens and
    // builds the cleaned text (the `exists`-per-token HOF was
    // O(len × |dups|) of interpreted lambdas — quadratic for fully-
    // duplicated docs). Shuffles stay dup-position-sized — no ×n
    // covered-token explode, no corpus-wide distinct, no token join.
    val dupAgg = dupPos.groupBy("doc_id")
      .agg(sort_array(collect_list("pos")).as("dps"))
    toks.join(dupAgg, Seq("doc_id"), "left")
      .withColumn("dps", coalesce(col("dps"), expr("cast(array() as array<int>)")))
      .withColumn("cov", SpanCover.column(col("w"), col("dps"), n))
      .select(col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(col("dps")).cast("long").as("n_dup_grams"),
        col("cov.n_covered").as("n_covered"),
        md5(col("cov.clean")).as("clean_sig"))
  }
}
