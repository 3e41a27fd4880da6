package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Audio, Bpe, CharLm, CountMin, Curation, CurationPipeline, Dedup, Gif, Images, IvfIndex, Jpeg, Multimodal, Similarity, Sketches, TextAnalysis, Video}

/** Driver-gate queries for the training-data pipeline operators (dedup,
  * similarity search, text analysis, multimodal plumbing) over the
  * `documents` and `embeddings` tables, with DuckDB oracles. Hashes are md5
  * and ratios are single divisions so both engines produce bit-identical
  * doubles before rounding.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "q_dedup_minhash" -> ((s, dir) => Dedup.minHashLsh(docs(s, dir), 16, 4)),
    "q_dedup_simhash" -> ((s, dir) => Dedup.simHash(docs(s, dir))),
    "q_dedup_simhash_pairs" -> ((s, dir) => Dedup.simHashPairs(docs(s, dir), 2)),
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), 0.5, col("doc_id") < 100)),
    "q_dedup_emb_cos" -> ((s, dir) =>
      Similarity.nearDupPairs(emb(s, dir), 0.4, col("vec_id") < 200)),
    "q_dedup_spans" -> ((s, dir) => Dedup.dupSpans(docs(s, dir), 8)),
    // incremental dedup: three arriving batches (doc_id % 3, in order)
    // against the persisted signature index — each batch drops exact and
    // band-bucket near duplicates of everything ALREADY KEPT plus
    // within-batch keep-one; survivors' signatures extend the index. The
    // oracle replays the whole history with md5-string buckets (equality-
    // isomorphic to the engine's xxhash64 bucket longs).
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_sigidx").toString
      (0 until 3).map { b =>
        val batch = d.where(pmod(col("doc_id"), lit(3)) === b)
        Dedup.incremental(batch, idxDir, name = s"g$b")
          .select(lit(b).as("batch"), col("doc_id"))
      }.reduce(_ unionByName _)
    }),
    // the SIMHASH flavor of the incremental index: same 3-batch history,
    // "already kept" = shares a hamming pigeonhole band (bit-flip
    // distance) instead of a MinHash band (estimated Jaccard)
    "q_dedup_incremental_simhash" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_shidx").toString
      (0 until 3).map { b =>
        val batch = d.where(pmod(col("doc_id"), lit(3)) === b)
        Dedup.incrementalSimHash(batch, idxDir, maxHamming = 2, name = s"h$b")
          .select(lit(b).as("batch"), col("doc_id"))
      }.reduce(_ unionByName _)
    }),
    "q_dedup_cluster" -> ((s, dir) =>
      Dedup.components(Dedup.ngramJaccard(docs(s, dir), 0.9, col("doc_id") < 500)
        .select(col("doc_a"), col("doc_b")))),
    "q_dedup_keep_one" -> ((s, dir) =>
      Dedup.keepOne(docs(s, dir),
        Dedup.ngramJaccard(docs(s, dir), 0.9, col("doc_id") < 500)
          .select(col("doc_a"), col("doc_b")))),
    "q_sim_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10), 3)
    }),
    "q_sim_lsh_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.annTopK(e, e.where(col("vec_id") < 10), 3, bits = 4)
    }),
    "q_sim_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfProbe(e, e.where(col("vec_id") < 10), 3,
        Similarity.fixedCentroids(8, 64), nProbe = 3)
    }),
    // cluster-stratified diversity sampling: nearest-centroid assignment
    // + a perCell md5-ranked quota per cluster (the k-means quota
    // sampling of curation pipelines) — deterministic, so the oracle
    // reproduces the exact kept set
    "q_pipe_diversity_sample" -> ((s, dir) =>
      Similarity.diversitySample(emb(s, dir),
        Similarity.fixedCentroids(8, 64), 5)),
    // INCREMENTAL diversity sampling: per-cell min-k by md5 rank is a
    // semilattice, so the persisted state after the 3-batch history
    // equals the one-shot sample over the union — the gate shares
    // q_pipe_diversity_sample's oracle
    "q_pipe_diversity_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      val st = java.nio.file.Files.createTempDirectory("graft_divinc").toString + "/state"
      (0 until 3).map(b => Similarity.diversitySampleIncremental(
        e.where(pmod(col("vec_id"), lit(3)) === b), st,
        Similarity.fixedCentroids(8, 64), 5)).last
    }),
    // the PERSISTED IVF index: build (assign once, write partitioned by
    // cell) then search (partition-pruned probe) — must answer exactly
    // like the in-memory probe, so it shares q_sim_ivf's oracle
    "q_sim_ivf_index" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
      Similarity.ivfBuild(e, idx, Similarity.fixedCentroids(8, 64))
      Similarity.ivfSearch(s, idx, e.where(col("vec_id") < 10), 3, nProbe = 3)
    }),
    // the INCREMENTAL IVF index: a 3-batch append history (commit-log
    // visibility, one fold compaction mid-history) must answer exactly
    // like the one-shot in-memory probe over the same fixed quantizer —
    // assignment is per-vector, so the oracle replays it batch-agnostic
    // (shares q_sim_ivf's oracle, like q_sim_ivf_index)
    "q_sim_ivf_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString + "/idx"
      IvfIndex.init(s, idx, Similarity.fixedCentroids(8, 64))
      (0 until 3).foreach { b =>
        IvfIndex.append(e.where(pmod(col("vec_id"), lit(3)) === b), idx, s"v$b")
        if (b == 1) IvfIndex.compact(s, idx, graceMs = 0L) // fold mid-history
      }
      IvfIndex.search(s, idx, e.where(col("vec_id") < 10), 3, nProbe = 3)
    }),
    // IVF-PQ (the paper's IVFADC): coarse partition pruning bounds WHICH
    // rows a query reads, PQ codes bound their WIDTH — the scan reads
    // code columns in the probed cell directories only
    "q_sim_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
      Similarity.ivfPqBuild(e, idx,
        Similarity.fixedCentroids(8, 64), Similarity.fixedCodebooks(4, 8, 16))
      Similarity.ivfPqSearch(s, idx, e.where(col("vec_id") < 10), 3, nProbe = 3)
    }),
    // the INCREMENTAL IVF-PQ index (appendable IVFADC): a 3-batch append
    // history with a mid-history fold, PQ codes encoded at append time
    // against the generation's persisted codebooks — ADC search over the
    // multi-batch layout must answer exactly like the immutable one-shot
    // build (encoding is per-vector), so it shares q_sim_ivfpq's oracle
    "q_sim_ivfpq_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc").toString + "/idx"
      IvfIndex.init(s, idx, Similarity.fixedCentroids(8, 64),
        Some(Similarity.fixedCodebooks(4, 8, 16)))
      (0 until 3).foreach { b =>
        IvfIndex.append(e.where(pmod(col("vec_id"), lit(3)) === b), idx, s"p$b")
        if (b == 1) IvfIndex.compact(s, idx, graceMs = 0L) // fold mid-history
      }
      IvfIndex.searchPq(s, idx, e.where(col("vec_id") < 10), 3, nProbe = 3)
    }),
    // two-stage ADC + exact re-rank over the INCREMENTAL index: the ADC
    // shortlist (6 per query) re-scores with exact cosine over the raw
    // vectors the appendable layout retains — the oracle composes the
    // ivfpq shortlist CTEs with a brute-force re-rank over the same ids
    "q_sim_ivfpq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_rr").toString + "/idx"
      IvfIndex.init(s, idx, Similarity.fixedCentroids(8, 64),
        Some(Similarity.fixedCodebooks(4, 8, 16)))
      (0 until 3).foreach(b =>
        IvfIndex.append(e.where(pmod(col("vec_id"), lit(3)) === b), idx, s"r$b"))
      IvfIndex.searchPqRerank(s, idx, e.where(col("vec_id") < 10), 3,
        shortlist = 6, nProbe = 3)
    }),
    // ADC over PQ codes is definitionally a linear scan of the (tiny)
    // code column with the bounded query LUT broadcast — the nested-loop
    // here is intended, exactly like the q_sim_topk baseline
    "q_sim_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(e, e.where(col("vec_id") < 10), 3,
        Similarity.fixedCodebooks(4, 8, 16))
    }),
    // the ANN QUALITY harness: recall@3 of the IVF probe against the
    // exact brute-force top-3, per query — the metric every approximate
    // knob (nProbe, bits, M/Ks) is tuned by; the oracle recomputes both
    // rankings and the hit intersection independently
    "q_sim_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfProbe(e, q, 3, Similarity.fixedCentroids(8, 64), nProbe = 3),
        Similarity.bruteForceTopK(e, q, 3))
    }),
    // recall of the PQ/ADC ranking against the exact one — the metric
    // that prices the 128x code compression: how much of the true top-3
    // survives the lossy distance
    "q_sim_recall_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.pqTopK(e, q, 3, Similarity.fixedCodebooks(4, 8, 16)),
        Similarity.bruteForceTopK(e, q, 3))
    }),
    // OPQ (Ge et al. CVPR 2013): an orthogonal rotation before the PQ
    // subspace split — here the FIXED signed-permutation rotation (the
    // oracle-exact fixture; Opq.train learns the production one), codes
    // and LUTs both in the rotated space, ADC otherwise verbatim
    "q_sim_opq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.opqTopK(e, e.where(col("vec_id") < 10), 3,
        Similarity.fixedRotation(64), Similarity.fixedCodebooks(4, 8, 16))
    }),
    // recall of the rotated ADC ranking against the exact cosine top-3 —
    // q_sim_recall_pq's tail over the OPQ arithmetic (rotation is an
    // isometry: the exact side never rotates)
    "q_sim_recall_opq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.opqTopK(e, q, 3, Similarity.fixedRotation(64),
          Similarity.fixedCodebooks(4, 8, 16)),
        Similarity.bruteForceTopK(e, q, 3))
    }),
    // the INVERTED MULTI-INDEX (two-level product coarse quantizer,
    // Babenko & Lempitsky CVPR 2012): cell = (first-half argmin,
    // second-half argmin) over fixed 4-entry half codebooks — 16
    // effective cells for 8 distance evaluations per corpus vector;
    // queries rank cell PAIRS by the half-distance sum and probe the 3
    // nearest, exact cosine inside the joined cells
    "q_sim_imi" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.imiProbe(e, e.where(col("vec_id") < 10), 3,
        Similarity.fixedCodebooks(2, 4, 32), nProbe = 3)
    }),
    // the INCREMENTAL index behind the TWO-LEVEL quantizer: a 3-batch
    // append history with a mid-history fold over an IMI-initialized
    // IvfIndex must answer exactly like the one-shot in-memory pair-
    // ranked probe (cell assignment is per-vector — shares q_sim_imi's
    // oracle, the q_sim_ivf_incremental pattern)
    "q_sim_imi_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_imi_inc").toString + "/idx"
      IvfIndex.initImi(s, idx, Similarity.fixedCodebooks(2, 4, 32))
      (0 until 3).foreach { b =>
        IvfIndex.append(e.where(pmod(col("vec_id"), lit(3)) === b), idx, s"i$b")
        if (b == 1) IvfIndex.compact(s, idx, graceMs = 0L) // fold mid-history
      }
      IvfIndex.search(s, idx, e.where(col("vec_id") < 10), 3, nProbe = 3)
    }),
    // the COMPOSED index — Babenko & Lempitsky's Multi-D-ADC shape: the
    // two-level (IMI) coarse quantizer bounds WHICH rows a query reads
    // (2K evaluations per appended vector for K² cells) while PQ codes
    // bound their WIDTH (ADC over the code column) — the full
    // billion-vector story in one appendable index
    "q_sim_imipq" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_imipq").toString + "/idx"
      IvfIndex.initImi(s, idx, Similarity.fixedCodebooks(2, 4, 32),
        Some(Similarity.fixedCodebooks(4, 8, 16)))
      (0 until 3).foreach(b =>
        IvfIndex.append(e.where(pmod(col("vec_id"), lit(3)) === b), idx, s"c$b"))
      IvfIndex.searchPq(s, idx, e.where(col("vec_id") < 10), 3, nProbe = 3)
    }),
    // recall@3 of the IMI probe against the exact top-3 — prices the
    // two-level quantizer's nProbe knob exactly like q_sim_recall prices
    // the flat one's
    "q_sim_recall_imi" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.imiProbe(e, q, 3, Similarity.fixedCodebooks(2, 4, 32), nProbe = 3),
        Similarity.bruteForceTopK(e, q, 3))
    }),
    "q_text_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir))),
    "q_text_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),
    "q_text_langid" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    "q_text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    "q_text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(docs(s, dir), Seq("scan", "join", "window"))),
    "q_text_repetition" -> ((s, dir) => Curation.repetition(docs(s, dir))),
    "q_text_scrub" -> ((s, dir) => Curation.scrub(docs(s, dir))),
    "q_pipe_source_cap" -> ((s, dir) => Curation.sourceCap(docs(s, dir), 5)),
    "q_pipe_split" -> ((s, dir) => Curation.hashSplit(docs(s, dir))),
    // deterministic HTML wrap (script/STYLE blocks, tags, entities) so
    // the strip chain has real markup to remove on every doc
    "q_pipe_strip" -> ((s, dir) => Curation.stripMarkup(
      docs(s, dir).select(col("doc_id"), concat(
        lit("<div class=\"d"), col("doc_id"),
        lit("\"><SCRIPT>var a=1<2;</SCRIPT><STYLE type=\"x\">p{}</STYLE><p>Start "),
        col("text"), lit(" &amp; <b>end</b></p></div>")).as("text")))),
    "q_pipe_stratified" -> ((s, dir) => Curation.stratifiedSample(
      docs(s, dir), Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0), 0.75)),
    "q_text_quality_score" -> ((s, dir) => Curation.qualityScore(docs(s, dir))),
    "q_dedup_editdist" -> ((s, dir) => Dedup.editDistancePairs(docs(s, dir),
      Dedup.ngramJaccard(docs(s, dir), 0.5, col("doc_id") < 100))),
    "q_sim_semdedup" -> ((s, dir) => Similarity.semDeDup(emb(s, dir), 0.3)),
    // INCREMENTAL SemDeDup: three arriving batches against the persisted
    // IvfIndex kept-set (cells = the SemDeDup clusters over the fixed
    // quantizer) — a batch vector drops on cosine >= 0.3 with anything
    // already kept in its cell or a smaller-id batch peer; survivors
    // extend the index. The oracle replays the whole history in chained
    // CTEs against the same fixed centroids.
    "q_sim_semdedup_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_semdd").toString + "/idx"
      IvfIndex.init(s, idx, Similarity.fixedCentroids(8, 64))
      (0 until 3).map { b =>
        Similarity.semDeDupIncremental(
            e.where(pmod(col("vec_id"), lit(3)) === b), idx, s"s$b", 0.3)
          .select(lit(b).as("batch"), col("vec_id"))
      }.reduce(_ unionByName _)
    }),
    "q_pipe_contamination" -> ((s, dir) => Curation.contamination(
      docs(s, dir), docs(s, dir).where(col("doc_id") % 97 === 0), 5)),
    "q_text_tok_freq" -> ((s, dir) => Curation.tokenFrequencyStats(docs(s, dir))),
    "q_text_bpe_pairs" -> ((s, dir) => Bpe.topPairs(docs(s, dir), 50)),
    "q_text_cmsketch" -> ((s, dir) => CountMin.estimate(docs(s, dir), cmProbes)),
    "q_text_charlm" -> ((s, dir) => CharLm.score(docs(s, dir))),
    "q_text_bpe_encode" -> ((s, dir) => {
      // fixture guard: the oracle's fixed replace-pass count only covers
      // words to BpeOracleMaxWordLen symbols — check the bound so a
      // corpus violating it fails HERE, not as a spurious gate mismatch
      // (the engine's rank loop itself has no such bound)
      val maxWord = docs(s, dir).agg(max(expr(
        "array_max(transform(split(text, ' '), w -> length(w)))")).as("m"))
        .head().getAs[Int]("m")
      require(maxWord <= BpeOracleMaxWordLen,
        s"bpe encode oracle covers words to $BpeOracleMaxWordLen symbols; corpus has $maxWord")
      Bpe.encode(docs(s, dir), Bpe.demoMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_sig"))
    }),
    // the COMPOSED pipeline (strip → scrub → langId → quality →
    // repetition → dedup) gated end-to-end over the same deterministic
    // HTML wrap as q_pipe_strip; permissive thresholds so every filter
    // is exercised while a meaningful subset survives
    "q_pipe_curate" -> ((s, dir) => CurationPipeline.curate(
      docs(s, dir).select(col("doc_id"), concat(
        lit("<div class=\"d"), col("doc_id"),
        lit("\"><SCRIPT>var a=1<2;</SCRIPT><STYLE type=\"x\">p{}</STYLE><p>Start "),
        col("text"), lit(" &amp; <b>end</b></p></div>")).as("text")),
      CurationPipeline.Config(langs = Set("en"), minQuality = 0.2,
        maxTopBigramFrac = 0.5, maxDupTrigramFrac = 0.9))),
    // the audit companion to q_pipe_curate: same wrap, same thresholds,
    // per-stage drop attribution in one pass
    "q_pipe_audit" -> ((s, dir) => CurationPipeline.audit(
      docs(s, dir).select(col("doc_id"), concat(
        lit("<div class=\"d"), col("doc_id"),
        lit("\"><SCRIPT>var a=1<2;</SCRIPT><STYLE type=\"x\">p{}</STYLE><p>Start "),
        col("text"), lit(" &amp; <b>end</b></p></div>")).as("text")),
      CurationPipeline.Config(langs = Set("en"), minQuality = 0.5,
        maxTopBigramFrac = 0.04, maxDupTrigramFrac = 0.9))),
    "q_pipe_chunk" -> ((s, dir) => Curation.chunk(docs(s, dir), 64, 32)),
    // line-level boilerplate dedup (RefinedWeb/C4): every doc wrapped in
    // a shared header/cookie line + a per-(doc_id%7) footer — the shared
    // lines cross the distinct-doc threshold and vanish from every doc,
    // the unique body line survives
    "q_pipe_dedup_lines" -> ((s, dir) => Curation.dedupLines(
      docs(s, dir).select(col("doc_id"), concat(
        lit("SITE NAV HEADER\n"), col("text"),
        lit("\nFOOTER-"), pmod(col("doc_id"), lit(7)),
        lit("\nACCEPT COOKIES BANNER")).as("text")))),
    // INCREMENTAL line dedup: the same wrapped corpus arriving in three
    // batches against a persisted (doc, line-hash) pair index — a line is
    // removed from a batch once its CUMULATIVE distinct-doc count crosses
    // the threshold (header/banner die within batch 0; each FOOTER-k line
    // crosses at whatever batch its second doc arrives in). The oracle
    // replays the cumulative counts with one window.
    "q_pipe_dedup_lines_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), concat(
        lit("SITE NAV HEADER\n"), col("text"),
        lit("\nFOOTER-"), pmod(col("doc_id"), lit(7)),
        lit("\nACCEPT COOKIES BANNER")).as("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_lineidx").toString
      (0 until 3).map(b => Curation.dedupLinesIncremental(
        d.where(pmod(col("doc_id"), lit(3)) === b), idxDir, s"L$b"))
        .reduce(_ unionByName _)
    }),
    "q_pipe_pack" -> ((s, dir) => Curation.packSequences(docs(s, dir), 256L)),
    "q_pipe_temperature" -> ((s, dir) => Curation.temperatureMix(docs(s, dir), 0.5)),
    "q_pipe_dsir" -> ((s, dir) => Curation.importanceWeights(
      docs(s, dir), docs(s, dir).where(col("doc_id") % 53 === 0))),
    // Gopher quality rules (Rae et al. 2021 A1.1): every doc's rule
    // counts + verdicts; doc_id % 3 == 0 gets a bullet line + ellipsis
    // line appended so both verdict polarities are exercised. All-integer
    // thresholds — the oracle reproduces each boolean exactly
    "q_pipe_gopher" -> ((s, dir) => Curation.gopherRules(
      docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\n- bullet item\nand the rest go on...")))
          .otherwise(col("text"))))),

    // A-Res weighted reservoir: 8 docs per source, inclusion ∝ n_chars,
    // md5-keyed exponential draws — selection is a pure function of the
    // input, re-derived row-for-row by the oracle
    "q_pipe_weighted_sample" -> ((s, dir) => Curation.weightedSample(
      docs(s, dir), col("doc_id"), col("n_chars"), Seq("source"), k = 8)),
    "q_mm_decode" -> ((s, dir) => Multimodal.decodeMeta(s, docs(s, dir)).toDF()),
    "q_mm_decode_real" -> ((s, dir) => Multimodal.decodeSynthetic(s, docs(s, dir)).toDF()),
    "q_mm_frames" -> ((s, dir) => Multimodal.sampleFrames(s, docs(s, dir))),
    "q_mm_png_pixels" -> ((s, dir) => Multimodal.pngPixelStats(s, docs(s, dir))),
    "q_mm_png_depths" -> ((s, dir) => Multimodal.pngDepthStats(s, docs(s, dir))),
    "q_mm_png_interlaced" -> ((s, dir) => Multimodal.pngInterlacedStats(s, docs(s, dir))),
    "q_mm_resize" -> ((s, dir) => Multimodal.pngResizeStats(s, docs(s, dir))),
    "q_mm_audio_feats" -> ((s, dir) => Multimodal.wavFeatureStats(s, docs(s, dir))),
    "q_mm_spectrogram" -> ((s, dir) => Audio.wavSpectrogramStats(s, docs(s, dir))),
    "q_mm_mfcc" -> ((s, dir) => Audio.wavMfccStats(s, docs(s, dir))),
    "q_mm_g711" -> ((s, dir) => Audio.wavG711Stats(s, docs(s, dir))),
    "q_mm_adpcm" -> ((s, dir) => Audio.wavAdpcmStats(s, docs(s, dir))),
    "q_mm_resample" -> ((s, dir) => Audio.wavResampleStats(s, docs(s, dir))),
    "q_img_ahash" -> ((s, dir) => Images.aHashStats(s, docs(s, dir))),
    "q_img_ahash_pairs" -> ((s, dir) => Images.aHashPairs(s, docs(s, dir), 8)),
    "q_mm_resize_bilinear" -> ((s, dir) => Images.pngBilinearStats(s, docs(s, dir))),
    "q_mm_flip_rotate" -> ((s, dir) => Images.flipRotateStats(s, docs(s, dir))),
    "q_mm_jpeg_coefs" -> ((s, dir) => Jpeg.jpegCoefStats(s, docs(s, dir))),
    "q_mm_jpeg_progressive" -> ((s, dir) => Jpeg.jpegProgressiveStats(s, docs(s, dir))),
    "q_mm_jpeg_pixels" -> ((s, dir) => Jpeg.jpegPixelStats(s, docs(s, dir))),
    "q_mm_video_frames" -> ((s, dir) => Video.videoFrameStats(s, docs(s, dir))),
    "q_mm_gif_pixels" -> ((s, dir) => Gif.gifPixelStats(s, docs(s, dir))),
    // WebDataset tar shards: pack the documents table into 16 ustar
    // shards, read them back through the binaryFile source, and assemble
    // per-key samples — the oracle reproduces every sample's sizes and
    // content hash from the original table, certifying the whole
    // write→store→parse→group chain byte-exactly
    // WARC round-trip: pack the documents into 16 archives (odd ids in
    // the Common-Crawl concatenated-gzip form) as HTTP response records,
    // then extract bodies through the real record walk + HTTP strip — the
    // oracle reproduces status/size/hash from the original table
    "q_mm_warc" -> ((s, dir) => {
      import s.implicits._
      val warcs = docs(s, dir)
        .select((col("doc_id") % 16).as("wid"), col("doc_id").cast("long"), col("text"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (wid, it) =>
          val recs = it.toSeq.sortBy(_._2).map { case (_, id, text) =>
            (Seq("WARC-Type" -> "response",
              "WARC-Target-URI" -> s"https://example.invalid/doc/$id",
              "Content-Type" -> "application/http; msgtype=response"),
              (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + text)
                .getBytes("UTF-8"))
          }
          (wid, graft.sources.Warc.writeWarc(recs, gzipPerRecord = wid % 2 == 1))
        }.toDF("warc_id", "warc")
      graft.sources.Warc.httpResponseBodies(warcs).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("status").cast("long").as("status"),
        length(col("body")).cast("long").as("body_len"),
        md5(col("body")).as("body_md5"))
    }),

    "q_mm_tar_samples" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_wds").toString
      graft.sources.TarShards.writeShards(docs(s, dir), tmp, nShards = 16)
      graft.sources.TarShards.samples(graft.sources.TarShards.readShards(s, tmp))
        .select(col("key").cast("long").as("doc_id"),
          size(map_keys(col("exts"))).cast("long").as("n_files"),
          length(element_at(col("exts"), "txt")).cast("long").as("txt_len"),
          element_at(col("exts"), "meta").cast("string").cast("long").as("meta_len"),
          md5(element_at(col("exts"), "txt")).as("txt_md5"))
    }),

    // HyperLogLog: per-source distinct-token estimates from the 1024-
    // register relation; register table, exact integer Z and the final
    // estimate are all rebuilt by the oracle from the same md5 bits
    "q_text_hll" -> ((s, dir) => Sketches.hllEstimate(
      docs(s, dir).select(col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0),
      col("tok"), Seq("source"))),

    // Bloom filter: corpus token membership probed with the Count-Min
    // probe set (frequent + absent tokens); every set bit and every
    // probe verdict reproduced from the same nibble arithmetic
    "q_text_bloom" -> ((s, dir) => Sketches.bloomProbe(
      docs(s, dir).select(explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0),
      col("tok"), cmProbes)),

    // Quantile sketch: per-source doc-length quantiles from the bottom-k
    // md5-priority sample (k=16 < the 25 docs/source, so the SAMPLING
    // regime is live); the oracle re-derives the kept set as "k smallest
    // (priority, value)" and the same ⌊q·(m−1)⌋ pick — bit-exact
    "q_text_quantile_sketch" -> ((s, dir) => Sketches.quantiles(
      docs(s, dir), col("doc_id").cast("string"), col("n_chars"),
      Seq("source"), Seq(0.25, 0.5, 0.9), k = 16))
  )

  // ---- oracles ---------------------------------------------------------

  /** Shared CTE chain for the clustering oracles: full-table token-set
    * jaccard >= 0.9 pairs ([[Dedup.ngramJaccard]] semantics), bidirected
    * into an `edges(a, b)` relation. */
  private val clusterCtes =
    """tokd AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE doc_id < 500),
      |sz AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY doc_id),
      |it AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM tokd a JOIN tokd b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM it JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs)""".stripMargin

  private val dotTerms = (1 to 64)
    .map(i => s"CAST(qe[$i] AS DOUBLE) * CAST(ce[$i] AS DOUBLE)").mkString(" + ")
  private def selfDot(v: String) = (1 to 64)
    .map(i => s"CAST($v[$i] AS DOUBLE) * CAST($v[$i] AS DOUBLE)").mkString(" + ")

  /** Cosine of two named embedding columns, with the engine's exact
    * left-associated fold order (multiplication is IEEE-commutative, so
    * operand naming doesn't matter bitwise). */
  private def cosSql(a: String, b: String) = {
    val dot = (1 to 64)
      .map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")
    s"($dot) / (sqrt(${selfDot(a)}) * sqrt(${selfDot(b)}))"
  }

  /** The LSH bucket expression with the driver-computable hyperplane signs
    * baked in as literals — same ±1 per (plane, dim) and the same
    * left-associated summation order as [[Similarity.lshBucket]], so the
    * float signs (and therefore buckets) agree bitwise. */
  private def lshBucketSql(v: String, bits: Int = 4, dims: Int = 64): String =
    (0 until bits).map { p =>
      val proj = (0 until dims)
        .map(d => s"CAST($v[${d + 1}] AS DOUBLE) * (${Similarity.planeSign(p, d)})")
        .mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Squared-L2 distance of `v` to fixed centroid i, with the SAME
    * left-associated term order as Similarity.nearestCells' inner loop and
    * the centroid components printed from the exactly-representable
    * doubles [[Similarity.fixedCentroids]] yields — bitwise-equal folds. */
  private def ivfDistSql(v: String, i: Int, dims: Int = 64): String = {
    val cs = Similarity.fixedCentroids(8, dims)(i)
    (0 until dims).map { d =>
      val c = cs(d)
      s"(CAST($v[${d + 1}] AS DOUBLE) - ($c)) * (CAST($v[${d + 1}] AS DOUBLE) - ($c))"
    }.mkString(" + ")
  }

  /** Argmin over the 8 per-centroid distance columns d0..d7; `<=` in cell
    * order reproduces nearestCells' stable (dist, cell) tie-break. */
  private val ivfArgminSql: String =
    (0 until 7).map { i =>
      val wins = (0 until 8).filter(_ != i).map(j => s"d$i <= d$j").mkString(" AND ")
      s"WHEN $wins THEN $i"
    }.mkString("CASE ", " ", " ELSE 7 END")

  // PQ oracle pieces: 4 subspaces x 8 centroids x 16 dims, the
  // fixedCodebooks values baked in as exactly-representable literals
  private lazy val pqCb = Similarity.fixedCodebooks(4, 8, 16)

  /** Squared distance of v's subspace `mm` slice to codebook entry `j`,
    * with the engine's exact left-fold term order. */
  private def pqSubDistSql(v: String, mm: Int, j: Int): String =
    (0 until 16).map { d =>
      val c = pqCb(mm)(j)(d)
      val idx = mm * 16 + d + 1
      s"(CAST($v[$idx] AS DOUBLE) - ($c)) * (CAST($v[$idx] AS DOUBLE) - ($c))"
    }.mkString(" + ")

  /** Argmin over subspace mm's 8 distance columns (stable low-index
    * tie-break, mirroring NearestCells). */
  private def pqArgminSql(mm: Int): String =
    (0 until 7).map { i =>
      val wins = (0 until 8).filter(_ != i)
        .map(j => s"d_${mm}_$i <= d_${mm}_$j").mkString(" AND ")
      s"WHEN $wins THEN $i"
    }.mkString("CASE ", " ", " ELSE 7 END")

  /** ADC probe for subspace mm: the engine's when-chain as CASE. */
  private def pqAdcTermSql(mm: Int): String =
    (0 until 7).map(j => s"WHEN c$mm = $j THEN q.d_${mm}_$j")
      .mkString("CASE ", " ", s" ELSE q.d_${mm}_7 END")

  /** The recall@3 tail every ANN recall oracle shares (flat IVF, PQ,
    * OPQ, IMI): exact brute-force cosine top-3 + per-query hit
    * intersection over `rankedRel`'s (qid, cid, rank) rows. ONE
    * definition so the tie-break/rounding of the exact side can never
    * drift between the recall gates. */
  private def recallTailSql(rankedRel: String): String =
    s"""approx AS (SELECT qid, cid FROM $rankedRel WHERE rank <= 3),
       |ex_pairs AS (
       |  SELECT qv.vec_id AS qid, cv.vec_id AS cid,
       |         qv.embedding AS qe, cv.embedding AS ce
       |  FROM embeddings qv JOIN embeddings cv ON qv.vec_id <> cv.vec_id
       |  WHERE qv.vec_id < 10),
       |ex_scored AS (
       |  SELECT qid, cid,
       |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
       |  FROM ex_pairs),
       |ex_r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |         FROM ex_scored),
       |exact AS (SELECT qid, cid FROM ex_r WHERE rank <= 3),
       |kk AS (SELECT qid, count(*) AS k FROM exact GROUP BY qid),
       |hits AS (
       |  SELECT a.qid, count(*) AS hits
       |  FROM approx a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
       |  GROUP BY a.qid)
       |SELECT kk.qid, coalesce(hits.hits, 0) AS hits, kk.k,
       |       CAST(coalesce(hits.hits, 0) AS DOUBLE) / kk.k AS recall
       |FROM kk LEFT JOIN hits ON kk.qid = hits.qid""".stripMargin

  // OPQ oracle pieces: the fixed signed-permutation rotation baked in —
  // rotated component d of v is sign_d * v[perm_d + 1], exactly the
  // RotateVec kernel's output for a ±1 permutation matrix (zero terms
  // vanish exactly; squaring erases the sign of a zero)
  private lazy val opqMoves = Similarity.fixedRotationMoves(64)

  private def opqRotComp(v: String, idx0: Int): String = {
    val (src, sign) = opqMoves(idx0)
    s"(($sign) * CAST($v[${src + 1}] AS DOUBLE))"
  }

  /** [[pqSubDistSql]] over the ROTATED components. */
  private def opqSubDistSql(v: String, mm: Int, j: Int): String =
    (0 until 16).map { d =>
      val c = pqCb(mm)(j)(d)
      val rc = opqRotComp(v, mm * 16 + d)
      s"($rc - ($c)) * ($rc - ($c))"
    }.mkString(" + ")

  /** The shared OPQ CTE prelude — q_sim_pq's coding/LUT/ADC chain with
    * every component read through the rotation; ends at the ranked
    * `opq_r` relation. */
  private val opqPreludeSql: String =
    s"""dist AS (
       |  SELECT vec_id,
       |         ${(for (mm <- 0 until 4; j <- 0 until 8)
          yield s"(${opqSubDistSql("embedding", mm, j)}) AS d_${mm}_$j")
          .mkString(",\n         ")}
       |  FROM embeddings),
       |coded AS (
       |  SELECT vec_id AS cid,
       |         ${(0 until 4).map(mm => s"(${pqArgminSql(mm)}) AS c$mm")
          .mkString(",\n         ")}
       |  FROM dist),
       |q AS (SELECT * FROM dist WHERE vec_id < 10),
       |opq_scored AS (
       |  SELECT q.vec_id AS qid, coded.cid,
       |         ${(0 until 4).map(mm => s"(${pqAdcTermSql(mm)})")
          .mkString(" + ")} AS adist
       |  FROM q JOIN coded ON q.vec_id <> coded.cid),
       |opq_r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rank
       |          FROM opq_scored)""".stripMargin

  // IMI oracle pieces: two half-space codebooks of 4 x 32-dim entries,
  // the fixedCodebooks(2, 4, 32) values baked in as exactly-representable
  // literals — cell = first-half argmin * 4 + second-half argmin
  private lazy val imiCb = Similarity.fixedCodebooks(2, 4, 32)

  /** Squared distance of v's half `mm` to its codebook entry `j`, engine
    * left-fold term order (NearestCells' inner loop). */
  private def imiHalfDistSql(v: String, mm: Int, j: Int): String =
    (0 until 32).map { d =>
      val c = imiCb(mm)(j)(d)
      val idx = mm * 32 + d + 1
      s"(CAST($v[$idx] AS DOUBLE) - ($c)) * (CAST($v[$idx] AS DOUBLE) - ($c))"
    }.mkString(" + ")

  /** Argmin over half mm's 4 distance columns h_mm_0..h_mm_3 (stable
    * low-index tie-break, mirroring NearestCells). */
  private def imiArgminSql(mm: Int): String =
    (0 until 3).map { i =>
      val wins = (0 until 4).filter(_ != i)
        .map(j => s"h_${mm}_$i <= h_${mm}_$j").mkString(" AND ")
      s"WHEN $wins THEN $i"
    }.mkString("CASE ", " ", " ELSE 3 END")

  /** The shared IMI CTE prelude: per-vector half distances, two-level
    * cells, and the query-side pair ranking (pd = du + dv, the engine's
    * addition of the two half left-folds; ties by cell id). Ends at the
    * `imi_approx` (qid, cid) relation of the probed exact-cosine top-3. */
  private val imiPreludeSql: String =
    s"""dist AS (
       |  SELECT vec_id, embedding,
       |         ${(for (mm <- 0 until 2; j <- 0 until 4)
            yield s"(${imiHalfDistSql("embedding", mm, j)}) AS h_${mm}_$j")
            .mkString(",\n         ")}
       |  FROM embeddings),
       |cells AS (
       |  SELECT vec_id AS cid, embedding AS ce,
       |         (${imiArgminSql(0)}) * 4 + (${imiArgminSql(1)}) AS cell
       |  FROM dist),
       |qprobe0 AS (
       |  SELECT vec_id AS qid, embedding AS qe,
       |         unnest([${(for (u <- 0 until 4; v <- 0 until 4)
            yield s"struct_pack(cell := ${u * 4 + v}, pd := h_0_$u + h_1_$v)")
            .mkString(", ")}]) AS p
       |  FROM dist WHERE vec_id < 10),
       |qprobe AS (
       |  SELECT qid, qe, cell FROM (
       |    SELECT qid, qe, p.cell AS cell,
       |           row_number() OVER (PARTITION BY qid ORDER BY p.pd, p.cell) AS cr
       |    FROM qprobe0)
       |  WHERE cr <= 3),
       |imi_scored AS (
       |  SELECT qid, cid,
       |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
       |  FROM qprobe q JOIN cells c ON q.cell = c.cell AND q.qid <> c.cid),
       |imi_r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |          FROM imi_scored)""".stripMargin

  /** The incremental-dedup oracle: replay a 3-batch (doc_id % 3) history
    * through chained CTEs — per batch, a doc survives iff no bucket hits
    * the accumulated index AND it is the min id of every bucket it
    * occupies within the batch; survivors' buckets extend the index.
    * `prelude` computes the signature CTEs over `d`; `bktSql` yields the
    * (doc_id, band, bv) bucket relation. */
  private def incrementalOracle(prelude: String, bktSql: String): String = {
    def step(i: Int, idx: Option[String]): String = {
      val hit = idx.map(ix =>
        s"max(CASE WHEN $ix.bv IS NOT NULL THEN 1 ELSE 0 END)").getOrElse("0")
      val ijoin = idx.map(ix =>
        s"\n  LEFT JOIN $ix ON $ix.band = b$i.band AND $ix.bv = b$i.bv").getOrElse("")
      s"""b$i AS (SELECT bkt.* FROM bkt JOIN d USING (doc_id) WHERE d.bat = $i),
         |m$i AS (SELECT band, bv, min(doc_id) AS mn FROM b$i GROUP BY 1, 2),
         |x$i AS (
         |  SELECT b$i.doc_id, $hit AS hit,
         |         max(CASE WHEN b$i.doc_id > m$i.mn THEN 1 ELSE 0 END) AS nmin
         |  FROM b$i$ijoin
         |  JOIN m$i ON m$i.band = b$i.band AND m$i.bv = b$i.bv
         |  GROUP BY 1),
         |s$i AS (SELECT doc_id FROM x$i WHERE hit = 0 AND nmin = 0)""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, text, doc_id % 3 AS bat FROM documents),
       |$prelude,
       |bkt AS ($bktSql),
       |${step(0, None)},
       |i1 AS (SELECT DISTINCT band, bv FROM bkt JOIN s0 USING (doc_id)),
       |${step(1, Some("i1"))},
       |i2 AS (SELECT band, bv FROM i1
       |       UNION SELECT band, bv FROM bkt JOIN s1 USING (doc_id)),
       |${step(2, Some("i2"))}
       |SELECT 0 AS batch, doc_id FROM s0
       |UNION ALL SELECT 1 AS batch, doc_id FROM s1
       |UNION ALL SELECT 2 AS batch, doc_id FROM s2""".stripMargin
  }

  private val minhashSigsSql = (0 until 16)
    .map(i => s"min(md5('$i' || '|' || tok)) AS sig$i").mkString(", ")
  private val bandsSql = (0 until 4).map { b =>
    val parts = (0 until 4).map(r => s"sig${4 * b + r}").mkString(" || ")
    s"SELECT doc_id, $b AS band, $parts AS bv FROM sig"
  }.mkString("\nUNION ALL ")

  // 64-bit simhash: bit j = high bit of (nibble j/4 >> j%4); bit 63 comes
  // from the Long.MinValue literal (1<<63 overflows DuckDB's checked shift)
  // and the word is OR-assembled — mirrors Dedup.simHash exactly
  private val simhashNibs = (0 until 16)
    .map(i => s"strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1 AS nib$i")
    .mkString(", ")
  private val simhashVotes = (0 until 64).map { j =>
    s"sum(CASE WHEN (nib${j / 4} >> ${j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
  }.mkString(", ")
  private val simhashBits = (0 until 64).map { j =>
    val bitLit = if (j == 63) "(-9223372036854775808)::BIGINT" else s"CAST(${1L << j} AS BIGINT)"
    s"(CASE WHEN v$j > 0 THEN $bitLit ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" | ")

  private val stopEn = "('the','a','of','to','and','in','is')"

  /** The trigram-profile language-ID oracle, generated from the SAME
    * profile data the Spark expression uses ([[TextAnalysis
    * .trigramProfiles]]) so the two can never drift. Identical pipeline:
    * lowercase → strip non-letters → space-pad → all char trigrams →
    * per-language set-intersection count → precedence-ordered argmax. */
  /** langId oracle over any (doc_id, text) relation — a full
    * WITH…SELECT, made source-parametric so the composed-pipeline gate
    * can splice it over its cleaned CTE (DuckDB accepts nested WITH in a
    * CTE body). */
  private def langIdSql(from: String): String = {
    val profiles = TextAnalysis.trigramProfiles
    val langs = profiles.map(_._1)
    def inList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("(", ",", ")")
    val words = TextAnalysis.functionWords.toMap
    val w = TextAnalysis.functionWordWeight
    val scoreCols = profiles.map { case (lang, prof) =>
      s"    len(list_filter(grams, x -> x IN ${inList(prof)})) + " +
        s"$w * len(list_filter(words, x -> x IN ${inList(words(lang))})) AS s_$lang"
    }.mkString(",\n")
    val caseArms = langs.init.map { lang =>
      val rest = langs.dropWhile(_ != lang).drop(1)
      s"  WHEN ${rest.map(o => s"s_$lang >= s_$o").mkString(" AND ")} THEN '$lang'"
    }.mkString("\n")
    s"""WITH n AS (
       |  SELECT doc_id,
       |    ' ' || regexp_replace(lower(text), '${TextAnalysis.langLetterClass}', ' ', 'g') || ' ' AS t
       |  FROM $from),
       |g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(length(t) - 2, 1)),
       |      i -> substr(t, i, 3)) AS grams,
       |    string_split(trim(t), ' ') AS words
       |  FROM n),
       |sc AS (
       |  SELECT doc_id,
       |$scoreCols
       |  FROM g)
       |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE
       |$caseArms
       |  ELSE '${langs.last}' END AS lang_pred
       |FROM sc""".stripMargin
  }

  private val langIdOracle: String = langIdSql("documents")

  /** Per-block dequantized-coefficient-sum term of the JPEG coef gate for
    * component c: the DC/AC value formulas and quant-table entries are
    * generated from the SAME Scala functions the fixture encoder uses
    * ([[Jpeg.gateDc]]/[[Jpeg.gateAc]]/[[Jpeg.gateQLum]]), so the two sides
    * can never drift. */
  private def jpegCoefTerm(c: Int, q: Int => Int): String = {
    val acTerms = Jpeg.CoefKs.map { k =>
      s"((b + ${3 * k + 7 * c} + doc_id) % 11 - 5) * ${q(k)}"
    }.mkString(" + ")
    s"((b*5 + ${c * 11} + doc_id) % 21 - 10) * ${q(0)} + $acTerms"
  }

  /** r+g+b of one flat DC-only JPEG block through the decoder's exact
    * fixed-point YCbCr→RGB (floor of the 2^16-scaled products — division
    * by a power of two is exact in doubles, so DuckDB's floor reproduces
    * Math.floorDiv bit-for-bit). */
  private def jpegRgbSum(yv: String, cbd: String, crd: String): String =
    s"(3 * ($yv)" +
      s" + floor((91881 * ($crd) + 32768) / 65536.0)" +
      s" - floor((22554 * ($cbd) + 46802 * ($crd) + 32768) / 65536.0)" +
      s" + floor((116130 * ($cbd) + 32768) / 65536.0))"

  /** Shared CTE chain computing each doc's aHash arithmetically: the
    * nearest-resize cell value mapping from the q_mm_resize oracle,
    * channel-summed per cell, thresholded as 64·g > total. */
  private val ahashCte: String =
    """d AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 31 + 1 AS BIGINT) AS w,
      |    CAST((doc_id * 5) % 23 + 1 AS BIGINT) AS h,
      |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS ch
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, 64), j -> struct_pack(j := j,
      |      g := list_sum(list_transform(range(0, CAST(ch AS INT)), c ->
      |        (((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * ch + c) * 7 + doc_id) % 256))))) AS u
      |  FROM d),
      |g AS (SELECT doc_id, u.j AS j, u.g AS g FROM g0),
      |t AS (SELECT doc_id, j, g, sum(g) OVER (PARTITION BY doc_id) AS total FROM g),
      |ah AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN 64 * g > total THEN
      |      (CASE WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |            ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END)
      |    ELSE 0 END) AS BIGINT) AS ahash
      |  FROM t GROUP BY doc_id)""".stripMargin

  // ---- bilinear-resize oracle pieces: the full blend expression for
  // output flat index i, generated so the engine and oracle share one
  // source of truth for the kernel ----
  private val biSy = "least(greatest(((i // (8*ch)) + 0.5) * h / 8.0 - 0.5, 0.0), CAST(h - 1 AS DOUBLE))"
  private val biSx = "least(greatest((((i % (8*ch)) // ch) + 0.5) * w / 8.0 - 0.5, 0.0), CAST(w - 1 AS DOUBLE))"
  private val biY0 = s"CAST(floor($biSy) AS BIGINT)"
  private val biX0 = s"CAST(floor($biSx) AS BIGINT)"
  private val biY1 = s"least($biY0 + 1, h - 1)"
  private val biX1 = s"least($biX0 + 1, w - 1)"
  private val biFy = s"($biSy - floor($biSy))"
  private val biFx = s"($biSx - floor($biSx))"
  private def biP(yy: String, xx: String): String =
    s"CAST((((($yy) * w + ($xx)) * ch + (i % ch)) * 7 + doc_id) % 256 AS DOUBLE)"
  private val biV =
    s"((1 - $biFy) * ((1 - $biFx) * ${biP(biY0, biX0)} + $biFx * ${biP(biY0, biX1)})" +
      s" + $biFy * ((1 - $biFx) * ${biP(biY1, biX0)} + $biFx * ${biP(biY1, biX1)}))"
  private val biByte = s"CAST(floor($biV + 0.5) AS BIGINT)"

  /** Count-Min probe tokens: frequent, mid, and absent. */
  private val cmProbes = Seq("the", "scan", "join", "window", "data",
    "query", "of", "and", "spark", "zzz_absent_token")

  /** First-n-hex-chars-of-md5 → integer (nibble positional sum), the
    * oracle's twin of the engine's `conv(substring(md5(..), 1, n), 16, 10)`
    * parses. n ≤ 15 keeps the sum inside a positive BIGINT. */
  private def hexN(h: String, n: Int): String =
    (1 to n).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${1L << (4 * (n - i))}")
      .mkString("(", " + ", ")")

  /** First-5-hex-chars-of-md5 → integer, the oracle's twin of
    * CountMin.bucketOf's 20-bit parse (nibble positional sum). */
  private def cmHex5(h: String): String = hexN(h, 5)

  /** The BPE-encode oracle's symbol-stream rewrite: each demo merge
    * (a, b) in rank order as a ` a b ` → ` ab ` string replace on the
    * space-joined symbol stream, iterated 8× so consecutive occurrences
    * sharing a boundary space all merge (left-to-right non-overlapping
    * replace halves the remaining run per pass, so ceil(log2(maxWordLen))
    * passes suffice; 8 covers any word to 2^8 = 256 symbols — more passes
    * would trip DuckDB's 128-deep expression binder across the 12 merges —
    * and the gate query REQUIRES that fixture bound up front, so an
    * over-long word fails loudly instead of under-merging the oracle into
    * a spurious hash mismatch). Generated from [[Bpe.demoMerges]] so
    * engine and oracle share one merge table. */
  private val bpeEncodeExpr: String = {
    // the rewrite formulation is equivalent to the greedy encode loop
    // ONLY for merges with a != b: a self-pair like (a,a) self-overlaps,
    // and non-overlapping replace picks different occurrences than the
    // left-to-right greedy merge ("aaaaa" -> [aa,a,aa] vs [aa,aa,a])
    require(Bpe.demoMerges.forall(m => m.a != m.b),
      "bpe encode oracle requires non-self-overlapping merges")
    val init = "' ' || array_to_string(list_transform(" +
      "generate_series(1, length(w)), i -> substr(w, i, 1)), ' ') || ' '"
    Bpe.demoMerges.foldLeft(init) { (acc, m) =>
      (1 to 8).foldLeft(acc)((a, _) =>
        s"replace($a, ' ${m.a} ${m.b} ', ' ${m.a}${m.b} ')")
    }
  }

  /** The word-length bound [[bpeEncodeExpr]]'s 8 replace passes cover. */
  private val BpeOracleMaxWordLen = 1 << 8

  // ---- linear-resample oracle pieces (1-D sibling of the bilinear
  // blend): generated once, referenced in the q_mm_resample SQL ----
  private val rsSx =
    "least(greatest((x + 0.5) * n / (2.0 * n) - 0.5, 0.0), CAST(n - 1 AS DOUBLE))"
  private val rsF = s"($rsSx - floor($rsSx))"
  private val rsI0 = s"(CAST(floor($rsSx) AS INT) + 1)" // 1-based list index
  private val rsI1 = s"least($rsI0 + 1, CAST(n AS INT))"
  private val rsV = s"((1 - $rsF) * sm[$rsI0] + $rsF * sm[$rsI1])"

  /** q_mm_mfcc oracle: direct-DFT power spectrum (the q_mm_spectrogram
    * formulation), then mel energies and DCT-II with both matrices BAKED
    * as literals generated from the SAME Scala arrays the engine uses —
    * shortest-repr double literals re-parse to identical bits, so the two
    * sides share the matrices exactly and differ only in last-ulp
    * spectrum noise, absorbed by the gate floor (silent filters snap to
    * ln(floor) on both sides — Audio.mfccFrame scaladoc) and the 6-decimal
    * rounding. */
  private val mfccOracle: String = {
    val nBins = Audio.GateFrameLen / 2 + 1 // 33
    val fb = Audio.melFilterbank(nBins, Audio.GateMels, Audio.GateSampleRate)
    def melExpr(m: Int): String = {
      // ascending-bin term order mirrors the engine's accumulation loop
      // (zero-weight bins add exact 0.0 there — dropping them is bit-safe)
      val terms = (0 until nBins).collect {
        case b if fb(m)(b) != 0.0 => s"${fb(m)(b)} * p[${b + 1}]"
      }
      if (terms.isEmpty) "0.0" else terms.mkString(" + ")
    }
    val lmCols = (0 until Audio.GateMels).map(m =>
      s"ln(greatest(${melExpr(m)}, ${Audio.GateMfccFloor})) AS lm$m")
      .mkString(",\n    ")
    def dctExpr(k: Int): String = {
      val terms = (0 until Audio.GateMels).map { m =>
        val c = math.cos(math.Pi * k * (2 * m + 1) / (2.0 * Audio.GateMels))
        s"$c * lm$m"
      }.mkString(" + ")
      val norm = if (k == 0) math.sqrt(1.0 / Audio.GateMels)
                 else math.sqrt(2.0 / Audio.GateMels)
      s"($terms) * $norm"
    }
    val coefArms = (0 until Audio.GateCoefs)
      .map(k => s"struct_pack(k := $k, v := ${dctExpr(k)})").mkString(",\n      ")
    s"""WITH fr AS (SELECT doc_id, unnest([0, 1]) AS frame_idx FROM documents),
       |sp AS (SELECT doc_id, frame_idx, ((doc_id + frame_idx) % 15 + 1) AS f FROM fr),
       |pw AS (
       |  SELECT doc_id, frame_idx,
       |    list_transform(range(0, 33), b ->
       |      power(list_sum(list_transform(range(0, 64), k ->
       |        (CASE WHEN (k * f) % 64 < 32 THEN 1000 ELSE -1000 END)
       |          * cos(2 * pi() * b * k / 64.0))), 2)
       |      + power(list_sum(list_transform(range(0, 64), k ->
       |        (CASE WHEN (k * f) % 64 < 32 THEN 1000 ELSE -1000 END)
       |          * sin(2 * pi() * b * k / 64.0))), 2)) AS p
       |  FROM sp),
       |lm AS (
       |  SELECT doc_id, frame_idx,
       |    $lmCols
       |  FROM pw),
       |c AS (
       |  SELECT doc_id, frame_idx, unnest([
       |      $coefArms]) AS u
       |  FROM lm)
       |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(u.k AS INT) AS coef_idx, round(u.v, 6) AS mfcc
       |FROM c""".stripMargin
  }

  /** Shared lossless-layer JPEG oracle: the dequantized coefficient sum
    * reproduced arithmetically from the gate's coefficient formulas —
    * used by BOTH q_mm_jpeg_coefs (baseline stream) and
    * q_mm_jpeg_progressive (multi-scan SOF2 stream). */
  private lazy val jpegCoefOracleSql: String =
    s"""SELECT doc_id,
       |  CAST(8 * (doc_id % 3 + 1) AS INT) AS width,
       |  CAST(8 * ((doc_id // 2) % 2 + 1) AS INT) AS height,
       |  CAST(1 AS INT) AS ncomp,
       |  CAST(list_sum(list_transform(
       |    range(0, CAST((doc_id % 3 + 1) * ((doc_id // 2) % 2 + 1) AS INT)),
       |    b -> ${jpegCoefTerm(0, Jpeg.gateQLum)})) AS BIGINT) AS coef_sum
       |FROM documents WHERE doc_id % 2 = 0
       |UNION ALL
       |SELECT doc_id,
       |  CAST(16 * ((doc_id // 2) % 2 + 1) AS INT) AS width,
       |  CAST(16 * ((doc_id // 3) % 2 + 1) AS INT) AS height,
       |  CAST(3 AS INT) AS ncomp,
       |  CAST(
       |    list_sum(list_transform(
       |      range(0, CAST(4 * ((doc_id // 2) % 2 + 1) * ((doc_id // 3) % 2 + 1) AS INT)),
       |      b -> ${jpegCoefTerm(0, Jpeg.gateQLum)})) +
       |    list_sum(list_transform(
       |      range(0, CAST(((doc_id // 2) % 2 + 1) * ((doc_id // 3) % 2 + 1) AS INT)),
       |      b -> (${jpegCoefTerm(1, Jpeg.gateQChr)}) + (${jpegCoefTerm(2, Jpeg.gateQChr)})))
       |  AS BIGINT) AS coef_sum
       |FROM documents WHERE doc_id % 2 = 1""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    "q_mm_mfcc" -> mfccOracle,

    "q_pipe_dedup_lines" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    'SITE NAV HEADER' || chr(10) || text || chr(10) ||
        |    'FOOTER-' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
        |    'ACCEPT COOKIES BANNER' AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(string_split(t, chr(10)))),
        |      p -> struct_pack(pos := p, line := string_split(t, chr(10))[p]))) AS u
        |    FROM w)),
        |f AS (SELECT line, count(DISTINCT doc_id) AS n FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line FROM l JOIN f USING (line) WHERE f.n < 2)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM k GROUP BY doc_id""".stripMargin,

    // cumulative 3-batch replay: per (line, batch) distinct-doc counts,
    // a running sum over the batch order, and a line survives a batch's
    // docs iff the cumulative count through that batch is under the
    // threshold — the engine's monotone arriving-batch rule
    "q_pipe_dedup_lines_incremental" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    'SITE NAV HEADER' || chr(10) || text || chr(10) ||
        |    'FOOTER-' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
        |    'ACCEPT COOKIES BANNER' AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(string_split(t, chr(10)))),
        |      p -> struct_pack(pos := p, line := string_split(t, chr(10))[p]))) AS u
        |    FROM w)),
        |perb AS (
        |  SELECT line, doc_id % 3 AS b, count(DISTINCT doc_id) AS n
        |  FROM l GROUP BY line, doc_id % 3),
        |cum AS (
        |  SELECT line, b, sum(n) OVER (PARTITION BY line ORDER BY b) AS cn
        |  FROM perb),
        |k AS (
        |  SELECT l.doc_id, l.pos, l.line FROM l
        |  JOIN cum ON cum.line = l.line AND cum.b = l.doc_id % 3
        |  WHERE cum.cn < 2)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM k GROUP BY doc_id""".stripMargin,

    // IMA ADPCM replayed by a RECURSIVE CTE: the decoder is a sequential
    // integer state machine (predictor, index) × nibble, so the oracle
    // carries the state through the recursion with the step/index tables
    // baked as list literals from the same Scala arrays
    "q_mm_adpcm" -> {
      val steps = Audio.ImaStepTable.mkString("[", ", ", "]")
      val idxTab = Audio.ImaIndexTable.mkString("[", ", ", "]")
      s"""WITH RECURSIVE cfg AS (
         |  SELECT doc_id,
         |    CAST(2 * (doc_id % 25 + 1) AS INT) AS n,
         |    CAST((doc_id * 131) % 4096 - 2048 AS INT) AS pred0,
         |    CAST(doc_id % 89 AS INT) AS idx0
         |  FROM documents),
         |dec AS (
         |  SELECT doc_id, 0 AS k, pred0 AS pred, idx0 AS idx,
         |    CAST(pred0 AS BIGINT) AS wsum, n FROM cfg
         |  UNION ALL
         |  SELECT doc_id, k + 1, pred2, idx2, wsum + (k + 2) * pred2, n
         |  FROM (
         |    SELECT doc_id, k, n, wsum,
         |      greatest(-32768, least(32767,
         |        CASE WHEN nib >= 8 THEN pred - diff ELSE pred + diff END)) AS pred2,
         |      greatest(0, least(88, idx + ($idxTab)[nib + 1])) AS idx2
         |    FROM (
         |      SELECT doc_id, k, n, wsum, pred, idx, nib,
         |        (stp // 8) + CASE WHEN nib % 2 = 1 THEN stp // 4 ELSE 0 END
         |          + CASE WHEN (nib // 2) % 2 = 1 THEN stp // 2 ELSE 0 END
         |          + CASE WHEN (nib // 4) % 2 = 1 THEN stp ELSE 0 END AS diff
         |      FROM (
         |        SELECT *, CAST((k * 7 + doc_id) % 16 AS INT) AS nib,
         |          ($steps)[idx + 1] AS stp
         |        FROM dec WHERE k < n))))
         |SELECT doc_id, CAST(n + 1 AS BIGINT) AS n_samples,
         |  CAST(wsum AS BIGINT) AS wsum
         |FROM dec WHERE k = n""".stripMargin
    },

    // G.711 expansion as pure integer arithmetic: µ-law = complement,
    // ((mant·8+132) << exp) − 132, sign-bit negative; A-law = xor 0x55,
    // segment-0 linear else shifted, sign-bit POSITIVE (the two tables'
    // famously opposite sign conventions — the gate would catch a swap)
    "q_mm_g711" -> {
      val u = "(255 - (k * 31 + doc_id) % 256)"
      val uMag = s"((((($u % 16) * 8) + 132) << (($u // 16) % 8)) - 132)"
      val a = s"xor((k * 31 + doc_id) % 256, 85)"
      val aMag = s"(CASE WHEN ($a // 16) % 8 = 0 THEN ($a % 16) * 16 + 8 " +
        s"ELSE (($a % 16) * 16 + 264) << ((($a // 16) % 8) - 1) END)"
      s"""SELECT doc_id, CAST(doc_id % 40 + 1 AS BIGINT) AS n_samples,
         |  CAST(list_sum(list_transform(range(0, CAST(doc_id % 40 + 1 AS INT)), k ->
         |    (k + 1) * (CASE WHEN $u >= 128 THEN -$uMag ELSE $uMag END)))
         |  AS BIGINT) AS wsum
         |FROM documents WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, CAST(doc_id % 40 + 1 AS BIGINT) AS n_samples,
         |  CAST(list_sum(list_transform(range(0, CAST(doc_id % 40 + 1 AS INT)), k ->
         |    (k + 1) * (CASE WHEN $a >= 128 THEN $aMag ELSE -$aMag END)))
         |  AS BIGINT) AS wsum
         |FROM documents WHERE doc_id % 2 = 1""".stripMargin
    },

    "q_mm_warc" ->
      """SELECT doc_id, CAST(200 AS BIGINT) AS status,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents""".stripMargin,

    "q_mm_tar_samples" ->
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_files,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS txt_len,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS meta_len,
        |  md5(text) AS txt_md5
        |FROM documents""".stripMargin,
    // 2x linear upsample of the real decoded PCM: every blend weight is
    // a quarter (dyadic — exact in doubles in both engines); the
    // position-weighted sum pins each output sample to its index
    "q_mm_resample" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(doc_id % 50 + 1 AS BIGINT) *
         |      (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END) AS n
         |  FROM documents WHERE doc_id % 2 = 0),
         |s AS (
         |  SELECT doc_id, n,
         |    list_transform(range(0, CAST(n AS INT)), k ->
         |      CASE WHEN (2*k) % 251 + 256 * ((2*k+1) % 251) >= 32768
         |           THEN (2*k) % 251 + 256 * ((2*k+1) % 251) - 65536
         |           ELSE (2*k) % 251 + 256 * ((2*k+1) % 251) END) AS sm
         |  FROM d)
         |SELECT doc_id, n AS n_in, 2 * n AS n_out,
         |  CAST(list_sum(list_transform(range(0, CAST(2 * n AS INT)), x ->
         |    (x + 1) * CAST(floor($rsV + 0.5) AS BIGINT))) AS BIGINT) AS wsum
         |FROM s""".stripMargin,

    // distributed BPE training's per-round aggregation: first-round
    // adjacent char-pair counts over the word-frequency table, top 50 by
    // the training tie-break (count desc, then pair)
    "q_text_bpe_pairs" ->
      """WITH wc AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |p0 AS (
        |  SELECT cnt, unnest(list_transform(generate_series(1, greatest(length(w) - 1, 1)),
        |    i -> struct_pack(a := substr(w, i, 1), b := substr(w, i + 1, 1)))) AS u
        |  FROM wc),
        |p AS (SELECT u.a AS a, u.b AS b, cnt FROM p0 WHERE u.b <> '')
        |SELECT a, b, CAST(sum(cnt) AS BIGINT) AS cnt FROM p GROUP BY a, b
        |ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin,

    // char-trigram LM perplexity scoring: both count tables, the add-one
    // conditional, and the per-doc mean log-prob rebuilt in SQL. The
    // count ratios are identical exact rationals in both engines, ln is
    // within 1 ulp, and the ~50-term sums keep the error ~1e-13 — far
    // inside the shared round(6)
    "q_text_charlm" ->
      """WITH tr0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(length(text) - 2, 1)),
        |    i -> substr(text, i, 3))) AS tri
        |  FROM documents),
        |tr AS (SELECT doc_id, tri, substr(tri, 1, 2) AS bi FROM tr0
        |       WHERE length(tri) = 3),
        |c3 AS (SELECT tri, count(*) AS c3 FROM tr GROUP BY tri),
        |c2 AS (SELECT bi, count(*) AS c2 FROM tr GROUP BY bi),
        |ch AS (SELECT DISTINCT unnest(list_transform(
        |    generate_series(1, length(text)), i -> substr(text, i, 1))) AS c
        |  FROM documents),
        |v AS (SELECT count(*) AS v FROM ch),
        |s AS (
        |  SELECT doc_id, count(*) AS n_trigrams,
        |    sum(ln(CAST(c3.c3 + 1 AS DOUBLE) / CAST(c2.c2 + v.v AS DOUBLE))) AS s
        |  FROM tr JOIN c3 USING (tri) JOIN c2 USING (bi) CROSS JOIN v
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.n_trigrams, 0) AS n_trigrams,
        |  round(coalesce(s.s / s.n_trigrams, 0.0), 6) AS avg_logprob
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,

    // Count-Min sketch: every (row, bucket) counter and every probe's
    // min-over-rows estimate rebuilt from the same md5-derived bucket
    // hashing — bit-exact, including collision inflation and absent-token
    // floors of 0
    "q_text_cmsketch" ->
      s"""WITH tk AS (
         |  SELECT tok FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
         |e AS (
         |  SELECT d, ${cmHex5("md5(CAST(d AS VARCHAR) || '|' || tok)")} % 1024 AS bucket
         |  FROM tk CROSS JOIN dd),
         |c AS (SELECT d, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
         |pr AS (SELECT unnest([${cmProbes.map(t => s"'$t'").mkString(", ")}]) AS tok),
         |pb AS (
         |  SELECT tok, d, ${cmHex5("md5(CAST(d AS VARCHAR) || '|' || tok)")} % 1024 AS bucket
         |  FROM pr CROSS JOIN dd),
         |j AS (
         |  SELECT pb.tok, pb.d, coalesce(c.cnt, 0) AS cnt
         |  FROM pb LEFT JOIN c USING (d, bucket))
         |SELECT tok, CAST(min(cnt) AS BIGINT) AS est FROM j GROUP BY tok""".stripMargin,

    // HyperLogLog: the 1024-register table rebuilt from the same 60-bit
    // md5 prefix (register = top 10 bits, rho = leading-zero count of
    // the low 50 via length(bin(w)) — exact integer/string ops), the
    // harmonic denominator kept as the exact integer Σ 2^(51-rho), and
    // the raw/linear-counting estimate recomputed from the identical
    // shortest-repr scale constant — the only float ops are one division
    // and one ln on bit-identical operands
    "q_text_hll" ->
      s"""WITH t AS (
         |  SELECT source, tok FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |h AS (SELECT source, ${hexN("md5(tok)", 15)} AS h FROM t),
         |r AS (SELECT source, h // ${1L << Sketches.HllW} AS reg,
         |             h % ${1L << Sketches.HllW} AS w FROM h),
         |rr AS (SELECT source, reg,
         |  CASE WHEN w = 0 THEN ${Sketches.HllW + 1}
         |       ELSE ${Sketches.HllW + 1} - length(ltrim(bin(w), '0')) END AS rho
         |  FROM r),
         |m AS (SELECT source, reg, max(rho) AS maxrho FROM rr GROUP BY 1, 2),
         |e AS (SELECT source, count(*) AS n_used,
         |        CAST(sum(1::BIGINT << CAST(${Sketches.HllW + 1} - maxrho AS INT)) AS BIGINT) AS zs_used
         |      FROM m GROUP BY source),
         |z AS (SELECT source, CAST(n_used AS BIGINT) AS n_used,
         |        CAST(${Sketches.HllM} - n_used AS BIGINT) AS v_empty,
         |        CAST(zs_used + (${Sketches.HllM} - n_used) * ${1L << (Sketches.HllW + 1)} AS BIGINT) AS zs
         |      FROM e),
         |est AS (SELECT *, ${Sketches.HllScale} / CAST(zs AS DOUBLE) AS raw FROM z)
         |SELECT source, n_used, v_empty, zs,
         |  round(CASE WHEN raw <= ${2.5 * Sketches.HllM} AND v_empty > 0
         |             THEN ${Sketches.HllM}.0 * ln(${Sketches.HllM}.0 / CAST(v_empty AS DOUBLE))
         |             ELSE raw END, 6) AS est
         |FROM est""".stripMargin,

    // Bloom filter: every set bit (k=7 20-bit md5 positions mod m,
    // hashed on the distinct-token table) and every probe verdict
    // rebuilt with the same nibble arithmetic — integer-exact
    "q_text_bloom" ->
      s"""WITH tk AS (
         |  SELECT DISTINCT tok FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |ii AS (SELECT unnest([${(0 until Sketches.BloomK).mkString(", ")}]) AS i),
         |bits AS (
         |  SELECT DISTINCT ${cmHex5("md5(CAST(i AS VARCHAR) || '|' || tok)")} % ${Sketches.BloomM} AS pos
         |  FROM tk CROSS JOIN ii),
         |fill AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits),
         |pr AS (SELECT unnest([${cmProbes.map(t => s"'$t'").mkString(", ")}]) AS tok),
         |pp AS (
         |  SELECT tok, ${cmHex5("md5(CAST(i AS VARCHAR) || '|' || tok)")} % ${Sketches.BloomM} AS pos
         |  FROM pr CROSS JOIN ii),
         |j AS (
         |  SELECT pp.tok, CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM pp LEFT JOIN bits USING (pos))
         |SELECT j.tok, CAST(sum(hit) AS BIGINT) AS n_hit,
         |  sum(hit) = ${Sketches.BloomK} AS might_contain,
         |  (SELECT n_bits_set FROM fill) AS n_bits_set
         |FROM j GROUP BY j.tok""".stripMargin,

    // Quantile sketch: the bottom-k sample is a pure function of the
    // input ("k smallest by (md5-priority, value)"), so the oracle
    // re-derives the kept set with a window rank over the same 60-bit
    // positional-hex priorities, then applies the identical ⌊q·(m−1)⌋
    // lower-quantile pick — sample, counts and estimates all bit-exact
    "q_text_quantile_sketch" ->
      s"""WITH p AS (
         |  SELECT source, ${hexN("md5(CAST(doc_id AS VARCHAR))", 15)} AS pri,
         |         CAST(n_chars AS DOUBLE) AS v
         |  FROM documents),
         |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY source),
         |keep AS (
         |  SELECT source, pri, v FROM (
         |    SELECT source, pri, v,
         |           row_number() OVER (PARTITION BY source ORDER BY pri, v) AS rk
         |    FROM p)
         |  WHERE rk <= 16),
         |ranked AS (
         |  SELECT source, v,
         |         row_number() OVER (PARTITION BY source ORDER BY v, pri) - 1 AS rn0,
         |         count(*) OVER (PARTITION BY source) AS m
         |  FROM keep),
         |qq AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.9::DOUBLE]) AS q)
         |SELECT r.source, q, n, CAST(m AS BIGINT) AS m, v AS est
         |FROM ranked r CROSS JOIN qq JOIN cnt ON r.source = cnt.source
         |WHERE rn0 = CAST(floor(q * (m - 1)) AS INT)""".stripMargin,

    // rank-based BPE encode vs the rewrite-system formulation: applying
    // the fixed merges in rank order as boundary-aware string rewrites is
    // provably the same function as the engine's lowest-rank-first loop;
    // md5 of the token stream certifies every token boundary
    "q_text_bpe_encode" ->
      s"""WITH t AS (SELECT doc_id, text FROM documents),
         |w0 AS (
         |  SELECT doc_id, u.pos AS pos, u.w AS w FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(string_split(text, ' '))),
         |      p -> struct_pack(pos := p, w := string_split(text, ' ')[p]))) AS u
         |    FROM t)
         |  WHERE length(u.w) > 0),
         |e AS (SELECT doc_id, pos, trim($bpeEncodeExpr) AS toks FROM w0),
         |a AS (
         |  SELECT doc_id, CAST(sum(len(string_split(toks, ' '))) AS BIGINT) AS n_tokens,
         |    md5(string_agg(toks, ' ' ORDER BY pos)) AS tok_sig
         |  FROM e GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.tok_sig, md5('')) AS tok_sig
         |FROM t LEFT JOIN a USING (doc_id)""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups, length(text) AS n_chars
        |FROM documents GROUP BY text""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |sig AS (SELECT doc_id, $minhashSigsSql FROM tok GROUP BY doc_id),
         |banded AS ($bandsSql),
         |pairable AS (
         |  SELECT band, bv FROM banded GROUP BY band, bv
         |  HAVING count(*) BETWEEN 2 AND 1000),
         |capped AS (SELECT banded.* FROM banded JOIN pairable USING (band, bv))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM capped a JOIN capped b
         |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id""".stripMargin,

    "q_dedup_incremental" ->
      // buckets: 4 LSH bands (concatenated sig hex) + the exact-content
      // band -1; batches replay in order through chained CTEs
      incrementalOracle(
        s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
           |sig AS (SELECT doc_id, $minhashSigsSql FROM tok GROUP BY doc_id)""".stripMargin,
        (0 until 4).map { b =>
          val parts = (0 until 4).map(r => s"sig${4 * b + r}").mkString(" || ")
          s"SELECT doc_id, $b AS band, $parts AS bv FROM sig"
        }.mkString("\n  UNION ALL ") +
          "\n  UNION ALL SELECT doc_id, -1 AS band, md5(text) AS bv FROM d"),

    "q_dedup_incremental_simhash" ->
      // buckets: the 3 pigeonhole bands of the 64-bit simhash (maxHamming
      // 2: widths 21/21/22, arithmetic shift + mask — sign bits masked
      // away identically in both engines) + the exact-content band
      incrementalOracle(
        s"""tok AS (SELECT doc_id, unnest(list_slice(string_split(text, ' '), 1, 65535)) AS tok FROM d),
           |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
           |nib AS (SELECT doc_id, $simhashNibs FROM h),
           |v AS (SELECT doc_id, $simhashVotes FROM nib GROUP BY doc_id),
           |sig AS (SELECT doc_id, $simhashBits AS sh FROM v)""".stripMargin,
        Seq((0, 0, (1L << 21) - 1), (1, 21, (1L << 21) - 1), (2, 42, (1L << 22) - 1))
          .map { case (b, lo, m) =>
            s"SELECT doc_id, $b AS band, CAST((sh >> $lo) & $m AS VARCHAR) AS bv FROM sig"
          }.mkString("\n  UNION ALL ") +
          "\n  UNION ALL SELECT doc_id, -1 AS band, md5(text) AS bv FROM d"),

    "q_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_slice(string_split(text, ' '), 1, 65535)) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
         |nib AS (SELECT doc_id, $simhashNibs FROM h),
         |v AS (SELECT doc_id, $simhashVotes FROM nib GROUP BY doc_id)
         |SELECT doc_id, $simhashBits AS simhash FROM v""".stripMargin,

    // brute-force oracle over all pairs — the engine's pigeonhole banding
    // must reach the identical pair set (exact recall for hamming <= 2)
    "q_dedup_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_slice(string_split(text, ' '), 1, 65535)) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
         |nib AS (SELECT doc_id, $simhashNibs FROM h),
         |v AS (SELECT doc_id, $simhashVotes FROM nib GROUP BY doc_id),
         |sig AS (SELECT doc_id, $simhashBits AS sh FROM v)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.sh, b.sh)) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 2""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      """WITH tokd AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 100),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY doc_id),
        |it AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM tokd a JOIN tokd b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM it
        |JOIN sz sa ON sa.doc_id = doc_a
        |JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,

    // substring-level dedup (Lee et al. 2022, token-8-gram relaxation):
    // gram md5s with corpus multiplicity >= 2 mark their covered token
    // positions; covered tokens are removed and the cleaned text hashed.
    // Every intermediate is integer/hash-exact, so the two engines agree
    // bit-for-bit with no rounding.
    "q_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(w) - 7, 1)),
        |    i -> struct_pack(pos := i, gm := md5(array_to_string(w[i:i+7], ' '))))) AS u
        |  FROM t),
        |gp AS (SELECT doc_id, u.pos AS pos, u.gm AS gm FROM g0),
        |c AS (SELECT gm FROM gp GROUP BY gm HAVING count(*) >= 2),
        |d AS (SELECT gp.doc_id, gp.pos FROM gp JOIN c USING (gm)),
        |cov0 AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 8), k -> pos + k)) AS j
        |  FROM d),
        |cov AS (SELECT DISTINCT doc_id, j FROM cov0),
        |tr0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |    i -> struct_pack(j := i, tok := w[i]))) AS u
        |  FROM t),
        |tr AS (SELECT doc_id, u.j AS j, u.tok AS tok FROM tr0),
        |cl AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean
        |  FROM tr ANTI JOIN cov USING (doc_id, j) GROUP BY 1),
        |cv AS (
        |  SELECT doc_id, count(*) AS n_covered
        |  FROM tr SEMI JOIN cov USING (doc_id, j) GROUP BY 1),
        |ds AS (SELECT doc_id, count(*) AS n_dup_grams FROM d GROUP BY 1)
        |SELECT t.doc_id, len(w) AS n_tokens,
        |  coalesce(ds.n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(cv.n_covered, 0) AS n_covered,
        |  md5(coalesce(cl.clean, '')) AS clean_sig
        |FROM t
        |LEFT JOIN ds USING (doc_id)
        |LEFT JOIN cv USING (doc_id)
        |LEFT JOIN cl USING (doc_id)""".stripMargin,

    // transitive closure of the FULL-table jaccard>=0.9 pair graph:
    // cluster_id = min reachable doc_id. The recursive reachability CTE is
    // the oracle-side equivalent of the alternating-star fixpoint.
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $clusterCtes,
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    "q_dedup_keep_one" ->
      s"""WITH RECURSIVE $clusterCtes,
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, length(text) AS n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)""".stripMargin,

    "q_dedup_emb_cos" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         a.embedding AS qe, b.embedding AS ce
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT vec_a, vec_b,
         |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
         |  FROM pairs)
         |SELECT vec_a, vec_b, round(cos, 6) AS cos FROM scored WHERE cos >= 0.4""".stripMargin,

    "q_sim_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |       ${lshBucketSql("embedding")} AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
         |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT qid, cid,
         |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
         |  FROM pairs),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         |      FROM scored)
         |SELECT qid, cid, round(cos, 6) AS cos, rank FROM r WHERE rank <= 3""".stripMargin,

    // fixed-centroid IVF probe: per-vector distances to the 8 baked-in
    // centroids once in a CTE; corpus rows take the argmin cell, queries
    // rank cells and probe the nearest 3; exact cosine inside the joined
    // cells reproduces ivfProbe's join exactly
    "q_pipe_diversity_sample" ->
      s"""WITH dist AS (
         |  SELECT vec_id,
         |         ${(0 until 8).map(i => s"(${ivfDistSql("embedding", i)}) AS d$i").mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (SELECT vec_id, $ivfArgminSql AS cell FROM dist),
         |r AS (
         |  SELECT vec_id, cell,
         |         row_number() OVER (
         |           PARTITION BY cell
         |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM cells)
         |SELECT vec_id, cell, rn FROM r WHERE rn <= 5""".stripMargin,

    "q_sim_ivf" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(0 until 8).map(i => s"(${ivfDistSql("embedding", i)}) AS d$i").mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id AS cid, embedding AS ce, $ivfArgminSql AS cell FROM dist),
         |qprobe0 AS (
         |  SELECT vec_id AS qid, embedding AS qe,
         |         unnest([${(0 until 8).map(i => s"struct_pack(cell := $i, dist := d$i)").mkString(", ")}]) AS u
         |  FROM dist WHERE vec_id < 10),
         |qprobe AS (
         |  SELECT qid, qe, cell FROM (
         |    SELECT qid, qe, u.cell AS cell, u.dist AS dist,
         |           row_number() OVER (PARTITION BY qid ORDER BY u.dist, u.cell) AS cr
         |    FROM qprobe0)
         |  WHERE cr <= 3),
         |scored AS (
         |  SELECT qid, cid,
         |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
         |  FROM qprobe q JOIN cells c ON q.cell = c.cell AND q.qid <> c.cid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         |      FROM scored)
         |SELECT qid, cid, round(cos, 6) AS cos, rank FROM r WHERE rank <= 3""".stripMargin,

    // PQ/ADC: per-vector subspace distances to the fixed codebooks,
    // argmin codes, and the query-LUT CASE probes — every double
    // combined in the engine's exact order
    // IVF-PQ: the ivf probe CTEs compose with the PQ coding/ADC CTEs —
    // same-cell candidates only, scored by the query's LUT over codes
    "q_sim_ivfpq" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(0 until 8).map(i => s"(${ivfDistSql("embedding", i)}) AS d$i").mkString(",\n         ")},
         |         ${(for (mm <- 0 until 4; j <- 0 until 8)
              yield s"(${pqSubDistSql("embedding", mm, j)}) AS d_${mm}_$j")
              .mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id AS cid, $ivfArgminSql AS cell,
         |         ${(0 until 4).map(mm => s"(${pqArgminSql(mm)}) AS c$mm")
              .mkString(",\n         ")}
         |  FROM dist),
         |qprobe0 AS (
         |  SELECT vec_id AS qid,
         |         unnest([${(0 until 8).map(i => s"struct_pack(cell := $i, dist := d$i)").mkString(", ")}]) AS u
         |  FROM dist WHERE vec_id < 10),
         |qprobe AS (
         |  SELECT qid, cell FROM (
         |    SELECT qid, u.cell AS cell, u.dist AS dist,
         |           row_number() OVER (PARTITION BY qid ORDER BY u.dist, u.cell) AS cr
         |    FROM qprobe0)
         |  WHERE cr <= 3),
         |q AS (SELECT vec_id AS qid,
         |         ${(for (mm <- 0 until 4; j <- 0 until 8) yield s"d_${mm}_$j").mkString(", ")}
         |      FROM dist WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, cells.cid,
         |         ${(0 until 4).map(mm => s"(${pqAdcTermSql(mm)})")
              .mkString(" + ")} AS adist
         |  FROM qprobe JOIN q ON qprobe.qid = q.qid
         |    JOIN cells ON qprobe.cell = cells.cell AND q.qid <> cells.cid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rank
         |      FROM scored)
         |SELECT qid, cid, round(adist, 6) AS adist, rank FROM r WHERE rank <= 3""".stripMargin,

    // two-stage IVFADC + exact re-rank: the ivfpq CTEs produce the ADC
    // shortlist (rank <= 6), the re-rank joins raw embeddings back and
    // ranks by exact cosine — the engine's stage-2 arithmetic verbatim
    "q_sim_ivfpq_rerank" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(0 until 8).map(i => s"(${ivfDistSql("embedding", i)}) AS d$i").mkString(",\n         ")},
         |         ${(for (mm <- 0 until 4; j <- 0 until 8)
              yield s"(${pqSubDistSql("embedding", mm, j)}) AS d_${mm}_$j")
              .mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id AS cid, $ivfArgminSql AS cell,
         |         ${(0 until 4).map(mm => s"(${pqArgminSql(mm)}) AS c$mm")
              .mkString(",\n         ")}
         |  FROM dist),
         |qprobe0 AS (
         |  SELECT vec_id AS qid,
         |         unnest([${(0 until 8).map(i => s"struct_pack(cell := $i, dist := d$i)").mkString(", ")}]) AS u
         |  FROM dist WHERE vec_id < 10),
         |qprobe AS (
         |  SELECT qid, cell FROM (
         |    SELECT qid, u.cell AS cell, u.dist AS dist,
         |           row_number() OVER (PARTITION BY qid ORDER BY u.dist, u.cell) AS cr
         |    FROM qprobe0)
         |  WHERE cr <= 3),
         |q AS (SELECT vec_id AS qid,
         |         ${(for (mm <- 0 until 4; j <- 0 until 8) yield s"d_${mm}_$j").mkString(", ")}
         |      FROM dist WHERE vec_id < 10),
         |adc AS (
         |  SELECT q.qid, cells.cid,
         |         ${(0 until 4).map(mm => s"(${pqAdcTermSql(mm)})")
              .mkString(" + ")} AS adist
         |  FROM qprobe JOIN q ON qprobe.qid = q.qid
         |    JOIN cells ON qprobe.cell = cells.cell AND q.qid <> cells.cid),
         |adc_r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rank
         |          FROM adc),
         |short AS (SELECT qid, cid FROM adc_r WHERE rank <= 6),
         |rr_pairs AS (
         |  SELECT s.qid, s.cid, eq.embedding AS qe, ec.embedding AS ce
         |  FROM short s JOIN embeddings eq ON eq.vec_id = s.qid
         |               JOIN embeddings ec ON ec.vec_id = s.cid),
         |rr_scored AS (
         |  SELECT qid, cid,
         |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
         |  FROM rr_pairs),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         |       FROM rr_scored)
         |SELECT qid, cid, round(cos, 6) AS cos, rank FROM rr WHERE rank <= 3""".stripMargin,

    // PQ recall@3: the ADC-ranking CTEs (q_sim_pq's shape) intersected
    // with the exact brute-force top-3 — same tail as q_sim_recall
    "q_sim_recall_pq" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(for (mm <- 0 until 4; j <- 0 until 8)
              yield s"(${pqSubDistSql("embedding", mm, j)}) AS d_${mm}_$j")
              .mkString(",\n         ")}
         |  FROM embeddings),
         |coded AS (
         |  SELECT vec_id AS cid,
         |         ${(0 until 4).map(mm => s"(${pqArgminSql(mm)}) AS c$mm")
              .mkString(",\n         ")}
         |  FROM dist),
         |q AS (SELECT * FROM dist WHERE vec_id < 10),
         |adc AS (
         |  SELECT q.vec_id AS qid, coded.cid,
         |         ${(0 until 4).map(mm => s"(${pqAdcTermSql(mm)})")
              .mkString(" + ")} AS adist
         |  FROM q JOIN coded ON q.vec_id <> coded.cid),
         |adc_r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rank
         |          FROM adc),
         |${recallTailSql("adc_r")}""".stripMargin,

    // recall@3: the ivf-probe CTEs and the brute-force CTEs, joined on
    // (qid, cid) for the hit count; recall = hits / exact-k as ONE double
    // division so both engines emit the identical IEEE value
    "q_sim_recall" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(0 until 8).map(i => s"(${ivfDistSql("embedding", i)}) AS d$i").mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id AS cid, embedding AS ce, $ivfArgminSql AS cell FROM dist),
         |qprobe0 AS (
         |  SELECT vec_id AS qid, embedding AS qe,
         |         unnest([${(0 until 8).map(i => s"struct_pack(cell := $i, dist := d$i)").mkString(", ")}]) AS u
         |  FROM dist WHERE vec_id < 10),
         |qprobe AS (
         |  SELECT qid, qe, cell FROM (
         |    SELECT qid, qe, u.cell AS cell, u.dist AS dist,
         |           row_number() OVER (PARTITION BY qid ORDER BY u.dist, u.cell) AS cr
         |    FROM qprobe0)
         |  WHERE cr <= 3),
         |ivf_scored AS (
         |  SELECT qid, cid,
         |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
         |  FROM qprobe q JOIN cells c ON q.cell = c.cell AND q.qid <> c.cid),
         |ivf_r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         |          FROM ivf_scored),
         |${recallTailSql("ivf_r")}""".stripMargin,

    // OPQ/ADC: q_sim_pq's chain with every component read through the
    // fixed signed-permutation rotation
    "q_sim_opq" ->
      s"""WITH $opqPreludeSql
         |SELECT qid, cid, round(adist, 6) AS adist, rank FROM opq_r WHERE rank <= 3""".stripMargin,

    // recall of the rotated ADC ranking vs the exact (unrotated) cosine
    // top-3 — the q_sim_recall tail over the OPQ prelude
    "q_sim_recall_opq" ->
      s"""WITH $opqPreludeSql,
         |${recallTailSql("opq_r")}""".stripMargin,

    // IMI: the two-level cells and the pair-ranked probe, exact cosine
    // inside the probed cells — every double in the engine's fold order
    "q_sim_imi" ->
      s"""WITH $imiPreludeSql
         |SELECT qid, cid, round(cos, 6) AS cos, rank FROM imi_r WHERE rank <= 3""".stripMargin,

    // IMI + PQ (Multi-D-ADC): the two-level cells and pair-ranked probe
    // composed with the PQ coding/LUT/ADC chain — q_sim_ivfpq's shape
    // with the coarse layer swapped
    "q_sim_imipq" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(for (mm <- 0 until 2; j <- 0 until 4)
            yield s"(${imiHalfDistSql("embedding", mm, j)}) AS h_${mm}_$j")
            .mkString(",\n         ")},
         |         ${(for (mm <- 0 until 4; j <- 0 until 8)
            yield s"(${pqSubDistSql("embedding", mm, j)}) AS d_${mm}_$j")
            .mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id AS cid,
         |         (${imiArgminSql(0)}) * 4 + (${imiArgminSql(1)}) AS cell,
         |         ${(0 until 4).map(mm => s"(${pqArgminSql(mm)}) AS c$mm")
            .mkString(",\n         ")}
         |  FROM dist),
         |qprobe0 AS (
         |  SELECT vec_id AS qid,
         |         unnest([${(for (u <- 0 until 4; v <- 0 until 4)
            yield s"struct_pack(cell := ${u * 4 + v}, pd := h_0_$u + h_1_$v)")
            .mkString(", ")}]) AS p
         |  FROM dist WHERE vec_id < 10),
         |qprobe AS (
         |  SELECT qid, cell FROM (
         |    SELECT qid, p.cell AS cell,
         |           row_number() OVER (PARTITION BY qid ORDER BY p.pd, p.cell) AS cr
         |    FROM qprobe0)
         |  WHERE cr <= 3),
         |q AS (SELECT vec_id AS qid,
         |         ${(for (mm <- 0 until 4; j <- 0 until 8) yield s"d_${mm}_$j").mkString(", ")}
         |      FROM dist WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, cells.cid,
         |         ${(0 until 4).map(mm => s"(${pqAdcTermSql(mm)})")
            .mkString(" + ")} AS adist
         |  FROM qprobe JOIN q ON qprobe.qid = q.qid
         |    JOIN cells ON qprobe.cell = cells.cell AND q.qid <> cells.cid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rank
         |      FROM scored)
         |SELECT qid, cid, round(adist, 6) AS adist, rank FROM r WHERE rank <= 3""".stripMargin,

    // recall of the IMI probe vs the exact brute-force top-3 — the same
    // tail as q_sim_recall over the two-level prelude
    "q_sim_recall_imi" ->
      s"""WITH $imiPreludeSql,
         |${recallTailSql("imi_r")}""".stripMargin,

    "q_sim_pq" ->
      s"""WITH dist AS (
         |  SELECT vec_id,
         |         ${(for (mm <- 0 until 4; j <- 0 until 8)
                yield s"(${pqSubDistSql("embedding", mm, j)}) AS d_${mm}_$j")
                .mkString(",\n         ")}
         |  FROM embeddings),
         |coded AS (
         |  SELECT vec_id AS cid,
         |         ${(0 until 4).map(mm => s"(${pqArgminSql(mm)}) AS c$mm")
                .mkString(",\n         ")}
         |  FROM dist),
         |q AS (SELECT * FROM dist WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.vec_id AS qid, coded.cid,
         |         ${(0 until 4).map(mm => s"(${pqAdcTermSql(mm)})")
                .mkString(" + ")} AS adist
         |  FROM q JOIN coded ON q.vec_id <> coded.cid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rank
         |      FROM scored)
         |SELECT qid, cid, round(adist, 6) AS adist, rank FROM r WHERE rank <= 3""".stripMargin,

    "q_mm_frames" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text) - 1, 64)) AS frame_off
        |  FROM documents)
        |SELECT f.doc_id, f.frame_off,
        |       CAST(ascii(substr(d.text, CAST(f.frame_off AS INT) + 1, 1)) AS BIGINT) AS frame_val
        |FROM f JOIN documents d ON f.doc_id = d.doc_id""".stripMargin,

    // the engine synthesizes a deterministic PNG per doc and must decode
    // it (inflate + unfilter all five scanline filters) to reproduce the
    // pixel sum the oracle computes arithmetically
    // GIF real-decode gate: palette + LZW + (odd ids) interlace must all
    // be exact to reproduce the closed-form RGB sum; pixel i's palette
    // index is (i*11 + id) % 256, palette entry j = ((j*7+1)%256,
    // (j*13+5)%256, (j*29+11)%256) — Gif.paletteByte verbatim
    "q_mm_gif_pixels" ->
      """SELECT doc_id,
        |  CAST(doc_id % 29 + 1 AS INT) AS width,
        |  CAST((doc_id * 3) % 19 + 1 AS INT) AS height,
        |  CAST(list_sum(list_transform(
        |    list_transform(
        |      range(0, CAST((doc_id % 29 + 1) * ((doc_id * 3) % 19 + 1) AS INT)),
        |      i -> (i * 11 + doc_id) % 256),
        |    j -> (j * 7 + 1) % 256 + (j * 13 + 5) % 256 + (j * 29 + 11) % 256))
        |    AS BIGINT) AS pix_sum
        |FROM documents""".stripMargin,

    "q_mm_png_pixels" ->
      """SELECT doc_id,
        |  CAST(doc_id % 31 + 1 AS INT) AS width,
        |  CAST((doc_id * 5) % 23 + 1 AS INT) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS channels,
        |  CAST(list_sum(list_transform(
        |    range(0, CAST((doc_id % 31 + 1) * ((doc_id * 5) % 23 + 1) *
        |      (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END) AS INT)),
        |    i -> (i * 7 + doc_id) % 256)) AS BIGINT) AS pix_sum
        |FROM documents""".stripMargin,

    // the same doc_id-derived image as q_mm_png_pixels but Adam7
    // INTERLACED: the pixel sum is identical arithmetic — matching it
    // requires reassembling all 7 reduced images (per-pass unfilter +
    // position scatter), including the empty/partial passes small dims
    // produce
    "q_mm_png_interlaced" ->
      """SELECT doc_id,
        |  CAST(doc_id % 31 + 1 AS INT) AS width,
        |  CAST((doc_id * 5) % 23 + 1 AS INT) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS channels,
        |  CAST(list_sum(list_transform(
        |    range(0, CAST((doc_id % 31 + 1) * ((doc_id * 5) % 23 + 1) *
        |      (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END) AS INT)),
        |    i -> (i * 7 + doc_id) % 256)) AS BIGINT) AS pix_sum
        |FROM documents""".stripMargin,

    // palette (1/2/4/8-bit packed indices -> PLTE RGB) and 16-bit
    // (high-byte reduction) decode variants: both pixel sums reproduced
    // arithmetically, certifying the sub-byte unpack, palette expansion,
    // and 16-bit sample walk through inflate + unfilter
    "q_mm_png_depths" ->
      """SELECT doc_id, 'palette' AS kind,
        |  CAST(CASE (doc_id // 2) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS INT) AS depth,
        |  CAST(doc_id % 13 + 1 AS INT) AS width,
        |  CAST(doc_id % 7 + 1 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  CAST(list_sum(list_transform(
        |    range(0, CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) AS INT)),
        |    i -> ((((i + doc_id) % (1 << (CASE (doc_id // 2) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END))) * 3 + 0) * 11 + 3) % 256
        |       + ((((i + doc_id) % (1 << (CASE (doc_id // 2) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END))) * 3 + 1) * 11 + 3) % 256
        |       + ((((i + doc_id) % (1 << (CASE (doc_id // 2) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END))) * 3 + 2) * 11 + 3) % 256
        |  )) AS BIGINT) AS pix_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'depth16' AS kind,
        |  CAST(16 AS INT) AS depth,
        |  CAST(doc_id % 11 + 1 AS INT) AS width,
        |  CAST(doc_id % 5 + 1 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 3 END AS INT) AS channels,
        |  CAST(list_sum(list_transform(
        |    range(0, CAST((doc_id % 11 + 1) * (doc_id % 5 + 1) *
        |      (CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 3 END) AS INT)),
        |    s -> ((s * 257 + doc_id) % 65536) // 256)) AS BIGINT) AS pix_sum
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,

    // nearest-neighbor 8x8 resize of the decoded PNG: the oracle maps
    // each output pixel back to its source index arithmetically
    "q_mm_resize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 31 + 1 AS BIGINT) AS w,
        |    CAST((doc_id * 5) % 23 + 1 AS BIGINT) AS h,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS ch
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(ch AS INT) AS channels,
        |  CAST(list_sum(list_transform(range(0, CAST(64 * ch AS INT)), i ->
        |    (((((i // (8 * ch)) * h // 8) * w + (((i % (8 * ch)) // ch) * w // 8)) * ch
        |      + (i % ch)) * 7 + doc_id) % 256
        |  )) AS BIGINT) AS pix_sum
        |FROM d""".stripMargin,

    // real PCM feature extraction: the fixture's data byte j is j % 251,
    // so sample k is (2k % 251) + 256 * ((2k+1) % 251), sign-extended —
    // the oracle recomputes mean-abs/RMS from that arithmetic
    "q_mm_audio_feats" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 50 + 1 AS BIGINT) AS frames,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ch
        |  FROM documents WHERE doc_id % 2 = 0),
        |s AS (
        |  SELECT doc_id, frames, frames * ch AS n,
        |    list_transform(range(0, CAST(frames * ch AS INT)), k ->
        |      CASE WHEN (2*k) % 251 + 256 * ((2*k+1) % 251) >= 32768
        |           THEN (2*k) % 251 + 256 * ((2*k+1) % 251) - 65536
        |           ELSE (2*k) % 251 + 256 * ((2*k+1) % 251) END) AS samples
        |  FROM d)
        |SELECT doc_id, frames AS n_frames, n AS n_samples,
        |  CAST(list_sum(list_transform(samples, x -> abs(x))) AS DOUBLE) / n AS mean_abs,
        |  sqrt(CAST(list_sum(list_transform(samples, x -> x * x)) AS DOUBLE) / n) AS rms
        |FROM s""".stripMargin,

    // FFT spectrogram gate: the engine decodes a square-wave WAV and takes
    // each 64-sample frame's peak power bin via radix-2 FFT; the oracle
    // recomputes the SAME integer answer with a direct O(n²) DFT — two
    // algorithms whose float rounding differs, agreeing on the argmax
    // because the square wave's fundamental carries ≥9× any harmonic
    "q_mm_spectrogram" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest([0, 1]) AS frame_idx FROM documents),
        |sp AS (
        |  SELECT doc_id, frame_idx, ((doc_id + frame_idx) % 15 + 1) AS f
        |  FROM fr),
        |p AS (
        |  SELECT doc_id, frame_idx,
        |    unnest(list_transform(range(1, 33), b -> struct_pack(bin := b,
        |      pw := power(list_sum(list_transform(range(0, 64), k ->
        |              (CASE WHEN (k * f) % 64 < 32 THEN 1000 ELSE -1000 END)
        |                * cos(2 * pi() * b * k / 64.0))), 2)
        |          + power(list_sum(list_transform(range(0, 64), k ->
        |              (CASE WHEN (k * f) % 64 < 32 THEN 1000 ELSE -1000 END)
        |                * sin(2 * pi() * b * k / 64.0))), 2)))) AS u
        |  FROM sp),
        |r AS (
        |  SELECT doc_id, frame_idx, u.bin AS bin,
        |    row_number() OVER (PARTITION BY doc_id, frame_idx
        |      ORDER BY u.pw DESC, u.bin) AS rn
        |  FROM p)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(bin AS INT) AS peak_bin
        |FROM r WHERE rn = 1""".stripMargin,

    // flip/rotate geometry: position-WEIGHTED sums over the mirrored and
    // 90°-rotated decodes — the weights pin every byte to its destination
    // index, so any geometry error breaks the match
    "q_mm_flip_rotate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 31 + 1 AS BIGINT) AS w,
        |    CAST((doc_id * 5) % 23 + 1 AS BIGINT) AS h,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS ch
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(ch AS INT) AS channels,
        |  CAST(list_sum(list_transform(range(0, CAST(w * h * ch AS INT)), i ->
        |    (i + 1) * (((((i // (w * ch)) * w + (w - 1 - ((i % (w * ch)) // ch))) * ch
        |      + (i % ch)) * 7 + doc_id) % 256))) AS BIGINT) AS flip_wsum,
        |  CAST(list_sum(list_transform(range(0, CAST(w * h * ch AS INT)), i ->
        |    (i + 1) * (((((h - 1 - ((i % (h * ch)) // ch)) * w + (i // (h * ch))) * ch
        |      + (i % ch)) * 7 + doc_id) % 256))) AS BIGINT) AS rot_wsum
        |FROM d""".stripMargin,

    // aHash: nearest-resize to 8x8 (the q_mm_resize index mapping), cell
    // gray = channel sum, bit j set iff 64*g_j > total (integer-exact,
    // no division); bit 63 via the MinValue literal like simhash
    "q_img_ahash" -> s"WITH $ahashCte SELECT doc_id, ahash FROM ah",

    // brute-force Hamming oracle over the same arithmetic hashes — the
    // engine's pigeonhole banding must reach the identical pair set
    "q_img_ahash_pairs" ->
      s"""WITH $ahashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.ahash, b.ahash)) AS hamming
         |FROM ah a JOIN ah b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 8""".stripMargin,

    // bilinear 8x8 resize: half-pixel-center mapping, edge clamp,
    // round-half-up. At this geometry every intermediate is a dyadic
    // rational exactly representable in a double (see Images scaladoc),
    // so BOTH engines compute the identical bytes with zero rounding —
    // the oracle spells out the full blend per output pixel
    "q_mm_resize_bilinear" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(doc_id % 31 + 1 AS BIGINT) AS w,
         |    CAST((doc_id * 5) % 23 + 1 AS BIGINT) AS h,
         |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS ch
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
         |  CAST(ch AS INT) AS channels,
         |  CAST(list_sum(list_transform(range(0, CAST(64 * ch AS INT)), i ->
         |    $biByte)) AS BIGINT) AS pix_sum
         |FROM d""".stripMargin,

    // lossless-layer JPEG gate: the engine must round-trip doc_id-derived
    // quantized coefficients through a REAL baseline stream (markers,
    // canonical Huffman, DC prediction, ZRL runs, restart markers on
    // id%5==0, dequant) — the oracle reproduces the dequantized sum
    // arithmetically with the quant-table literals baked in
    "q_mm_jpeg_coefs" -> jpegCoefOracleSql,

    // same fixture family through the PROGRESSIVE wire encoding: the
    // coefficient sum is indexing-invariant, so the one arithmetic oracle
    // certifies both entropy paths
    "q_mm_jpeg_progressive" -> jpegCoefOracleSql,

    // pixel-layer JPEG gate: DC-only fixtures (quant 16 → every block
    // decodes to an exactly-predictable flat value) through the FULL
    // decode — gray, 4:4:4, and 4:2:0 with box upsample; Y block i of MCU
    // m in encode order is i = m*4+s so chroma indexes i//4
    "q_mm_jpeg_pixels" ->
      s"""SELECT doc_id,
         |  CAST(8 * ((doc_id // 3) % 3 + 1) AS INT) AS width,
         |  CAST(8 * ((doc_id // 3) % 2 + 1) AS INT) AS height,
         |  CAST(1 AS INT) AS channels,
         |  CAST(list_sum(list_transform(
         |    range(0, CAST(((doc_id // 3) % 3 + 1) * ((doc_id // 3) % 2 + 1) AS INT)),
         |    b -> 64 * (128 + 2 * ((b*5 + doc_id) % 32 - 16)))) AS BIGINT) AS pix_sum
         |FROM documents WHERE doc_id % 3 = 0
         |UNION ALL
         |SELECT doc_id,
         |  CAST(8 * (doc_id % 2 + 1) AS INT) AS width,
         |  CAST(8 * ((doc_id // 2) % 2 + 1) AS INT) AS height,
         |  CAST(3 AS INT) AS channels,
         |  CAST(list_sum(list_transform(
         |    range(0, CAST((doc_id % 2 + 1) * ((doc_id // 2) % 2 + 1) AS INT)),
         |    b -> 64 * ${jpegRgbSum("128 + 2 * ((b*5 + doc_id) % 32 - 16)",
                "2 * ((b*7 + doc_id) % 24 - 12)", "2 * ((b*11 + doc_id) % 24 - 12)")}
         |  )) AS BIGINT) AS pix_sum
         |FROM documents WHERE doc_id % 3 = 1
         |UNION ALL
         |SELECT doc_id,
         |  CAST(16 * (doc_id % 2 + 1) AS INT) AS width,
         |  CAST(16 * ((doc_id // 2) % 2 + 1) AS INT) AS height,
         |  CAST(3 AS INT) AS channels,
         |  CAST(list_sum(list_transform(
         |    range(0, CAST(4 * (doc_id % 2 + 1) * ((doc_id // 2) % 2 + 1) AS INT)),
         |    i -> 64 * ${jpegRgbSum("128 + 2 * ((i*5 + doc_id) % 32 - 16)",
                "2 * (((i//4)*7 + doc_id) % 24 - 12)", "2 * (((i//4)*11 + doc_id) % 24 - 12)")}
         |  )) AS BIGINT) AS pix_sum
         |FROM documents WHERE doc_id % 3 = 2""".stripMargin,

    // video gate: MJPEG-in-AVI container parse + every-2nd-frame sampling
    // + per-frame JPEG decode; the fixture's frames are gray DC-only
    // (quant 16 → flat blocks), frame f shifting the DC ramp by 3*f, so
    // the oracle reproduces each sampled frame's pixel sum arithmetically
    "q_mm_video_frames" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 7 + 2 AS BIGINT) AS nf,
        |    CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS w,
        |    CAST(8 * ((doc_id // 2) % 2 + 1) AS BIGINT) AS h,
        |    CAST(33333 + (doc_id % 5) * 1000 AS BIGINT) AS uspf
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, nf, w, h, uspf,
        |    unnest(range(0, CAST(nf AS INT), 2)) AS fi
        |  FROM d)
        |SELECT doc_id,
        |  CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(1 AS INT) AS channels,
        |  CAST(list_sum(list_transform(range(0, CAST((w // 8) * (h // 8) AS INT)),
        |    b -> 64 * (128 + 2 * ((b * 5 + doc_id + 3 * fi) % 32 - 16))
        |  )) AS BIGINT) AS pix_sum,
        |  CAST(nf AS INT) AS n_frames,
        |  CAST(uspf AS INT) AS us_per_frame
        |FROM f""".stripMargin,

    "q_sim_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |pairs AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
         |  FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT qid, cid,
         |         ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) AS cos
         |  FROM pairs),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         |      FROM scored)
         |SELECT qid, cid, round(cos, 6) AS cos, rank FROM r WHERE rank <= 3""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]', 0)) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  round(CAST(len(list_filter(string_split(text, ' '), t -> t IN $stopEn)) AS DOUBLE)
         |        / len(string_split(text, ' ')), 6) AS stop_ratio,
         |  round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |        / length(text), 6) AS punct_ratio,
         |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |        / len(string_split(text, ' ')), 6) AS avg_tok_len
         |FROM documents""".stripMargin,

    "q_text_langid" -> langIdOracle,

    "q_text_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(w) >= 5 THEN
        |    list_min(list_transform(generate_series(1, len(w) - 4),
        |      i -> md5(array_to_string(w[i:i+4], ' '))))
        |  ELSE md5(text) END AS fingerprint
        |FROM t""".stripMargin,

    // BM25 over query terms (scan, join, window), k1=1.2 b=0.75: every
    // constant is combined with the same literal-by-literal IEEE ops as
    // the engine (1.2 + 1.0, never 2.2) and per-term contributions are
    // summed in fixed query order, so the doubles match bit-for-bit
    // before the shared round(6)
    "q_text_bm25" ->
      """WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
        |  FROM tok WHERE tok IN ('scan', 'join', 'window')
        |  GROUP BY doc_id, tok),
        |dfx AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        |contrib AS (
        |  SELECT tf.doc_id, tf.tok,
        |    ln((s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0) * tf.tf * (1.2 + 1.0) /
        |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS c
        |  FROM tf
        |  JOIN dfx USING (tok)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats s),
        |per AS (
        |  SELECT doc_id,
        |    sum(c) FILTER (WHERE tok = 'scan') AS s0,
        |    sum(c) FILTER (WHERE tok = 'join') AS s1,
        |    sum(c) FILTER (WHERE tok = 'window') AS s2
        |  FROM contrib GROUP BY doc_id),
        |sc AS (
        |  SELECT doc_id,
        |    coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0) AS score
        |  FROM per),
        |r AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM sc)
        |SELECT doc_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 20""".stripMargin,

    // both gram widths are rebuilt by the same list-comprehension shape
    // the engine uses (positions 1..len-(n-1), space-joined slices); the
    // fractions are integer-count divisions, exact in both engines
    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, 2 AS n,
        |    unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM t
        |  UNION ALL
        |  SELECT doc_id, 3 AS n,
        |    unnest(list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |  FROM t),
        |c AS (SELECT doc_id, n, g, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id,
        |        max(CASE WHEN n = 2 THEN cnt END) AS m2,
        |        sum(CASE WHEN n = 2 THEN cnt END) AS t2,
        |        sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END) AS d3,
        |        sum(CASE WHEN n = 3 THEN cnt END) AS t3
        |      FROM c GROUP BY 1)
        |SELECT doc_id,
        |  round(CAST(m2 AS DOUBLE) / t2, 6) AS top_bigram_frac,
        |  round(CAST(coalesce(d3, 0) AS DOUBLE) / t3, 6) AS dup_trigram_frac
        |FROM a""".stripMargin,

    // scrub patterns restricted to the regex subset Java and RE2 agree
    // on; replacement order URL -> email -> id, counts on pre-scrub text
    "q_text_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, 'https?://[^\s]+', 0)) AS n_urls,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]{9,}', 0)) AS n_ids,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{9,}', '<ID>', 'g')) AS scrub_sig
        |FROM documents""".stripMargin,

    // eval set = every 97th doc (drawn from the corpus, so overlaps are
    // guaranteed); 5-gram positions of train docs matched against the
    // eval set's distinct grams
    "q_pipe_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
        |  FROM t),
        |eg AS (SELECT DISTINCT g FROM tg WHERE doc_id % 97 = 0),
        |hits AS (SELECT tg.doc_id, count(*) AS n_hits FROM tg JOIN eg USING (g) GROUP BY 1)
        |SELECT t.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin,

    "q_text_tok_freq" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        |j AS (SELECT doc_id, cnt FROM tok JOIN c USING (tok)),
        |a AS (SELECT doc_id, count(*) AS m, sum(cnt) AS s, min(cnt) AS min_freq,
        |        sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS hapax
        |      FROM j GROUP BY 1)
        |SELECT doc_id, round(CAST(s AS DOUBLE) / m, 6) AS mean_freq, min_freq,
        |  round(CAST(hapax AS DOUBLE) / m, 6) AS hapax_ratio
        |FROM a""".stripMargin,

    "q_pipe_source_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
        |      AS rank_in_source
        |  FROM documents)
        |SELECT doc_id, source, rank_in_source FROM r WHERE rank_in_source <= 5""".stripMargin,

    // fixed-weight logistic quality classifier: exact-rational features
    // into exp/ln (within 1 ulp in both engines), absorbed by round(6)
    "q_text_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS avg_tok_len
        |  FROM documents)
        |SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(-1.0 + 4.0 * stop_ratio - 8.0 * punct_ratio
        |    + 0.35 * ln(n_tok) - 0.15 * avg_tok_len))), 6) AS quality_score
        |FROM f""".stripMargin,

    // Levenshtein verification over the bounded jaccard candidates: both
    // engines implement the classic DP, so distances are integer-equal
    "q_dedup_editdist" ->
      """WITH tokd AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 100),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY doc_id),
        |it AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM tokd a JOIN tokd b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM it
        |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
        |SELECT p.doc_a, p.doc_b,
        |  levenshtein(da.text, db.text) AS edit_dist,
        |  round(CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |    / greatest(length(da.text), length(db.text)), 6) AS edit_ratio
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.doc_a
        |JOIN documents db ON db.doc_id = p.doc_b""".stripMargin,

    // markup strip: same regex chain (inline (?is)/(?s) flags — the
    // subset Java and RE2 agree on), same entity order, over the same
    // deterministic HTML wrap both engines build from doc_id + text
    "q_pipe_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<div class="d' || doc_id ||
        |    '"><SCRIPT>var a=1<2;</SCRIPT><STYLE type="x">p{}</STYLE><p>Start '
        |      || text || ' &amp; <b>end</b></p></div>' AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, t,
        |  regexp_replace(t, '(?is)<(script|style)\b.*?</(script|style)\s*>', ' ', 'g') AS a
        |  FROM h),
        |s2 AS (SELECT doc_id, t, regexp_replace(a, '(?s)<[^>]+>', ' ', 'g') AS b FROM s1),
        |s3 AS (SELECT doc_id, t,
        |  replace(replace(replace(replace(replace(replace(b,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&') AS c
        |  FROM s2),
        |s4 AS (SELECT doc_id, t, trim(regexp_replace(c, '\s+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '(?s)<[^>]+>', 0)) AS n_tags,
        |  length(clean) AS n_chars_clean,
        |  md5(clean) AS clean_sig
        |FROM s4""".stripMargin,

    // stratified sampling: the 16-bit md5 bucket and per-source fraction
    // thresholds reproduced exactly (integer bucket < fraction * 65536)
    "q_pipe_stratified" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    CAST(${(1 to 4).map(i =>
                s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (4 - i))}")
                .mkString("(", " + ", ")")} AS BIGINT) AS bucket
         |  FROM documents)
         |SELECT doc_id, source, bucket FROM b
         |WHERE bucket < (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
         |  WHEN 'src2' THEN 0.0 ELSE 0.75 END) * 65536.0""".stripMargin,

    "q_pipe_split" ->
      """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // the composed pipeline, assembled from the SAME oracle fragments
    // the per-operator gates use (strip chain of q_pipe_strip, scrub of
    // q_text_scrub, langIdSql, quality of q_text_quality_score,
    // repetition of q_text_repetition) over the shared HTML wrap, then
    // keep-smallest dedup — so a drift in ANY stage of the composition
    // breaks this gate even if the per-operator gates still pass
    // the audit: same chain, but EVERY raw doc classified by the first
    // stage that would drop it (CASE precedence = the pipeline's filter
    // order), then a per-stage count
    "q_pipe_audit" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '<div class="d' || doc_id ||
         |    '"><SCRIPT>var a=1<2;</SCRIPT><STYLE type="x">p{}</STYLE><p>Start '
         |      || text || ' &amp; <b>end</b></p></div>' AS t
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |  regexp_replace(t, '(?is)<(script|style)\\b.*?</(script|style)\\s*>', ' ', 'g') AS a
         |  FROM h),
         |s2 AS (SELECT doc_id, regexp_replace(a, '(?s)<[^>]+>', ' ', 'g') AS b FROM s1),
         |s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(b,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&nbsp;', ' '), '&amp;', '&') AS c FROM s2),
         |s4 AS (SELECT doc_id, trim(regexp_replace(c, '\\s+', ' ', 'g')) AS clean FROM s3),
         |scr AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(clean,
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{9,}', '<ID>', 'g') AS text
         |  FROM s4),
         |base AS (SELECT doc_id, text FROM scr WHERE length(text) > 0),
         |lng AS (${langIdSql("base")}),
         |q AS (
         |  SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-1.0
         |      + 4.0 * (CAST(len(list_filter(string_split(text, ' '),
         |          x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
         |        / len(string_split(text, ' ')))
         |      - 8.0 * (CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |        / length(text))
         |      + 0.35 * ln(CAST(len(string_split(text, ' ')) AS DOUBLE))
         |      - 0.15 * (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |        / len(string_split(text, ' ')))))), 6) AS quality_score
         |  FROM base),
         |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
         |gg AS (
         |  SELECT doc_id, 2 AS n, unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1])) AS g FROM tw
         |  UNION ALL
         |  SELECT doc_id, 3 AS n, unnest(list_transform(generate_series(1, len(w) - 2),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM tw),
         |cc AS (SELECT doc_id, n, g, count(*) AS cnt FROM gg GROUP BY 1, 2, 3),
         |rep AS (SELECT doc_id,
         |    round(CAST(max(CASE WHEN n = 2 THEN cnt END) AS DOUBLE)
         |      / sum(CASE WHEN n = 2 THEN cnt END), 6) AS top_bigram_frac,
         |    round(CAST(coalesce(sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END), 0) AS DOUBLE)
         |      / sum(CASE WHEN n = 3 THEN cnt END), 6) AS dup_trigram_frac
         |  FROM cc GROUP BY 1),
         |staged AS (
         |  SELECT s.doc_id,
         |    CASE WHEN s.text IS NULL OR length(s.text) = 0 THEN 'empty'
         |         WHEN l.lang_pred <> 'en' THEN 'off_language'
         |         WHEN q.quality_score < 0.5 THEN 'low_quality'
         |         WHEN coalesce(r.top_bigram_frac, 0) > 0.04
         |           OR coalesce(r.dup_trigram_frac, 0) > 0.9 THEN 'repetitive'
         |         ELSE 'pass' END AS stage
         |  FROM scr s
         |  LEFT JOIN lng l USING (doc_id)
         |  LEFT JOIN q USING (doc_id)
         |  LEFT JOIN rep r USING (doc_id))
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs
         |FROM staged GROUP BY stage""".stripMargin,

    "q_pipe_curate" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '<div class="d' || doc_id ||
         |    '"><SCRIPT>var a=1<2;</SCRIPT><STYLE type="x">p{}</STYLE><p>Start '
         |      || text || ' &amp; <b>end</b></p></div>' AS t
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |  regexp_replace(t, '(?is)<(script|style)\\b.*?</(script|style)\\s*>', ' ', 'g') AS a
         |  FROM h),
         |s2 AS (SELECT doc_id, regexp_replace(a, '(?s)<[^>]+>', ' ', 'g') AS b FROM s1),
         |s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(b,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&nbsp;', ' '), '&amp;', '&') AS c FROM s2),
         |s4 AS (SELECT doc_id, trim(regexp_replace(c, '\\s+', ' ', 'g')) AS clean FROM s3),
         |base AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(clean,
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{9,}', '<ID>', 'g') AS text
         |  FROM s4
         |  WHERE length(regexp_replace(regexp_replace(regexp_replace(clean,
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{9,}', '<ID>', 'g')) > 0),
         |lng AS (${langIdSql("base")}),
         |q AS (
         |  SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-1.0
         |      + 4.0 * (CAST(len(list_filter(string_split(text, ' '),
         |          x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
         |        / len(string_split(text, ' ')))
         |      - 8.0 * (CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |        / length(text))
         |      + 0.35 * ln(CAST(len(string_split(text, ' ')) AS DOUBLE))
         |      - 0.15 * (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |        / len(string_split(text, ' ')))))), 6) AS quality_score
         |  FROM base),
         |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
         |gg AS (
         |  SELECT doc_id, 2 AS n, unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1])) AS g FROM tw
         |  UNION ALL
         |  SELECT doc_id, 3 AS n, unnest(list_transform(generate_series(1, len(w) - 2),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM tw),
         |cc AS (SELECT doc_id, n, g, count(*) AS cnt FROM gg GROUP BY 1, 2, 3),
         |rep AS (SELECT doc_id,
         |    round(CAST(max(CASE WHEN n = 2 THEN cnt END) AS DOUBLE)
         |      / sum(CASE WHEN n = 2 THEN cnt END), 6) AS top_bigram_frac,
         |    round(CAST(coalesce(sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END), 0) AS DOUBLE)
         |      / sum(CASE WHEN n = 3 THEN cnt END), 6) AS dup_trigram_frac
         |  FROM cc GROUP BY 1),
         |kept AS (
         |  SELECT b.doc_id, b.text, l.lang_pred, q.quality_score
         |  FROM base b JOIN lng l USING (doc_id) JOIN q USING (doc_id)
         |  LEFT JOIN rep r USING (doc_id)
         |  WHERE l.lang_pred = 'en' AND q.quality_score >= 0.2
         |    AND (r.top_bigram_frac IS NULL OR r.top_bigram_frac <= 0.5)
         |    AND (r.dup_trigram_frac IS NULL OR r.dup_trigram_frac <= 0.9)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
         |  FROM kept)
         |SELECT doc_id, text, lang_pred AS lang, quality_score FROM rk WHERE rk = 1""".stripMargin,

    // sliding-window chunking: same window arithmetic (ceil-div chunk
    // count, 1-based clamped slices), 64-token windows at stride 32
    "q_pipe_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 64 THEN 0
        |           ELSE CAST(floor((n - 64 + 31) / 32.0) AS BIGINT) END)) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(w[chunk_idx * 32 + 1 : chunk_idx * 32 + 64], ' ')
        |    AS chunk_text,
        |  least(64, n - chunk_idx * 32) AS n_tok
        |FROM c""".stripMargin,

    // concat-then-chunk packing: the same md5 total order and global
    // prefix sum (two-pass bucketed scan = one window over a unique
    // order — no ties, so ROWS/RANGE framing agree), floor-divided into
    // 256-token sequences
    "q_pipe_pack" ->
      """WITH t AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ord,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    sum(n_tok) OVER (ORDER BY ord, doc_id) AS cum
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS seq_id
        |FROM c""".stripMargin,

    // temperature mixture: n^alpha shares and (n/n_min)^(alpha-1) keep
    // fractions; pow within 1 ulp in both engines, absorbed by round(6)
    "q_pipe_temperature" ->
      """WITH n AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY source),
        |d AS (SELECT sum(pow(n, 0.5)) AS denom, min(n) AS n_min FROM n)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  round(pow(n, 0.5) / denom, 6) AS target_share,
        |  round(pow(n / n_min, -0.5), 6) AS keep_frac
        |FROM n CROSS JOIN d""".stripMargin,

    // Gopher rules: identical integer counts (word/line/symbol tallies)
    // and integer-threshold verdicts — no float anywhere in the operator
    "q_pipe_gopher" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |         THEN text || chr(10) || '- bullet item' || chr(10) || 'and the rest go on...'
         |         ELSE text END AS text
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws,
         |    string_split(text, chr(10)) AS lines
         |  FROM t),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS total_word_len,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |                         s -> list_contains(ws, s))) AS BIGINT) AS n_stop_words,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         |    CAST((length(text) - length(replace(text, '...', ''))) // 3
         |       + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS n_ellipsis,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
         |      OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•'))) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS n_ellipsis_end_lines
         |  FROM w)
         |SELECT *,
         |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
         |  3 * n_words <= total_word_len AND total_word_len <= 10 * n_words AS r_mean_word_len,
         |  10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words AS r_symbol_ratio,
         |  10 * n_bullet_lines <= 9 * n_lines AS r_bullet_lines,
         |  10 * n_ellipsis_end_lines <= 3 * n_lines AS r_ellipsis_lines,
         |  5 * n_alpha_words >= 4 * n_words AS r_alpha_words,
         |  n_stop_words >= 2 AS r_stop_words,
         |  (n_words >= 50 AND n_words <= 100000)
         |    AND (3 * n_words <= total_word_len AND total_word_len <= 10 * n_words)
         |    AND 10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words
         |    AND 10 * n_bullet_lines <= 9 * n_lines
         |    AND 10 * n_ellipsis_end_lines <= 3 * n_lines
         |    AND 5 * n_alpha_words >= 4 * n_words
         |    AND n_stop_words >= 2 AS keep
         |FROM m""".stripMargin,

    // A-Res weighted reservoir: the engine's kept set is "the k smallest
    // (−ln(u)/w, doc_id)" per group — a rank the oracle reproduces from
    // the same 60-bit md5 u; ln within 1 ulp, absorbed by the compare's
    // round(9)
    "q_pipe_weighted_sample" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    -ln((${hexN("md5(CAST(doc_id AS VARCHAR))", 15)} + 1)
         |        / 1152921504606846976.0)
         |      / CAST(n_chars AS DOUBLE) AS draw
         |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
         |r AS (SELECT source, doc_id, draw,
         |        row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) AS rk
         |      FROM d)
         |SELECT source, doc_id, draw FROM r WHERE rk <= 8""".stripMargin,

    // DSIR unigram importance weights: add-one-smoothed log-likelihood
    // ratio under target (doc_id % 53 = 0) vs raw unigram models, mean
    // per doc; ln within 1 ulp, absorbed by round(6)
    "q_pipe_dsir" ->
      """WITH rawtok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tgttok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |  WHERE doc_id % 53 = 0),
        |cr AS (SELECT tok, count(*) AS cr FROM rawtok GROUP BY tok),
        |ct AS (SELECT tok, count(*) AS ct FROM tgttok GROUP BY tok),
        |s AS (
        |  SELECT (SELECT count(*) FROM rawtok) AS n_r,
        |    (SELECT count(*) FROM tgttok) AS n_t,
        |    (SELECT count(DISTINCT tok) FROM
        |      (SELECT tok FROM cr UNION SELECT tok FROM ct)) AS v),
        |sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    round(sum(
        |      ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / (s.n_t + s.v)) -
        |      ln(CAST(cr.cr + 1 AS DOUBLE) / (s.n_r + s.v))
        |    ) / count(*), 6) AS dsir_logratio
        |  FROM rawtok JOIN cr USING (tok) LEFT JOIN ct USING (tok) CROSS JOIN s
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.n_tok, 0) AS n_tok,
        |  coalesce(sc.dsir_logratio, 0.0) AS dsir_logratio
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    // within-label pairs only (the SemDeDup cluster restriction); cosine
    // terms in the same left-associated order as the engine's fold
    "q_sim_semdedup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |         a.embedding AS qe, b.embedding AS ce
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
         |dropped AS (
         |  SELECT DISTINCT vb FROM pairs
         |  WHERE ($dotTerms) / (sqrt(${selfDot("qe")}) * sqrt(${selfDot("ce")})) >= 0.3)
         |SELECT vec_id, label FROM e
         |WHERE vec_id NOT IN (SELECT vb FROM dropped)""".stripMargin,

    // incremental SemDeDup: the 3-batch history replayed in chained CTEs
    // against the fixed centroids — kept set k0 feeds batch 1's check,
    // k0+k1 feed batch 2's; within-batch drops key on any smaller-id
    // same-cell peer (the engine's monotone rule, peer fate ignored)
    "q_sim_semdedup_incremental" ->
      s"""WITH dist AS (
         |  SELECT vec_id, embedding,
         |         ${(0 until 8).map(i => s"(${ivfDistSql("embedding", i)}) AS d$i").mkString(",\n         ")}
         |  FROM embeddings),
         |cells AS (SELECT vec_id, embedding, $ivfArgminSql AS cell FROM dist),
         |b0 AS (SELECT * FROM cells WHERE vec_id % 3 = 0),
         |k0 AS (
         |  SELECT * FROM b0 v WHERE NOT EXISTS (
         |    SELECT 1 FROM b0 w WHERE w.cell = v.cell AND w.vec_id < v.vec_id
         |      AND ${cosSql("w.embedding", "v.embedding")} >= 0.3)),
         |b1 AS (SELECT * FROM cells WHERE vec_id % 3 = 1),
         |k1 AS (
         |  SELECT * FROM b1 v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM k0 u WHERE u.cell = v.cell
         |      AND ${cosSql("u.embedding", "v.embedding")} >= 0.3)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM b1 w WHERE w.cell = v.cell AND w.vec_id < v.vec_id
         |      AND ${cosSql("w.embedding", "v.embedding")} >= 0.3)),
         |kept01 AS (SELECT cell, embedding FROM k0 UNION ALL SELECT cell, embedding FROM k1),
         |b2 AS (SELECT * FROM cells WHERE vec_id % 3 = 2),
         |k2 AS (
         |  SELECT * FROM b2 v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM kept01 u WHERE u.cell = v.cell
         |      AND ${cosSql("u.embedding", "v.embedding")} >= 0.3)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM b2 w WHERE w.cell = v.cell AND w.vec_id < v.vec_id
         |      AND ${cosSql("w.embedding", "v.embedding")} >= 0.3))
         |SELECT 0 AS batch, vec_id FROM k0
         |UNION ALL SELECT 1 AS batch, vec_id FROM k1
         |UNION ALL SELECT 2 AS batch, vec_id FROM k2""".stripMargin,

    "q_mm_decode" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  'raw' AS format,
        |  CAST(octet_length(encode(text)) % 256 + 1 AS INT) AS width,
        |  CAST((octet_length(encode(text)) * 7) % 256 + 1 AS INT) AS height,
        |  3 AS channels
        |FROM documents""".stripMargin,

    // the engine SYNTHESIZES real WAV/BMP bytes from doc_id and must parse
    // them back through the genuine header parsers; the oracle reproduces
    // the expected fields from the same generation arithmetic — a parse
    // bug (endianness, offsets, chunk walk) breaks the match
    "q_mm_decode_real" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 44 + (doc_id % 50 + 1) * (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END) * 2
        |    ELSE 54 + ((3 * (doc_id % 64 + 1) + 3) // 4) * 4 * ((doc_id * 3) % 48 + 1)
        |  END AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 50 + 1
        |       ELSE doc_id % 64 + 1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 3)
        |       ELSE (doc_id * 3) % 48 + 1 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)
        |       ELSE 3 END AS INT) AS channels
        |FROM documents""".stripMargin
  )

  /** The persisted IVF index — one-shot build AND the incremental
    * multi-batch history — must answer EXACTLY like the in-memory probe
    * over the same fixed quantizer: one oracle serves all three gates. */
  val oracle: Map[String, String] =
    oracleBase +
      ("q_sim_ivf_index" -> oracleBase("q_sim_ivf")) +
      ("q_sim_ivf_incremental" -> oracleBase("q_sim_ivf")) +
      // cell assignment AND PQ encoding are per-vector (history-agnostic),
      // so the appendable IVF-PQ history must answer exactly like the
      // immutable one-shot build — the ivfpq oracle serves both
      ("q_sim_ivfpq_incremental" -> oracleBase("q_sim_ivfpq")) +
      // the two-level cell is per-vector (history-agnostic), so the
      // IMI-quantized incremental index shares the one-shot probe oracle
      ("q_sim_imi_incremental" -> oracleBase("q_sim_imi")) +
      // min-k per cell is a semilattice: the incremental state equals the
      // one-shot sample over the union, so they share one oracle
      ("q_pipe_diversity_incremental" -> oracleBase("q_pipe_diversity_sample"))
}
