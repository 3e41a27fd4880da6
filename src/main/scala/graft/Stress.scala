package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pipeline-operator scale probe beyond the driver testdata: synthesizes a
  * corpus with a REALISTIC vocabulary (the sf* documents table has a
  * 31-token vocabulary — the degenerate hot-bucket worst case for LSH;
  * this generates ~`vocab` distinct tokens with a skewed frequency mix)
  * and embeddings, then times the dedup/similarity operators at
  * `STRESS_DOCS` documents (default 100k — 20x the sf0.1 gate scale).
  *
  * Prints one JSON line like Bench. Everything is deterministic
  * (hash-derived), no RNG state.
  *
  * Usage: STRESS_DOCS=100000 sbt "runMain graft.Stress"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("STRESS_DOCS", "100000").toLong
    val vocab = sys.env.getOrElse("STRESS_VOCAB", "50000").toLong
    val tokensPerDoc = 200
    val dupPct = 5 // % of docs that are exact duplicates of an earlier doc
    val spark = GraftSession.create()

    // skewed vocabulary: token k for slot (doc, i) = xxhash64 mixed, then
    // squared-fraction skew so low ids dominate (Zipf-ish head)
    def tokenCol(doc: org.apache.spark.sql.Column, i: Int) = {
      val h = abs(xxhash64(doc, lit(i)))
      val frac = (h % 1000000L).cast("double") / 1000000.0
      concat(lit("t"), ((frac * frac) * vocab).cast("long"))
    }
    // dupPct% of docs replicate the content of doc_id - nDocs/20
    val base = spark.range(nDocs)
      .withColumn("src",
        when(col("id") % 100 < dupPct && col("id") >= nDocs / 20,
          col("id") - nDocs / 20).otherwise(col("id")))
    val docs = base.select(col("id").as("doc_id"),
      concat_ws(" ", (0 until tokensPerDoc).map(i => tokenCol(col("src"), i)): _*).as("text"))
      .cache()
    val emb = spark.range(nDocs / 10).select(col("id").as("vec_id"),
      array((0 until 64).map(d =>
        ((abs(xxhash64(col("id"), lit(d))) % 2000L).cast("double") / 1000.0 - 1.0)
          .cast("float")): _*).as("embedding"))
      .cache()
    println(s"corpus: ${docs.count()} docs, ${emb.count()} embeddings, " +
      s"${docs.select(explode(split(col("text"), " "))).distinct().count()} distinct tokens")

    // synthetic event stream for the analytics operators: ~10 events per
    // doc across nDocs/10 users over 30 days (hash-derived, no RNG)
    val users = math.max(nDocs / 10, 100L)
    val events = spark.range(nDocs * 10).select(
      col("id").as("event_id"),
      pmod(abs(xxhash64(col("id"))), lit(users)).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("error"), lit("signup")),
        (pmod(abs(xxhash64(col("id"), lit(1))), lit(5)) + 1).cast("int")).as("event_type"),
      timestamp_millis(lit(1704067200000L) +
        pmod(abs(xxhash64(col("id"), lit(2))), lit(30L * 86400000L))).as("ts"),
      (col("id") % 100).cast("double").as("value")).cache()

    import graft.pipeline.{Audio, Bpe, CharLm, CountMin, Curation, CurationPipeline, Dedup, Events, Images, Similarity, Sketches, TextAnalysis}
    // STRESS_ONLY=a,b restricts the probe set for targeted re-measurement
    val only = sys.env.get("STRESS_ONLY").map(_.split(",").toSet)
    def timed(name: String)(f: => Long): (String, Double, Long) = {
      if (!only.forall(_.contains(name))) (name, 0.0, -1L)
      else {
        val t0 = System.nanoTime()
        val n = f
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS $name%-22s $dt%7.2f s   rows=$n")
        (name, dt, n)
      }
    }
    // force EVERY output column: a bare count() lets Catalyst prune the
    // computed columns out of the plan entirely, timing a shell of the
    // operator (a 1M-doc langId "ran" in 0.3s that way). Hashing the
    // full row into a sum makes the timed number the real work.
    def force(df: DataFrame): Long =
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(count(lit(1)), sum(col("h"))).head().getLong(0)
    val lshPairs = Dedup.minHashLsh(docs, 16, 4).cache()
    // set by the *_build probes, consumed by the later probes of the same
    // family: include ivf_inc_build (resp. ivfpq_build) in STRESS_ONLY
    // whenever measuring ivf_inc_search*/ivf_inc_grow (resp. ivfpq_search)
    var stressIvf: String = null
    var stressIvfPq: String = null
    var stressIvfPqInc: String = null
    // a SigIndex with `n` live batch dirs (100 (doc_id, bv) rows each),
    // synthesized by ONE partitioned write renamed into batch-<name> dirs
    // and landed by one append commit — builds in seconds where n
    // sequential appends would take minutes; memoized per n, untimed (setup)
    val sigDirCache = scala.collection.mutable.Map.empty[Int, String]
    def sigDirs(n: Int): String = sigDirCache.getOrElseUpdate(n, {
      val dir = java.nio.file.Files.createTempDirectory(s"stress_sig$n").toString
      val stage = s"$dir/_stage"
      spark.range(n * 100L).select(
          (col("id") / 100).cast("int").as("b"),
          col("id").as("doc_id"),
          xxhash64(col("id")).as("bv"))
        .write.partitionBy("b").parquet(stage)
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.pipeline.SigIndex.appendAll(spark, dir, (0 until n).map(i => s"m$i")) { (name, out) =>
        f.rename(new org.apache.hadoop.fs.Path(stage, s"b=${name.drop(1)}"), out)
      }
      f.delete(new org.apache.hadoop.fs.Path(stage), true)
      dir
    })
    // lazy: built (untimed) only when a store_* probe actually runs
    lazy val stressStore: String = {
      val pts = graft.model.Points.withSig(events.select(
        col("event_type").as("name"),
        map(lit("user"), col("user_id").cast("string")).as("labels"),
        unix_millis(col("ts")).as("t"), col("value")))
      val dir = java.nio.file.Files.createTempDirectory("stress_store").toString
      graft.sources.PointsStore.append(pts, dir)
      dir
    }
    // incremental SemDeDup: two sequential half-corpus batches against a
    // fresh k-cell IvfIndex kept-set — times assignment + the cell-pruned
    // kept-vector cosine + the per-cell peer join + the survivor append
    def semDedupIncProbe(suffix: String, k: Int): (String, Double, Long) =
      timed(s"semdedup_inc$suffix") {
        val dir = java.nio.file.Files
          .createTempDirectory(s"stress_sdd$suffix").toString + "/idx"
        graft.pipeline.IvfIndex.init(spark, dir, Similarity.fixedCentroids(k, 64))
        val n0 = Similarity.semDeDupIncremental(
          emb.where(col("vec_id") % 2 === 0), dir, "s0", 0.95).count()
        val n1 = Similarity.semDeDupIncremental(
          emb.where(col("vec_id") % 2 === 1), dir, "s1", 0.95).count()
        n0 + n1
      }
    val results = Seq(
      timed("exact_dedup")(force(Dedup.exact(docs).where(col("n_dups") > 1))),
      timed("minhash_lsh")(lshPairs.count()),
      timed("cluster_components")(force(Dedup.components(lshPairs))),
      timed("simhash_pairs")(force(Dedup.simHashPairs(docs, 2))),
      timed("lang_id")(force(TextAnalysis.langId(docs))),
      timed("ann_multiprobe")(force(Similarity.annTopK(emb,
        emb.where(col("vec_id") < 100), 10, bits = 8, probes = 4))),
      timed("ivf_topk")(force(Similarity.ivfTopK(emb, emb.where(col("vec_id") < 100),
        10, k = 32, nProbe = 4, trainLimit = 20000))),
      // curation family: sourceCap runs against a SKEWED domain mix (20%
      // of the corpus in one source — the window's worst case), semDeDup
      // against 100 clusters of ~nDocs/1000 vectors each
      timed("repetition")(force(Curation.repetition(docs))),
      timed("scrub")(force(Curation.scrub(docs))),
      timed("source_cap")(force(Curation.sourceCap(
        docs.withColumn("source", concat(lit("s"),
          when(col("doc_id") % 5 === 0, lit(0)).otherwise(col("doc_id") % 997))),
        10))),
      timed("hash_split")(force(Curation.hashSplit(docs))),
      timed("semdedup")(force(Similarity.semDeDup(
        emb.withColumn("label", (col("vec_id") % 100).cast("int")), 0.9))),
      // round-7 additions
      timed("dup_spans")(force(Dedup.dupSpans(docs, 8))),
      timed("bpe_encode")(force(Bpe.encode(docs, Bpe.demoMerges))),
      // round-8: training at a production-shaped merge count — ONE corpus
      // aggregation, then the vocab-sized word table trains locally
      timed("bpe_train_1k")(Bpe.train(docs, nMerges = 1024).length.toLong),
      timed("cmsketch")(force(CountMin.estimate(docs,
        Seq("t1", "t100", "t5000", "t49000", "zzz_absent")))),
      timed("ahash")(force(Images.aHashStats(spark, docs))),
      timed("spectrogram")(force(Audio.wavSpectrogramStats(spark, docs))),
      // late round-7 additions: the global-prefix-sum packer, the
      // source-keyed mixture weights (same skewed source mix as
      // source_cap), and DSIR weights vs a ~0.5% target slice
      timed("pack_sequences")(force(Curation.packSequences(docs, 4096L))),
      timed("temperature_mix")(force(Curation.temperatureMix(
        docs.withColumn("source", concat(lit("s"),
          when(col("doc_id") % 5 === 0, lit(0)).otherwise(col("doc_id") % 997))),
        0.5))),
      timed("dsir_weights")(force(Curation.importanceWeights(docs,
        docs.where(col("doc_id") % 199 === 0)))),
      timed("charlm")(force(CharLm.score(docs))),
      timed("curate_pipeline")(force(CurationPipeline.curate(docs,
        CurationPipeline.Config(langs = Set("en"), minQuality = 0.0,
          maxTopBigramFrac = 1.0, maxDupTrigramFrac = 1.0)))),
      timed("chunk_windows")(force(Curation.chunk(docs, 64, 32))),
      timed("fingerprint")(force(TextAnalysis.fingerprint(docs))),
      timed("bpe_pairs")(force(Bpe.topPairs(docs, 50))),
      timed("contamination")(force(Curation.contamination(docs,
        docs.where(col("doc_id") % 997 === 0), 8))),
      // round-8: line-level boilerplate dedup (the 5% duplicated docs ARE
      // the repeated lines here) and the WebDataset shard round-trip
      timed("dedup_lines")(force(Curation.dedupLines(docs))),
      timed("tar_shards")({
        val dir = java.nio.file.Files.createTempDirectory("stress_wds").toString
        graft.sources.TarShards.writeShards(docs, dir, nShards = 64)
        force(graft.sources.TarShards.samples(
          graft.sources.TarShards.readShards(spark, dir))
          .select(col("shard_id"), col("key"),
            length(element_at(col("exts"), "txt")).as("n")))
      }),
      // round-10: mergeable sketches + weighted reservoir. hll/bloom run
      // over the full token STREAM (nDocs × 200 occurrences — the heavy
      // shape: one map-side-combined aggregation each); the quantile
      // sketch and A-Res reservoir run per-source over doc-level values
      // (997 skewed sources, k-bounded heap partials per group)
      timed("hll")(force(Sketches.hllEstimate(
        docs.select(lit("all").as("source"),
          explode(split(col("text"), " ")).as("tok")),
        col("tok"), Seq("source")))),
      timed("bloom")(force(Sketches.bloomProbe(
        docs.select(explode(split(col("text"), " ")).as("tok")),
        col("tok"), Seq("t1", "t100", "t5000", "t49000", "zzz_absent")))),
      timed("quantile_sketch")(force(Sketches.quantiles(
        docs.withColumn("source", concat(lit("s"),
          when(col("doc_id") % 5 === 0, lit(0)).otherwise(col("doc_id") % 997))),
        col("doc_id").cast("string"), length(col("text")),
        Seq("source"), Seq(0.25, 0.5, 0.9), k = 256))),
      timed("weighted_sample")(force(Curation.weightedSample(
        docs.withColumn("source", concat(lit("s"),
          when(col("doc_id") % 5 === 0, lit(0)).otherwise(col("doc_id") % 997))),
        col("doc_id"), length(col("text")), Seq("source"), k = 64))),
      timed("sessionize")(force(Events.sessionize(events))),
      timed("funnel")(force(Events.funnel(events,
        Seq("view", "click", "purchase")))),
      timed("retention")(force(Events.retention(events))),
      // store mutations: a points store built UNTIMED from the event
      // stream (10·nDocs samples across 30 UTC days), then the two admin
      // rewrites. delete targets ONE series over 3 of the 30 days — its
      // cost must track the TOUCHED days' rewrite volume, not store
      // size; snapshot is O(files) hard-link time.
      // incremental dedup: the corpus split into two sequential batches
      // against a fresh persisted index — times signature computation +
      // bloom-written appends + the In(bv)/semi-join probe at corpus
      // scale (batch 2 probes an index holding batch 1's survivors)
      timed("incremental_dedup") {
        val dir = java.nio.file.Files.createTempDirectory("stress_inc").toString
        val n0 = Dedup.incremental(
          docs.where(col("doc_id") % 2 === 0), dir, name = "s0").count()
        val n1 = Dedup.incremental(
          docs.where(col("doc_id") % 2 === 1), dir, name = "s1").count()
        n0 + n1
      },
      // SigIndex fold at HIGH FILE COUNTS: a long-running stream that
      // compacts rarely accumulates thousands of batch dirs — the fold
      // cost must scale ~linearly in directory count and reads must be
      // FLAT afterwards. Directories are synthesized cheaply (one
      // partitioned write renamed into batch-<name> dirs + one commit), so
      // the probe times the fold/read, not 4k sequential Spark writes.
      timed("sigidx_read_1k") {
        graft.pipeline.SigIndex.read(spark, sigDirs(1000)).count()
      },
      timed("sigidx_fold_1k") {
        graft.pipeline.SigIndex.compact(spark, sigDirs(1000), graceMs = 0L); 1L
      },
      timed("sigidx_read_folded_1k") {
        graft.pipeline.SigIndex.read(spark, sigDirs(1000)).count()
      },
      timed("sigidx_read_4k") {
        graft.pipeline.SigIndex.read(spark, sigDirs(4000)).count()
      },
      timed("sigidx_fold_4k") {
        graft.pipeline.SigIndex.compact(spark, sigDirs(4000), graceMs = 0L); 1L
      },
      timed("sigidx_read_folded_4k") {
        graft.pipeline.SigIndex.read(spark, sigDirs(4000)).count()
      },
      // incremental IVF: grow the persisted index batch by batch, timing
      // the SEARCH separately after each append — the probe must stay
      // flat as the index grows (partition pruning reads nProbe/k of the
      // LIVE data, not the batch history). ivf_inc_search1 probes a
      // 1-batch index, ivf_inc_search4 the same index after 4 appends +
      // a fold: flat ratio = the scale claim.
      timed("ivf_inc_build") {
        val dir = java.nio.file.Files.createTempDirectory("stress_ivf").toString + "/idx"
        stressIvf = dir
        graft.pipeline.IvfIndex.init(spark, dir,
          Similarity.fixedCentroids(16, 64))
        graft.pipeline.IvfIndex.append(
          emb.where(col("vec_id") % 4 === 0), dir, "v0")
        1L
      },
      timed("ivf_inc_search1") {
        graft.pipeline.IvfIndex.search(spark, stressIvf,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      timed("ivf_inc_grow") {
        (1 until 4).foreach(b => graft.pipeline.IvfIndex.append(
          emb.where(col("vec_id") % 4 === b), stressIvf, s"v$b"))
        graft.pipeline.IvfIndex.compact(spark, stressIvf, graceMs = 0L)
        1L
      },
      timed("ivf_inc_search4") {
        graft.pipeline.IvfIndex.search(spark, stressIvf,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      // semdedup_inc at k=64, plus the k-sweep anchors for the n²/k knob
      // at k=16 and k=256 (≈ autoCellCount's √n at the 100k default): ONE
      // probe body so the sweep can never diverge on anything but k
      semDedupIncProbe("", 64),
      semDedupIncProbe("_k16", 16),
      semDedupIncProbe("_k256", 256),
      // IVF-PQ: one-time build (assign + encode, two passes) then the
      // pruned ADC search — the probe reads code columns only
      timed("ivfpq_build") {
        val dir = java.nio.file.Files.createTempDirectory("stress_ivfpq").toString
        stressIvfPq = dir
        Similarity.ivfPqBuild(emb, dir,
          Similarity.fixedCentroids(16, 64), Similarity.fixedCodebooks(4, 8, 16))
        1L
      },
      timed("ivfpq_search") {
        Similarity.ivfPqSearch(spark, stressIvfPq,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      // INCREMENTAL IVF-PQ (the appendable IVFADC): grow the product-
      // quantized index batch by batch — the ADC probe must stay flat as
      // the index grows (partition pruning bounds WHICH rows, the
      // code-only column scan bounds their WIDTH: nProbe/k × M ints per
      // candidate regardless of append count). search1 probes a 1-batch
      // index, search4 the same index after 4 appends + a fold.
      timed("ivfpq_inc_build") {
        val dir = java.nio.file.Files.createTempDirectory("stress_ivfpq_inc").toString + "/idx"
        stressIvfPqInc = dir
        graft.pipeline.IvfIndex.init(spark, dir,
          Similarity.fixedCentroids(16, 64),
          Some(Similarity.fixedCodebooks(4, 8, 16)))
        graft.pipeline.IvfIndex.append(
          emb.where(col("vec_id") % 4 === 0), dir, "v0")
        1L
      },
      timed("ivfpq_inc_search1") {
        graft.pipeline.IvfIndex.searchPq(spark, stressIvfPqInc,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      timed("ivfpq_inc_grow") {
        (1 until 4).foreach(b => graft.pipeline.IvfIndex.append(
          emb.where(col("vec_id") % 4 === b), stressIvfPqInc, s"v$b"))
        graft.pipeline.IvfIndex.compact(spark, stressIvfPqInc, graceMs = 0L)
        1L
      },
      timed("ivfpq_inc_search4") {
        graft.pipeline.IvfIndex.searchPq(spark, stressIvfPqInc,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      // two-stage rerank over the same grown index: ADC shortlist (4x
      // topK) + exact cosine on the shortlist-sized raw-vector read —
      // the premium over ivfpq_inc_search4 is the stage-2 cost
      timed("ivfpq_inc_rerank") {
        graft.pipeline.IvfIndex.searchPqRerank(spark, stressIvfPqInc,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      // round-14 maintenance anchors over the SAME grown 4-batch index:
      // the skew tick must be a metadata read (sidecar sums — flat,
      // milliseconds, no scan) and the listing-frozen retrain must cost
      // one bounded-sample training + one linear re-assign pass, with no
      // O(corpus) checkpoint materialization inflating it
      timed("ivf_skew_tick") {
        (graft.pipeline.IvfIndex.skew(spark, stressIvfPqInc) * 1000).toLong
      },
      timed("ivf_inc_retrain") {
        graft.pipeline.IvfIndex.retrain(spark, stressIvfPqInc, k = 16,
          iters = 2, trainLimit = 5000)
      },
      timed("ivfpq_inc_search_retrained") {
        graft.pipeline.IvfIndex.searchPq(spark, stressIvfPqInc,
          emb.where(col("vec_id") < 50), 5, nProbe = 4).count()
      },
      // the IMI claim (Babenko & Lempitsky CVPR 2012): at EQUAL effective
      // cell count, two-level assignment costs 2·√k_eff distance
      // evaluations per vector vs the flat kernel's k_eff — the flat
      // probes grow ~linearly in k, the imi ones stay near-flat
      timed("imi_assign_keff256")(force(
        emb.select(col("vec_id"), Similarity.imiCell(
          col("embedding").cast("array<double>"),
          Similarity.fixedCodebooks(2, 16, 32)).as("cell")))),
      timed("flat_assign_k256")(force(
        emb.select(col("vec_id"), graft.pipeline.NearestCells.cell(
          col("embedding").cast("array<double>"),
          Similarity.fixedCentroids(256, 64)).as("cell")))),
      timed("imi_assign_keff4096")(force(
        emb.select(col("vec_id"), Similarity.imiCell(
          col("embedding").cast("array<double>"),
          Similarity.fixedCodebooks(2, 64, 32)).as("cell")))),
      timed("flat_assign_k4096")(force(
        emb.select(col("vec_id"), graft.pipeline.NearestCells.cell(
          col("embedding").cast("array<double>"),
          Similarity.fixedCentroids(4096, 64)).as("cell")))),
      // include store_build in STRESS_ONLY when measuring the probes
      // below, or the lazy build lands inside the first store_* timing
      timed("store_build") { stressStore; 1L },
      timed("store_delete") {
        val T0 = 1704067200000L
        graft.sources.PointsStore.deleteSeries(spark, stressStore,
          """view{user="7"}""", T0 + 10 * 86400000L, T0 + 13 * 86400000L)
        1L
      },
      timed("store_snapshot") {
        graft.sources.PointsStore.snapshot(spark, stressStore)
        1L
      })
    val ran = results.filter(_._3 >= 0)
    val qs = ran.map { case (k, v, _) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"stress_total","value":${ran.map(_._2).sum},"unit":"sec","queries":$qs,"docs":$nDocs}""")
    spark.stop()
  }
}
