package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw crawl and tokenizer: repetition-based quality signals
  * (the Gopher rules), PII/URL scrubbing, per-source caps, and
  * deterministic hash-based train/val/test splits. All are column
  * expressions or single keyed aggregations — linear in corpus size,
  * no driver materialization, no all-pairs shapes — so they run
  * unchanged over a 100 TB corpus.
  */
object Curation {

  private def toks = split(col("text"), " ")

  /** The shared content-addressed 16-bit bucket: first 4 hex chars of
    * md5(id) as an integer in [0, 65536). One definition so
    * [[stratifiedSample]] thresholds and [[writeShards]] shard ranges
    * can never drift apart. */
  private def md5Bucket16(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A1.1):
    * `top_bigram_frac` — the fraction of word-bigram positions taken by
    * the single most frequent bigram — and `dup_trigram_frac` — the
    * fraction of word-trigram positions whose trigram occurs more than
    * once in the document. High values flag boilerplate / templated /
    * looping text that exact and MinHash dedup both miss (the duplicate
    * is WITHIN the document).
    *
    * Shape: the statistic is PER-DOCUMENT, so it is computed per
    * document by the native [[GramStats]] kernel — one hash-count pass
    * over the token array per gram width. ZERO shuffles, no gram-string
    * columns in the plan: the exploded (doc_id, gram) → groupBy
    * alternative ships every gram string through an exchange (400M
    * strings for the 1M-doc stress corpus), and an `aggregate`-HOF fold
    * pays interpreted lambdas per position (~690 s at that scale vs
    * seconds for the kernel). Docs with no bigrams are dropped (parity
    * with a grouped formulation — no gram rows, no output); a
    * bigram-only doc reports a null trigram fraction. */
  /** top_bigram_frac over a token-array column — ONE [[GramFrac]] kernel
    * reference (null when the doc has no bigrams), so a pushed-down
    * filter referencing it costs one gram pass. Shared by [[repetition]]
    * and the composed pipeline's signal stage. */
  private[pipeline] def topBigramFracExpr(t: Column): Column =
    round(GramFrac.column(t, 2, dup = false), 6)

  /** dup_trigram_frac over a token-array column; null when the doc has
    * no trigrams. */
  private[pipeline] def dupTrigramFracExpr(t: Column): Column =
    round(GramFrac.column(t, 3, dup = true), 6)

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", appendix A1.1)
    * — the published heuristic filter set for web-scraped pretraining
    * text, emitted as per-document COUNTS plus one boolean verdict per
    * rule:
    *
    *  1. word count in [50, 100000]
    *  2. mean word length in [3, 10]
    *  3. symbol-to-word ratio ≤ 0.1 — applied PER SYMBOL (`#` and
    *     ellipsis each get their own 0.1 ratio against the word count)
    *  4. ≤ 90 % of lines start with a bullet (`-`, `*`, `•`) — the paper
    *     removes documents where MORE THAN 90 % of lines are bulleted
    *  5. ≤ 30 % of lines end with an ellipsis
    *  6. ≥ 80 % of words contain an alphabetic character
    *  7. ≥ 2 distinct Gopher stop words present
    *     (the/be/to/of/and/that/have/with)
    *
    * Every threshold is evaluated in INTEGER arithmetic (e.g. rule 4 is
    * `10·bullet_lines ≤ 9·n_lines`, rule 2 is `3·n ≤ Σlen ≤ 10·n`), so
    * there is not a single float in the operator and the gate's DuckDB
    * oracle reproduces each verdict exactly. Shuffle-free: one
    * projection over the scan, like the rest of the signal family. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val lines = split(col("text"), "\n")
    val nWords = size(words).cast("long")
    val totalLen = aggregate(words, lit(0L), (a, w) => a + length(w).cast("long"))
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStops = size(filter(array(gopherStops.map(lit): _*),
      s => array_contains(words, s))).cast("long")
    def occurrences(needle: String) =
      ((length(col("text")) - length(regexp_replace(col("text"),
        java.util.regex.Pattern.quote(needle), ""))) / needle.length).cast("long")
    val nHash = occurrences("#")
    val nEllipsis = occurrences("...") + occurrences("…")
    val nLines = size(lines).cast("long")
    val isBullet = (l: Column) => {
      val t = ltrim(l)
      t.startsWith("-") || t.startsWith("*") || t.startsWith("•")
    }
    val nBullet = size(filter(lines, isBullet)).cast("long")
    val nEllEnd = size(filter(lines,
      l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      totalLen.as("total_word_len"),
      nAlpha.as("n_alpha_words"),
      nStops.as("n_stop_words"),
      nHash.as("n_hash"),
      nEllipsis.as("n_ellipsis"),
      nLines.as("n_lines"),
      nBullet.as("n_bullet_lines"),
      nEllEnd.as("n_ellipsis_end_lines"))
      .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_word_len",
        lit(3) * col("n_words") <= col("total_word_len") &&
          col("total_word_len") <= lit(10) * col("n_words"))
      .withColumn("r_symbol_ratio",
        lit(10) * col("n_hash") <= col("n_words") &&
          lit(10) * col("n_ellipsis") <= col("n_words"))
      .withColumn("r_bullet_lines",
        lit(10) * col("n_bullet_lines") <= lit(9) * col("n_lines"))
      .withColumn("r_ellipsis_lines",
        lit(10) * col("n_ellipsis_end_lines") <= lit(3) * col("n_lines"))
      .withColumn("r_alpha_words",
        lit(5) * col("n_alpha_words") >= lit(4) * col("n_words"))
      .withColumn("r_stop_words", col("n_stop_words") >= 2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") &&
          col("r_alpha_words") && col("r_stop_words"))
  }

  def repetition(docs: DataFrame): DataFrame = {
    val t = toks
    // size >= 2 is exactly "has bigrams" — an isNotNull filter on the
    // frac alias would inline a third full gram pass per row
    docs.where(size(t) >= 2)
      .select(col("doc_id"),
        topBigramFracExpr(t).as("top_bigram_frac"),
        dupTrigramFracExpr(t).as("dup_trigram_frac"))
  }

  /** Scrub patterns, ordered: each is (regex, replacement token). The
    * regexes use only syntax Java regex and RE2 (the DuckDB oracle)
    * interpret identically — character classes, `+`/`{n,}` quantifiers,
    * `\s` — so redaction counts and the scrubbed text agree across
    * engines. URLs are scrubbed FIRST so an address or id inside a URL
    * is counted once, as the URL. */
  val scrubPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{9,}" -> "<ID>")

  /** PII / boilerplate scrubbing: redact URLs, email addresses, and long
    * digit runs (phone/account/id numbers) with typed placeholder
    * tokens, keeping per-doc redaction counts. Counts are taken on the
    * PRE-scrub text per pattern in the same order the replacements run.
    * Pure `regexp_replace`/`regexp_extract_all` column expressions —
    * codegen'd, linear in text length, shuffle-free. */
  /** The scrub transform as a reusable column expression (used by
    * [[scrub]] for the gate's counts+sig shape and by
    * [[CurationPipeline]] for the actual text rewrite). */
  def scrubExpr(c: Column): Column =
    scrubPatterns.foldLeft(c) {
      case (acc, (re, tok)) => regexp_replace(acc, re, tok)
    }

  def scrub(docs: DataFrame): DataFrame = {
    val scrubbed = scrubExpr(col("text"))
    def hits(re: String) = size(regexp_extract_all(col("text"), lit(re), lit(0)))
    docs.select(
      col("doc_id"),
      hits(scrubPatterns(0)._1).as("n_urls"),
      hits(scrubPatterns(1)._1).as("n_emails"),
      hits(scrubPatterns(2)._1).as("n_ids"),
      md5(scrubbed).as("scrub_sig"))
  }

  /** Per-source document cap — the "at most K pages per domain" rule
    * that keeps one over-crawled site from dominating a training mix.
    * Deterministic: the K smallest doc_ids per source survive, with
    * their rank.
    *
    * Shape: one window over (source, doc_id) — a single hash-partitioned
    * sort per source. At 100 TB with a skewed domain (one source = 10%
    * of the corpus), swap the window for the bounded top-K aggregation
    * ([[BoundedCollectAgg]]) so the heavy source carries a K-sized
    * buffer per map task instead of a full sort partition; semantics
    * are identical, so the window form stays the reference
    * implementation here. */
  def sourceCap(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("rank_in_source",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .where(col("rank_in_source") <= k)
      .select(col("doc_id"), col("source"), col("rank_in_source"))

  /** Benchmark-contamination detection (the n-gram-overlap decontamination
    * step every serious training pipeline runs against its eval sets,
    * e.g. GPT-3 appendix C / PaLM §7): a train document is contaminated
    * when any of its word n-grams appears in the eval corpus. Reports
    * the hit count per train doc.
    *
    * Shape: the eval side is benchmark-sized (≪ train), so its distinct
    * gram set BROADCASTS; the train side is one explode + broadcast
    * left_semi + doc-keyed count with map-side partials — a single
    * shuffle of doc_id-keyed integer partials, never gram strings. Gram
    * identity comes from the [[GramHashes]] kernel on BOTH sides
    * (128-bit sequence-sensitive window hashes — equal grams match,
    * unequal collide at ~2⁻¹²⁸, the same trade [[Dedup.dupSpans]]
    * documents): the HOF `transform`+`concat_ws` gram strings cost an
    * interpreted lambda per position and 130 s at 1M docs; the kernel
    * pass is 16.8 s with identical gate results. Docs with fewer than n
    * tokens have NO n-grams (the kernel's short-doc whole-window row is
    * filtered, preserving the gram-stream convention). At 100 TB the
    * train gram stream never materializes: the semi-join filters it to
    * eval-matching positions (benchmark-sized output). */
  def contamination(train: DataFrame, evalDocs: DataFrame, n: Int = 8): DataFrame = {
    def gramIds(df: DataFrame) = df
      .where(size(toks) >= n)
      .select(col("doc_id"), explode(GramHashes.column(toks, n)).as("g"))
      .select(col("doc_id"), col("g.g1").as("g1"), col("g.g2").as("g2"))
    val evalGrams = gramIds(evalDocs).select("g1", "g2").distinct()
    val hits = gramIds(train)
      .join(broadcast(evalGrams), Seq("g1", "g2"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Corpus-frequency quality stats per document: the mean corpus
    * frequency of its tokens (boilerplate scores high), the rarest
    * token's frequency, and the hapax ratio (share of tokens occurring
    * exactly once corpus-wide — OCR noise / mojibake scores high). The
    * integer-exact stand-in for LM-perplexity filtering (CCNet-style):
    * every statistic is an integer sum or single division, so results
    * are bit-stable under any execution order — a float log-prob sum
    * would depend on reduction order.
    *
    * Shape: token counts are a vocabulary-sized aggregate joined back
    * onto the exploded stream (AQE broadcasts while it fits), then one
    * doc-keyed integer rollup. Linear, two shuffles, no strings in the
    * second exchange. */
  def tokenFrequencyStats(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(toks).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    tok.join(counts, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("m"), sum("cnt").as("s"),
        min("cnt").as("min_freq"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("doc_id"),
        round(col("s").cast("double") / col("m"), 6).as("mean_freq"),
        col("min_freq"),
        round(col("hapax").cast("double") / col("m"), 6).as("hapax_ratio"))
  }

  /** Deterministic content-addressed train/val/test split: the first
    * two hex chars of md5(doc_id) pick one of 256 buckets; buckets
    * `[00, e6)` → train (~90%), `[e6, f3)` → val (~5%), the rest →
    * test. Hash-based splits are the standard pipeline idiom because
    * they are stable under re-runs, shard-order changes, and corpus
    * growth — a document never migrates between splits. Pure column
    * expression; both engines lowercase-hex their md5, so the bucket
    * comparison is engine-independent. */
  def hashSplit(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val bucket = substring(md5(col(idCol).cast("string")), 1, 2)
    docs.select(col(idCol), bucket.as("bucket"),
      when(bucket < "e6", "train").when(bucket < "f3", "val")
        .otherwise("test").as("split"))
  }

  /** Model-based quality scoring: a fixed-weight logistic classifier
    * over the interpretable quality features (the shape of fastText/
    * linear quality filters in published pipelines — the WEIGHTS here
    * are illustrative constants, the operator is the scoring plumbing):
    * score = σ(w·x) over [stop_ratio, punct_ratio, ln(n_tokens),
    * avg_tok_len]. Pure column arithmetic, shuffle-free; every feature
    * is an exact rational, so engines agree to well under the shared
    * round(6). */
  /** The logistic quality score as a reusable column expression (used by
    * [[qualityScore]] and the composed pipeline's signal stage).
    * Evaluated by the [[QualityScore]] kernel: the HOF-filter stopword
    * count cost an interpreted lambda per token (122 s alone at 1M×200-
    * token docs); the kernel is one walk per document with bit-identical
    * arithmetic. */
  private[pipeline] def qualityScoreExpr: Column =
    round(QualityScore.column(col("text")), 6)

  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), qualityScoreExpr.as("quality_score"))

  /** Deterministic training-order shuffle: a content-addressed total
    * order (xxhash64 of id + seed) that is stable across runs and
    * cluster sizes — the "shuffle the corpus before sharding" step,
    * without RNG state. */
  def deterministicShuffle(docs: DataFrame, seed: Long = 0L,
                           idCol: String = "doc_id"): DataFrame =
    docs.orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))

  /** Write the corpus as bounded training shards in the SAME
    * content-addressed md5 total order [[packSequences]] packs in, so a
    * sequence's documents are contiguous in the written layout. Shard
    * assignment is a FIXED arithmetic split of the 16-bit md5 bucket
    * space (`shard = b16·nShards / 65536`) — contiguous ranges with no
    * runtime boundary sampling, so the assignment is byte-deterministic
    * across re-runs, partition layouts, and cluster sizes
    * (`repartitionByRange` would sample boundaries from the input RDD
    * and shift them when the upstream split changes). Shards land as
    * `shard=N/` parquet directories with `maxRecordsPerFile` bounding
    * every file; the writer is Spark's own committer — atomic rename
    * semantics, executor-parallel, no driver materialization. Returns
    * the shard count. */
  def writeShards(docs: DataFrame, dir: String, nShards: Int,
                  maxRecordsPerShard: Int): Int = {
    require(nShards > 0 && nShards <= 65536, "nShards must be in 1..65536")
    val b16 = md5Bucket16(col("doc_id"))
    val keyed = docs
      .withColumn("_ord", md5(col("doc_id").cast("string")))
      .withColumn("shard",
        least(floor(b16 * nShards / 65536.0), lit(nShards - 1)).cast("int"))
    keyed
      // range-partition on the shard id ALONE: RangePartitioner sends
      // equal keys to one partition regardless of its sampled
      // boundaries, so every shard is written by exactly one task and
      // the in-dir file layout is deterministic (sort + maxRecordsPerFile
      // over a fixed row order). Including `_ord` in the range key would
      // let a sampled boundary split a shard across tasks and vary the
      // file boundaries run-to-run; hash repartition would leave ~1/e of
      // tasks empty from hash collisions on the small id domain.
      .repartitionByRange(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("_ord"))
      .drop("_ord")
      .write.partitionBy("shard")
      .option("maxRecordsPerFile", maxRecordsPerShard.toLong)
      .mode("overwrite").parquet(dir)
    nShards
  }

  /** Pack the corpus into fixed-token-budget training sequences — the
    * concat-then-chunk step every LM pipeline runs before writing
    * pretraining shards: documents laid out in the deterministic
    * content-addressed order ([[deterministicShuffle]]'s md5 variant so
    * the oracle can replay it), token positions accumulated, and each
    * document assigned to the sequence containing its FIRST token
    * (`seq_id = floor(start / tokensPerSeq)`).
    *
    * Shape: a global ordered prefix-sum, computed scalably in two
    * passes — the classic distributed scan. Pass 1 aggregates per-bucket
    * token totals (buckets = first two md5 hex chars, 256 ordered
    * groups; bucket count is a constant, so the totals row set is
    * node-sized at ANY corpus scale) and turns them into bucket start
    * offsets; pass 2 is a within-bucket window cumsum plus the
    * broadcast offset. No global single-partition window, no driver
    * materialization beyond the 256-row offset table. At 100 TB widen
    * the bucket prefix to 4 hex chars (65 536 groups) so each sort
    * partition stays executor-sized; the arithmetic is unchanged. */
  def packSequences(docs: DataFrame, tokensPerSeq: Long): DataFrame = {
    val spark = docs.sparkSession
    val base = docs.select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("_ord"),
        size(toks).cast("long").as("n_tok"))
      .withColumn("_b", substring(col("_ord"), 1, 2))
    val totals = base.groupBy("_b").agg(sum("n_tok").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val offsets = {
      var acc = 0L
      totals.map { case (b, t) => val o = (b, acc); acc += t; o }
    }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("_b", "_off")
    val w = Window.partitionBy(col("_b")).orderBy(col("_ord"), col("doc_id"))
    base.join(broadcast(offDf), "_b")
      .withColumn("_cum", sum("n_tok").over(w) + col("_off"))
      .select(col("doc_id"), col("n_tok"),
        floor((col("_cum") - col("n_tok")).cast("double") / tokensPerSeq)
          .cast("long").as("seq_id"))
  }

  /** Temperature-based mixture weighting (the multilingual-pretraining
    * exponent-smoothing recipe, e.g. mBERT / XLM-R: sample source s with
    * probability ∝ n_s^α, α < 1 flattening the source distribution).
    * Emits, per source: document count, the α-smoothed target share
    * q_s = n_s^α / Σ n_t^α, and the per-document keep fraction that
    * realizes the recipe with the smallest source kept whole —
    * f_s = (n_s / n_min)^(α−1) (≤ 1 for α ≤ 1 since n_s ≥ n_min).
    * Feed `keep_frac` into [[stratifiedSample]] to materialize the mix
    * deterministically.
    *
    * Shape: one source-keyed count, then source-count-sized arithmetic
    * against a broadcast 1-row scalar frame — no second pass over the
    * corpus, no driver action. */
  def temperatureMix(docs: DataFrame, alpha: Double): DataFrame = {
    val n = docs.groupBy("source").agg(count(lit(1)).cast("double").as("n"))
    val scalars = n.agg(sum(pow(col("n"), lit(alpha))).as("denom"),
      min(col("n")).as("n_min"))
    n.crossJoin(broadcast(scalars))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        round(pow(col("n"), lit(alpha)) / col("denom"), 6).as("target_share"),
        round(pow(col("n") / col("n_min"), lit(alpha - 1.0)), 6).as("keep_frac"))
  }

  /** Weighted per-group reservoir sample (A-Res — Efraimidis & Spirakis
    * 2006, "Weighted random sampling with a reservoir"): keep, per
    * group, the k items with the smallest exponential draw
    * e_i = −ln(u_i)/w_i, which selects item i with probability ∝ w_i —
    * the missing mixture-construction primitive beside
    * [[temperatureMix]] (which computes per-SOURCE keep fractions) and
    * [[importanceWeights]] (which computes the per-doc weights this
    * consumes).
    *
    * ONE pass, no global sort: the draw is computed per row and the
    * k-smallest survive a single map-side-combined aggregation whose
    * partials are k-bounded heaps ([[BottomKSample.weightedColumn]]) —
    * at 100 TB the shuffle carries k·partitions rows, never the corpus.
    * The "randomness" is the deterministic md5 of the item id
    * (u = (hash60(id)+1)/2^60 ∈ (0, 1]), so the selection is a pure
    * function of the input — reproducible run-over-run, and re-derivable
    * relationally by the gate's DuckDB oracle (same nibble hash, same
    * −ln(u)/w, same (draw, id) rank). Non-positive weights are excluded
    * (A-Res is defined for w > 0; a zero-weight doc must never be
    * sampled).
    *
    * Output: (groups..., doc_id, draw), ≤ k rows per group. */
  def weightedSample(docs: DataFrame, id: Column, weight: Column,
                     groups: Seq[String], k: Int): DataFrame = {
    val u = (Sketches.hash60(id.cast("string")) + lit(1L)).cast("double") /
      lit(math.scalb(1.0, 60))
    val draw = negate(log(u)) / weight.cast("double")
    docs
      .where(weight.cast("double") > 0)
      .groupBy(groups.map(col): _*)
      .agg(BottomKSample.weightedColumn(draw, id.cast("long"), k).as("smp"))
      .select(groups.map(col) :+ explode(col("smp")).as("kv"): _*)
      .select(groups.map(col) ++ Seq(
        col("kv.id").as("doc_id"), col("kv.draw").as("draw")): _*)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the unigram
    * variant): per raw document, the mean log-likelihood ratio of its
    * tokens under the TARGET domain's unigram model vs the RAW corpus's,
    * with add-one smoothing over the union vocabulary. Documents whose
    * token distribution resembles the target domain score high; sample
    * proportionally to realize target-like data selection at corpus
    * scale.
    *
    * Shape: two vocabulary-sized count tables, full-outer-merged into
    * ONE model table carrying both counts; the three model scalars
    * (token totals, union vocab size) are a single aggregation OVER
    * that table — never a second pass over the corpus (the first
    * formulation re-exploded the 200M-token stream once per scalar:
    * 130 s at 1M docs; this one runs the corpus twice total — the
    * vocabulary count pass and the scoring join — 32 s). The raw token
    * stream joins the model table token-keyed (AQE broadcasts while the
    * vocab fits, falls back to a co-partitioned shuffle join at 100 TB —
    * same shape as [[tokenFrequencyStats]]); one doc-keyed rollup of
    * primitive partials closes it. Mean (not sum) log-ratio so the
    * score is length-invariant, like [[CharLm]]. */
  def importanceWeights(raw: DataFrame, target: DataFrame): DataFrame = {
    val rawTok = raw.select(col("doc_id"), explode(toks).as("tok"))
    val tgtTok = target.select(explode(toks).as("tok"))
    val model = rawTok.groupBy("tok").agg(count(lit(1)).as("cr"))
      .join(tgtTok.groupBy("tok").agg(count(lit(1)).as("ct")),
        Seq("tok"), "full_outer")
    // coalesce the totals: sum() over an empty/all-null side is NULL,
    // and a NULL n_t would silently poison every score
    val scalars = model.agg(coalesce(sum("cr"), lit(0L)).as("n_r"),
      coalesce(sum("ct"), lit(0L)).as("n_t"), count(lit(1)).as("v"))
    val term =
      log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
        (col("n_t") + col("v")).cast("double")) -
      log((col("cr") + 1).cast("double") /
        (col("n_r") + col("v")).cast("double"))
    val scored = rawTok.join(model, "tok")
      .crossJoin(broadcast(scalars))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(term).as("s"))
    // left-join back so a null/empty-text doc reports (0, 0.0) instead
    // of vanishing — same convention as CharLm.score
    raw.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        round(coalesce(col("s") / col("n_tok"), lit(0.0)), 6)
          .as("dsir_logratio"))
  }

  /** Sliding-window document chunking — the embedding/RAG preparation
    * step ([[packSequences]]' sibling: packing concatenates ACROSS
    * documents into disjoint budgets; chunking splits WITHIN a document
    * into overlapping windows so no retrieval context straddles a chunk
    * boundary unseen). Chunk i covers tokens `[i·stride, i·stride +
    * chunkTokens)`; the last chunk is short rather than padded; a doc
    * shorter than one window yields exactly one chunk.
    *
    * Shape: per-doc `explode(sequence(...))` then ONE slice+join per
    * output row — all codegen'd collection expressions, no interpreted
    * lambdas, no shuffle; output rows ≈ n_tok/stride per doc, linear at
    * any corpus size. */
  def chunk(docs: DataFrame, chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      "need 0 < strideTokens <= chunkTokens")
    val t = toks
    val n = size(t).cast("long")
    val nChunks = when(n <= chunkTokens, lit(1L)).otherwise(
      floor((n - chunkTokens + (strideTokens - 1)).cast("double") / strideTokens)
        .cast("long") + 1L)
    docs.select(col("doc_id"), t.as("_t"), n.as("_n"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("_t"),
          (col("chunk_idx") * strideTokens + 1L).cast("int"),
          lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens.toLong),
          col("_n") - col("chunk_idx") * strideTokens).as("n_tok"))
  }

  /** Audit manifest of a [[writeShards]] tree: per shard, the file
    * count, document count, and an ORDER-INDEPENDENT content signature
    * (bit-XOR of per-row 64-bit hashes over every column) — the record a
    * 100 TB curation run keeps to prove a re-run reproduced the same
    * shards without byte-comparing them. One scan, shard-keyed
    * aggregation, shard-count-sized output. */
  def shardManifest(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    val dataCols = df.columns.filter(_ != "shard").sorted.map(col)
    df.withColumn("_file", input_file_name())
      .withColumn("_h", xxhash64(struct(dataCols: _*)))
      .groupBy("shard")
      .agg(countDistinct(col("_file")).as("n_files"),
        count(lit(1)).as("n_docs"),
        bit_xor(col("_h")).as("content_sig"))
  }

  /** Markup-strip chain, in order: drop script/style blocks (dotall,
    * case-insensitive, non-greedy), drop tags, decode the common
    * entities, collapse whitespace runs, trim. Restricted to the regex
    * subset Java and RE2 interpret identically (inline (?is) flags,
    * lazy quantifiers — both engines agree), like [[scrubPatterns]]. */
  private[pipeline] val markupBlockRe = "(?is)<(script|style)\\b.*?</(script|style)\\s*>"
  private[pipeline] val markupTagRe = "(?s)<[^>]+>"

  /** HTML/markup text extraction — the C4/CommonCrawl-style step that
    * turns crawled markup into training text: script/style blocks and
    * tags removed, common entities decoded, whitespace normalized.
    * Emits the tag count (pre-strip), cleaned length, and the cleaned
    * text's md5. Pure column expressions, codegen'd, shuffle-free. */
  /** The markup-strip transform as a reusable column expression (used by
    * [[stripMarkup]] for the gate's counts+sig shape and by
    * [[CurationPipeline]] for the actual text rewrite). */
  def cleanExpr(c: Column): Column = {
    val noBlocks = regexp_replace(c, markupBlockRe, " ")
    val noTags = regexp_replace(noBlocks, markupTagRe, " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&" // amp LAST so &amp;lt; decodes once
    ).foldLeft(noTags) { case (acc, (ent, ch)) => regexp_replace(acc, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val clean = cleanExpr(col(textCol))
    docs.select(col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(markupTagRe), lit(0)))
        .as("n_tags"),
      length(clean).as("n_chars_clean"),
      md5(clean).as("clean_sig"))
  }

  /** Per-source deterministic sampling — the mixture-weighting step that
    * up/down-samples sources to a target recipe: doc kept iff its
    * content-addressed 16-bit hash bucket falls under the source's
    * fraction. Stable under re-runs and corpus growth (same property as
    * [[hashSplit]]); unknown sources default to `defaultFraction`. */
  def stratifiedSample(docs: DataFrame, fractions: Map[String, Double],
                       defaultFraction: Double = 1.0): DataFrame = {
    val bucket = md5Bucket16(col("doc_id"))
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (c, (src, f)) => when(col("source") === src, lit(f)).otherwise(c)
    }
    docs.select(col("doc_id"), col("source"), bucket.as("bucket"))
      .where(col("bucket") < frac * 65536.0)
  }

  /** LINE-level boilerplate dedup (the RefinedWeb/C4 move the
    * document-level passes can't make): a newline-delimited line
    * occurring in ≥ `minDocs` DISTINCT documents is boilerplate — nav
    * bars, cookie banners, footers — and is removed from EVERY document;
    * documents stripped to nothing vanish. Within-document repetition
    * alone never triggers the drop (the count is per distinct doc).
    *
    * Shape at corpus scale: ONE line-keyed count aggregation finds the
    * boilerplate set, which is SMALL by definition (lines that repeat
    * across documents); it broadcasts and every document rewrites in a
    * single shuffle-free pass. The first formulation reassembled
    * documents through a doc-keyed collect_list + array_sort shuffle of
    * the whole corpus text — measured SUPERLINEAR (4.5 s at 1M docs,
    * 68 s at 4M: object-agg buffers spill); the broadcast rewrite scales
    * with the scan. Past `maxBoilerplate` distinct lines the relational
    * reassembly remains as the overflow path (quality-degenerate corpora
    * only), and the two paths produce identical rows (spec-pinned). */
  def dedupLines(docs: DataFrame, minDocs: Long = 2,
                 maxBoilerplate: Int = 1 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    // count by the 64-bit line hash: the aggregation shuffle carries
    // 16-byte (hash, doc_id) rows, never the text (grouping by the line
    // string was measured to push the whole corpus through the exchange);
    // hash identity is the corpus-wide content-addressing trade
    val boilerDf = lines
      .groupBy(xxhash64(col("line")).as("_h"))
      .agg(countDistinct(col("doc_id")).as("n"))
      .where(col("n") >= minDocs)
      .select(col("_h"))
    val head = boilerDf.limit(maxBoilerplate + 1).collect().map(_.getLong(0))
    if (head.length <= maxBoilerplate) {
      val bc = spark.sparkContext.broadcast(head.toSet)
      docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          if (text == null) None
          else {
            // split with limit -1 keeps trailing empties, and the hash
            // reproduces SQL xxhash64() (XXH64 seed 42 over UTF-8 bytes),
            // so both paths see identical line identities
            val kept = text.split("\n", -1)
              .filterNot(l => bc.value.contains(Curation.lineHash(l)))
            if (kept.isEmpty) None
            else Some((id, kept.mkString("\n"), kept.length.toLong))
          }
        }.toDF("doc_id", "text", "n_lines")
    } else {
      // overflow: anti-join + doc-keyed reassembly (three shuffles)
      lines
        .join(boilerDf, xxhash64(col("line")) === col("_h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text"),
          count(lit(1)).as("n_lines"))
    }
  }

  /** INCREMENTAL [[dedupLines]] — cross-batch boilerplate suppression for
    * a streamed corpus, on the [[SigIndex]] machinery (its `(doc_id, bv)`
    * rows ARE the distinct (document, line-hash) pair relation the
    * boilerplate count needs). A line is boilerplate for an ARRIVING
    * batch when its CUMULATIVE distinct-document count — every earlier
    * batch's pairs plus this batch's — reaches `minDocs`; it is removed
    * from this batch's documents (earlier batches already shipped: the
    * inherent streaming semantics is that suppression begins once the
    * threshold is crossed). The decision is monotone in the batch order,
    * so an external SQL oracle replays the history with one cumulative
    * window.
    *
    * Replays are EXACTLY-ONCE via a persisted per-batch DECISION: the
    * batch's boilerplate hash set is written to `boiler-<name>/` before
    * its pairs land, and a replayed name rewrites its documents from
    * that frozen set — recomputing from the live pair union would see
    * batches appended AFTER the replayed one and could suppress lines
    * the original run shipped. The sidecar outlives pair folds, and once
    * [[SigIndex.compact]]'s decision retention folds it into the single
    * ledger directory the replay reads from the ledger instead
    * ([[SigIndex.readDecision]]) — exactly-once with a BOUNDED directory
    * count over an arbitrarily long stream.
    *
    * Scale shape: the index is never shuffled — the batch's distinct
    * line hashes become an `In(bv)` probe pushed into the bloom-carrying
    * index scan (semi-join fallback past `maxProbe`), the cumulative
    * count aggregates only the probed rows, the boilerplate set is small
    * by definition and broadcasts, and every document rewrites in one
    * shuffle-free pass ([[dedupLines]]' broadcast path). */
  def dedupLinesIncremental(docs: DataFrame, indexDir: String, name: String,
                            minDocs: Long = 2, maxProbe: Int = 100000,
                            maxBoilerplate: Int = 1 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val boilerPath = SigIndex.decisionPath(indexDir, name)
    val head: Array[Long] =
      if (SigIndex.contains(spark, indexDir, name)) {
        // replay: rewrite from the batch's FROZEN decision — recomputing
        // from the live pair union would see later batches and suppress
        // lines the original run shipped. Served from the sidecar while
        // it lives, from the compaction's fold ledger after retention.
        SigIndex.readDecision(spark, indexDir, name).getOrElse(
          throw new IllegalStateException(
            s"dedupLinesIncremental batch '$name' replayed but its frozen " +
              "decision was not found (sidecar retired and absent from the " +
              "ledger) — the index state was externally modified"))
      } else {
        // the commit number before snapshotting (the sequential-writer guard)
        val seq = SigIndex.nextAppendSeq(spark, indexDir)
        val pairs = docs
          .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
          .select(col("doc_id"), xxhash64(col("line")).as("bv"))
          .distinct().localCheckpoint()
        val idx = SigIndex.read(spark, indexDir)
        val batchBvs = pairs.select(col("bv")).distinct()
        val (idxRows, _) = SigIndex.probedRows(idx, batchBvs, maxProbe)
        val boiler = idxRows.select("doc_id", "bv").unionByName(pairs).distinct()
          .groupBy(col("bv")).agg(count(lit(1)).as("n"))
          .where(col("n") >= minDocs)
          .select(col("bv"))
        val h = boiler.limit(maxBoilerplate + 1).collect().map(_.getLong(0))
        require(h.length <= maxBoilerplate,
          s"dedupLinesIncremental: boilerplate set exceeds $maxBoilerplate lines")
        // decision sidecar FIRST, pairs after: the batch's commit implies
        // the sidecar exists (a crash in between replays the whole batch,
        // which overwrites the sidecar with the identical recomputation).
        // The decision set is a bounded driver array (maxBoilerplate) —
        // direct driver parquet write, no Spark job per batch
        QuantizerFiles.writeLongs(spark, boilerPath, "bv", h.toSeq)
        SigIndex.append(pairs, indexDir, name, seq = Some(seq))
        h
      }
    val bc = spark.sparkContext.broadcast(head.toSet)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) None
        else {
          val kept = text.split("\n", -1)
            .filterNot(l => bc.value.contains(Curation.lineHash(l)))
          if (kept.isEmpty) None
          else Some((id, kept.mkString("\n"), kept.length.toLong))
        }
      }.toDF("doc_id", "text", "n_lines")
  }

  /** Scala-side twin of SQL `xxhash64(string)`: XXH64, seed 42, over the
    * UTF-8 bytes — bit-identical to the relational counting pass. */
  private[pipeline] def lineHash(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}
