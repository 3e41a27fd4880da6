package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class CurationSpec extends AnyFunSuite with SharedSpark {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("gopherRules: each rule trips on its crafted violation, clean prose keeps") {
    import spark.implicits._
    val clean = ("the quick brown fox jumps over and over with great zeal " +
      "to be of use and that nobody may have any doubt about it at all ") * 3 // 78 words
    val d = Seq(
      (1L, clean),                                     // passes everything
      (2L, "the be to of short"),                      // < 50 words
      (3L, clean + " ###### ###### ######"),           // symbol ratio: 18 hashes / 69 words
      (4L, clean + "\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k\n- l"), // bullets
      (5L, clean.split(" ").map(_ => "x7").mkString(" ") + " the be"), // mean len 2, no alpha issue
      (6L, clean + "\nwait...\nmore...\nyet more...\nstill...\nargh...\nhm...\nend...") // ellipsis lines
    ).toDF("doc_id", "text")
    val r = Curation.gopherRules(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("r_word_count") && !r(2L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("r_symbol_ratio") && r(3L).getAs[Boolean]("r_word_count"))
    assert(r(3L).getAs[Boolean]("r_alpha_words")) // 3 symbol words of 81 stay under 20%
    assert(!r(4L).getAs[Boolean]("r_bullet_lines"))
    assert(!r(5L).getAs[Boolean]("r_mean_word_len"))
    assert(!r(6L).getAs[Boolean]("r_ellipsis_lines"))
    // exact counts on the clean doc: 78 words, 1 line, 2+ stop words
    assert(r(1L).getAs[Long]("n_words") == 78)
    assert(r(1L).getAs[Long]("n_lines") == 1)
    assert(r(1L).getAs[Long]("n_stop_words") >= 2)
    assert(r(1L).getAs[Long]("n_bullet_lines") == 0)
  }

  test("gopherRules: paper-faithful boundaries — 90% bullet cutoff, per-symbol ratio") {
    import spark.implicits._
    val clean = ("the quick brown fox jumps over and over with great zeal " +
      "to be of use and that nobody may have any doubt about it at all ") * 3 // 78 words
    val halfBulleted = clean + (1 to 5).map(i => s"\n- item $i").mkString // 6 lines, 5 bullets
    // per-symbol: 6 hashes + 6 ellipses over 90 words — combined 12/90 > 10%
    // would fail the OLD combined rule, but each symbol is ≤ 10% alone
    val perSymbolOk = clean + " " +
      (("# " * 6) + ("the... " * 6)).trim // 78 + 12 = 90 words
    val d = Seq(
      (10L, halfBulleted), // 83% bullets: a legitimate list document KEEPS
      (11L, clean + (1 to 60).map(_ => "\n- x").mkString), // 60/61 = 98% bullets: drop
      (12L, perSymbolOk)
    ).toDF("doc_id", "text")
    val r = Curation.gopherRules(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(10L).getAs[Boolean]("r_bullet_lines"), "<=90% bulleted must keep (Rae et al. A1.1)")
    assert(!r(11L).getAs[Boolean]("r_bullet_lines"), ">90% bulleted must drop")
    assert(r(12L).getAs[Boolean]("r_symbol_ratio"),
      "0.1 symbol ratio applies per symbol, not to the combined count")
  }

  test("repetition: hand-computed fractions on crafted docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a b"),   // bigrams: "a b"x3 "b a"x2 -> top 3/5;
                             // trigrams: "a b a"x2 "b a b"x2 -> dup 4/4
      (2L, "w x y z"),       // all distinct: top 1/3, dup 0/2
      (3L, "solo")           // no grams -> no output row (matches oracle)
    ).toDF("doc_id", "text")
    val r = Curation.repetition(d).collect().map(r =>
      r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L) == ((0.6, 1.0)))
    assert(r(2L) == ((math.rint(1.0 / 3 * 1e6) / 1e6, 0.0)))
  }

  test("scrub: urls, emails and id runs are redacted in order, counted pre-scrub") {
    import spark.implicits._
    val text = "mail bob@example.com or see https://x.test/a?id=1 acct 1234567890 end"
    val d = Seq((1L, text), (2L, "clean text no pii")).toDF("doc_id", "text")
    val out = Curation.scrub(d).collect().map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(1L)._4 ==
      md5Hex("mail <EMAIL> or see <URL> acct <ID> end"))
    assert(out(2L) == ((0, 0, 0, md5Hex("clean text no pii"))))
  }

  test("scrub over the corpus is deterministic and keeps every doc") {
    val out = Curation.scrub(docs)
    assert(out.count() == docs.count())
    assert(out.collect().sortBy(_.getLong(0)).sameElements(
      Curation.scrub(docs).collect().sortBy(_.getLong(0))))
  }

  test("sourceCap keeps the K smallest doc_ids per source with dense ranks") {
    val k = 2
    val capped = Curation.sourceCap(docs, k)
    val bySource = capped.collect().groupBy(_.getString(1))
    val expected = docs.select("doc_id", "source").collect()
      .groupBy(_.getString(1)).map { case (s, rs) =>
        s -> rs.map(_.getLong(0)).sorted.take(k).toSeq
      }
    assert(bySource.keySet == expected.keySet)
    bySource.foreach { case (s, rows) =>
      assert(rows.map(_.getLong(0)).sorted.toSeq == expected(s))
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to rows.length))
    }
  }

  test("hashSplit is deterministic, content-addressed, and covers every doc") {
    val a = Curation.hashSplit(docs).collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val b = Curation.hashSplit(docs).collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(a == b)
    assert(a.size == docs.count())
    // matches a from-first-principles recomputation of the bucket rule
    a.foreach { case (id, (bucket, split)) =>
      val expB = md5Hex(id.toString).substring(0, 2)
      assert(bucket == expB)
      val expS = if (expB < "e6") "train" else if (expB < "f3") "val" else "test"
      assert(split == expS)
    }
    // train must dominate (~90% of buckets)
    val n = a.size.toDouble
    assert(a.values.count(_._2 == "train") / n > 0.7)
  }

  test("contamination counts eval n-gram hits per train doc") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e f g"),   // contains eval 5-grams at pos 1..3
      (2L, "a b c d x y z"),   // no full 5-gram overlap
      (3L, "q r s t u v w")    // disjoint
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val out = Curation.contamination(train, eval, 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // doc 1's 5-grams: "a b c d e", "b c d e f", "c d e f g" — all in eval
    assert(out(1L) == ((3L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
  }

  test("tokenFrequencyStats: integer-exact corpus frequencies") {
    import spark.implicits._
    val d = Seq(
      (1L, "x x y"),  // x occurs 3 corpus-wide, y 2: mean (3+3+2)/3, min 2, hapax 0
      (2L, "x y z")   // mean (3+2+1)/3 = 2, min 1, hapax 1/3
    ).toDF("doc_id", "text")
    val out = Curation.tokenFrequencyStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((math.rint(8.0 / 3 * 1e6) / 1e6, 2L, 0.0)))
    assert(out(2L) == ((2.0, 1L, math.rint(1.0 / 3 * 1e6) / 1e6)))
  }

  test("semDeDup drops higher-id near-dups within a label, never across labels") {
    import spark.implicits._
    val e1 = Array(1f, 0f, 0f)
    val e2 = Array(0.9f, 0.1f, 0f) // cos(e1,e2) ~ 0.993
    val e3 = Array(0f, 1f, 0f)     // orthogonal to e1
    val d = Seq(
      (10L, 0, e1), (11L, 0, e2), (12L, 0, e3),
      (13L, 1, e1) // duplicate of 10 but in another cluster: survives
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.semDeDup(d, 0.95).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == Set((10L, 0), (12L, 0), (13L, 1)))
  }

  test("stripMarkup extracts the text a browser would render") {
    import spark.implicits._
    val html = "<html><HEAD><STYLE>b{color:red}</STYLE></HEAD><body>" +
      "<script type=\"t\">if (1 < 2) { x(); }</script>" +
      "<p class=\"a\">Hello   &amp;&nbsp;wor&lt;ld</p>\n<br/>bye</body></html>"
    val docs = Seq((1L, html)).toDF("doc_id", "text")
    val r = Curation.stripMarkup(docs).collect().head
    val expected = "Hello & wor<ld bye"
    assert(r.getAs[String]("clean_sig") ==
      java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map(b => f"$b%02x").mkString)
    assert(r.getAs[Int]("n_chars_clean") == expected.length)
  }

  test("stratifiedSample: fraction 0 drops all, 1 keeps all, deterministic") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 2}", "t")).toDF("doc_id", "source", "text")
    val out = Curation.stratifiedSample(docs, Map("src0" -> 0.0, "src1" -> 1.0))
    val kept = out.collect().map(_.getLong(0)).toSet
    assert(kept.forall(_ % 2 == 1) && kept.size == 100)
    // rerun identical (content-addressed, no RNG)
    assert(Curation.stratifiedSample(docs, Map("src0" -> 0.0, "src1" -> 1.0))
      .collect().map(_.getLong(0)).toSet == kept)
    // a 0.5 fraction keeps roughly half (hash-uniform, fixed corpus)
    val half = Curation.stratifiedSample(docs, Map(), 0.5).count()
    assert(half > 60 && half < 140)
  }

  test("qualityScore: bounded, clean prose beats punctuation soup") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is on the mat and a dog is in the house"),
      (2L, "$$@@!! ## %% ^^ && ** (( )) {{ }} ;; :: @@ !!")
    ).toDF("doc_id", "text")
    val s = Curation.qualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(1L) > s(2L))
  }

  test("editDistancePairs: zero for twins, symmetric bounded ratio") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b x d"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.editDistancePairs(docs, pairs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getDouble(3)))).toMap
    assert(out((1L, 2L)) == ((0, 0.0)))
    assert(out((1L, 3L))._1 == 1)
    assert(out((1L, 3L))._2 > 0.0 && out((1L, 3L))._2 <= 1.0)
  }

  test("packSequences: greedy concat-chunk assignment matches a local replay") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, ("w " * (i % 17 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val out = Curation.packSequences(docs, 64L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // local replay: same md5 order, same running start positions
    val md5hex = (l: Long) => java.security.MessageDigest.getInstance("MD5")
      .digest(l.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cum = 0L
    val expected = (0L until 200L).map(i => (md5hex(i), i, i % 17 + 1))
      .sortBy(t => (t._1, t._2))
      .map { case (_, id, n) => val start = cum; cum += n; id -> (n, start / 64L) }
      .toMap
    assert(out == expected)
    // every token accounted for exactly once
    assert(out.values.map(_._1).sum == cum)
  }

  test("temperatureMix: alpha=1 keeps everything, alpha=0 equalizes") {
    import spark.implicits._
    val docs = ((0 until 80).map(i => (i.toLong, "t", "big")) ++
      (0 until 20).map(i => (100L + i, "t", "small")))
      .toDF("doc_id", "text", "source")
    val a1 = Curation.temperatureMix(docs, 1.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(a1("big") == (0.8, 1.0) && a1("small") == (0.2, 1.0))
    val a0 = Curation.temperatureMix(docs, 0.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // alpha=0: uniform target shares; keep fraction n_min/n_s
    assert(a0("big") == (0.5, 0.25) && a0("small") == (0.5, 1.0))
  }

  test("importanceWeights: target-like docs outscore off-domain docs") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val w = Curation.importanceWeights(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L))
    // off-domain doc shares no target token: every term has ct=0
    assert(w(2L) < 0.0)
  }

  test("chunk: overlapping windows cover every token, short docs yield one chunk") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than one window
      (3L, (1 to 9).map(i => s"x$i").mkString(" ")))  // exact multiple boundary
      .toDF("doc_id", "text")
    val out = Curation.chunk(docs, chunkTokens = 4, strideTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: windows at 0,2,4,6 -> 4 chunks; last is short (w9 w10)
    assert(byDoc(1L).map(_._3).toSeq == Seq("w1 w2 w3 w4", "w3 w4 w5 w6",
      "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(byDoc(1L).map(_._4).toSeq == Seq(4L, 4L, 4L, 4L))
    // doc 2: one whole-doc chunk
    assert(byDoc(2L).map(t => (t._3, t._4)).toSeq == Seq(("a b c", 3L)))
    // doc 3 (9 tokens): windows at 0,2,4 cover 1..8, final window at 6
    // ends at 9? ceil((9-4)/2)+1 = 4 chunks, last = x7 x8 x9
    assert(byDoc(3L).map(_._3).toSeq == Seq("x1 x2 x3 x4", "x3 x4 x5 x6",
      "x5 x6 x7 x8", "x7 x8 x9"))
    assert(byDoc(3L).last._4 == 3L)
    // every token of every doc appears in at least one chunk
    assert(byDoc(1L).flatMap(_._3.split(" ")).toSet.size == 10)
  }

  test("writeShards: bounded files, deterministic md5-range shards, lossless") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"text $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    Curation.writeShards(docs, dir, nShards = 4, maxRecordsPerShard = 100)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = walk(new java.io.File(dir))
    // every file respects the record bound; nothing lost or duplicated
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 100, f.getName)
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 500)
    assert(back.select("doc_id").distinct().count() == 500)
    // shard assignment is FIXED md5 arithmetic — identical across runs
    // AND input partition layouts (no runtime boundary sampling)
    val a1 = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dir2 = java.nio.file.Files.createTempDirectory("shards2").toString
    Curation.writeShards(docs.repartition(13), dir2, 4, 100)
    val a2 = spark.read.parquet(dir2).select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2 && a1.values.toSet.size > 1)
    // the FILE layout is deterministic too (equal range keys stay in one
    // task; files split on a fixed row order): per-shard file counts,
    // doc counts, and order-independent content signatures agree across
    // the two differently-partitioned runs
    def manifest(d: String) = Curation.shardManifest(spark, d).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val m1 = manifest(dir)
    assert(m1 == manifest(dir2) && m1.values.map(_._2).sum == 500)
    // shard ranges align with the packing order: doc order by md5 maps
    // to non-decreasing shard ids
    val md5hex = (l: Long) => java.security.MessageDigest.getInstance("MD5")
      .digest(l.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byOrd = a1.toSeq.sortBy { case (id, _) => md5hex(id) }.map(_._2)
    assert(byOrd == byOrd.sorted)
    // deterministic shuffle: same seed -> same order
    val o1 = Curation.deterministicShuffle(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val o2 = Curation.deterministicShuffle(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(o1 == o2 && o1 != o1.sorted)
  }

  test("dedupLines: cross-doc boilerplate drops, within-doc repetition survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "COOKIE\nunique one\nunique one\nCOOKIE"), // within-doc repeats: kept
      (2L, "COOKIE\nunique two"),
      (3L, "COOKIE")                                  // all boilerplate: vanishes
    ).toDF("doc_id", "text")
    val out = Curation.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // COOKIE appears in 3 distinct docs -> boilerplate everywhere; the
    // duplicated "unique one" lines live in ONE doc only -> both kept,
    // in original order
    assert(out == Map(
      1L -> ("unique one\nunique one", 2L),
      2L -> ("unique two", 1L)))
    // threshold is distinct-doc count: minDocs=4 keeps everything
    assert(Curation.dedupLines(docs, minDocs = 4).count() == 3)
    // the broadcast rewrite (default) and the relational-reassembly
    // overflow path (forced via maxBoilerplate = 0) produce IDENTICAL rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Curation.dedupLines(docs)) ==
      rows(Curation.dedupLines(docs, maxBoilerplate = 0)))
  }

  test("dedupLinesIncremental: cumulative threshold, replay converges, fold survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("line_idx").toString
    def out(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // batch 0: line A in TWO docs -> boilerplate within the batch itself
    val b0 = Seq((1L, "A\nX1"), (2L, "A\nX2")).toDF("doc_id", "text")
    assert(out(Curation.dedupLinesIncremental(b0, dir, "L0")) == Map(
      1L -> ("X1", 1L), 2L -> ("X2", 1L)))
    // batch 1: X1's SECOND distinct doc arrives -> cumulative count 2,
    // removed from this batch (doc 1 already shipped with it); B is new
    val b1 = Seq((3L, "X1\nB")).toDF("doc_id", "text")
    assert(out(Curation.dedupLinesIncremental(b1, dir, "L1")) == Map(
      3L -> ("B", 1L)))
    // a doc reduced to nothing vanishes: A and X1 are both suppressed now
    val b2 = Seq((4L, "A\nX1")).toDF("doc_id", "text")
    assert(Curation.dedupLinesIncremental(b2, dir, "L2").count() == 0)
    // replay of batch 1: identical output, and the index did not grow
    val indexed = SigIndex.read(spark, dir).count()
    assert(out(Curation.dedupLinesIncremental(b1, dir, "L1")) == Map(
      3L -> ("B", 1L)))
    assert(SigIndex.read(spark, dir).count() == indexed)
    // THE replay trap: a LATER batch pushes line B over the threshold
    // (doc 5 is B's second distinct doc). A replay of batch 1 must still
    // ship B — the decision the original run made — not recompute from
    // the now-larger pair union and suppress it
    val b3 = Seq((5L, "B\nC")).toDF("doc_id", "text")
    assert(out(Curation.dedupLinesIncremental(b3, dir, "L3")) == Map(
      5L -> ("C", 1L))) // B crosses the threshold HERE
    assert(out(Curation.dedupLinesIncremental(b1, dir, "L1")) == Map(
      3L -> ("B", 1L)), "replay diverged from the originally shipped batch")
    // and the frozen decision survives a fold of the pair index
    SigIndex.compact(spark, dir, graceMs = 0L)
    assert(out(Curation.dedupLinesIncremental(b1, dir, "L1")) == Map(
      3L -> ("B", 1L)))
  }

  test("dedupLinesIncremental: decision sidecars fold into ONE ledger; replay survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("line_ledger").toString
    def out(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val b0 = Seq((1L, "A\nX1"), (2L, "A\nX2")).toDF("doc_id", "text")
    val b1 = Seq((3L, "X1\nB")).toDF("doc_id", "text")
    val b2 = Seq((4L, "C")).toDF("doc_id", "text") // EMPTY decision set
    val want0 = out(Curation.dedupLinesIncremental(b0, dir, "L0"))
    val want1 = out(Curation.dedupLinesIncremental(b1, dir, "L1"))
    val want2 = out(Curation.dedupLinesIncremental(b2, dir, "L2"))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirsWith(p: String) = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).count(_.startsWith(p))
    assert(dirsWith("boiler-") == 3)
    // within the DEFAULT retention nothing folds (the replay-from-sidecar
    // window); past it (retention 0) every retired batch's sidecar folds
    // into the single ledger and the dirs sweep on the grace window
    SigIndex.compact(spark, dir, graceMs = 0L) // retires batches (_seen)
    assert(dirsWith("boiler-") == 3, "sidecars folded inside the retention window")
    SigIndex.compact(spark, dir, graceMs = 0L, decisionRetentionMs = 0L)
    assert(dirsWith("boiler-") == 0, "retired sidecars were not swept")
    assert(dirsWith("decled-") == 1, "expected exactly one ledger generation")
    // replays answer from the ledger: identical output, index unchanged,
    // including the batch whose frozen decision set was EMPTY
    val indexed = SigIndex.read(spark, dir).count()
    assert(out(Curation.dedupLinesIncremental(b0, dir, "L0")) == want0)
    assert(out(Curation.dedupLinesIncremental(b1, dir, "L1")) == want1)
    assert(out(Curation.dedupLinesIncremental(b2, dir, "L2")) == want2)
    assert(SigIndex.read(spark, dir).count() == indexed, "ledger replay re-appended")
    // new batches keep landing; a second retention pass folds THEIR
    // sidecars into a fresh ledger generation that carries the old rows,
    // and the superseded generation vacuums — the count stays bounded
    val b3 = Seq((5L, "B\nD")).toDF("doc_id", "text")
    val want3 = out(Curation.dedupLinesIncremental(b3, dir, "L3"))
    SigIndex.compact(spark, dir, graceMs = 0L, decisionRetentionMs = 0L)
    assert(dirsWith("boiler-") == 0 && dirsWith("decled-") == 1)
    assert(out(Curation.dedupLinesIncremental(b3, dir, "L3")) == want3)
    assert(out(Curation.dedupLinesIncremental(b0, dir, "L0")) == want0)
    // a crash between the ledger parquet write and its marker create
    // leaves a marker-less decled- orphan: invisible to replay, swept by
    // the next compact once past the grace window
    Seq((0L, "x")).toDF("name_dummy", "bv_dummy")
      .write.parquet(s"$dir/decled-orphan")
    assert(out(Curation.dedupLinesIncremental(b0, dir, "L0")) == want0,
      "an unmarked ledger dir leaked into replay resolution")
    SigIndex.compact(spark, dir, graceMs = 0L, decisionRetentionMs = 0L)
    assert(dirsWith("decled-") == 1, "marker-less ledger orphan not swept")
    assert(out(Curation.dedupLinesIncremental(b0, dir, "L0")) == want0)
  }

  test("decision ledger replay horizon: data rows drop to tombstones, replay fails loud") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("line_horizon").toString
    def out(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val b0 = Seq((1L, "A\nX1"), (2L, "A\nX2")).toDF("doc_id", "text")
    val b1 = Seq((3L, "X1\nB")).toDF("doc_id", "text")
    val want0 = out(Curation.dedupLinesIncremental(b0, dir, "L0"))
    val want1 = out(Curation.dedupLinesIncremental(b1, dir, "L1"))
    // retire + fold the sidecars into the ledger; the DEFAULT horizon
    // keeps the data rows, so replays still answer from the ledger
    SigIndex.compact(spark, dir, graceMs = 0L, decisionRetentionMs = 0L)
    assert(out(Curation.dedupLinesIncremental(b0, dir, "L0")) == want0)
    assert(out(Curation.dedupLinesIncremental(b1, dir, "L1")) == want1)
    // past the replay horizon the ledger REWRITES: every expired name's
    // rows collapse to one tombstone — the ledger is bounded by the name
    // count, not by every batch's decision-set size forever
    SigIndex.compact(spark, dir, graceMs = 0L, decisionRetentionMs = 0L,
      decisionReplayHorizonMs = 0L)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val led = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("decled-"))
    assert(led.length == 1)
    val rows = spark.read.parquet(s"$dir/${led.head}").collect()
    assert(rows.length == 2 && rows.forall(r => r.isNullAt(1) && r.getBoolean(2)),
      s"expected one tombstone per expired name, got ${rows.mkString(";")}")
    // a replay this old FAILS LOUD (the original decision is gone; a
    // silent recompute against the larger pair union would suppress
    // lines the original run shipped)
    val e = intercept[IllegalStateException] {
      Curation.dedupLinesIncremental(b0, dir, "L0").collect()
    }
    assert(e.getMessage.contains("replay horizon"))
    // a name that never recorded a decision still reads as None, and the
    // pipeline keeps moving: new batches land, fold, and replay normally
    assert(SigIndex.readDecision(spark, dir, "neverwas").isEmpty)
    val b2 = Seq((9L, "Z")).toDF("doc_id", "text")
    val want2 = out(Curation.dedupLinesIncremental(b2, dir, "L2"))
    SigIndex.compact(spark, dir, graceMs = 0L, decisionRetentionMs = 0L)
    assert(out(Curation.dedupLinesIncremental(b2, dir, "L2")) == want2)
  }
}
