package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class CurationPipelineSpec extends AnyFunSuite with SharedSpark {

  // each row exercises one filter; the English keepers are real prose so
  // langId / quality / repetition all pass them
  private val en1 = "the quick brown fox jumps over the lazy dog and then it runs into the forest with the others"
  private val en2 = "a small group of people walked to the old house near the river and they talked about the weather for a while"
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, s"<p>$en1</p>"),                       // keeper (markup stripped)
      (2L, en2),                                  // keeper
      (3L, s"<div>$en1</div>"),                   // exact dup of 1 post-strip
      (4L, "der schnelle braune fuchs springt über den faulen hund und läuft schnell durch den dunklen wald nach hause"), // off-language
      (5L, "buy now " * 30),                      // repetition bomb
      (6L, "!!! ### $$$ %%% ^^^ &&& *** ((( )))") // punctuation soup
    ).map { case (id, t) => (id, t.trim) }.toDF("doc_id", "text")
  }

  test("curate keeps clean unique English prose, drops each junk class") {
    val out = CurationPipeline.curate(corpus).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val byId = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) == en1, "markup stripped, text otherwise intact")
    assert(out.forall(_.getString(2) == "en"))
  }

  test("audit attributes each doc to the first dropping stage; counts sum to raw") {
    val a = CurationPipeline.audit(corpus)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // corpus: docs 1,2 pass; 3 is 1's dup (passes the SIGNAL stages —
    // dedup is corpus-relative, not audited); 4 German; 5 repetition
    // bomb; 6 punctuation soup (quality)
    assert(a("pass") == 3 && a("off_language") == 1)
    assert(a.getOrElse("repetitive", 0L) + a.getOrElse("low_quality", 0L) == 2)
    assert(a.values.sum == 6)
    // the empty arm: markup-only docs clean to nothing
    import spark.implicits._
    val e = CurationPipeline.audit(
      Seq((9L, "<p><b></b></p>")).toDF("doc_id", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(e == Map("empty" -> 1L))
    // NULL text: audit files it under 'empty' — the same verdict curate()
    // reaches by dropping it at the length>0 filter (not 'off_language'
    // via the lang coalesce, not 'pass')
    val nulls = Seq((10L, Option.empty[String]), (11L, Option(en1)))
      .toDF("doc_id", "text")
    val na = CurationPipeline.audit(nulls)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(na.getOrElse("empty", 0L) == 1L && na.values.sum == 2)
    assert(CurationPipeline.curate(nulls).collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("curateStream applies the same filters on a live stream, dedups by content") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batchKept = CurationPipeline.curate(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, Long, String)] // (doc_id, t_ms, text)
    val rows = corpus.collect().map(r => (r.getLong(0), 1000L * r.getLong(0),
      r.getString(1)))
    val q = CurationPipeline.curateStream(
        in.toDF().toDF("doc_id", "t", "text")
          .withColumn("ts2", org.apache.spark.sql.functions
            .timestamp_millis(org.apache.spark.sql.functions.col("t"))),
        "ts2", lateness = "1 hour")
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    try {
      in.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("curate_stream")
        .collect().map(_.getLong(0)).toSet
      // same filters; dedup keeps ONE of each duplicate pair (first
      // arrival, not necessarily the smaller id like batch)
      assert(streamed.size == batchKept.size)
      assert(streamed.forall(id => batchKept.contains(id) ||
        (Set(1L, 3L).contains(id) && (batchKept & Set(1L, 3L)).nonEmpty)))
      val lang = spark.table("curate_stream").select("lang").distinct()
        .collect().map(_.getString(0)).toSet
      assert(lang == Set("en"))
    } finally q.stop()
  }

  test("run writes deterministic bounded shards and reports the funnel") {
    val d1 = java.nio.file.Files.createTempDirectory("cur1").toString
    val d2 = java.nio.file.Files.createTempDirectory("cur2").toString
    val cfg = CurationPipeline.Config(nShards = 2, maxRecordsPerShard = 10)
    val funnel = CurationPipeline.run(corpus, d1, cfg)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel("raw") == 6 && funnel("curated") == 2 &&
      funnel("shards_written") == 2)
    CurationPipeline.run(corpus, d2, cfg)
    // byte-deterministic re-run: same rows, same seq assignment
    val a = spark.read.parquet(d1).collect().map(_.toSeq).toSet
    val b = spark.read.parquet(d2).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // packing metadata present on every row
    assert(spark.read.parquet(d1).columns.toSet
      .intersect(Set("seq_id", "n_tok")) == Set("seq_id", "n_tok"))
  }
}
