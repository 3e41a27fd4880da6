package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.Rules
import graft.sources.PointsStore
import graft.testkit.SharedSpark

class StreamingSpec extends AnyFunSuite with SharedSpark {

  private val envSchema = StructType(Seq(
    StructField("source_id", StringType), StructField("timestamp", LongType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("kind", StringType),
    StructField("gauge", MapType(StringType, DoubleType)),
    StructField("name", StringType), StructField("total", DoubleType),
    StructField("start", LongType), StructField("stop", LongType)))

  private def envelopes(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), envSchema)

  test("nozzle: gauge fans out per metric, counter keeps total, sanitization applies") {
    val ns = 1704067200L * 1000000000L
    val envFixed = envelopes(Seq(
      Row("app-1", ns, Map("deployment" -> "cf"), "gauge",
        Map("cpu" -> 0.5, "mem%used" -> 77.0), null, null, null, null),
      Row("app-1", ns, Map("bad tag!" -> ("x" * 300)), "counter",
        null, "9http.requests", 42.0, null, null),
      Row("app-1", ns, null, "counter", null, "ok_name", Double.NaN, null, null)))
    val pts = Nozzle.toPoints(envFixed).collect()
    assert(pts.length == 3) // 2 gauge metrics + 1 counter; NaN rejected
    val names = pts.map(_.getAs[String]("name")).toSet
    assert(names.contains("cpu"))
    assert(names.contains("mem_used")) // '%' sanitized
    assert(names.contains("_http_requests")) // leading digit -> '_'
    val counterRow = pts.find(_.getAs[String]("name") == "_http_requests").get
    val labels = counterRow.getAs[Map[String, String]]("labels")
    assert(labels.contains("bad_tag_"))
    assert(labels("bad_tag_").length == 256) // value truncation
    assert(labels("source_id") == "app-1")
  }

  test("streaming remote-write egress: micro-batches land in a second engine's store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // receiver: a second engine instance exposing /api/v1/write over a store
    val dir = Files.createTempDirectory("rw-egress").toString
    val empty = graft.model.Points.withSig(
      Seq.empty[(String, Map[String, String], Long, Double)]
        .toDF("name", "labels", "t", "value"))
    val api = new graft.api.HttpApi(spark, empty,
      writeSink = Some(df => PointsStore.append(df, dir)))
    val port = api.start(0)
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("name", "t", "value")
      .withColumn("labels", map(lit("job"), lit("egress")))
    val q = graft.model.Points.withSig(pts).writeStream
      .outputMode("append")
      .foreachBatch(graft.api.RemoteWrite.sink(
        s"http://127.0.0.1:$port/api/v1/write"))
      .start()
    try {
      mem.addData(("egress_total", 1704067200000L, 1.0),
        ("egress_total", 1704067260000L, 2.0))
      q.processAllAvailable()
      mem.addData(("egress_total", 1704067320000L, 4.0))
      q.processAllAvailable()
      val stored = PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
      assert(stored.count() == 3)
      assert(stored.agg(org.apache.spark.sql.functions.sum("value"))
        .head.getDouble(0) == 7.0)
      assert(stored.select("labels").head
        .getAs[Map[String, String]](0) == Map("job" -> "egress"))
    } finally { q.stop(); api.stop() }
  }

  test("end-to-end: streaming envelopes -> nozzle -> store append -> PromQL query") {
    // the full ingest path of the reference (envelope stream -> sanitize ->
    // shard append -> queryable), as readStream -> foreachBatch ->
    // PointsStore.append -> Engine over the persisted partitions
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("e2e").toString
    val ns0 = 1704067200L * 1000000000L
    val mem = MemoryStream[(String, Long, String, Double)]
    val env = mem.toDF().toDF("source_id", "timestamp", "name", "total")
      .withColumn("tags", map(lit("job"), col("source_id")))
      .withColumn("kind", lit("counter"))
      .withColumn("gauge", lit(null).cast("map<string,double>"))
      .withColumn("start", lit(null).cast("long"))
      .withColumn("stop", lit(null).cast("long"))
    val q = Nozzle.toPoints(env).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        PointsStore.append(batch, dir)
      }
      .start()
    try {
      // two micro-batches, two days of samples (exercises partition split)
      mem.addData(("app-1", ns0, "http_total", 10.0),
        ("app-1", ns0 + 60L * 1000000000L, "http_total", 20.0))
      q.processAllAvailable()
      mem.addData(("app-1", ns0 + 86400L * 1000000000L, "http_total", 35.0))
      q.processAllAvailable()
    } finally q.stop()
    val t0 = 1704067200000L
    val stored = PointsStore.read(spark, dir, t0, t0 + 2 * 86400000L)
    // rate over the counter across the stored samples
    val rate = graft.engine.Engine.instantQuery(spark, stored,
      "rate(http_total[1m30s])", t0 + 60000L)
      .collect()
    assert(rate.length == 1)
    assert(rate.head.getAs[Map[String, String]]("labels")("job") == "app-1")
    assert(rate.head.getAs[Double]("value") > 0)
    // the second day's sample landed in its own partition and is visible
    val day2 = graft.engine.Engine.instantQuery(spark, stored,
      "http_total", t0 + 86400000L)
      .collect()
    assert(day2.head.getAs[Double]("value") == 35.0)
  }

  test("streaming counter rollup over a memory stream matches batch rollup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long, Long)]
    val timers = mem.toDF().toDF("source_id", "timestamp", "start", "stop")
    val agg = Rollups.streamingCounterRollup(timers, 60000L)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rollup_out").start()
    val base = 1704067200L * 1000000000L
    mem.addData(
      ("gorouter", base, base, base + 5000000L),
      ("gorouter", base + 30L * 1000000000L, base, base),
      ("gorouter", base + 90L * 1000000000L, base, base),
      ("other", base, base, base))
    q.processAllAvailable()
    val got = spark.table("rollup_out").collect()
      .map(r => (r.getAs[Long]("window_start"), r.getAs[String]("source_id"), r.getAs[Long]("value")))
      .toSet
    q.stop()
    val expected = Set(
      (1704067200000L, "gorouter", 2L),
      (1704067260000L, "gorouter", 1L),
      (1704067200000L, "other", 1L))
    assert(got == expected)
  }

  test("points store: partitioned write, pruned read, retention drop") {
    val dir = Files.createTempDirectory("pts").toString
    val day1 = 1704067200000L
    val day3 = day1 + 2 * 86400000L
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("m", Map("a" -> "1"), day1 + 10L, 1.0),
        Row("m", Map("a" -> "1"), day3 + 10L, 3.0)), 1),
      StructType(Seq(
        StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
        StructField("t", LongType), StructField("value", DoubleType)))))
    PointsStore.append(pts, dir)
    assert(PointsStore.read(spark, dir, day1, day1 + 1000).count() == 1)
    assert(PointsStore.read(spark, dir, day1, day3 + 1000000).count() == 2)
    val dropped = PointsStore.expire(spark, dir, day3)
    assert(dropped.length == 1)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("compaction merges per-batch small files, preserves rows and clustering") {
    val dir = Files.createTempDirectory("compact").toString
    val day1 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(rows: Seq[Row]) = graft.model.Points.withSig(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    // three appends = three+ files in the day partition (micro-batch shape)
    (0 until 3).foreach { b =>
      PointsStore.append(pts(Seq(
        Row("m2", Map("a" -> b.toString), day1 + b * 1000L, b.toDouble),
        Row("m1", Map("a" -> b.toString), day1 + b * 1000L, b * 2.0))), dir)
    }
    def dayFiles = {
      val d = new java.io.File(s"$dir/date=2024-01-01")
      d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val before = PointsStore.read(spark, dir, day1, day1 + 10000L)
      .collect().map(_.toString).sorted.toSeq
    assert(dayFiles >= 3)
    val compacted = PointsStore.compact(spark, dir)
    assert(compacted.nonEmpty)
    // MVCC: the replaced files stay on disk through the grace window (a
    // planned reader keeps every file it references); only the manifest
    // flips which set a NEW reader sees
    assert(dayFiles >= 4)
    val after = PointsStore.read(spark, dir, day1, day1 + 10000L)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    // a later compaction past the grace window vacuums the dead files
    PointsStore.compact(spark, dir, graceMs = 0L)
    assert(dayFiles == 1)
    assert(PointsStore.read(spark, dir, day1, day1 + 10000L)
      .collect().map(_.toString).sorted.toSeq == before)
    // and the rewritten live file is (name, sig, t)-clustered: no name
    // returns after a different name appears
    val liveFile = new java.io.File(s"$dir/date=2024-01-01").listFiles()
      .filter(f => f.getName.startsWith("compacted-") && f.getName.endsWith(".parquet"))
      .head.toString
    val names = spark.read.parquet(liveFile)
      .select("name").collect().map(_.getString(0)).toSeq
    val transitions = names.zip(names.drop(1)).count { case (a, b) => a != b }
    assert(transitions <= 1) // m1-block then m2-block
  }

  test("a reader planned before compaction survives the swap (no visibility gap)") {
    val dir = Files.createTempDirectory("mvcc").toString
    val day1 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(rows: Seq[Row]) = graft.model.Points.withSig(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    (0 until 10).foreach { b =>
      PointsStore.append(pts(Seq(
        Row("m", Map("b" -> b.toString), day1 + b * 1000L, 1.0),
        Row("m", Map("b" -> b.toString), day1 + b * 1000L + 1, 2.0))), dir)
    }
    // plan a reader BEFORE compaction: its file index pins the pre-swap set
    val planned = PointsStore.read(spark, dir, day1, day1 + 100000L)
    assert(planned.count() == 20)
    // compact with the default grace: replaced files are -listed in the
    // manifest but never renamed or deleted — the planned reader's files
    // all still exist, and a fresh reader sees the compacted set
    assert(PointsStore.compact(spark, dir).nonEmpty)
    assert(planned.count() == 20) // old plan, old files: intact
    assert(PointsStore.read(spark, dir, day1, day1 + 100000L).count() == 20)
    // appends after compaction are visible alongside the compacted output
    PointsStore.append(pts(Seq(Row("m", Map("b" -> "x"), day1 + 50000L, 3.0))), dir)
    assert(PointsStore.read(spark, dir, day1, day1 + 100000L).count() == 21)
    // second generation: compact again (old plan still safe), then vacuum
    assert(PointsStore.compact(spark, dir).nonEmpty)
    assert(planned.count() == 20)
    PointsStore.compact(spark, dir, graceMs = 0L)
    assert(PointsStore.read(spark, dir, day1, day1 + 100000L).count() == 21)
  }

  test("last-write-wins: re-sent (series, t) points collapse to the newest write on compact") {
    val dir = Files.createTempDirectory("lww").toString
    val day1 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(v: Double) = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 10).map(i =>
        Row("m", Map("s" -> (i % 2).toString), day1 + i * 1000L, v)), 2), schema))
    // the same 10 (series, t) points written twice, second write newer value
    PointsStore.append(pts(1.0), dir)
    PointsStore.append(pts(2.0), dir)
    // both copies are on disk (lww=false shows compaction's input view);
    // the default read already collapses them via the read-time guard
    assert(PointsStore.read(spark, dir, day1, day1 + 60000L, lww = false).count() == 20)
    assert(PointsStore.read(spark, dir, day1, day1 + 60000L).count() == 10)
    PointsStore.compact(spark, dir)
    val after = PointsStore.read(spark, dir, day1, day1 + 60000L)
      .select("t", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // one sample per (sig, t), and the NEWER write won (TSM overwrite
    // semantics — the guarantee Selectors.instant documents)
    assert(after.length == 10)
    assert(after.forall(_._2 == 2.0))
    // a range kernel over the compacted store counts each point once
    val stored = PointsStore.read(spark, dir, day1, day1 + 60000L)
    val cot = graft.engine.Engine.instantQuery(spark, stored,
      "sum(count_over_time(m[2m]))", day1 + 60000L)
    assert(cot.head.getAs[Double]("value") == 10.0)
  }

  test("last-write-wins without compaction: the read-time guard collapses a plain re-send") {
    val dir = Files.createTempDirectory("lww_nc").toString
    val day1 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(v: Double) = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 10).map(i =>
        Row("m", Map("s" -> (i % 2).toString), day1 + i * 1000L, v)), 2), schema))
    // a remote-write retry whose first attempt landed: same (series, t)
    // twice via plain append, NO compaction in between
    PointsStore.append(pts(1.0), dir)
    PointsStore.append(pts(2.0), dir)
    val got = PointsStore.read(spark, dir, day1, day1 + 60000L)
      .select("t", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10, "read-time guard must collapse uncompacted duplicates")
    assert(got.forall(_._2 == 2.0), "the newest write stamp must win")
    // a range kernel over the UNCOMPACTED store counts each point once
    val cot = graft.engine.Engine.instantQuery(spark,
      PointsStore.read(spark, dir, day1, day1 + 60000L),
      "sum(count_over_time(m[2m]))", day1 + 60000L)
    assert(cot.head.getAs[Double]("value") == 10.0)
    // lww=false exposes the raw rows (compaction's input view)
    assert(PointsStore.read(spark, dir, day1, day1 + 60000L, lww = false).count() == 20)
    // once compacted to a single generation, the guard is skipped: the
    // steady-state read plans no window shuffle
    PointsStore.compact(spark, dir)
    PointsStore.compact(spark, dir, graceMs = 0L)
    val steady = PointsStore.read(spark, dir, day1, day1 + 60000L)
    assert(!steady.queryExecution.optimizedPlan.toString.contains("Window"),
      "compacted single-generation read must skip the LWW guard")
    assert(steady.count() == 10)
  }

  test("auto-compaction: a long streaming run keeps per-day live-file count bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("auto_compact").toString
    val day1 = 1704067200000L
    val mem = MemoryStream[(String, Long, Double)]
    val pts = graft.model.Points.withSig(
      mem.toDF().toDF("name", "t", "value")
        .withColumn("labels", map(lit("job"), lit("ac"))))
    // the ready-made store sink: exactly-once append + maybeCompact policy
    val q = pts.writeStream.outputMode("append")
      .foreachBatch(PointsStore.sink(dir, maxLiveFiles = 4)).start()
    try {
      (0 until 12).foreach { i =>
        mem.addData(("ac_total", day1 + i * 1000L, i.toDouble))
        q.processAllAvailable() // one micro-batch (= one append file) each
      }
    } finally q.stop()
    val rd = PointsStore.read(spark, dir, day1, day1 + 60000L)
    // 12 micro-batches wrote 12 append files; the policy compacted along
    // the way, so the live set stays bounded by the threshold (+ appends
    // since the last trigger), NOT by the batch count
    assert(rd.inputFiles.length <= 5,
      s"live files ${rd.inputFiles.length} must stay bounded, not grow per batch")
    assert(rd.count() == 12)
    val got = rd.select("t", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.map(_._2).toSeq == (0 until 12).map(_.toDouble))
  }

  test("a replayed micro-batch appends exactly once (idempotent sink, stable rates)") {
    val storeDir = Files.createTempDirectory("replay_store").toString
    val stateDir = Files.createTempDirectory("replay_state").toString
    val t1 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    val batch = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 5).map(i =>
        Row("load", Map("job" -> "x"), t1 + i * 60000L, 10.0 + i)), 2), schema))
    val sink = Rules.alertingSink(storeDir, stateDir,
      Seq(Rules.AlertingRule("High", "load > 1", forMs = 0L)))
    sink(batch, 7L)
    def counted = graft.engine.Engine.instantQuery(spark,
      PointsStore.read(spark, storeDir, t1, t1 + 600000L),
      "count_over_time(load[10m])", t1 + 300000L).head.getAs[Double]("value")
    val once = counted
    assert(once == 5.0)
    // foreachBatch is at-least-once: the SAME batchId replayed must not
    // double-count any downstream count_over_time/rate
    sink(batch, 7L)
    assert(counted == once)
    assert(!PointsStore.appendOnce(batch, storeDir, 7L)) // marker committed
    assert(PointsStore.appendOnce(batch, storeDir, 8L))  // next batch writes
    // batch 8 carries the SAME (series, t) rows: the write landed (raw view
    // holds both copies) but LWW semantics collapse it to one sample per
    // (series, t) on every default read — no double counting
    assert(PointsStore.read(spark, storeDir, t1, t1 + 600000L, lww = false)
      .count() == 2 * once)
    assert(counted == once)
  }

  test("series dictionary lifecycle: compact folds to one file, expire prunes dead sigs") {
    val dir = Files.createTempDirectory("dict_life").toString
    val day = 86400000L
    val t0 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pt(name: String, t: Long) = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(name, Map("job" -> "x"), t, 1.0)), 1), schema))
    // series a lives only on day 1; b only on day 30; c spans both
    PointsStore.append(pt("a", t0 + 1000L), dir)
    PointsStore.append(pt("c", t0 + 2000L), dir)
    PointsStore.append(pt("b", t0 + 29 * day + 1000L), dir)
    PointsStore.append(pt("c", t0 + 29 * day + 2000L), dir)
    def dictNames = PointsStore.readDict(spark, dir).get
      .select("name").collect().map(_.getString(0)).toSeq.sorted
    assert(dictNames == Seq("a", "b", "c")) // c deduped across days
    // compact folds the per-batch sidecar files into ONE deduped file:
    // reading it afterwards plans no aggregation (no shuffle per query)
    PointsStore.compact(spark, dir)
    val dict = PointsStore.readDict(spark, dir).get
    assert(dictNames == Seq("a", "b", "c"))
    assert(!dict.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      "readDict still plans a dedup shuffle on a compacted store")
    // retention: dropping days < cutoff prunes dict entries whose newest
    // day predates it — `a` dies with day 1, `c` survives via day 30
    PointsStore.expire(spark, dir, t0 + 15 * day)
    assert(dictNames == Seq("b", "c"))
    // and the pruned dict is still consistent with the remaining data
    val stored = PointsStore.read(spark, dir, t0, t0 + 30 * day)
    val names = stored.select("name").distinct().collect().map(_.getString(0)).toSet
    assert(names == Set("b", "c"))
  }

  test("mixed rule windows read the union of their days, not the hull") {
    val day = 86400000L
    val t0 = 1704067200000L
    val storeDir = Files.createTempDirectory("union_store").toString
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 30).map(d =>
        Row("load", Map("job" -> "x"), t0 + d * day + 400000L, 50.0)), 2), schema))
    PointsStore.append(pts, storeDir)
    // one rule pinned 26 days before another: the hull would span 27 days
    val pin = t0 + 3 * day + 400000L
    val tick = t0 + 29 * day + 400000L
    val grid = graft.engine.StepGrid(tick, tick, 1000L)
    val rules = Seq(
      Rules.AlertingRule("Pinned", s"load @ ${pin / 1000} > 10", forMs = 0L),
      Rules.AlertingRule("Now", "load > 10", forMs = 0L))
    val bounds = rules.flatMap(r =>
      graft.engine.Guards.selectorWindowBounds(r.expr, grid))
    assert(bounds.length == 2)
    // two disjoint day-granularity intervals, merged windows stay apart
    val merged = Rules.mergeWindows(bounds)
    assert(merged.length == 2)
    // the union read touches exactly the pinned day + the current day
    val readDays = Rules.prunedUnionRead(spark, storeDir, bounds)
      .select(expr("t div 86400000")).distinct().count()
    assert(readDays == 2, s"union read touched $readDays days, expected 2")
    // windows in the same or adjacent days DO merge (single pruned read)
    assert(Rules.mergeWindows(Seq((t0, t0 + 1000L), (t0 + day, t0 + day + 1000L))).length == 1)
    assert(Rules.mergeWindows(Seq((t0, t0 + 1000L), (t0 + 3 * day, t0 + 3 * day + 1000L))).length == 2)
  }

  test("streaming threshold alerts: pending -> firing -> resolved across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, Double)]
    val pts = mem.toDF().toDF("sig", "name", "t", "value")
      .withColumn("labels", org.apache.spark.sql.functions.map())
    val alerts = graft.rules.Rules.streamingThresholdAlerts(
      spark, pts, "Hot", "temp", threshold = 50.0, forMs = 120000L)
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName("alerts_out").start()
    val t0 = 1704067200000L
    mem.addData((1L, "temp", t0, 80.0))                    // batch 1: pending
    q.processAllAvailable()
    mem.addData((1L, "temp", t0 + 130000L, 85.0))          // batch 2: firing
    q.processAllAvailable()
    mem.addData((1L, "temp", t0 + 200000L, 10.0))          // batch 3: resolved
    q.processAllAvailable()
    val got = spark.table("alerts_out").collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("tMs"))).toList
    q.stop()
    assert(got == List(("pending", t0), ("firing", t0 + 130000L), ("resolved", t0 + 200000L)))
  }

  test("checkpointed PromQL alerting: for: state survives a stream restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val storeDir = Files.createTempDirectory("alert_store").toString
    val stateDir = Files.createTempDirectory("alert_state").toString
    // each run gets its own source checkpoint: the restart durability under
    // test is the rule STATE in stateDir, which outlives the stream query
    val ckpt1 = Files.createTempDirectory("alert_ckpt1").toString
    val ckpt2 = Files.createTempDirectory("alert_ckpt2").toString
    val rule = Rules.AlertingRule("HighLoad", "load > 10", forMs = 120000L)
    val firedAt = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sink = Rules.alertingSink(storeDir, stateDir, Seq(rule),
      onFiring = (_, rows) => firedAt ++= rows.map(_.getAs[Long]("since")))
    def mkPoints(mem: MemoryStream[(String, Long, Double)]) =
      graft.model.Points.withSig(mem.toDF().toDF("name", "t", "value")
        .withColumn("labels", map(lit("job"), lit("x"))))
    val t1 = 1704067200000L

    // run 1: condition true at t1 -> pending persisted, nothing firing
    val mem1 = MemoryStream[(String, Long, Double)]
    val q1 = mkPoints(mem1).writeStream.outputMode("append")
      .option("checkpointLocation", ckpt1)
      .foreachBatch(sink).start()
    mem1.addData(("load", t1, 50.0))
    q1.processAllAvailable()
    q1.stop() // kill between ticks
    assert(firedAt.isEmpty)
    assert(Rules.loadAlertState(spark, stateDir, "HighLoad").count() == 1)

    // run 2 (fresh query, same checkpoint/state): still true at t1+2min ->
    // the persisted `since` carries the pending window across the restart
    val mem2 = MemoryStream[(String, Long, Double)]
    val q2 = mkPoints(mem2).writeStream.outputMode("append")
      .option("checkpointLocation", ckpt2)
      .foreachBatch(sink).start()
    mem2.addData(("load", t1 + 120000L, 55.0))
    q2.processAllAvailable()
    q2.stop()
    assert(firedAt.toList == List(t1)) // fired, with since = the PRE-restart tick

    // the streamed firing decision matches the pure batch-tick sequence
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(rows: Seq[Row]) = graft.model.Points.withSig(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    val (s1, f1) = Rules.alertingTick(spark, pts(Seq(Row("load", Map("job" -> "x"), t1, 50.0))),
      rule, Rules.emptyState(spark), t1)
    val (_, f2) = Rules.alertingTick(spark,
      pts(Seq(Row("load", Map("job" -> "x"), t1 + 120000L, 55.0))), rule, s1, t1 + 120000L)
    assert(f1.count() == 0)
    assert(f2.select("since").as[Long].collect().toList == firedAt.toList)
  }

  test("an @-pinned rule reads only its pinned day(s), not the retention window") {
    val day = 86400000L
    val t0 = 1704067200000L // day boundary
    val storeDir = Files.createTempDirectory("at_store").toString
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    // 30 days of data, one point per day
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 30).map(d =>
        Row("load", Map("job" -> "x"), t0 + d * day + 1000L, 50.0)), 2), schema))
    PointsStore.append(pts, storeDir)

    // the rule pins its selector to an absolute timestamp on day 3, far
    // enough past midnight that the 5m lookback stays inside the day
    val pin = t0 + 3 * day + 301000L
    val rule = Rules.AlertingRule("Pinned", s"load @ ${pin / 1000} > 10", forMs = 0L)
    val tick = t0 + 29 * day + 1000L
    val grid = graft.engine.StepGrid(tick, tick, 1000L)
    val bounds = graft.engine.Guards.selectorWindowBounds(rule.expr, grid).get
    // the pinned selector's absolute window is [pin - lookback, pin]
    assert(bounds == (pin - 300000L, pin))
    // a store read over those bounds touches only the pinned day —
    // not the 30-day retention window the old unbounded fallback scanned
    val readDays = PointsStore.read(spark, storeDir, bounds._1, bounds._2)
      .select(expr("t div 86400000")).distinct().count()
    assert(readDays == 1)
    // and the sink still fires correctly off the pinned evaluation
    val stateDir = Files.createTempDirectory("at_state").toString
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = Rules.alertingSink(storeDir, stateDir, Seq(rule),
      onFiring = (r, _) => fired += r.alert)
    sink(pts.where(col("t") === tick), 0L)
    assert(fired.toList == List("Pinned"))
  }

  test("batched tick: many rules = one state version, one pass, per-rule firing") {
    val storeDir = Files.createTempDirectory("batch_store").toString
    val stateDir = Files.createTempDirectory("batch_state").toString
    val t1 = 1704067200000L
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(t: Long) = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 50).map(i =>
        Row(s"m$i", Map("job" -> "x"), t, i.toDouble)), 2), schema))
    // 50 rules; half have a satisfied threshold, half can never fire
    val rules = (0 until 50).map(i =>
      Rules.AlertingRule(s"R$i", s"m$i > ${if (i % 2 == 0) -1 else 1e9}",
        forMs = 60000L))
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = Rules.alertingSink(storeDir, stateDir, rules,
      onFiring = (r, rows) => { assert(rows.length == 1); fired += r.alert })
    sink(pts(t1), 0L) // tick 1: pending
    assert(fired.isEmpty)
    sink(pts(t1 + 60000L), 1L) // tick 2: for: satisfied on even rules
    assert(fired.toList == (0 until 50 by 2).map(i => s"R$i").toList)
    // ONE batched state table, not 50 per-rule tables
    val stateRoot = new java.io.File(stateDir)
    assert(stateRoot.listFiles().map(_.getName).toSet == Set("__all__"))
    // pruned to the two newest versions
    val versions = new java.io.File(stateDir, "__all__").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).sorted.toList
    assert(versions == List(s"v=$t1", s"v=${t1 + 60000L}"))
    // one alert's rows of the batched table read back on their own
    assert(Rules.loadAlertState(spark, stateDir, "R0").count() == 1)
  }

  test("recording backfill equals the per-step tick union (one plan, not a loop)") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    val t1 = 1704067200000L
    val rows = for (k <- 0 until 6; u <- Seq("a", "b"))
      yield Row("m", Map("u" -> u), t1 + k * 60000L, (k + 1 + u.length).toDouble)
    val pts = graft.model.Points.withSig(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    val rule = Rules.RecordingRule("u:m:sum", "sum by (u) (m)", Map("rg" -> "g"))
    val steps = Seq(t1 + 120000L, t1 + 180000L, t1 + 240000L)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), col("labels").getItem("u"),
        col("labels").getItem("rg"), col("t"), col("value"))
      .collect().map(_.toString).sorted.toSeq
    val ticked = steps.map(ts =>
      Rules.recordingTick(spark, pts, rule, ts, lookbackMs = 60000L))
      .reduce(_ unionByName _)
    val filled = Rules.backfill(spark, pts, rule,
      steps.head, steps.last, 60000L, lookbackMs = 60000L)
    assert(shape(filled) == shape(ticked))
    assert(filled.count() == 6) // 3 steps x 2 series, appendable points
  }

  test("alerting rule: pending -> firing with for:, resolves on absence") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    def pts(rows: Seq[Row]) = graft.model.Points.withSig(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    val rule = Rules.AlertingRule("HighLoad", "load > 10", forMs = 120000L)
    val t1 = 1704067200000L
    val high = Seq(Row("load", Map("job" -> "x"), t1, 50.0))
    // tick 1: condition true -> pending, not firing
    val (s1, f1) = Rules.alertingTick(spark, pts(high), rule, Rules.emptyState(spark), t1)
    assert(s1.count() == 1 && f1.count() == 0)
    // tick 2 at +2min: still true -> firing
    val high2 = Seq(Row("load", Map("job" -> "x"), t1 + 120000L, 50.0))
    val (s2, f2) = Rules.alertingTick(spark, pts(high2), rule, s1, t1 + 120000L)
    assert(f2.count() == 1)
    assert(f2.head.getAs[String]("alertname") == "HighLoad")
    // tick 3: condition gone -> state empties
    val low = Seq(Row("load", Map("job" -> "x"), t1 + 240000L, 1.0))
    val (s3, f3) = Rules.alertingTick(spark, pts(low), rule, s2, t1 + 240000L)
    assert(s3.count() == 0 && f3.count() == 0)
  }

  test("soak: curateStream -> exactStream -> auto-compacting store sink, 100+ micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("curate_soak").toString
    val t0 = 1704067200000L
    val nBatches = 110
    val mem = MemoryStream[(Long, String, Long)] // (doc_id, text, t_ms)
    val raw = mem.toDF().toDF("doc_id", "text", "t")
      .withColumn("ts", timestamp_millis(col("t")))
    // the composed streaming pipeline under sustained load: strip/scrub +
    // lang/quality signal filter (stateless) -> watermark-bounded exact
    // dedup (stateful) -> per-batch quality-metric points into the
    // exactly-once auto-compacting store sink
    val curated = graft.pipeline.CurationPipeline.curateStream(raw, "ts",
      graft.pipeline.CurationPipeline.Config(langs = Set("en"), minQuality = 0.0,
        maxTopBigramFrac = 1.0, maxDupTrigramFrac = 1.0))
    val q = curated.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val pts = graft.model.Points.withSig(batch.select(
          lit("doc_quality").as("name"),
          map(lit("lang"), col("lang")).as("labels"),
          // event time re-derived from the id scheme (outputShape drops ts)
          (lit(t0) + (col("doc_id") / 10).cast("long") * 60000L).as("t"),
          col("quality_score").as("value")))
        PointsStore.sink(dir, maxLiveFiles = 4)(pts, id)
      }.start()
    def uniq(i: Int) =
      s"batch $i carries its own fresh prose about topic number $i with " +
        s"plenty of ordinary english words to keep the quality score sane"
    try {
      (0 until nBatches).foreach { i =>
        val t = t0 + i * 60000L // event time advances 1 min per batch
        val rows = Seq(
          (i * 10L, uniq(i), t),       // fresh keeper
          (i * 10L + 1, uniq(i), t),   // within-batch duplicate: dropped
          (i * 10L + 2, "der schnelle braune fuchs springt über den faulen hund im dunklen wald", t) // off-language: filtered BEFORE state
        ) ++ (if (i > 0) Seq((i * 10L + 3, uniq(i - 1), t)) else Nil) // cross-batch dup inside watermark: dropped
        mem.addData(rows: _*)
        q.processAllAvailable()
      }
      // ---- bounded STATE: the dedup store holds only in-watermark
      // survivor signatures (~10 min / 1 min-per-batch ≈ 11 live, double-
      // buffered by the operator) — NOT one row per distinct text ever seen
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsTotal).max
      assert(stateRows <= 60,
        s"dedup state $stateRows rows — should be watermark-bounded, not corpus-bounded")
      // ---- bounded FILES: 110 micro-batch appends, auto-compacted along
      // the way; the single-day live set stays near the trigger threshold
      val rd = PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
      assert(rd.inputFiles.length <= 8,
        s"live files ${rd.inputFiles.length} must stay bounded across $nBatches batches")
      // ---- correctness under load: exactly one survivor per unique text
      // (off-language filtered, within-batch and cross-batch dups dropped),
      // each landing exactly once despite replay-capable appends
      val got = rd.select(col("labels").getItem("lang"), col("value")).collect()
      assert(got.length == nBatches, s"expected $nBatches survivors, got ${got.length}")
      assert(got.forall(_.getString(0) == "en"))
      assert(rd.select(countDistinct(col("t"))).head().getLong(0) == nBatches)
    } finally q.stop()
  }

  /** The COMPOSED production graph, end to end, with a kill/recover in the
    * nastiest window: envelope stream -> nozzle counter points + timer
    * rollup points + incremental log dedup (survivors as points) -> ONE
    * exactly-once store append per micro-batch -> PromQL over the store.
    * The crash is injected AFTER the sink's appends land but BEFORE the
    * streaming commit, so the restarted query REPLAYS the whole batch —
    * the appendOnce/incrementalOnce markers must absorb it. The recovered
    * store must equal a never-failed run of the same data, sample-exact. */
  test("composed dogfood: nozzle + rollup + incremental dedup -> store, kill/recover equals no-failure run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ns0 = 1704067200L * 1000000000L
    val logs = IndexedSeq(
      "the gateway accepted a request and routed it to the primary backend pool without delay",
      "a slow disk on node seven pushed the write latency past the alerting threshold overnight",
      "the gateway accepted a request and routed it to the primary backend pool without delay", // dup of 0
      "cache eviction storm after the deploy doubled the miss rate for about six minutes",
      "a slow disk on node seven pushed the write latency past the alerting threshold overnight", // dup of 1
      "the scheduler rebalanced thirty shards onto the new node in under a second")
    // 3 micro-batches x 2 envelopes: each envelope carries a counter
    // sample, a timer event, and a log line (doc_id = its global index)
    val batches: Seq[Seq[(Long, String, Long, Double, String)]] =
      (0 until 3).map(b => (0 until 2).map { i =>
        val g = b * 2 + i
        (g.toLong, s"app-${g % 2}", ns0 + g * 60L * 1000000000L,
          10.0 * (g + 1), logs(g))
      })

    def runPipeline(crashAtBatch: Option[Long])
        : (String, String, MemoryStream[(Long, String, Long, Double, String)] => Unit) = {
      val storeDir = Files.createTempDirectory("dogfood_store").toString
      val idxDir = Files.createTempDirectory("dogfood_idx").toString
      val ckpt = Files.createTempDirectory("dogfood_ckpt").toString
      @volatile var crashArmed = crashAtBatch.isDefined
      val sink = (batch: org.apache.spark.sql.DataFrame, id: Long) => {
        val env = batch.toDF("doc_id", "source_id", "timestamp", "total", "log")
          .withColumn("tags", map(lit("job"), col("source_id")))
          .persist()
        try {
          // counter envelopes through the nozzle
          val counterPts = Nozzle.toPoints(env
            .withColumn("kind", lit("counter"))
            .withColumn("name", lit("http_total"))
            .withColumn("gauge", lit(null).cast("map<string,double>"))
            .withColumn("start", lit(null).cast("long"))
            .withColumn("stop", lit(null).cast("long")))
          // the same envelopes as timer events through the windowed rollup
          val rolled = Rollups.counterRollup(env
            .withColumn("start", col("timestamp"))
            .withColumn("stop", col("timestamp") + 5000000L), 60000L)
          val rolledPts = graft.model.Points.withSig(rolled.select(
            lit("timer_events_per_min").as("name"),
            map(lit("source_id"), col("source_id")).as("labels"),
            col("window_start").as("t"),
            col("value").cast("double").as("value")))
          // log lines through the incremental dedup index; survivors
          // become samples (exactly-once via the index's batch marker)
          val kept = graft.pipeline.Dedup.incrementalOnce(
            env.select(col("doc_id"), col("log").as("text"),
              col("source_id"), col("timestamp")), idxDir, id)
          val keptPts = graft.model.Points.withSig(kept.select(
            lit("log_kept_total").as("name"),
            map(lit("source_id"), col("source_id")).as("labels"),
            expr("timestamp div 1000000").as("t"),
            lit(1.0).as("value")))
          // ONE exactly-once append per micro-batch
          PointsStore.appendOnce(
            counterPts.unionByName(rolledPts).unionByName(keptPts),
            storeDir, id)
          if (crashArmed && crashAtBatch.contains(id)) {
            crashArmed = false
            throw new RuntimeException(
              "injected crash: appends landed, streaming commit did not")
          }
        } finally env.unpersist()
        ()
      }
      val driver = (mem: MemoryStream[(Long, String, Long, Double, String)]) => {
        def start() = mem.toDF().writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink).start()
        var q = start()
        batches.foreach { rows =>
          mem.addData(rows: _*)
          try q.processAllAvailable()
          catch {
            case _: org.apache.spark.sql.streaming.StreamingQueryException =>
              // the injected kill: recover from the SAME checkpoint — the
              // failed batch replays against the already-landed appends
              q = start()
              q.processAllAvailable()
          }
        }
        q.stop()
      }
      (storeDir, idxDir, driver)
    }

    def storeContents(dir: String): Set[(String, Map[String, String], Long, Double)] =
      PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
        .select("name", "labels", "t", "value").collect()
        .map(r => (r.getString(0), r.getAs[Map[String, String]](1),
          r.getLong(2), r.getDouble(3))).toSet

    // the no-failure baseline
    val (cleanStore, _, runClean) = runPipeline(None)
    runClean(MemoryStream[(Long, String, Long, Double, String)])
    // the killed-and-recovered run: crash lands in batch 1 (mid-history)
    val (crashStore, crashIdx, runCrash) = runPipeline(Some(1L))
    runCrash(MemoryStream[(Long, String, Long, Double, String)])

    val clean = storeContents(cleanStore)
    val crashed = storeContents(crashStore)
    assert(crashed == clean, "recovered store diverged from the no-failure run")
    // the composed semantics actually happened: 6 counter samples, the
    // cross-batch duplicate logs dropped (4 survivors of 6), rollups
    // windowed per minute per source
    assert(clean.count(_._1 == "http_total") == 6)
    assert(clean.count(_._1 == "log_kept_total") == 4)
    assert(clean.count(_._1 == "timer_events_per_min") == 6)
    // replay detection did its job: every batch is marked landed once
    (0 until 3).foreach(b => assert(
      graft.pipeline.SigIndex.contains(spark, crashIdx, s"b$b")))
    // and the store answers PromQL: the counter's rate over the window
    val pts = PointsStore.read(spark, crashStore, Long.MinValue, Long.MaxValue)
    val t0 = 1704067200000L
    val rate = graft.engine.Engine.instantQuery(spark, pts,
      """sum(rate(http_total{job="app-0"}[5m]))""", t0 + 240000L).collect()
    assert(rate.length == 1 && rate.head.getAs[Double]("value") > 0)
  }

  /** The EMBEDDING path of the composed graph: envelope stream ->
    * incremental SemDeDup against a persisted IvfIndex (the index append
    * IS pipeline state) -> survivors as points -> exactly-once store
    * append. The crash is injected AFTER both stateful appends (index
    * and store) land but BEFORE the streaming commit, so the restarted
    * query replays the batch: semDeDupIncrementalOnce must answer from
    * its own batch directory and appendOnce must absorb the double
    * store write. Recovered INDEX and STORE must equal a never-failed
    * run, sample- and vector-exact. */
  test("composed dogfood, embedding path: semDeDup sink -> IvfIndex + store, kill/recover equals no-failure run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def planeVec(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      (Seq(math.cos(r), math.sin(r)) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    }
    val t0 = 1704067200000L
    // 3 micro-batches x 2 vectors; v2 near-dups v0 (3 deg), v4 near-dups
    // v1 (2 deg) — cross-batch drops; 4 survivors expected
    val batches: Seq[Seq[(Long, String, Long, Seq[Float])]] = Seq(
      Seq((0L, "app-0", t0, planeVec(0)), (1L, "app-1", t0 + 60000, planeVec(60))),
      Seq((2L, "app-0", t0 + 120000, planeVec(3)), (3L, "app-1", t0 + 180000, planeVec(120))),
      Seq((4L, "app-0", t0 + 240000, planeVec(62)), (5L, "app-1", t0 + 300000, planeVec(180))))

    def runPipeline(crashAtBatch: Option[Long])
        : (String, String, MemoryStream[(Long, String, Long, Seq[Float])] => Unit) = {
      val storeDir = Files.createTempDirectory("embdog_store").toString
      val idxDir = Files.createTempDirectory("embdog_idx").toString + "/idx"
      val ckpt = Files.createTempDirectory("embdog_ckpt").toString
      // one cell: every vector shares the SemDeDup cluster (the test
      // isolates the replay contract, not the quantizer geometry)
      graft.pipeline.IvfIndex.init(spark, idxDir, Array(Array.fill(64)(0.0)))
      @volatile var crashArmed = crashAtBatch.isDefined
      val sink = (batch: org.apache.spark.sql.DataFrame, id: Long) => {
        val env = batch.toDF("vec_id", "source_id", "ts", "embedding")
        // dedup against the persisted kept-set; survivors extend the index
        // (exactly-once via the index's batch marker + slot claim)
        val kept = graft.pipeline.Similarity.semDeDupIncrementalOnce(
          env, idxDir, id, 0.99)
        val keptPts = graft.model.Points.withSig(kept.select(
          lit("emb_kept_total").as("name"),
          map(lit("source_id"), col("source_id")).as("labels"),
          col("ts").as("t"), lit(1.0).as("value")))
        PointsStore.appendOnce(keptPts, storeDir, id)
        if (crashArmed && crashAtBatch.contains(id)) {
          crashArmed = false
          throw new RuntimeException(
            "injected crash: index + store appends landed, commit did not")
        }
        ()
      }
      val driver = (mem: MemoryStream[(Long, String, Long, Seq[Float])]) => {
        def start() = mem.toDF().writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink).start()
        var q = start()
        batches.foreach { rows =>
          mem.addData(rows: _*)
          try q.processAllAvailable()
          catch {
            case _: org.apache.spark.sql.streaming.StreamingQueryException =>
              q = start()
              q.processAllAvailable()
          }
        }
        q.stop()
      }
      (storeDir, idxDir, driver)
    }

    def storeContents(dir: String): Set[(String, Map[String, String], Long, Double)] =
      PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
        .select("name", "labels", "t", "value").collect()
        .map(r => (r.getString(0), r.getAs[Map[String, String]](1),
          r.getLong(2), r.getDouble(3))).toSet
    def indexContents(dir: String): Set[Long] =
      graft.pipeline.IvfIndex.read(spark, dir).select("cid").collect()
        .map(_.getLong(0)).toSet

    val (cleanStore, cleanIdx, runClean) = runPipeline(None)
    runClean(MemoryStream[(Long, String, Long, Seq[Float])])
    // crash lands in batch 1 — the batch whose near-dup drop depends on
    // batch 0's kept-set, the worst replay window
    val (crashStore, crashIdx, runCrash) = runPipeline(Some(1L))
    runCrash(MemoryStream[(Long, String, Long, Seq[Float])])

    assert(storeContents(crashStore) == storeContents(cleanStore),
      "recovered store diverged from the no-failure run")
    assert(indexContents(crashIdx) == indexContents(cleanIdx),
      "recovered index diverged from the no-failure run")
    assert(indexContents(cleanIdx) == Set(0L, 1L, 3L, 5L),
      "cross-batch near-dups were not dropped")
    // replay detection: every batch marked landed exactly once
    (0 until 3).foreach(b => assert(
      graft.pipeline.IvfIndex.contains(spark, crashIdx, s"b$b")))
    // and the recovered index ANSWERS like the clean one
    val q = spark.createDataFrame(Seq((100L, planeVec(61)))).toDF("vec_id", "embedding")
    assert(graft.pipeline.IvfIndex.search(spark, crashIdx, q, 2, nProbe = 1)
      .collect().map(_.toSeq).toSet ==
      graft.pipeline.IvfIndex.search(spark, cleanIdx, q, 2, nProbe = 1)
        .collect().map(_.toSeq).toSet)
  }

  /** The MAINTENANCE TICK under kill/recover: [[Similarity.semDeDupSink]]
    * with `maintainEvery = 1` runs compact + maybeRetrain after EVERY
    * micro-batch (maxSkew below 1.0 forces a retrain each tick — the
    * worst case), and the crash is injected AFTER a full tick (batch
    * append + fold + generation flip landed, streaming commit did not).
    * The replayed batch must answer from its own directory ACROSS the
    * retrain — retrain keeps recent batches per-batch for exactly this —
    * and the re-run tick must converge. Recovered index ≡ no-failure
    * run, and both runs actually retrained (generation advanced). */
  test("maintenance tick dogfood: compact + retrain fire mid-stream, kill/recover equals no-failure run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def planeVec(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      (Seq(math.cos(r), math.sin(r)) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    }
    val batches: Seq[Seq[(Long, Seq[Float])]] = Seq(
      Seq((0L, planeVec(0)), (1L, planeVec(60))),
      Seq((2L, planeVec(3)), (3L, planeVec(120))), // v2 near-dups v0
      Seq((4L, planeVec(62)), (5L, planeVec(180)))) // v4 near-dups v1

    def run(crashAtBatch: Option[Long]): (String, Seq[Set[Long]]) = {
      val idxDir = Files.createTempDirectory("tick_idx").toString + "/idx"
      val ckpt = Files.createTempDirectory("tick_ckpt").toString
      graft.pipeline.IvfIndex.init(spark, idxDir, Array(Array.fill(64)(0.0)))
      val shipped = scala.collection.mutable.ArrayBuffer[Set[Long]]()
      val out = (survivors: org.apache.spark.sql.DataFrame) => {
        shipped += survivors.select("vec_id").collect().map(_.getLong(0)).toSet
        ()
      }
      // the REAL sink under test: ticks every batch; maxSkew 0.9 < 1.0
      // guarantees maybeRetrain fires on every tick (skew >= 1 always)
      val base = graft.pipeline.Similarity.semDeDupSink(idxDir, 0.99, out,
        maintainEvery = 1, maxSkew = 0.9, retrainK = 1)
      @volatile var crashArmed = crashAtBatch.isDefined
      val sink = (batch: org.apache.spark.sql.DataFrame, id: Long) => {
        base(batch.toDF("vec_id", "embedding"), id)
        // the injected kill lands AFTER the whole tick (append + compact
        // + retrain), BEFORE the streaming commit — the replay crosses
        // the generation flip
        if (crashArmed && crashAtBatch.contains(id)) {
          crashArmed = false
          throw new RuntimeException("injected crash after the maintenance tick")
        }
        ()
      }
      val mem = MemoryStream[(Long, Seq[Float])]
      def start() = mem.toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink).start()
      var q = start()
      batches.foreach { rows =>
        mem.addData(rows: _*)
        try q.processAllAvailable()
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException =>
            q = start()
            q.processAllAvailable()
        }
      }
      q.stop()
      (idxDir, shipped.toSeq)
    }

    def kept(dir: String): Set[Long] =
      graft.pipeline.IvfIndex.read(spark, dir).select("cid").collect()
        .map(_.getLong(0)).toSet

    val (cleanIdx, cleanShipped) = run(None)
    val (crashIdx, crashShipped) = run(Some(1L))
    assert(kept(cleanIdx) == Set(0L, 1L, 3L, 5L),
      "cross-batch near-dups were not dropped under per-tick retrains")
    assert(kept(crashIdx) == kept(cleanIdx),
      "recovered index diverged from the no-failure run")
    // retrains really ran (one per tick, plus the replayed tick's rerun)
    assert(graft.pipeline.IvfIndex.currentGen(spark, cleanIdx).exists(_ >= 3L))
    assert(graft.pipeline.IvfIndex.currentGen(spark, crashIdx).exists(_ >= 3L))
    // the replayed batch re-shipped EXACTLY its original survivor set
    // (exactly-once downstream given an idempotent consumer)
    assert(crashShipped.distinct.toSet == cleanShipped.distinct.toSet,
      s"shipped sets diverged: clean=$cleanShipped crashed=$crashShipped")
    // and both indexes answer identically
    val q2 = spark.createDataFrame(Seq((100L, planeVec(61)))).toDF("vec_id", "embedding")
    assert(graft.pipeline.IvfIndex.search(spark, crashIdx, q2, 2, nProbe = 1)
      .collect().map(_.toSeq).toSet ==
      graft.pipeline.IvfIndex.search(spark, cleanIdx, q2, 2, nProbe = 1)
        .collect().map(_.toSeq).toSet)
  }
}
